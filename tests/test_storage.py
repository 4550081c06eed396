"""Pinned-storage discipline (round-2 verdict ask #6): operators that cache
internally hand the pinned frame back; callers release after materializing.
Asserts storage is actually freed — a long-lived session calling these in a
loop must not accumulate pinned executor storage."""

from __future__ import annotations

from resume_ocr_spark import storage
from resume_ocr_spark.operators import dedup


def _pinned(df) -> bool:
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


def test_persisted_context_frees_on_exit(spark):
    df = spark.range(100)
    with storage.persisted(df) as d:
        d.count()
        assert _pinned(d)
    assert not _pinned(df)


def test_persisted_context_frees_on_raise(spark):
    df = spark.range(10)
    try:
        with storage.persisted(df):
            df.count()
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert not _pinned(df)


def test_jaccard_lsh_words_handle_released(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    df = spark.createDataFrame(
        [(1, base), (2, base + " today"), (3, "unrelated words entirely here")],
        "doc_id int, text string")
    out = dedup.jaccard_pairs_lsh(df, "doc_id", "text", threshold=0.3,
                                  persist_words=True)
    out.collect()
    assert _pinned(out.cached_words)
    storage.release_handles(out, blocking=True)
    assert not _pinned(out.cached_words)
