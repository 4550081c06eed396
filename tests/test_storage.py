"""Pinned-storage discipline (round-2 verdict ask #6): ``persisted`` releases
what it pins when its block ends. Asserts storage is actually freed — a
long-lived session persisting in a loop must not accumulate pinned executor
storage."""

from __future__ import annotations

from resume_ocr_spark import storage


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

