"""Kill-and-resume: interrupted run resumes from last complete bucket and
produces output identical to an uninterrupted run (north_rule)."""

import glob
import os

import pytest

from resume_ocr_spark import oracle, pipeline, warehouse
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def wh(spark, small_corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("wh_ckpt"))
    docs, blobs = small_corpus
    warehouse.build_warehouse(spark, root, docs, blobs, buckets=4)
    return root


def _rows(df):
    return sorted(
        [(r["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["error"])
                        for s in r["spans"]]) for r in df.collect()]
    )


def test_kill_and_resume_identical(spark, wh, tmp_path_factory):
    out_a = str(tmp_path_factory.mktemp("out_a"))
    out_b = str(tmp_path_factory.mktemp("out_b"))

    # uninterrupted run
    full = pipeline.run_extraction(spark, wh, out_a, run_id="r1")

    # interrupted run: process only the first chunk (chunk_size=1), then
    # "crash"; simulate by running chunks 1-at-a-time and stopping early
    man = warehouse.manifest(wh, "documents_raw")
    pending_before = pipeline.completed_buckets(spark, out_b, "r2")
    assert pending_before == set()
    # first chunk only: emulate a kill by calling with chunk_size=1 but
    # monkeypatching range? simplest honest approach: run chunk 1 by
    # restricting the metrics — run with chunk_size=1 raises after first
    # chunk via a wrapper
    calls = {"n": 0}
    orig = pipeline._append_metrics

    def boom(spark_, out_root_, rows_):
        orig(spark_, out_root_, rows_)
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated kill after second bucket")

    pipeline._append_metrics = boom
    try:
        with pytest.raises(RuntimeError):
            pipeline.run_extraction(spark, wh, out_b, run_id="r2", chunk_size=1)
    finally:
        pipeline._append_metrics = orig

    done = pipeline.completed_buckets(spark, out_b, "r2")
    assert len(done) == 2, "two buckets must be checkpointed before the kill"

    # resume: only remaining buckets are processed
    resumed = pipeline.run_extraction(spark, wh, out_b, run_id="r2", chunk_size=1)
    assert pipeline.completed_buckets(spark, out_b, "r2") == set(range(man["buckets"]))

    assert _rows(full.select("doc_id", "spans")) == _rows(
        resumed.select("doc_id", "spans"))


def test_metrics_rollup(spark, wh, tmp_path_factory, small_corpus):
    """run_summary rolls up one run's markers on the driver: the same row
    and schema as a Spark groupBy over the marker files, whether the run
    wrote one marker file (one chunk) or four (chunk_size=1), and without
    starting a Spark job."""
    out = str(tmp_path_factory.mktemp("out_m"))
    pipeline.run_extraction(spark, wh, out, run_id="r3")
    pipeline.run_extraction(spark, wh, out, run_id="r3c", chunk_size=1)
    path = pipeline._metrics_path(out)
    assert len(glob.glob(os.path.join(path, "*.parquet"))) == 1 + 4
    markers = spark.read.schema(pipeline.METRICS_SCHEMA).parquet(path)
    docs, _ = small_corpus
    sc = spark.sparkContext
    for run_id in ("r3", "r3c"):
        sc.setJobGroup(f"summary_{run_id}", "run_summary")
        try:
            summary = pipeline.run_summary(spark, out, run_id)
            row = summary.collect()[0]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(f"summary_{run_id}") == []
        want = (markers.filter(F.col("run_id") == run_id).groupBy("run_id")
                .agg(F.countDistinct("bucket").alias("buckets_complete"),
                     F.sum("docs_processed").alias("docs_processed"),
                     F.sum("ocr_pages").alias("ocr_pages"),
                     F.sum("parse_failures").alias("parse_failures"),
                     F.max("ts").alias("last_ts")))
        assert summary.schema == want.schema
        assert [row] == want.collect()
        assert row["docs_processed"] == len(docs)
        assert row["buckets_complete"] == 4
        assert row["ocr_pages"] > 0
        assert row["parse_failures"] >= 5  # the edge docs
    assert pipeline.run_summary(spark, out, "r-none").collect() == []


def test_rerun_of_complete_run_is_noop(spark, wh, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("out_n"))
    pipeline.run_extraction(spark, wh, out, run_id="r4")
    m1 = spark.read.schema(pipeline.METRICS_SCHEMA).parquet(
        pipeline._metrics_path(out)).count()
    pipeline.run_extraction(spark, wh, out, run_id="r4")
    m2 = spark.read.schema(pipeline.METRICS_SCHEMA).parquet(
        pipeline._metrics_path(out)).count()
    assert m1 == m2, "no new marker rows on a no-op resume"


QUERY = "senior python data engineer"


def _killed_run(spark, wh, out, run_id, query, after):
    """Run chunk by chunk (one bucket each) and kill the run once ``after``
    chunks have written their markers."""
    calls = {"n": 0}
    orig = pipeline._append_metrics

    def boom(spark_, out_root_, rows_):
        orig(spark_, out_root_, rows_)
        calls["n"] += 1
        if calls["n"] == after:
            raise RuntimeError(f"simulated kill after chunk {after}")

    pipeline._append_metrics = boom
    try:
        with pytest.raises(RuntimeError):
            pipeline.run_extraction(spark, wh, out, run_id=run_id,
                                    query=query, chunk_size=1)
    finally:
        pipeline._append_metrics = orig


def _analysis(df):
    return sorted(tuple(r) for r in df.select(
        "doc_id", *oracle.ANALYSIS_FIELDS, "rank").collect())


def test_query_mode_kill_and_resume_identical(spark, wh, tmp_path_factory):
    """The analysis columns are written per chunk under the run's query: a
    killed-and-resumed ranked run has the same analysis and ranks as an
    uninterrupted one."""
    out_a = str(tmp_path_factory.mktemp("out_qa"))
    out_b = str(tmp_path_factory.mktemp("out_qb"))
    full = pipeline.run_extraction(spark, wh, out_a, run_id="q1", query=QUERY)
    _killed_run(spark, wh, out_b, "q2", QUERY, after=2)
    assert len(pipeline.completed_buckets(spark, out_b, "q2")) == 2
    resumed = pipeline.run_extraction(spark, wh, out_b, run_id="q2",
                                      query=QUERY, chunk_size=1)
    want = _analysis(full)
    assert sum(r[-1] is not None for r in want) > 0, "no document ranked"
    assert _analysis(resumed) == want


def test_resume_under_another_query_is_refused(spark, wh, tmp_path_factory):
    """The query is bound to the run: its markers record it, and a resume
    under another query (or none) is refused before any chunk runs."""
    out = str(tmp_path_factory.mktemp("out_qr"))
    _killed_run(spark, wh, out, "q3", QUERY, after=1)

    def queries():
        return [r["query"] for r in spark.read.schema(pipeline.METRICS_SCHEMA)
                .parquet(pipeline._metrics_path(out)).collect()]

    assert queries() == [QUERY]
    for other in ("junior chef", None):
        with pytest.raises(ValueError, match="query"):
            pipeline.run_extraction(spark, wh, out, run_id="q3", query=other)
    assert queries() == [QUERY]
