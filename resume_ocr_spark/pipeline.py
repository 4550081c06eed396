"""Resumable extraction runs: chunked buckets + completion markers + metrics.

north_rule requirements implemented here:
  - per-partition lineage/metrics: one ``run_metrics`` row per input bucket
    (run_id, bucket, docs_processed, ocr_pages, parse_failures, wall_ms,
    status, ts, query) — the Iceberg-shim analog of the reference's Mongo
    audit doc (reference: app/routers/analysis.py:558-567,
    database_service.py:60-69)
  - checkpoint/resume: buckets are processed in chunks; each chunk's output
    overwrites exactly its bucket partitions
    (``warehouse.overwrite_partitions``, idempotent), then marker rows are
    appended.  A killed run restarts by skipping completed buckets — only
    unfinished buckets are re-read (partition pruning makes the skip
    free).

Each chunk extracts and analyses in one written pass: ``documents_extracted``
carries the ``oracle.ANALYSIS_FIELDS`` columns, scored under the run's
query, so the final ranking is a separate cheap reduce over the written
table (no Python, and top-k never needs the blobs again). The query is
bound to the run: it is recorded in the markers, and a resume under a
different query is refused, since it would mix two scorings in one table.

The markers are a few rows per chunk, so the driver writes and reads them
itself with pyarrow rather than through a Spark job: one parquet file per
chunk, staged under a dot name (which Spark and pyarrow both skip) and
moved into place with ``os.replace``. Like the ``os.path`` checks on the
output root, this assumes a filesystem the driver can reach.

At cluster scale each "chunk" is a job over a bucket range, the same way a
backfill walks date partitions. The plan inside each chunk (blob join
strategy, OCR stage width) is ``extract.extract_spans``'s to choose; this
module only walks buckets.
"""

from __future__ import annotations

import functools
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from . import warehouse
from .operators import analyze, extract

METRICS_SCHEMA = (
    "run_id string, bucket int, docs_processed long, ocr_pages long, "
    "parse_failures long, wall_ms long, status string, ts double, "
    "query string"
)
# run_summary's columns, typed as Spark's groupBy rollup would type them
_SUMMARY_SCHEMA = (
    "run_id string, buckets_complete long not null, docs_processed long, "
    "ocr_pages long, parse_failures long, last_ts double"
)


@functools.cache
def _metrics_arrow_schema() -> pa.Schema:
    # needs a live session to parse the DDL, so built on first use
    return to_arrow_schema(StructType.fromDDL(METRICS_SCHEMA))


def _metrics_path(out_root: str) -> str:
    return os.path.join(out_root, "run_metrics", "data")


def extracted_path(out_root: str) -> str:
    return os.path.join(out_root, "documents_extracted", "data")


def _complete_markers(out_root: str, run_id: str, columns: list[str]) -> pa.Table:
    """``columns`` of every ``complete`` marker row of ``run_id``."""
    path = _metrics_path(out_root)
    schema = _metrics_arrow_schema()
    if not os.path.isdir(path):
        return schema.empty_table().select(columns)
    return pq.read_table(
        path, schema=schema, columns=columns,
        filters=[("run_id", "==", run_id), ("status", "==", "complete")],
    )


def completed_buckets(spark: SparkSession, out_root: str, run_id: str) -> set[int]:
    return set(_complete_markers(out_root, run_id, ["bucket"])["bucket"].to_pylist())


def _append_metrics(spark: SparkSession, out_root: str, rows: list[tuple]) -> None:
    path = _metrics_path(out_root)
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    staged = os.path.join(path, "." + name)
    schema = _metrics_arrow_schema()
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows],
                                 schema=schema)
    pq.write_table(table, staged)
    os.replace(staged, os.path.join(path, name))


def run_extraction(
    spark: SparkSession,
    wh_root: str,
    out_root: str,
    run_id: str,
    query: str | None = None,
    chunk_size: int | None = None,
) -> DataFrame:
    """Run (or resume) extraction run ``run_id``; returns the ranked
    analysis (``analyze.rank_documents``) over the written table.
    ``chunk_size`` buckets run per job (default: all pending buckets in one
    job). ``ValueError`` refuses the arguments: a ``chunk_size`` below 1,
    or a ``query`` other than the one the run's earlier chunks were scored
    under. ``extract.extract_spans`` chooses the blob join and the OCR
    width."""
    if chunk_size is not None and chunk_size < 1:
        raise ValueError(f"chunk_size must be at least 1, got {chunk_size}")
    earlier = set(_complete_markers(out_root, run_id, ["query"])["query"].to_pylist())
    if earlier - {query}:
        raise ValueError(f"run {run_id} was scored under query "
                         f"{earlier.pop()!r}, not {query!r}")
    man = warehouse.manifest(wh_root, "documents_raw")
    all_buckets = list(range(man["buckets"]))
    done = completed_buckets(spark, out_root, run_id)
    pending = [b for b in all_buckets if b not in done]
    chunk_size = chunk_size or len(all_buckets)

    out_path = extracted_path(out_root)
    blobs_df = warehouse.read_table(spark, wh_root, "media_blobs")
    for i in range(0, len(pending), chunk_size):
        chunk = pending[i : i + chunk_size]
        t0 = time.time()
        docs_df = warehouse.read_table(spark, wh_root, "documents_raw", buckets=chunk)
        extracted = extract.extract_documents(
            docs_df.select("doc_id", "spans"), blobs_df,
        ).withColumn("bucket", warehouse.bucket_col("doc_id", man["buckets"]))
        # the analysis rides the chunk's write: one Python pass per document
        extracted = analyze.score_documents(extracted, query)
        # per-bucket counters ride the write itself via observe()
        # accumulators — one scan per chunk, no post-write re-read
        # (conditional sums, one triple per bucket in the chunk)
        obs = Observation(f"extract_chunk_{i}")
        metric_cols = []
        for b in chunk:
            is_b = F.col("bucket") == b
            metric_cols += [
                F.sum(F.when(is_b, 1).otherwise(0)).alias(f"docs_{b}"),
                F.sum(F.when(is_b, F.col("ocr_pages")).otherwise(0))
                .alias(f"pages_{b}"),
                F.sum(F.when(is_b, F.col("parse_failures")).otherwise(0))
                .alias(f"fails_{b}"),
            ]
        extracted = extracted.observe(obs, *metric_cols)
        # idempotent: overwrite exactly this chunk's bucket partitions
        warehouse.overwrite_partitions(extracted, out_path, "bucket")
        # per-bucket share of the chunk wall (buckets in a chunk run as one
        # job; summing rows must reproduce the chunk wall, not multiply it)
        wall_ms = int((time.time() - t0) * 1000 / max(len(chunk), 1))
        m = obs.get
        now = time.time()
        _append_metrics(spark, out_root, [
            (run_id, int(b),
             int(m.get(f"docs_{b}") or 0),
             int(m.get(f"pages_{b}") or 0),
             int(m.get(f"fails_{b}") or 0),
             wall_ms, "complete", now, query)
            for b in chunk
        ])

    scored = spark.read.option("basePath", out_path).parquet(out_path)
    return analyze.rank_documents(scored, query)


def run_summary(spark: SparkSession, out_root: str, run_id: str) -> DataFrame:
    """Point lookup + rollup over run_metrics (reference S6 analog,
    database_service.py:72-83): one row (run_id, buckets_complete,
    docs_processed, ocr_pages, parse_failures, last_ts), or none for a run
    without markers. Rolled up on the driver from the marker files; the
    frame is built from the Arrow table, which starts no Spark job."""
    counts = ["docs_processed", "ocr_pages", "parse_failures"]
    aggs = [("bucket", "count_distinct"), *((c, "sum") for c in counts),
            ("ts", "max")]
    markers = _complete_markers(out_root, run_id, ["run_id", "bucket", *counts, "ts"])
    rollup = markers.group_by("run_id").aggregate(aggs).select(
        ["run_id", *(f"{c}_{fn}" for c, fn in aggs)])
    schema = to_arrow_schema(StructType.fromDDL(_SUMMARY_SCHEMA))
    return spark.createDataFrame(pa.Table.from_arrays(rollup.columns, schema=schema))
