"""Resumable extraction runs: chunked buckets + completion markers + metrics.

north_rule requirements implemented here:
  - per-partition lineage/metrics: one ``run_metrics`` row per input bucket
    (run_id, bucket, docs_processed, ocr_pages, parse_failures, wall_ms,
    status, ts) — the Iceberg-shim analog of the reference's Mongo audit doc
    (reference: app/routers/analysis.py:558-567, database_service.py:60-69)
  - checkpoint/resume: buckets are processed in chunks; each chunk's output
    overwrites exactly its bucket partitions (dynamic partition overwrite,
    idempotent), then marker rows are appended.  A killed run restarts by
    anti-joining completed buckets — only unfinished buckets are re-read
    (partition pruning makes the skip free).

At cluster scale each "chunk" is a job over a bucket range, the same way a
backfill walks date partitions; the final ranking is a separate cheap reduce
over the extracted table (top-k never needs the blobs again). The plan
inside each chunk (blob join strategy, OCR stage width) is
``extract.extract_spans``'s to choose; this module only walks buckets.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import warehouse
from .operators import analyze, extract

METRICS_SCHEMA = (
    "run_id string, bucket int, docs_processed long, ocr_pages long, "
    "parse_failures long, wall_ms long, status string, ts double"
)


def _metrics_path(out_root: str) -> str:
    return os.path.join(out_root, "run_metrics", "data")


def extracted_path(out_root: str) -> str:
    return os.path.join(out_root, "documents_extracted", "data")


def completed_buckets(spark: SparkSession, out_root: str, run_id: str) -> set[int]:
    path = _metrics_path(out_root)
    if not os.path.isdir(path):
        return set()
    df = spark.read.schema(METRICS_SCHEMA).parquet(path)
    rows = (
        df.filter((F.col("run_id") == run_id) & (F.col("status") == "complete"))
        .select("bucket").distinct().collect()
    )
    return {r["bucket"] for r in rows}


def _append_metrics(spark: SparkSession, out_root: str, rows: list[tuple]) -> None:
    df = spark.createDataFrame(rows, schema=METRICS_SCHEMA)
    df.coalesce(1).write.mode("append").parquet(_metrics_path(out_root))


def run_extraction(
    spark: SparkSession,
    wh_root: str,
    out_root: str,
    run_id: str,
    query: str | None = None,
    chunk_size: int | None = None,
) -> DataFrame:
    """Run (or resume) extraction run ``run_id``; returns the final analyzed
    DataFrame (reading the materialized output). ``chunk_size`` buckets
    run per job (default: all pending buckets in one job); below 1 it is
    refused with ``ValueError``. ``extract.extract_spans`` chooses the blob
    join and the OCR width."""
    if chunk_size is not None and chunk_size < 1:
        raise ValueError(f"chunk_size must be at least 1, got {chunk_size}")
    man = warehouse.manifest(wh_root, "documents_raw")
    all_buckets = list(range(man["buckets"]))
    done = completed_buckets(spark, out_root, run_id)
    pending = [b for b in all_buckets if b not in done]
    chunk_size = chunk_size or len(all_buckets)

    out_path = extracted_path(out_root)
    for i in range(0, len(pending), chunk_size):
        chunk = pending[i : i + chunk_size]
        t0 = time.time()
        docs_df = warehouse.read_table(spark, wh_root, "documents_raw", buckets=chunk)
        blobs_df = warehouse.read_table(spark, wh_root, "media_blobs")
        extracted = extract.extract_documents(
            docs_df.select("doc_id", "spans"), blobs_df,
        ).withColumn("bucket", warehouse.bucket_col("doc_id", man["buckets"]))
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
        (
            extracted.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(out_path)
        )
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
             wall_ms, "complete", now)
            for b in chunk
        ])

    extracted_all = spark.read.option("basePath", out_path).parquet(out_path)
    return analyze.analyze_documents(extracted_all, query=query)


def run_summary(spark: SparkSession, out_root: str, run_id: str) -> DataFrame:
    """Point lookup + rollup over run_metrics (reference S6 analog,
    database_service.py:72-83)."""
    df = spark.read.schema(METRICS_SCHEMA).parquet(_metrics_path(out_root))
    return (
        df.filter(F.col("run_id") == run_id)
        .groupBy("run_id")
        .agg(
            F.countDistinct("bucket").alias("buckets_complete"),
            F.sum("docs_processed").alias("docs_processed"),
            F.sum("ocr_pages").alias("ocr_pages"),
            F.sum("parse_failures").alias("parse_failures"),
            F.max("ts").alias("last_ts"),
        )
    )
