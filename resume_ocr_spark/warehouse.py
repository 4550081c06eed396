"""Iceberg-layout warehouse shim.

No Iceberg jars ship in this sandbox (no network), so tables are laid out the
way an Iceberg ``bucket(B, doc_id)`` partition spec would place them:

    <root>/<table>/data/bucket=<murmur3(doc_id) % B>/part-*.parquet
    <root>/<table>/manifest.json     (schema, bucket count, row counts)

Reads/writes use plain ``spark.read.parquet`` with partition discovery, so
partition pruning on ``bucket`` works exactly like Iceberg's; swapping in a
real catalog on a cluster is a config change (``df.writeTo("db.t")``), not a
code change.  The bucket function is Spark's ``hash()`` (Murmur3) — computed
by the JVM, so bucketing is consistent for any reader.
"""

from __future__ import annotations

import json
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import IntegerType, StructType

from .config import WAREHOUSE_BUCKETS

SPANS_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)
BLOBS_SCHEMA = "media_ref string, kind string, payload binary"
# rows per row group of a staged input file: Spark splits a file between
# tasks at row-group boundaries only
STAGED_ROW_GROUP = 1024


def bucket_col(key: str = "doc_id", buckets: int = WAREHOUSE_BUCKETS):
    return F.pmod(F.hash(F.col(key)), F.lit(buckets)).cast("int")


def write_table(
    df: DataFrame,
    root: str,
    table: str,
    bucket_key: str = "doc_id",
    buckets: int = WAREHOUSE_BUCKETS,
    mode: str = "overwrite",
) -> str:
    path = os.path.join(root, table, "data")
    (df.withColumn("bucket", bucket_col(bucket_key, buckets))
     .write.mode(mode).partitionBy("bucket").parquet(path))
    manifest = {
        "table": table,
        "layout": "iceberg-shim-v1",
        "bucket_key": bucket_key,
        "buckets": buckets,
        "schema": df.schema.jsonValue(),
        "written_at": time.time(),
    }
    with open(os.path.join(root, table, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return path


def overwrite_partitions(df: DataFrame, path: str, *cols: str) -> None:
    """Write ``df`` to ``path`` partitioned by ``cols``, replacing exactly
    the partitions ``df`` has rows for (dynamic partition overwrite) and
    keeping every other one. This is the resume rule: a rerun of the same
    write (a bucket chunk after a kill, a replayed micro-batch) rewrites
    itself instead of appending duplicates."""
    (df.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(*cols)
     .parquet(path))


def read_table(
    spark: SparkSession, root: str, table: str, buckets: list[int] | None = None
) -> DataFrame:
    """Read a table; ``buckets`` restricts to specific bucket partitions
    (partition pruning — only those directories are scanned). The schema
    comes from the manifest, not the files, so an empty table reads as an
    empty frame instead of failing schema inference."""
    base = os.path.join(root, table, "data")
    man = manifest(root, table)
    schema = StructType.fromJson(man["schema"]).add("bucket", IntegerType())
    df = spark.read.schema(schema).option("basePath", base).parquet(base)
    if buckets is not None:
        df = df.filter(F.col("bucket").isin([int(b) for b in buckets]))
    return df


def manifest(root: str, table: str) -> dict:
    with open(os.path.join(root, table, "manifest.json")) as fh:
        return json.load(fh)


def build_warehouse(
    spark: SparkSession,
    root: str,
    docs: list[dict],
    blobs: list[dict],
    buckets: int = WAREHOUSE_BUCKETS,
) -> None:
    """Materialize a synthetic corpus as the two input tables."""
    _write_rows(spark, docs, SPANS_SCHEMA, root, "documents_raw",
                bucket_key="doc_id", buckets=buckets)
    # blobs bucketed by media_ref so a cluster-side sort-merge join can
    # co-locate; small dictionaries get broadcast anyway
    _write_rows(spark, blobs, BLOBS_SCHEMA, root, "media_blobs",
                bucket_key="media_ref", buckets=buckets)


def _write_rows(spark: SparkSession, rows: list[dict], ddl: str, root: str,
                table: str, bucket_key: str, buckets: int) -> None:
    """Write driver-side ``rows`` (only the schema's fields of each dict
    are kept) as ``table``. The rows reach the executors as a parquet file
    staged beside the table: a frame created from local data would ship
    them inside its tasks."""
    schema = StructType.fromDDL(ddl)
    staged = os.path.join(root, table, "staged.parquet")
    os.makedirs(os.path.dirname(staged), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=to_arrow_schema(schema)),
                   staged, row_group_size=STAGED_ROW_GROUP)
    try:
        write_table(spark.read.schema(schema).parquet(staged), root, table,
                    bucket_key=bucket_key, buckets=buckets)
    finally:
        os.remove(staged)
