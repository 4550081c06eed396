"""spark-submit entry point: Iceberg-style table maintenance — the layout
passes a 10^12-row corpus table runs on a schedule (z-order rewrite for
multi-dimensional scan pruning, small-file compaction planning, snapshot-
expiry orphan detection), packaged like the rest of the job family.

    spark-submit --py-files dist/resume_ocr_spark.zip tools/submit_maintenance.py \
        --mode zorder --table <parquet dir> --output <dir> \
            --cols a,b [--bits 8] [--n-files 32]
        # → data/      the rewritten table, range-partitioned on the z-key
        #   manifest/  one row per output file: rows, per-col min/max —
        #              the pruning stats an Iceberg manifest would carry

    ... --mode compact --table <parquet dir> --output <dir> \
            [--target-bytes 134217728] [--small-factor 0.75]
        # → plan/      (partition, file, bytes, small, group) —
        #              group = rewrite batch, NULL = leave in place

    ... --mode orphans --manifests <parquet (snapshot_id, file)> \
            --storage <parquet (file)> --retain 3,4 --output <dir>
        # → orphans/   files unreachable from any retained snapshot

Z-order column bounds are taken from a one-pass min/max aggregate over the
table (the stand-in for Iceberg's table-level stats; at 10^12 rows the
real table serves these from metadata, no scan). Columns must be integral.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from resume_ocr_spark.job import (INVALID, Refused, get_spark, harness, parser,
                                  written)


def _zorder(spark: SparkSession, args) -> dict:
    from resume_ocr_spark.operators import maintenance as mt

    cols = [c for c in args.cols.split(",") if c]
    if not cols:
        raise Refused(INVALID, "--cols required for zorder")
    df = spark.read.parquet(args.table)
    stats = df.agg(*[f for c in cols
                     for f in (F.min(c).alias(f"lo_{c}"),
                               F.max(c).alias(f"hi_{c}"))]).collect()[0]
    mins = [int(stats[f"lo_{c}"]) for c in cols]
    maxs = [int(stats[f"hi_{c}"]) for c in cols]
    laid = mt.zorder_layout(df, cols, mins, maxs,
                            bits=args.bits, n_files=args.n_files)
    data_path = os.path.join(args.output, "data")
    # manifest: per-FILE row counts and per-column min/max — the stats a
    # reader prunes on; written from the landed files so it certifies the
    # actual layout, not the plan
    landed = written(laid, data_path).withColumn("file", F.input_file_name())
    manifest = landed.groupBy("file").agg(
        F.count(F.lit(1)).alias("rows"),
        *[f for c in cols for f in (F.min(c).alias(f"min_{c}"),
                                    F.max(c).alias(f"max_{c}"))])
    manifest.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(args.output, "manifest"))
    return {"mode": "zorder", "files": manifest.count()}


def _compact(spark: SparkSession, args) -> dict:
    from resume_ocr_spark.operators import maintenance as mt

    rows = []
    for root, _dirs, names in os.walk(args.table):
        for name in names:
            if name.endswith(".parquet"):
                full = os.path.join(root, name)
                part = os.path.relpath(root, args.table)
                rows.append((part if part != "." else "",
                             full, os.path.getsize(full)))
    if not rows:
        raise Refused(INVALID, "no parquet files under --table")
    files = spark.createDataFrame(
        rows, "partition string, file string, bytes long")
    plan = mt.compaction_plan(files, target_bytes=args.target_bytes,
                              small_factor=args.small_factor)
    plan.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(args.output, "plan"))
    n_grp = plan.filter("group IS NOT NULL") \
        .select("partition", "group").distinct().count()
    return {"mode": "compact", "groups": n_grp, "files": len(rows)}


def _orphans(spark: SparkSession, args) -> dict:
    from resume_ocr_spark.operators import maintenance as mt

    try:
        retain = [int(s) for s in args.retain.split(",") if s]
    except ValueError:
        raise Refused(INVALID, "--retain must be comma-separated snapshot ids")
    if not retain:
        raise Refused(INVALID, "--retain must name at least one snapshot")
    manifests = spark.read.parquet(args.manifests)
    storage = spark.read.parquet(args.storage)
    retained = spark.createDataFrame([(s,) for s in retain],
                                     "snapshot_id bigint")
    orphans = mt.orphan_files(storage, manifests, retained)
    orphans.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(args.output, "orphans"))
    return {"mode": "orphans", "orphans": orphans.count()}


ap = parser("submit_maintenance")
ap.add_argument("--mode", required=True,
                choices=["zorder", "compact", "orphans"])
ap.add_argument("--table", default=None)
ap.add_argument("--output", required=True)
ap.add_argument("--cols", default="")
ap.add_argument("--bits", type=int, default=8)
ap.add_argument("--n-files", type=int, default=32)
ap.add_argument("--target-bytes", type=int, default=134217728)
ap.add_argument("--small-factor", type=float, default=0.75)
ap.add_argument("--manifests", default=None)
ap.add_argument("--storage", default=None)
ap.add_argument("--retain", default="")


def run(args) -> dict:
    if args.mode in ("zorder", "compact") and not args.table:
        raise Refused(INVALID, "--table required")
    if args.mode == "orphans" and not (args.manifests and args.storage):
        raise Refused(INVALID, "--manifests and --storage required")
    if args.bits <= 0 or args.n_files <= 0 or args.target_bytes <= 0:
        raise Refused(INVALID, "invalid sizing arguments")

    spark = get_spark(app_name="submit_maintenance")
    if args.mode == "zorder":
        return _zorder(spark, args)
    if args.mode == "compact":
        return _compact(spark, args)
    return _orphans(spark, args)


main = harness(ap, run)

if __name__ == "__main__":
    sys.exit(main())
