"""End-to-end test of tools/submit_maintenance.py: the z-order rewrite
must land files whose per-file manifest stats are tight in BOTH clustered
columns (the pruning contract), compaction planning must cover every file
exactly once, and orphan mode must equal the set difference."""

import json
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"


@pytest.mark.usefixtures("spark")
def test_zorder_rewrite_manifest_stats(spark, tmp_path, run_job):
    src = str(tmp_path / "src")
    docs = (spark.read.parquet(os.path.join(SF, "orders.parquet"))
            .select("o_orderkey", "o_custkey",
                    F.floor("o_totalprice").cast("long").alias("price")))
    docs.write.parquet(src)
    out = str(tmp_path / "z")
    rc, stdout, _ = run_job(["submit_maintenance", "--mode", "zorder",
                             "--table", src, "--output", out,
                             "--cols", "o_custkey,price", "--n-files", "16"])
    assert rc == 0
    # rewrite preserves the rows exactly
    landed = spark.read.parquet(f"{out}/data")
    assert landed.count() == docs.count()
    assert (landed.agg(F.sum("o_orderkey")).collect()[0][0]
            == docs.agg(F.sum("o_orderkey")).collect()[0][0])
    # manifest stats: mean per-file span must be a small fraction of the
    # full range in BOTH columns (the z-order pruning win)
    man = spark.read.parquet(f"{out}/manifest").collect()
    assert sum(r["rows"] for r in man) == docs.count()
    assert json.loads(stdout) == {"mode": "zorder", "files": len(man)}
    for c, full in (("o_custkey", 1499), ("price", 499979 - 1013)):
        frac = sum((r[f"max_{c}"] - r[f"min_{c}"]) / full
                   for r in man) / len(man)
        assert frac < 0.65, (c, frac)
    # refusals
    assert run_job(["submit_maintenance", "--mode", "zorder", "--table", src,
                    "--output", out, "--cols", ""])[0] == 2
    assert run_job(["submit_maintenance", "--mode", "zorder", "--output", out,
                    "--cols", "a"])[0] == 2


@pytest.mark.usefixtures("spark")
def test_compact_and_orphans_modes(spark, tmp_path, run_job):
    # a directory of many small parquet files across two partitions
    src = str(tmp_path / "tbl")
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    for p in range(2):
        (docs.filter(F.col("doc_id") % 2 == p).repartition(8)
         .write.parquet(os.path.join(src, f"part={p}")))
    out = str(tmp_path / "c")
    rc, stdout, _ = run_job(["submit_maintenance", "--mode", "compact",
                             "--table", src, "--output", out,
                             "--target-bytes", "65536"])
    assert rc == 0
    plan = spark.read.parquet(f"{out}/plan")
    n_files = sum(1 for root, _d, names in os.walk(src)
                  for n in names if n.endswith(".parquet"))
    assert plan.count() == n_files
    assert plan.select("file").distinct().count() == n_files
    n_groups = plan.filter("group IS NOT NULL").select(
        "partition", "group").distinct().count()
    assert json.loads(stdout) == {"mode": "compact", "groups": n_groups,
                                  "files": n_files}
    # empty table dir refuses
    assert run_job(["submit_maintenance", "--mode", "compact",
                    "--table", str(tmp_path / "nothing"),
                    "--output", out])[0] == 2

    man_p = str(tmp_path / "man")
    sto_p = str(tmp_path / "sto")
    spark.createDataFrame(
        [(s, f"f{i}") for s in range(3) for i in range(s * 5, s * 5 + 10)],
        "snapshot_id long, file string").write.parquet(man_p)
    spark.createDataFrame([(f"f{i}",) for i in range(25)],
                          "file string").write.parquet(sto_p)
    out2 = str(tmp_path / "o")
    rc, stdout, _ = run_job(["submit_maintenance", "--mode", "orphans",
                             "--manifests", man_p, "--storage", sto_p,
                             "--retain", "1,2", "--output", out2])
    assert rc == 0
    got = sorted(r["file"] for r in
                 spark.read.parquet(f"{out2}/orphans").collect())
    live = {f"f{i}" for s in (1, 2) for i in range(s * 5, s * 5 + 10)}
    assert got == sorted({f"f{i}" for i in range(25)} - live)
    assert json.loads(stdout) == {"mode": "orphans", "orphans": len(got)}
    assert run_job(["submit_maintenance", "--mode", "orphans",
                    "--manifests", man_p, "--storage", sto_p, "--retain", "x",
                    "--output", out2])[0] == 2
