"""End-to-end test of tools/submit_order.py: epoch and anneal schedules
land as parquet with dense per-partition positions, the audit line
recomputes from the landed data, packing lanes co-land with
--pack-budget, and degenerate inputs / dials are refused (exit 4 / 2)."""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


@pytest.mark.usefixtures("spark")
def test_epoch_schedule_end_to_end(spark, tmp_path, run_job):
    src = os.path.join(SF, "documents.parquet")
    out = str(tmp_path / "ord")
    rc, stdout, _ = run_job(["submit_order", "--input", src, "--output", out,
                             "--epochs", "2", "--shards", "4",
                             "--pack-budget", "256"])
    assert rc == 0
    audit = json.loads(stdout)
    n_src = spark.read.parquet(src).count()
    order = spark.read.parquet(f"{out}/order")
    assert audit["docs_per_epoch"] == {"0": n_src, "1": n_src}
    assert order.count() == 2 * n_src
    # permutations differ between epochs but share membership
    e0 = [r["doc_id"] for r in order.filter("epoch = 0")
          .orderBy("shard", "pos").collect()]
    e1 = [r["doc_id"] for r in order.filter("epoch = 1")
          .orderBy("shard", "pos").collect()]
    assert e0 != e1 and sorted(e0) == sorted(e1)
    packed = spark.read.parquet(f"{out}/packed")
    assert audit["packed_sequences"] == packed.count() > 0


@pytest.mark.usefixtures("spark")
def test_anneal_schedule_computes_quality_when_missing(spark, tmp_path,
                                                       run_job):
    src = os.path.join(SF, "documents.parquet")
    out = str(tmp_path / "ann")
    rc, stdout, _ = run_job(["submit_order", "--input", src, "--output", out,
                             "--schedule", "anneal", "--final-frac", "0.25",
                             "--shards", "4"])
    assert rc == 0
    audit = json.loads(stdout)
    order = spark.read.parquet(f"{out}/order")
    n_src = spark.read.parquet(src).count()
    per_phase = audit["docs_per_phase"]
    assert sum(per_phase.values()) == order.count() == n_src
    # the threshold audit: the anneal phase is ~final_frac of the corpus
    assert 0 < per_phase["1"] < n_src
    assert 0.10 <= per_phase["1"] / n_src <= 0.45
    # anneal docs are the best-quality ones: min anneal >= max of the
    # rest is too strict at the tie boundary, but means must separate
    m1 = order.filter("phase = 1").agg({"quality": "avg"}).collect()[0][0]
    m0 = order.filter("phase = 0").agg({"quality": "avg"}).collect()[0][0]
    assert m1 > m0


@pytest.mark.usefixtures("spark")
def test_guards(spark, tmp_path, run_job):
    src = os.path.join(SF, "documents.parquet")
    rc, _, _ = run_job(["submit_order", "--input", src,
                        "--output", str(tmp_path / "x"),
                        "--final-frac", "1.5"])
    assert rc == 2
    empty = str(tmp_path / "empty_src")
    spark.createDataFrame([], "doc_id long, text string") \
         .write.parquet(empty)
    rc, _, _ = run_job(["submit_order", "--input", empty,
                        "--output", str(tmp_path / "y")])
    assert rc == 4
    assert not os.path.exists(str(tmp_path / "y"))
