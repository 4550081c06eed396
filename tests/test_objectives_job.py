"""End-to-end test of tools/submit_objectives.py: both objective outputs
land as parquet, the audit line's counts recompute from the landed data,
degenerate corpora are refused (exit 4), and bad dials exit 2."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


@pytest.mark.usefixtures("spark")
def test_both_objectives_end_to_end(spark, tmp_path, run_job):
    import json

    src = os.path.join(SF, "documents.parquet")
    out = str(tmp_path / "obj")
    rc, stdout, _ = run_job(["submit_objectives", "--input", src,
                             "--output", out])
    assert rc == 0
    audit = json.loads(stdout)
    fim = spark.read.parquet(f"{out}/fim")
    span = spark.read.parquet(f"{out}/span")
    assert audit["n_docs"] == fim.count() == span.count()
    assert audit["fim_applied"] == fim.filter("fim_applied").count() > 0
    assert audit["span_masked_words"] == \
        span.agg({"n_masked": "sum"}).collect()[0][0]
    # the job is a pure projection: every input doc id lands in both
    n_src = spark.read.parquet(src).count()
    assert fim.count() == n_src


@pytest.mark.usefixtures("spark")
def test_single_objective_and_guards(spark, tmp_path, run_job):
    src = str(tmp_path / "empty_src")
    spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None)], "doc_id long, text string"
    ).write.parquet(src)
    out = str(tmp_path / "obj")
    rc, _, _ = run_job(["submit_objectives", "--input", src, "--output", out,
                        "--objective", "fim"])
    assert rc == 4  # zero words refused
    assert not os.path.exists(f"{out}/fim")  # nothing written
    rc, _, _ = run_job(["submit_objectives", "--input", src, "--output", out,
                        "--rate", "1.5"])
    assert rc == 2
    rc, _, _ = run_job(["submit_objectives", "--input", src, "--output", out,
                        "--span-len", "16"])
    assert rc == 2
    # missing column
    rc, _, _ = run_job(["submit_objectives", "--input", src, "--output", out,
                        "--text-col", "body"])
    assert rc == 2
    # span-only run over a real corpus writes only span/
    rc, _, _ = run_job(["submit_objectives",
                        "--input", os.path.join(SF, "documents.parquet"),
                        "--output", out, "--objective", "span"])
    assert rc == 0
    assert os.path.exists(f"{out}/span")
    assert not os.path.exists(f"{out}/fim")
