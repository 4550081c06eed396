"""End-to-end test of tools/submit_profile.py: the incremental-profiling
contract — running batch 1 then batch 2 WITH --state must leave exactly
the same sketch state and derived profile as one run over the whole
corpus. This is the resume/checkpoint story for the profiling pass: the
persisted sketches ARE the checkpoint, and merging them replaces any
rescan of prior batches."""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"


def _rows(spark, path):
    return sorted(map(tuple, spark.read.parquet(path).collect()))


@pytest.mark.usefixtures("spark")
def test_incremental_profile_equals_whole(spark, tmp_path, run_job):
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    half1 = str(tmp_path / "half1")
    half2 = str(tmp_path / "half2")
    docs.filter("doc_id % 2 = 0").write.parquet(half1)
    docs.filter("doc_id % 2 = 1").write.parquet(half2)

    whole_out = str(tmp_path / "whole")
    assert run_job(["submit_profile",
                    "--input", os.path.join(SF, "documents.parquet"),
                    "--output", whole_out])[0] == 0

    b1 = str(tmp_path / "b1")
    b2 = str(tmp_path / "b2")
    assert run_job(["submit_profile", "--input", half1,
                    "--output", b1])[0] == 0
    assert run_job(["submit_profile", "--input", half2, "--output", b2,
                    "--state", b1])[0] == 0

    # sketch state identical — merge law end-to-end through parquet
    for table in ("hll_words", "cms_words", "len_bins", "totals"):
        assert (_rows(spark, f"{whole_out}/{table}")
                == _rows(spark, f"{b2}/{table}")), table

    # derived profile identical (distinct estimates, counters, quantiles)
    assert (_rows(spark, f"{whole_out}/profile")
            == _rows(spark, f"{b2}/profile"))

    # top-word estimates identical on this fixture (each half's candidate
    # head covers the global head at sf0.01 homogeneity)
    assert (_rows(spark, f"{whole_out}/top_words")
            == _rows(spark, f"{b2}/top_words"))


@pytest.mark.usefixtures("spark")
def test_profile_sanity_and_refusals(spark, tmp_path, run_job):
    out = str(tmp_path / "out")
    rc, stdout, _ = run_job(["submit_profile",
                             "--input", os.path.join(SF, "documents.parquet"),
                             "--output", out])
    assert rc == 0
    prof = {r["lang"]: r for r in
            spark.read.parquet(f"{out}/profile").collect()}
    assert json.loads(stdout) == {"groups": len(prof)}
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    n_en = docs.filter("lang = 'en'").count()
    assert prof["en"]["n_docs"] == n_en
    assert prof["en"]["n_words"] > 0
    # HLL estimate in the error band of the true per-lang distinct words
    from pyspark.sql import functions as F
    from resume_ocr_spark.operators.dedup import _tokens
    true = dict(
        docs.select("lang", F.explode(_tokens("text")).alias("w"))
        .filter("w <> ''").groupBy("lang")
        .agg(F.countDistinct("w").alias("d")).collect())
    for lang, row in prof.items():
        rel = abs(row["est_distinct_words"] - true[lang]) / true[lang]
        assert rel < 0.25, (lang, row["est_distinct_words"], true[lang])
        assert row["len_p50"] <= row["len_p95"] <= row["len_p99"]

    # invalid sizing → exit 2; empty-words corpus → exit 4, writes nothing
    assert run_job(["submit_profile",
                    "--input", os.path.join(SF, "documents.parquet"),
                    "--output", out, "--topk", "0"])[0] == 2
    # state == output would race the lazy merge reads against the
    # overwrite — refused up front
    assert run_job(["submit_profile",
                    "--input", os.path.join(SF, "documents.parquet"),
                    "--output", out, "--state", out])[0] == 2
    empty = str(tmp_path / "empty")
    spark.createDataFrame([(1, "en", "!!!")],
                          "doc_id long, lang string, text string"
                          ).write.parquet(empty)
    refuse_out = str(tmp_path / "refused")
    assert run_job(["submit_profile", "--input", empty,
                    "--output", refuse_out])[0] == 4
    assert not os.path.exists(refuse_out)
