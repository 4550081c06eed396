"""The bench's span-sequence exact-match rate helper (BASELINE.json metric,
second half) must read 1.0 on a clean corpus and detect real divergence."""

from __future__ import annotations

import tempfile

import bench
from resume_ocr_spark import corpus, warehouse
from resume_ocr_spark.operators import extract


def test_span_match_rate_full_parity(spark):
    docs, blobs = corpus.gen_corpus(60, seed=777)
    root = tempfile.mkdtemp(prefix="spanmatch_wh_")
    warehouse.build_warehouse(spark, root, docs, blobs)
    dd = warehouse.read_table(spark, root, "documents_raw")
    bb = warehouse.read_table(spark, root, "media_blobs")
    out_dir = tempfile.mkdtemp(prefix="spanmatch_out_")
    extract.extract_documents(dd, bb).write.mode("overwrite").parquet(out_dir)

    sm = bench.span_match(spark, out_dir, docs, blobs)
    assert sm["sampled"] == len(docs)
    assert sm["rate"] == 1.0, sm
    assert sm["strict_rate"] == 1.0, sm

    # the metric is not vacuous: corrupt one sampled doc's expected input
    # (drop a span) and the rate must drop below 1.0
    mutated = [dict(d) for d in docs]
    victim = next(d for d in mutated if len(d["spans"]) > 1)
    victim["spans"] = victim["spans"][:-1]
    sm_bad = bench.span_match(spark, out_dir, mutated, blobs)
    assert sm_bad["rate"] < 1.0
