"""Mid-scale span-sequence parity: ~800 docs, full tuple equality.

The unit suites compare ~100-doc corpora; this run is large enough to
exercise every doc-mix branch (incl. the 1% skew tail, glyph-mode PDFs,
scanned multi-page PDFs, negatives) many times over, asserting the
north-rule invariant — span-sequence equality (kind, text, media_ref,
order) plus error/ocr_pages/rejection/score/rank — between the
distributed pipeline and the single-node oracle. (An ad-hoc 1,500-doc run
of the same comparison also passed during round 2.)
"""

from __future__ import annotations

import random
import tempfile

from resume_ocr_spark import corpus, oracle, storage, warehouse
from resume_ocr_spark.operators import analyze, extract


def test_midscale_span_and_analysis_parity(spark):
    docs, blobs = corpus.gen_corpus(800, seed=20260817)
    root = tempfile.mkdtemp(prefix="midscale_wh_")
    warehouse.build_warehouse(spark, root, docs, blobs)
    dd = warehouse.read_table(spark, root, "documents_raw")
    bb = warehouse.read_table(spark, root, "media_blobs")
    query = corpus.make_job_query(random.Random(3))
    # the live extraction feeds the analysis UDF and the top-k probe
    with storage.persisted(
            extract.extract_documents(dd.select("doc_id", "spans"), bb)) as e:
        got = {r["doc_id"]: r
               for r in analyze.analyze_documents(e, query=query).collect()}
    exp = oracle.run_pipeline(docs, blobs, query=query)

    assert set(got) == set(exp)
    for d in docs:
        did = d["doc_id"]
        gk = [(s["kind"], s["text"], s["media_ref"], s["offset"],
               s["error"], s["ocr_pages"])
              for s in (x.asDict() for x in got[did]["spans"])]
        ek = [(s["kind"], s["text"], s["media_ref"], s["offset"],
               s["error"], s["ocr_pages"])
              for s in exp[did]["spans"]]
        assert gk == ek, f"span mismatch: {did}"
        assert got[did]["rejected"] == exp[did]["analysis"]["rejected"], did
        assert got[did]["score_num"] == exp[did]["analysis"]["score_num"], did

    granks = sorted((r["rank"], d) for d, r in got.items()
                    if r["rank"] is not None)
    eranks = sorted((v["rank"], d) for d, v in exp.items()
                    if v["rank"] is not None)
    assert granks == eranks and len(granks) == 5
