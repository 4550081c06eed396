"""End-to-end test of tools/submit_search.py: build → query (all three
modes + snippets) → recrawl merge, with the merged index answering
exactly like a fresh build over the final corpus state."""

import json
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"
DOCS = os.path.join(SF, "documents.parquet")


def _run(argv, capsys):
    from tools import submit_search

    old = sys.argv
    sys.argv = ["submit_search.py"] + argv
    try:
        rc = submit_search.main()
    finally:
        sys.argv = old
    out = capsys.readouterr().out.strip().splitlines()
    return rc, (json.loads(out[-1]) if out else None)


@pytest.mark.usefixtures("spark")
def test_search_job_end_to_end(spark, tmp_path, capsys):
    idx = str(tmp_path / "idx")
    rc, meta = _run(["build", "--input", DOCS, "--index", idx], capsys)
    assert rc == 0 and meta["n_docs"] == 500

    # bm25: top-10, equal to the library scan path's ranking head
    outd = str(tmp_path / "q1")
    rc, meta = _run(["query", "--index", idx, "--output", outd,
                     "--bm25", "spark query window merge"], capsys)
    assert rc == 0 and meta["rows"] == 10
    assert len(meta["buckets_touched"]) <= 4
    from resume_ocr_spark.operators import retrieval
    docs = spark.read.parquet(DOCS)
    want = [tuple(r) for r in retrieval.bm25_scores(
        docs, "spark query window merge")
        .orderBy(F.desc("bm25"), "doc_id").limit(10).collect()]
    got = [tuple(r) for r in spark.read.parquet(f"{outd}/results")
           .orderBy(F.desc("bm25"), "doc_id").collect()]
    assert got == want

    # phrase with snippets
    outp = str(tmp_path / "q2")
    rc, meta = _run(["query", "--index", idx, "--output", outp,
                     "--phrase", "big data merge", "--snippets", DOCS],
                    capsys)
    assert rc == 0 and meta["rows"] >= 1
    snip = spark.read.parquet(f"{outp}/results").collect()[0]
    assert "big data merge" in snip.snippet

    # proximity
    outx = str(tmp_path / "q3")
    rc, meta = _run(["query", "--index", idx, "--output", outx,
                     "--proximity", "spark,query,window",
                     "--max-window", "12"], capsys)
    assert rc == 0 and meta["rows"] >= 1
    assert spark.read.parquet(f"{outx}/results") \
        .filter("min_window > 12").count() == 0

    # no-hit query exits 4
    outn = str(tmp_path / "q4")
    rc, meta = _run(["query", "--index", idx, "--output", outn,
                     "--phrase", "zeppelin zeppelin zeppelin"], capsys)
    assert rc == 4

    # invalid: two modes at once
    rc, _ = _run(["query", "--index", idx, "--output", outn,
                  "--bm25", "x", "--phrase", "y"], capsys)
    assert rc == 2


@pytest.mark.usefixtures("spark")
def test_search_job_merge_equals_fresh_build(spark, tmp_path, capsys):
    docs = spark.read.parquet(DOCS)
    base_p = str(tmp_path / "base.parquet")
    delta_p = str(tmp_path / "delta.parquet")
    docs.filter("doc_id < 400").write.parquet(base_p)
    # delta: recrawl of docs 300-399 with CHANGED text + new docs 500-519
    (docs.filter("doc_id >= 300 AND doc_id < 400")
     .withColumn("text", F.concat(F.lit("fresh recrawl "), F.col("text")))
     .unionByName(docs.filter("doc_id < 20")
                  .withColumn("doc_id", F.col("doc_id") + 500))
     .write.parquet(delta_p))

    idx = str(tmp_path / "idx")
    rc, _ = _run(["build", "--input", base_p, "--index", idx], capsys)
    assert rc == 0
    merged = str(tmp_path / "merged")
    rc, meta = _run(["merge", "--index", idx, "--delta", delta_p,
                     "--output", merged], capsys)
    assert rc == 0 and meta["n_docs"] == 420  # 400 base − 100 replaced + 120

    # final corpus state = base minus replaced + delta
    final_p = str(tmp_path / "final.parquet")
    (spark.read.parquet(base_p).filter("doc_id < 300")
     .unionByName(spark.read.parquet(delta_p)).write.parquet(final_p))
    fresh = str(tmp_path / "fresh")
    rc, _ = _run(["build", "--input", final_p, "--index", fresh], capsys)
    assert rc == 0

    key = lambda r: (r.term, r.doc_id, r.tf, tuple(r.positions), r.tbucket)
    a = sorted(map(key, spark.read.parquet(f"{merged}/postings").collect()))
    b = sorted(map(key, spark.read.parquet(f"{fresh}/postings").collect()))
    assert a == b
    # the merged index answers queries identically to the fresh one
    o1, o2 = str(tmp_path / "o1"), str(tmp_path / "o2")
    rc1, _ = _run(["query", "--index", merged, "--output", o1,
                   "--bm25", "fresh recrawl spark"], capsys)
    rc2, _ = _run(["query", "--index", fresh, "--output", o2,
                   "--bm25", "fresh recrawl spark"], capsys)
    assert rc1 == 0 and rc2 == 0
    r1 = [tuple(r) for r in spark.read.parquet(f"{o1}/results")
          .orderBy("doc_id").collect()]
    r2 = [tuple(r) for r in spark.read.parquet(f"{o2}/results")
          .orderBy("doc_id").collect()]
    assert r1 == r2

    # merge refuses in-place overwrite
    rc, _ = _run(["merge", "--index", merged, "--delta", delta_p,
                  "--output", merged], capsys)
    assert rc == 2


@pytest.mark.usefixtures("spark")
def test_search_job_blocklist_mode(spark, tmp_path, capsys):
    idx = str(tmp_path / "idx")
    rc, _ = _run(["build", "--input", DOCS, "--index", idx], capsys)
    assert rc == 0
    bl = tmp_path / "blocklist.txt"
    bl.write_text("big data merge\nwindow fast query\n\n")
    outd = str(tmp_path / "qb")
    rc, meta = _run(["query", "--index", idx, "--output", outd,
                     "--phrases-file", str(bl)], capsys)
    assert rc == 0 and meta["mode"] == "blocklist" and meta["rows"] >= 1
    from resume_ocr_spark.operators import postings
    got = {(r.doc_id, r.phrase)
           for r in spark.read.parquet(f"{outd}/results").collect()}
    docs = spark.read.parquet(DOCS)
    post = postings.build_postings(docs)
    want = set()
    for p in ["big data merge", "window fast query"]:
        want |= {(r.doc_id, p)
                 for r in postings.phrase_matches(post, p).collect()}
    assert got == want


@pytest.mark.usefixtures("spark")
def test_search_job_contract_fixes(spark, tmp_path, capsys):
    """Review-driven CLI contracts: bm25 no-match exits 4 (matched-only
    results, no zero-score padding), tokenless phrase exits 2 instead of
    a traceback, proximity input normalizes like every other mode, and
    a non-default --text-col survives the manifest into snippets and
    merges."""
    docs = spark.read.parquet(DOCS)
    body_p = str(tmp_path / "body.parquet")
    docs.withColumnRenamed("text", "body").write.parquet(body_p)
    idx = str(tmp_path / "idx")
    rc, _ = _run(["build", "--input", body_p, "--index", idx,
                  "--text-col", "body"], capsys)
    assert rc == 0

    # bm25 that matches nothing → 0 result rows → exit 4
    out1 = str(tmp_path / "o1")
    rc, meta = _run(["query", "--index", idx, "--output", out1,
                     "--bm25", "zzznotaword qqqneither"], capsys)
    assert rc == 4 and meta["rows"] == 0

    # matched-only: a 1-term query returns only docs containing it
    out2 = str(tmp_path / "o2")
    rc, _ = _run(["query", "--index", idx, "--output", out2,
                  "--bm25", "zeppelin spark"], capsys)
    assert rc == 0
    assert spark.read.parquet(f"{out2}/results") \
        .filter("n_terms_matched = 0").count() == 0

    # tokenless phrase / bm25 → exit 2, not a traceback
    rc, _ = _run(["query", "--index", idx, "--output", out2,
                  "--phrase", "###"], capsys)
    assert rc == 2
    rc, _ = _run(["query", "--index", idx, "--output", out2,
                  "--bm25", "!!!"], capsys)
    assert rc == 2

    # proximity normalizes case/padding; duplicate terms → exit 2
    out3 = str(tmp_path / "o3")
    rc, meta = _run(["query", "--index", idx, "--output", out3,
                     "--proximity", "Spark, Query, Window"], capsys)
    assert rc == 0 and meta["rows"] >= 1
    rc, _ = _run(["query", "--index", idx, "--output", out3,
                  "--proximity", "spark,spark"], capsys)
    assert rc == 2

    # snippets read the manifest's text_col (body), not a hardcoded
    # 'text' — the docs parquet has NO text column at all
    out4 = str(tmp_path / "o4")
    rc, meta = _run(["query", "--index", idx, "--output", out4,
                     "--phrase", "big data merge", "--snippets", body_p],
                    capsys)
    assert rc == 0 and meta["rows"] >= 1
    assert "big data merge" in spark.read.parquet(
        f"{out4}/results").collect()[0].snippet

    # merge tokenizes the delta's manifest text_col (body) when
    # --text-col is not given again
    delta_p = str(tmp_path / "delta.parquet")
    (spark.read.parquet(body_p).filter("doc_id < 5")
     .withColumn("doc_id", F.col("doc_id") + 500)
     .withColumn("body", F.concat(F.lit("zeppelin "), F.col("body")))
     .write.parquet(delta_p))
    merged = str(tmp_path / "merged")
    rc, meta = _run(["merge", "--index", idx, "--delta", delta_p,
                     "--output", merged], capsys)
    assert rc == 0 and meta["n_docs"] == 505
    hits = spark.read.parquet(f"{merged}/postings").filter(
        "term = 'zeppelin'").collect()
    assert {r.doc_id for r in hits} == {500, 501, 502, 503, 504}
