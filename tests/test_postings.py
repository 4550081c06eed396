"""Positional inverted index (operators/postings.py): build, index-backed
BM25 cross-path equality, phrase adjacency, min-cover proximity, and the
materialized PostingsIndex partition pruning."""

import re

import pytest
from pyspark.sql import functions as F

from resume_ocr_spark.operators import postings, retrieval

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def post(docs):
    return postings.build_postings(docs).persist()


@pytest.fixture(scope="module")
def dl(docs):
    return postings.doc_lengths(docs).persist()


def _pytok(text):
    return [w for w in re.sub(r"[^a-z0-9]+", " ", (text or "").lower())
            .split() if w]


def test_postings_match_python(docs, post):
    """Postings tf/positions agree with a row-wise python re-derivation
    on the first 30 docs."""
    sub = {r.doc_id: r.text for r in docs.filter("doc_id < 30").collect()}
    got = {(r.term, r.doc_id): (r.tf, list(r.positions))
           for r in post.filter("doc_id < 30").collect()}
    want = {}
    for did, text in sub.items():
        for i, w in enumerate(_pytok(text), start=1):
            tf, pos = want.setdefault((w, did), (0, []))
            want[(w, did)] = (tf + 1, pos + [i])
    assert got == want


def test_doc_lengths_cover_empty_docs(spark):
    """Zero-token and NULL docs carry dl=0 rows (postings can't see them,
    BM25's N/avgdl must)."""
    df = spark.createDataFrame(
        [(1, "two words"), (2, ""), (3, None), (4, "..!!..")],
        "doc_id long, text string")
    got = {r.doc_id: r.dl for r in postings.doc_lengths(df).collect()}
    assert got == {1: 2, 2: 0, 3: 0, 4: 0}


def test_index_bm25_equals_scan_path(docs, post, dl):
    """The index-backed BM25 reproduces the full-scan bm25_scores
    exactly — same docs, same n_terms_matched, same rounded score."""
    q = "spark query window merge zeppelin"
    a = retrieval.bm25_scores(docs, q).orderBy("doc_id").collect()
    b = postings.index_bm25(post, dl, q).orderBy("doc_id").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_index_bm25_empty_query(post, dl):
    out = postings.index_bm25(post, dl, "!!!")
    assert out.filter("bm25 != 0.0").count() == 0


def test_phrase_matches_python_parity(docs, post):
    """Phrase match counts equal a sliding-window python scan over the
    whole sf0.001 corpus."""
    phrase = "big data merge"
    words = phrase.split()
    want = {}
    for r in docs.collect():
        toks = _pytok(r.text)
        hits = [i + 1 for i in range(len(toks) - len(words) + 1)
                if toks[i:i + len(words)] == words]
        if hits:
            want[r.doc_id] = (len(hits), hits[0])
    got = {r.doc_id: (r.n_matches, r.first_pos)
           for r in postings.phrase_matches(post, phrase).collect()}
    assert got == want
    assert got, "fixture phrase must occur at least once"


def test_phrase_duplicate_term(spark):
    """A phrase that repeats a word resolves both offsets from the same
    postings entry."""
    df = spark.createDataFrame(
        [(1, "table table scan"), (2, "table scan table")],
        "doc_id long, text string")
    p = postings.build_postings(df)
    got = {r.doc_id: r.n_matches
           for r in postings.phrase_matches(p, "table table").collect()}
    assert got == {1: 1}


def test_phrase_single_word(spark):
    df = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
    p = postings.build_postings(df)
    row = postings.phrase_matches(p, "a").collect()[0]
    assert (row.n_matches, row.first_pos) == (2, 1)


def test_min_window_python_parity(docs, post):
    """Min-cover windows equal a brute-force python scan (all start/end
    pairs) over the whole sf0.001 corpus."""
    terms = ["spark", "query", "window"]
    want = {}
    for r in docs.collect():
        toks = _pytok(r.text)
        best = None
        for i in range(len(toks)):
            need = set(terms)
            for j in range(i, len(toks)):
                need.discard(toks[j])
                if not need:
                    w = j - i + 1
                    best = w if best is None or w < best else best
                    break
        if best is not None:
            want[r.doc_id] = best
    got = {r.doc_id: r.min_window
           for r in postings.min_window_proximity(post, terms).collect()}
    assert got == want
    assert got, "fixture terms must co-occur at least once"


def test_min_window_max_filter(post):
    terms = ["spark", "query", "window"]
    full = postings.min_window_proximity(post, terms).collect()
    capped = postings.min_window_proximity(post, terms, max_window=8)
    want = {r.doc_id for r in full if r.min_window <= 8}
    assert {r.doc_id for r in capped.collect()} == want


def test_min_window_requires_two_terms(post):
    with pytest.raises(ValueError):
        postings.min_window_proximity(post, ["spark"])


def test_postings_index_prunes_partitions(docs, tmp_path):
    """The materialized index's query scan carries a tbucket
    PartitionFilters clause covering exactly the query terms' buckets,
    and reproduces the in-memory answers."""
    idx = postings.PostingsIndex.build(docs, path=str(tmp_path / "pidx"))
    q = "spark query window merge zeppelin"
    a = retrieval.bm25_scores(docs, q).orderBy("doc_id").collect()
    b = idx.bm25(q).orderBy("doc_id").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]

    plan = idx.bm25(q)._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[tbucket#\d+ IN \(([\d,]+)\)", plan)
    assert m, "postings scan must prune on tbucket"
    got_buckets = {int(x) for x in m.group(1).split(",")}
    want = {postings.term_bucket(t) for t in q.split()}
    assert got_buckets == want

    ph = {r.doc_id: r.n_matches
          for r in idx.phrase("big data merge").collect()}
    assert ph  # pruned phrase path still finds the fixture phrase
    idx.unpersist()


def test_bucket_col_matches_python(spark):
    """The Column-side md5 bucket equals the driver-side term_bucket for
    every term in the corpus vocabulary head."""
    df = spark.createDataFrame(
        [("spark",), ("query",), ("window",), ("zeppelin",), ("a",)],
        "term string")
    rows = df.select(
        "term", postings._bucket_col(F.col("term"), 64).alias("b")).collect()
    for r in rows:
        assert r.b == postings.term_bucket(r.term, 64)


def test_phrase_snippets(docs, post):
    """Snippets: ±width tokens around the first phrase hit, python
    parity on every matching doc."""
    phrase, width = "big data merge", 4
    out = {r.doc_id: (r.n_matches, r.first_pos, r.snippet)
           for r in postings.phrase_snippets(
               docs, post, phrase, width=width).collect()}
    assert out
    texts = {r.doc_id: r.text for r in docs.collect()}
    words = phrase.split()
    for did, (n, p, snip) in out.items():
        toks = _pytok(texts[did])
        lo = max(p - width, 1)
        hi = min(p + len(words) - 1 + width, len(toks))
        assert snip == " ".join(toks[lo - 1:hi])
        assert " ".join(words) in snip


def test_merge_postings_recrawl(spark):
    """Segment merge: delta docs replace their base postings wholesale,
    untouched docs carry over; result equals a fresh build over the
    final corpus state."""
    v1 = spark.createDataFrame(
        [(1, "old text here"), (2, "stable doc"), (3, "to be replaced")],
        "doc_id long, text string")
    v2 = spark.createDataFrame(
        [(3, "replaced text now"), (4, "brand new doc")],
        "doc_id long, text string")
    base = postings.build_postings(v1)
    delta = postings.build_postings(v2)
    merged = postings.merge_postings(base, delta)
    final = v1.filter("doc_id NOT IN (3)").unionByName(v2)
    fresh = postings.build_postings(final)
    key = lambda r: (r.term, r.doc_id, r.tf, tuple(r.positions))
    assert sorted(map(key, merged.collect())) == \
        sorted(map(key, fresh.collect()))
    # doc-length sidecar merges with the same call
    dl = postings.merge_postings(
        postings.doc_lengths(v1), postings.doc_lengths(v2))
    want = {r.doc_id: r.dl for r in postings.doc_lengths(final).collect()}
    assert {r.doc_id: r.dl for r in dl.collect()} == want


def test_multi_phrase_one_pass_equals_per_phrase(docs, post):
    """multi_phrase_matches == the union of single-phrase phrase_matches
    rows, and a doc missing a phrase's term simply yields no row."""
    phrases = ["big data merge", "window fast query", "slow hash batch",
               "zeppelin airship"]
    multi = {(r.doc_id, r.phrase): (r.n_matches, r.first_pos)
             for r in postings.multi_phrase_matches(post, phrases).collect()}
    want = {}
    for p in phrases:
        for r in postings.phrase_matches(post, p).collect():
            want[(r.doc_id, p)] = (r.n_matches, r.first_pos)
    assert multi == want
    assert not any(p == "zeppelin airship" for _, p in multi)
    assert len({p for _, p in multi}) >= 2  # real phrases actually hit


def test_multi_phrase_blocklist_antijoin(docs, post):
    """The documented blocklist usage removes exactly the matching
    docs."""
    phrases = ["big data merge"]
    hits = postings.multi_phrase_matches(post, phrases)
    kept = docs.join(hits.select("doc_id").distinct(), "doc_id",
                     "left_anti")
    assert kept.count() == docs.count() - hits.select("doc_id").distinct().count()


def test_multi_phrase_dedups_repeated_phrases(post):
    """A repeated phrase (a blocklist file with a duplicated line) yields
    one row per (doc, phrase), not one per repeat."""
    def rows(phrases):
        return sorted(map(tuple, postings.multi_phrase_matches(
            post, phrases).collect()))
    once = rows(["big data merge", "window fast query"])
    assert once
    assert rows(["big data merge", "window fast query",
                 "big data merge"]) == once


def test_multi_phrase_rejects_empty(post):
    with pytest.raises(ValueError):
        postings.multi_phrase_matches(post, ["big data", "!!!"])
