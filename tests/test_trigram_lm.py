"""Interpolated trigram LM scorer (textstats.with_trigram_logprob,
VERDICT r4 next-step #7): exact parity with a pure-Python model, the
gibberish-ranks-worse property, trigram-context sensitivity beyond what a
bigram model can see, and the totality/guard contracts."""

import math

import pytest
from pyspark.sql import functions as F

from resume_ocr_spark.operators import bpe, textstats

LAM3, LAM2 = 0.5, 0.3


def _py_score(texts_by_id, model_texts, lam3=LAM3, lam2=LAM2, alpha=1.0):
    """Independent recompute: same add-α interpolated trigram definition
    (second word folds λ3 into λ2, first word is unigram-only)."""
    uni: dict[str, int] = {}
    big: dict[tuple, int] = {}
    tri: dict[tuple, int] = {}
    for t in model_texts:
        ws = bpe.norm_words(t)
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
        for a, b, c in zip(ws, ws[1:], ws[2:]):
            tri[(a, b, c)] = tri.get((a, b, c), 0) + 1
    total = sum(uni.values())
    floor = alpha * (len(uni) + 1)
    lam1 = 1.0 - lam3 - lam2
    out = {}
    for i, t in texts_by_id.items():
        ws = bpe.norm_words(t)
        if not ws:
            out[i] = (None, 0)
            continue
        nll = 0.0
        for j, w in enumerate(ws):
            pu = (uni.get(w, 0) + alpha) / (total + floor)
            if j == 0:
                p = pu
            else:
                pb = (big.get((ws[j - 1], w), 0) + alpha) / (
                    uni.get(ws[j - 1], 0) + floor)
                if j == 1:
                    p = (lam3 + lam2) * pb + lam1 * pu
                else:
                    pt = (tri.get((ws[j - 2], ws[j - 1], w), 0) + alpha) / (
                        big.get((ws[j - 2], ws[j - 1]), 0) + floor)
                    p = lam3 * pt + lam2 * pb + lam1 * pu
            nll -= math.log(p)
        out[i] = (round(nll / len(ws), 4), len(ws))
    return out


def _score_df(spark, texts):
    df = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string")
    uni = textstats.word_counts(df)
    big = textstats.bigram_counts(df)
    tri = textstats.trigram_counts(df)
    return {r["doc_id"]: (r["trigram_nll"], r["n_scored_words"])
            for r in textstats.with_trigram_logprob(
                df, uni, big, tri, lam3=LAM3, lam2=LAM2).collect()}


@pytest.mark.usefixtures("spark")
def test_matches_python_model_exactly(spark, small_corpus):
    docs, _ = small_corpus
    texts = {i: " ".join(
        s["text"] or "" for s in d["spans"] if s["kind"] == "text")
        for i, d in enumerate(docs[:20])}
    assert _score_df(spark, texts) == _py_score(texts, list(texts.values()))


@pytest.mark.usefixtures("spark")
def test_gibberish_scores_worse_than_in_domain(spark):
    """The property the CCNet-style filter depends on: in-domain text
    scores a lower NLL than character soup and than shuffled-vocab text."""
    model = ["senior data engineer with python and spark experience",
             "data engineer with experience in python spark pipelines",
             "senior python engineer building spark data pipelines"]
    texts = {
        0: "senior data engineer with python and spark experience",
        1: "qzxv wkjh pqrs zzkq mvnb xyzt qqwz jjkl",         # gibberish
        2: "experience spark and senior with data python engineer",  # bag
    }
    df = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string")
    mdf = spark.createDataFrame(
        list(enumerate(model)), "doc_id long, text string")
    got = {r["doc_id"]: r["trigram_nll"]
           for r in textstats.with_trigram_logprob(
               df, textstats.word_counts(mdf), textstats.bigram_counts(mdf),
               textstats.trigram_counts(mdf)).collect()}
    assert got[0] < got[2] < got[1]


@pytest.mark.usefixtures("spark")
def test_trigram_sees_past_bigram_saturation(spark):
    """Two docs with IDENTICAL bigram multisets but different trigram
    structure must separate under the trigram scorer — the saturation
    case VERDICT r4 cites as the reason bigram models plateau."""
    # model: 'a b a' is frequent; 'b a b' never follows it
    model = ["a b a b a b a", "a b a c a b a"]
    # in-model trigram order vs a doc whose bigrams (a b / b a) all exist
    # but whose trigram path is rarer
    texts = {0: "a b a c a", 1: "b a b a b"}
    df = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string")
    mdf = spark.createDataFrame(
        list(enumerate(model)), "doc_id long, text string")
    uni, big, tri = (textstats.word_counts(mdf),
                     textstats.bigram_counts(mdf),
                     textstats.trigram_counts(mdf))
    tri_s = {r["doc_id"]: r["trigram_nll"]
             for r in textstats.with_trigram_logprob(
                 df, uni, big, tri).collect()}
    expect = _py_score(texts, model)
    assert tri_s[0] == expect[0][0] and tri_s[1] == expect[1][0]
    assert tri_s[0] != tri_s[1]  # trigram structure separates them


@pytest.mark.usefixtures("spark")
def test_totality_and_guards(spark):
    texts = {0: "", 1: "   ", 2: "one", 3: None}
    got = _score_df(spark, texts)
    assert got[0] == (None, 0) and got[1] == (None, 0)
    assert got[3] == (None, 0)
    assert got[2][1] == 1
    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    uni = textstats.word_counts(df)
    big = textstats.bigram_counts(df)
    tri = textstats.trigram_counts(df)
    with pytest.raises(ValueError, match="lam3"):
        textstats.with_trigram_logprob(df, uni, big, tri, lam3=0.8, lam2=0.3)
    with pytest.raises(ValueError, match="alpha"):
        textstats.with_trigram_logprob(df, uni, big, tri, alpha=0.0)
    with pytest.raises(ValueError, match="model too large"):
        textstats.with_trigram_logprob(df, uni, big, tri, max_model_rows=0)


@pytest.mark.usefixtures("spark")
def test_min_count_prunes_toward_lower_orders(spark):
    """min_count=2 drops singleton bigrams/trigrams: every pruned position
    backs off toward the α floor, so NLL can only move up or stay."""
    model = ["alpha beta gamma delta", "alpha beta gamma epsilon"]
    texts = {0: "alpha beta gamma delta"}
    df = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string")
    mdf = spark.createDataFrame(
        list(enumerate(model)), "doc_id long, text string")
    uni, big, tri = (textstats.word_counts(mdf),
                     textstats.bigram_counts(mdf),
                     textstats.trigram_counts(mdf))
    full = textstats.with_trigram_logprob(df, uni, big, tri).collect()[0]
    pruned = textstats.with_trigram_logprob(
        df, uni, big, tri, min_count=2).collect()[0]
    assert pruned["trigram_nll"] >= full["trigram_nll"]


# ---------------------------------------------------------------------------
# Kneser-Ney sibling (round 5)
# ---------------------------------------------------------------------------


def _py_kn(texts_by_id, model_texts, d3=0.75, d2=0.75, eps=0.01):
    """Independent recompute of the interpolated-KN definition: absolute
    discounting at the trigram level, continuation (type) counts below."""
    bigc: dict[tuple, int] = {}
    tric: dict[tuple, int] = {}
    for t in model_texts:
        ws = bpe.norm_words(t)
        for a, b in zip(ws, ws[1:]):
            bigc[(a, b)] = bigc.get((a, b), 0) + 1
        for a, b, c in zip(ws, ws[1:], ws[2:]):
            tric[(a, b, c)] = tric.get((a, b, c), 0) + 1
    unic: dict[str, int] = {}
    for _, w in bigc:
        unic[w] = unic.get(w, 0) + 1
    nb, v = float(len(bigc)), len(unic)
    ctx3: dict[tuple, int] = {}
    n1p: dict[tuple, int] = {}
    cont2: dict[tuple, int] = {}
    midn: dict[str, int] = {}
    midtypes: dict[str, set] = {}
    for (u, w2, w3), c in tric.items():
        ctx3[(u, w2)] = ctx3.get((u, w2), 0) + c
        n1p[(u, w2)] = n1p.get((u, w2), 0) + 1
        cont2[(w2, w3)] = cont2.get((w2, w3), 0) + 1
        midn[w2] = midn.get(w2, 0) + 1
        midtypes.setdefault(w2, set()).add(w3)
    uniform = eps / (v + 1.0)

    def p1(w):
        return (1.0 - eps) * unic.get(w, 0) / nb + uniform

    def p2(w, prev):
        nm = midn.get(prev, 0)
        if nm == 0:
            return p1(w)
        return (max(cont2.get((prev, w), 0) - d2, 0.0) / nm
                + d2 * len(midtypes[prev]) / nm * p1(w))

    def p3(w, prev, prev2):
        cc = ctx3.get((prev2, prev), 0)
        if cc == 0:
            return p2(w, prev)
        return (max(tric.get((prev2, prev, w), 0) - d3, 0.0) / cc
                + d3 * n1p[(prev2, prev)] / cc * p2(w, prev))

    out = {}
    for i, t in texts_by_id.items():
        ws = bpe.norm_words(t)
        if not ws:
            out[i] = (None, 0)
            continue
        nll = [-math.log(p1(w) if j == 0
                         else (p2(w, ws[j - 1]) if j == 1
                               else p3(w, ws[j - 1], ws[j - 2])))
               for j, w in enumerate(ws)]
        out[i] = (round(sum(nll) / len(nll), 4), len(ws))
    return out


def _kn_score_df(spark, texts):
    df = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string")
    big = textstats.bigram_counts(df)
    tri = textstats.trigram_counts(df)
    return {r["doc_id"]: (r["kn_nll"], r["n_scored_words"])
            for r in textstats.with_kneser_ney_logprob(
                df, big, tri).collect()}


@pytest.mark.usefixtures("spark")
def test_kn_matches_python_model_exactly(spark, small_corpus):
    docs, _ = small_corpus
    texts = {i: " ".join(
        s["text"] or "" for s in d["spans"] if s["kind"] == "text")
        for i, d in enumerate(docs[:20])}
    assert _kn_score_df(spark, texts) == _py_kn(texts, list(texts.values()))


@pytest.mark.usefixtures("spark")
def test_kn_gibberish_scores_worse(spark):
    model = ["senior data engineer with python and spark experience",
             "data engineer with experience in python spark pipelines",
             "senior python engineer building spark data pipelines"]
    texts = {
        0: "senior data engineer with python and spark experience",
        1: "qzxv wkjh pqrs zzkq mvnb xyzt qqwz jjkl",
        2: "experience spark and senior with data python engineer",
    }
    df = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string")
    mdf = spark.createDataFrame(
        list(enumerate(model)), "doc_id long, text string")
    got = {r["doc_id"]: r["kn_nll"]
           for r in textstats.with_kneser_ney_logprob(
               df, textstats.bigram_counts(mdf),
               textstats.trigram_counts(mdf)).collect()}
    assert got[0] < got[2] < got[1]


@pytest.mark.usefixtures("spark")
def test_kn_continuation_beats_raw_frequency(spark):
    """The property KN exists for: a token with a HUGE raw count but a
    single context ('zzz' appears 20x, always after 'the') must get a
    SMALLER unigram-level probability than a token with modest raw count
    but many distinct contexts — continuation counts, not token counts."""
    model = ["the zzz " * 20] + [f"{w} cat runs" for w in
                                 ("a", "my", "one", "that", "every")]
    mdf = spark.createDataFrame(
        list(enumerate(model)), "doc_id long, text string")
    # score single-word docs: P1 is the only term used at position 1
    df = spark.createDataFrame(
        [(0, "zzz"), (1, "cat")], "doc_id long, text string")
    got = {r["doc_id"]: r["kn_nll"]
           for r in textstats.with_kneser_ney_logprob(
               df, textstats.bigram_counts(mdf),
               textstats.trigram_counts(mdf)).collect()}
    # raw counts: zzz ~40 occurrences, cat 5 — but cat completes 5
    # distinct contexts vs zzz's 2 ('the'->zzz, 'zzz'->zzz)
    assert got[1] < got[0]


@pytest.mark.usefixtures("spark")
def test_kn_guards_and_totality(spark):
    df = spark.createDataFrame(
        [(0, "a b c"), (1, None), (2, "")], "doc_id long, text string")
    big = textstats.bigram_counts(df)
    tri = textstats.trigram_counts(df)
    for kwargs in ({"d3": 0.0}, {"d3": 1.0}, {"d2": -0.1},
                   {"eps": 0.0}, {"eps": 1.0}):
        with pytest.raises(ValueError):
            textstats.with_kneser_ney_logprob(df, big, tri, **kwargs)
    out = {r["doc_id"]: r for r in textstats.with_kneser_ney_logprob(
        df, big, tri).collect()}
    assert out[1]["kn_nll"] is None and out[1]["n_scored_words"] == 0
    assert out[2]["kn_nll"] is None and out[2]["n_scored_words"] == 0
    assert out[0]["n_scored_words"] == 3


@pytest.mark.usefixtures("spark")
def test_kn_plan_shape(spark):
    """Corpus side: one hash exchange (the per-doc agg), five broadcast
    joins, zero SortMergeJoins — the model never shuffles the corpus."""
    import re
    d = spark.createDataFrame(
        [(i, "the cat sat on the mat again and again") for i in range(30)],
        "doc_id long, text string")
    out = textstats.with_kneser_ney_logprob(
        d, textstats.bigram_counts(d), textstats.trigram_counts(d))
    p = out._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1
    assert p.count("SortMergeJoin") == 0
    assert p.count("BroadcastHashJoin") == 5
