"""CCNet head/middle/tail perplexity bucketing
(textstats.ccnet_ppl_buckets): exact parity of the bucketing layer with an
independent Python recompute (lang-ID, md5 sample, rank terciles, labels),
carry_cols contract on the underlying scorer, totality, determinism.

The bigram nll values themselves are pinned by test_bigram_lm; here they
are taken from the scorer and only the NEW layer is recomputed.
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from resume_ocr_spark.operators import textstats

EN = "the quick brown fox jumps over the lazy dog and runs for this hill"
PT = "de manha que vamos para casa com uma ideia de que para todos uma"


def _texts():
    texts = {}
    for i in range(60):
        if i == 7:
            texts[i] = ""  # zero scorable tokens -> unscored
        elif i % 3 == 0:
            texts[i] = f"{EN} item {i} " + EN.split()[i % 13]
        elif i % 3 == 1:
            texts[i] = f"{PT} linha {i} " + PT.split()[i % 13]
        else:
            texts[i] = f"zz{i} qq{i} vv{i}"  # no markers -> unk
    return texts


def _py_lang(text):
    padded = f" {text.lower()} "
    pt = sum(padded.count(m) for m in textstats.PT_MARKERS)
    en = sum(padded.count(m) for m in textstats.EN_MARKERS)
    return "pt" if pt > en else ("en" if en > pt else "unk")


def _py_bucket16(doc_id, seed="ccnet"):
    return int(hashlib.md5(f"{doc_id}:{seed}".encode()).hexdigest()[28:32],
               16)


def _py_labels(nll_by_id, lang_by_id, sample_cap):
    """Independent recompute of the tercile-threshold layer."""
    by_lang = {}
    for i, nll in nll_by_id.items():
        if nll is not None and _py_bucket16(i) < sample_cap:
            by_lang.setdefault(lang_by_id[i], []).append((nll, i))
    thr = {}
    for lang, vals in by_lang.items():
        vals.sort()
        n = len(vals)
        t_head = vals[-(-n // 3) - 1][0]       # ceil(n/3)-th smallest
        t_mid = vals[-(-(2 * n) // 3) - 1][0]  # ceil(2n/3)-th
        thr[lang] = (t_head, t_mid)
    out = {}
    for i, nll in nll_by_id.items():
        lang = lang_by_id[i]
        if nll is None:
            out[i] = "unscored"
        elif lang not in thr:
            out[i] = "unbucketed"
        elif nll <= thr[lang][0]:
            out[i] = "head"
        elif nll <= thr[lang][1]:
            out[i] = "middle"
        else:
            out[i] = "tail"
    return out


@pytest.fixture(scope="module")
def frames(spark):
    texts = _texts()
    df = spark.createDataFrame(sorted(texts.items()),
                               "doc_id long, text string")
    uni = textstats.word_counts(df)
    big = textstats.bigram_counts(df)
    return texts, df, uni, big


def test_bucketing_matches_python_recompute(spark, frames):
    texts, df, uni, big = frames
    cap = 32768
    rows = textstats.ccnet_ppl_buckets(df, uni, big,
                                       sample_cap=cap).collect()
    assert len(rows) == len(texts)  # totality: one row per input doc
    nll_by_id = {r["doc_id"]: r["bigram_nll"] for r in rows}
    lang_by_id = {i: _py_lang(t) for i, t in texts.items()}
    for r in rows:  # lang carried through the scorer unchanged
        assert r["lang_pred"] == lang_by_id[r["doc_id"]]
    expect = _py_labels(nll_by_id, lang_by_id, cap)
    got = {r["doc_id"]: r["ppl_bucket"] for r in rows}
    assert got == expect
    assert got[7] == "unscored"
    assert {"head", "middle", "tail"} <= set(got.values())


def test_head_never_scores_worse_than_tail_within_language(spark, frames):
    _, df, uni, big = frames
    rows = textstats.ccnet_ppl_buckets(df, uni, big).collect()
    for lang in {r["lang_pred"] for r in rows}:
        heads = [r["bigram_nll"] for r in rows
                 if r["lang_pred"] == lang and r["ppl_bucket"] == "head"]
        tails = [r["bigram_nll"] for r in rows
                 if r["lang_pred"] == lang and r["ppl_bucket"] == "tail"]
        if heads and tails:
            assert max(heads) < min(tails)


def test_deterministic_across_runs(spark, frames):
    _, df, uni, big = frames
    a = sorted(map(tuple, textstats.ccnet_ppl_buckets(
        df, uni, big).collect()))
    b = sorted(map(tuple, textstats.ccnet_ppl_buckets(
        df, uni, big).collect()))
    assert a == b


def test_model_collected_once(spark, frames):
    """The sample and the corpus are scored under one model collect: a
    ccnet_ppl_buckets call starts as many Spark jobs as one
    with_bigram_logprob call (the collects are the only eager work)."""
    _, df, uni, big = frames
    sc = spark.sparkContext

    def jobs(group, call):
        sc.setJobGroup(group, group)
        try:
            call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    bigram = jobs("lm_jobs_bigram",
                  lambda: textstats.with_bigram_logprob(df, uni, big))
    ccnet = jobs("lm_jobs_ccnet",
                 lambda: textstats.ccnet_ppl_buckets(df, uni, big))
    assert bigram > 0
    assert ccnet == bigram


def test_carry_cols_leaves_scores_unchanged(spark, frames):
    _, df, uni, big = frames
    tagged = df.withColumn("src", F.when(F.col("doc_id") % 2 == 0, "a")
                           .otherwise("b"))
    plain = {r["doc_id"]: (r["bigram_nll"], r["n_scored_words"])
             for r in textstats.with_bigram_logprob(df, uni, big).collect()}
    carried = textstats.with_bigram_logprob(
        tagged, uni, big, carry_cols=("src",)).collect()
    assert len(carried) == len(plain)
    for r in carried:
        assert (r["bigram_nll"], r["n_scored_words"]) == plain[r["doc_id"]]
        assert r["src"] == ("a" if r["doc_id"] % 2 == 0 else "b")
