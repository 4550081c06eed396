"""Heavy-family stress sweep at 10× sf0.1 (= 100× the sf0.01 gate scale).

VERDICT r3 #7/#8: evidence the 100× scale claims with data, not design
prose. Builds a 50k-document corpus by replicating the sf0.1 documents
table 10× with per-replica tail mutations (replicas are NEAR-duplicates of
each other — high MinHash similarity, distinct fingerprints — so the LSH
paths face 10 planted near-dups per document), plus an optional MEGA-BUCKET
variant where a fraction of documents share one exact text (the boilerplate
flood that degenerates bucket self-joins; the curation funnel's
window-over-fingerprint skew case).

Runs each heavy operator at sf0.1 (5k docs) and at the 50k stress scale,
reports walls and the scale ratio. Pass/fail: every op completes and no
wall grows more than 10× its sf0.1 reading (work grows ~10×; superlinear
growth would flag a hidden all-pairs path).

    python tools/stress_heavy.py [--mega FRAC] [--out results.json]

Co-tenant protocol (BASELINE.md): check `uptime` first; never run
concurrently with bench or pytest.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPLICAS = int(os.environ.get("SPARK_GRAFT_STRESS_REPLICAS", "10"))
MAX_BUCKET = 200          # the production recall dial for pair candidates
LSH_K, LSH_BANDS = 128, 16


def build_stress_corpus(spark, mega_frac: float) -> str:
    """sf0.1 documents × REPLICAS with per-replica tail mutation; with
    --mega, the first ``mega_frac`` of every replica's docs are REPLACED by
    one shared boilerplate text (exact-dup flood across replicas)."""
    out = tempfile.mkdtemp(prefix="stress_docs_")
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    boiler = ("subscribe to our newsletter for updates terms of service "
              "privacy policy all rights reserved contact us about careers "
              "copyright notice cookie settings do not sell my information")
    n_docs = docs.count()
    parts = []
    for k in range(REPLICAS):
        rep = docs.select(
            (F.col("doc_id") + k * 1_000_000).alias("doc_id"),
            (F.when(
                F.col("doc_id") < int(n_docs * mega_frac), F.lit(boiler))
             .otherwise(
                F.concat(F.col("text"), F.lit(f" replica{k} marker")))
             ).alias("text"),
            "lang", "source",
        )
        parts.append(rep)
    uni = parts[0]
    for p in parts[1:]:
        uni = uni.unionAll(p)
    path = os.path.join(out, "documents.parquet")
    uni.repartition(32).write.mode("overwrite").parquet(path)
    return path


def force(df) -> int:
    """Materialize EVERY output column, not just the row count: a bare
    count() lets Catalyst prune row-count-preserving work (LEFT JOINs,
    windows — e.g. the whole curation funnel), so walls would measure a
    skeleton plan. Summing a hash of all columns defeats the pruning."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        # bit_xor, not sum: summing 64-bit hashes overflows under ANSI mode
        F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("h"),
    ).collect()[0]
    return int(row["n"])


def timed(label: str, fn, results: dict) -> None:
    t0 = time.time()
    n = fn()
    dt = round(time.time() - t0, 2)
    results[label] = {"wall_sec": dt, "rows": n}
    print(f"  {label}: {dt}s, {n} rows", flush=True)


def run_family(spark, docs_path: str, results: dict) -> None:
    from resume_ocr_spark.operators import (curate, dedup, imagehash,
                                            multimodal, selection)

    docs = spark.read.parquet(docs_path).select("doc_id", "text", "lang")

    def lsh_k128():
        sigs = dedup.minhash_signatures(docs, "doc_id", "text", k=LSH_K)
        return force(dedup.minhash_lsh_candidates(
            sigs, "doc_id", k=LSH_K, bands=LSH_BANDS,
            max_bucket_size=MAX_BUCKET))

    def jaccard_lsh():
        return force(dedup.jaccard_pairs_lsh(
            docs, "doc_id", "text", threshold=0.3,
            max_bucket_size=MAX_BUCKET))

    def cluster_star():
        sigs = dedup.minhash_signatures(docs, "doc_id", "text")
        edges = dedup.minhash_lsh_star_edges(sigs, "doc_id")
        return force(dedup.dedup_clusters_star(edges))

    def curation():
        bench = docs.filter(F.col("doc_id") < 3).select(
            F.col("text").alias("question"))
        return force(curate.curate(
            docs, benchmark=bench, weights={"en": 1.0, "fr": 0.5},
            group_col="lang", bench_text_col="question", ngram=3,
            default_weight=0.25, seed="mix"))

    def substring():
        return force(dedup.substring_duplicate_spans(
            docs, "doc_id", "text", k=8))

    def line_dedup():
        # re-chunk into 8-word lines: replicas share every line except
        # the one carrying the replica marker, so the duplicated-hash
        # set is corpus-sized — the worst case for the build-side aggs
        lined = docs.select("doc_id", F.expr(
            "array_join(transform("
            "sequence(1, greatest(1, size(split(text, ' ')) div 8)), "
            "i -> array_join(slice(split(text, ' '), (i-1)*8+1, 8), ' ')),"
            " '\\n')").alias("text"))
        return force(dedup.remove_duplicate_lines(lined, "doc_id", "text"))

    def phash_dedup():
        # render → decode → DCT hash → Hamming-LSH pairing; the replica
        # corpus plants 10 identically-rendered twins per doc (the
        # replica marker lands past the 40-char render prefix), so the
        # pairing faces dense true positives — cap bounds the buckets
        hashes = imagehash.with_image_hashes(
            multimodal.render_binary_column(docs))
        return force(imagehash.phash_near_dup(
            hashes, max_distance=6, max_bucket_size=MAX_BUCKET))

    def dsir_select():
        # two 4096-bucket model aggs + one zero-shuffle scoring scan; the
        # replica corpus multiplies BOTH the raw-distribution fit and the
        # scoring side by 10 — wall should track the scan, nothing else
        target = docs.filter(
            (F.col("lang") == "en") & (F.col("doc_id") < 500)).select("text")
        return force(selection.with_dsir_logweight(docs, target))

    def pagerank5():
        # synthetic host graph scaling WITH the corpus: one node per doc,
        # 3 pseudo-random out-edges each (multiplicative-hash dst) plus a
        # hub every 97th node collecting extra in-links — 5 power
        # iterations, the per-iteration node-shuffle + edge-agg shape at
        # 10x nodes AND 10x edges (both scale linearly in corpus size)
        from resume_ocr_spark.operators import linkgraph

        n = docs.count()
        e = docs.select(
            F.concat(F.lit("h"), F.col("doc_id").cast("string")
                     ).alias("src_domain"),
            F.explode(F.array(*[
                F.concat(F.lit("h"), ((F.col("doc_id") * 31 + k) % n)
                         .cast("string"))
                for k in (1, 7, 13)])).alias("dst_domain"),
        ).withColumn("weight", F.lit(1) + (F.col("src_domain") ==
                                           F.lit("h0")).cast("int"))
        hub = docs.filter(F.col("doc_id") % 97 == 0).select(
            F.concat(F.lit("h"), F.col("doc_id").cast("string")
                     ).alias("src_domain"),
            F.lit("hub.example").alias("dst_domain"), F.lit(3).alias("weight"))
        return force(linkgraph.pagerank(e.unionByName(hub), n_iter=5))

    def snapshot_delta_stress():
        # two full-corpus snapshots (old = corpus, new = corpus with
        # every 7th text revised and the last replica's ids shifted to
        # fabricate adds/removes) — the merge-hinted full-outer SMJ at
        # 2× corpus input; the manifest projection keeps the exchanged
        # payload at (url, digest) regardless of document width
        from resume_ocr_spark.operators import urltools

        url = F.concat(F.lit("https://s"), (F.col("doc_id") % 1000)
                       .cast("string"), F.lit(".com/p/"),
                       F.col("doc_id").cast("string"))
        old = docs.select(url.alias("url"), F.md5("text").alias("digest"))
        new = docs.select(
            (F.col("doc_id") + F.when(F.col("doc_id") >= 9_000_000,
                                      F.lit(500)).otherwise(F.lit(0))
             ).alias("doc_id"), "text")
        new = new.select(
            F.concat(F.lit("https://s"), (F.col("doc_id") % 1000)
                     .cast("string"), F.lit(".com/p/"),
                     F.col("doc_id").cast("string")).alias("url"),
            F.when(F.col("doc_id") % 7 == 0,
                   F.md5(F.concat(F.col("text"), F.lit("v2"))))
            .otherwise(F.md5("text")).alias("digest"))
        return force(urltools.snapshot_delta(old, new))

    def interleave_chrome():
        # HTML ingest + corpus-level chrome removal with ONE media_ref
        # (the logo) shared by EVERY document — the hottest possible key
        # for the chrome count-distinct agg and the span-side join-back
        # (per-doc unique imgs survive, the logo's 1-row chrome entry
        # matches a corpus-sized span stripe)
        from resume_ocr_spark.operators import interleave

        pages = docs.select("doc_id", F.concat(
            F.lit("<body><img src=//static.site/logo.png><p>"),
            F.col("text"),
            F.lit('</p><img src="https://img.ex/u'),
            F.col("doc_id").cast("string"),
            F.lit('.jpg" alt="fig"><p>tail</p></body>')).alias("html"))
        cleaned = interleave.drop_frequent_media(
            interleave.html_to_spans(pages))
        return force(interleave.span_rows(cleaned))

    def sketch_profile():
        # the one-scan profiling pass: words → HLL registers + CMS
        # counters + length bins. Mega-bucket/replica structure makes the
        # word stream extremely skewed (boilerplate words dominate) —
        # exactly what bounded-key map-side combine must absorb; state
        # stays ≤ m·|langs| + d·w + bins regardless of corpus size
        from resume_ocr_spark.operators import sketches as sk
        from resume_ocr_spark.operators.dedup import _tokens

        words = (docs.select("lang", F.explode(_tokens("text"))
                             .alias("word")).filter(F.col("word") != ""))
        a = force(sk.hll_distinct(words, "word", ["lang"]))
        b = force(sk.cms_build(words.select("word"), "word"))
        c = force(sk.histogram_bins(
            docs.select("lang", F.length("text").cast("double")
                        .alias("len")), "len", ["lang"], width=200.0))
        return a + b + c

    def zorder_pass():
        # layout-key computation + range repartition over the full corpus
        # (the rewrite job's shuffle); key is pure projection, the range
        # exchange is the only data movement
        from resume_ocr_spark.operators import maintenance as mt

        keyed = mt.zorder_layout(
            docs.select("doc_id",
                        (F.col("doc_id") % 100000).alias("a"),
                        F.length("text").cast("long").alias("b")),
            ["a", "b"], [0, 0], [99999, 20000], bits=8, n_files=64)
        return force(keyed)

    def ccnet_stress():
        # full-corpus bigram scoring + carry-through lang + sample-rank
        # terciles; the model trains on a FIXED slice so the broadcast
        # stays constant while the scored corpus grows 10× — wall should
        # track the corpus-side explode, never the model
        from resume_ocr_spark.operators import textstats

        sl = docs.filter(F.col("doc_id") < 150).select("doc_id", "text")
        uni = textstats.word_counts(sl)
        big = textstats.bigram_counts(sl)
        return force(textstats.ccnet_ppl_buckets(
            docs.select("doc_id", "text"), uni, big, sample_cap=4096))

    def anneal_stress():
        # quality projection + literal-threshold phase split + the one
        # (phase, shard) exchange — the whole job is two scans + a window
        from resume_ocr_spark.operators import packing, textstats

        scored = textstats.with_quality_score(
            docs.select("doc_id", "text")).select("doc_id", "quality")
        return force(packing.anneal_order(scored, shards=64,
                                          sample_rate=0.0625))

    def tmix_stress():
        # one bounded group agg + broadcast rate filter; the take should
        # hold ≈ target_rows as the corpus grows (the rates shrink 10×)
        from resume_ocr_spark.operators import mixture

        return force(mixture.temperature_mixture(
            docs.select("doc_id", "lang"), target_rows=1000,
            group_col="lang"))

    def _hash_embeddings(dims: int = 16):
        # deterministic synthetic embeddings that scale WITH the corpus:
        # dim j of doc d = (xxhash64(d*dims+j) mod 1000)/1000 — pure Column
        # projection, no data dependency beyond doc_id
        cols = [((F.xxhash64(F.col("doc_id") * dims + j) % 1000) / 1000.0)
                .cast("double") for j in range(dims)]
        return docs.select(F.col("doc_id").alias("vec_id"),
                           F.array(*cols).alias("embedding"))

    def pq_stress():
        # bounded-sample train (constant cost) + full-corpus zero-shuffle
        # encode + ADC LUT scan — wall should track the corpus linearly
        import numpy as np

        from resume_ocr_spark.operators import similarity

        emb = _hash_embeddings()
        cb = similarity.pq_train(emb)
        codes = similarity.pq_encode(emb, cb)
        return force(similarity.pq_adc_topk(codes, cb, np.full(16, 0.5),
                                            k=10))

    def hardneg_stress():
        # 4 broadcast anchors × the full corpus: one candidate scan + one
        # grouped-sum exchange + the per-anchor window — linear in corpus
        from resume_ocr_spark.operators import similarity

        emb = _hash_embeddings()
        return force(similarity.hard_negatives(
            emb, [0, 1, 2, 3], k=10, lo=0.0, hi=0.999))

    def postings_build():
        # the full positional-index build: one (term, doc_id) shuffle —
        # the exact-dedup cost class; wall must track the corpus
        from resume_ocr_spark.operators import postings as _post

        return force(_post.build_postings(docs))

    def postings_query():
        # query-shaped read: terms-restricted build (one corpus scan,
        # pruned agg) + index BM25 + phrase adjacency — the per-query
        # serving cost whose growth should stay at scan-linear
        from resume_ocr_spark.operators import postings as _post

        terms = ["spark", "query", "window", "merge", "big", "data"]
        p = _post.build_postings(docs, terms=terms)
        dl = _post.doc_lengths(docs)
        force(_post.index_bm25(p, dl, "spark query window merge"))
        return force(_post.phrase_matches(p, "big data merge"))

    def winnow_stress():
        # gram explode + per-doc window min: linear in total grams
        from resume_ocr_spark.operators import textstats as _ts

        return force(_ts.winnow_fingerprints(docs, k=3, w=4))

    def kmv_stress():
        # dedup agg + two bounded bottom-k windows per lang
        from resume_ocr_spark.operators import sketches as _sk2

        return force(_sk2.kmv_estimate(
            _sk2.kmv_sketch(docs, "text", ["lang"]), ["lang"]))

    def bitext_margin_stress():
        # margin SCORING at a fixed per-source fan-out of 8 candidates —
        # linear in the corpus. Candidate GENERATION at scale is governed
        # by lsh_candidates_cross's max_bucket_side lever (its flood
        # behavior is pinned by tests/test_bitext.py::test_bucket_side_cap)
        from resume_ocr_spark.operators import bitext as _bt

        emb = _hash_embeddings()
        src = emb.filter(F.col("vec_id") % 2 == 0).select(
            F.col("vec_id").alias("sid"), "embedding")
        tgt = emb.filter(F.col("vec_id") % 2 == 1).select(
            F.col("vec_id").alias("tid"), "embedding")
        n_tgt = tgt.count()
        cand = src.select(
            F.col("sid").alias("src_id"),
            F.explode(F.expr(
                f"transform(sequence(0, 7), j -> "
                f"2 * pmod(xxhash64(sid * 8 + j), {max(n_tgt, 1)}) + 1)"))
            .alias("tgt_id"))
        return force(_bt.mine_bitext(src, tgt, id_src="sid", id_tgt="tid",
                                     threshold=0.0, candidates=cand))

    timed("postings_build", postings_build, results)
    timed("postings_query", postings_query, results)
    timed("winnow_fingerprints", winnow_stress, results)
    timed("kmv_sketch", kmv_stress, results)
    timed("bitext_margin_fanout8", bitext_margin_stress, results)
    timed("pq_encode_adc", pq_stress, results)
    timed("hard_negatives", hardneg_stress, results)
    timed("sketch_profile", sketch_profile, results)
    timed("zorder_layout", zorder_pass, results)
    timed("ccnet_buckets", ccnet_stress, results)
    timed("anneal_order", anneal_stress, results)
    timed("temperature_mixture", tmix_stress, results)
    timed("lsh_candidates_k128", lsh_k128, results)
    timed("interleave_chrome", interleave_chrome, results)
    timed("snapshot_delta", snapshot_delta_stress, results)
    timed("pagerank5", pagerank5, results)
    timed("jaccard_lsh", jaccard_lsh, results)
    timed("cluster_star", cluster_star, results)
    timed("curation_pipeline", curation, results)
    timed("substring_dedup", substring, results)
    timed("line_dedup", line_dedup, results)
    timed("phash_dedup", phash_dedup, results)
    timed("dsir_logweight", dsir_select, results)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mega", type=float, default=0.0,
                    help="fraction of docs replaced by one shared "
                         "boilerplate text (mega-bucket stress)")
    ap.add_argument("--out", default="")
    args = ap.parse_args()

    from resume_ocr_spark.session import get_spark

    spark = get_spark(app_name="stress_heavy", shuffle_partitions=64)
    report: dict = {"sf_dir": SF_DIR, "replicas": REPLICAS,
                    "mega_frac": args.mega, "baseline": {}, "stress": {}}

    print(f"baseline at {SF_DIR}:", flush=True)
    run_family(spark, os.path.join(SF_DIR, "documents.parquet"),
               report["baseline"])

    print(f"building stress corpus ({REPLICAS}x, mega={args.mega})...",
          flush=True)
    path = build_stress_corpus(spark, args.mega)
    n = spark.read.parquet(path).count()
    report["stress_docs"] = n
    print(f"stress sweep over {n} docs:", flush=True)
    run_family(spark, path, report["stress"])

    bad = []
    for k, v in report["stress"].items():
        base = report["baseline"][k]["wall_sec"]
        ratio = round(v["wall_sec"] / max(base, 0.01), 1)
        v["ratio_vs_baseline"] = ratio
        # strict 10x-ratio rule with a 3 s absolute noise floor: sub-second
        # baselines must not hide superlinear growth behind the old
        # max(base, 1.0) relaxation (review r4), but co-tenant jitter on
        # walls under 3 s is not a scaling signal either
        if v["wall_sec"] > max(10 * base, 3.0):
            bad.append((k, ratio))
    report["pass"] = not bad
    print(json.dumps(report))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    if bad:
        print(f"FAIL: superlinear walls {bad}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
