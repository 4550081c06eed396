"""Benchmark harness. Prints ONE JSON line.

  - headline relational/dedup/similarity queries at $SPARK_GRAFT_SF_DIR
    (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
  - extraction throughput (docs/sec) on the deterministic synthetic
    interleaved corpus (BASELINE.json metric)
  - scaling evidence: the same extraction job at local[N] and local[4N]
    on identical input, run as back-to-back PAIRS so host noise cancels in
    the ratio; efficiency = (dps_4N / dps_N) / 4  (the sandbox stand-in for
    the N-vs-4N-executor cluster requirement — BASELINE.md)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "48000"))
OCR_PARTITIONS = int(os.environ.get("SPARK_GRAFT_OCR_PARTITIONS", "96"))
TRIALS = int(os.environ.get("SPARK_GRAFT_TRIALS", "3"))  # best-of: steady state
RUN_SCALING = os.environ.get("SPARK_GRAFT_SCALING", "1") == "1"

HEADLINE = [
    "q1_pricing_summary", "q3_shipping_priority", "media_join",
    "window_topk_per_group", "topk_orders", "join_region_rollup",
    "sql_local_supplier_revenue",
    "dedup_exact", "dedup_minhash_shingles", "dedup_jaccard_pairs",
    "dedup_jaccard_lsh", "dedup_lsh_candidates_k128",
    "dedup_embedding_pairs", "dedup_embedding_lsh",
    "embedding_cosine_topk", "lang_id",
    "quality_scores", "streaming_window_counts", "streaming_sessionize",
    "streaming_window_counts_append",
    "benchmark_decontam", "quality_filter", "sequence_packing",
    "mixture_sample", "curation_pipeline",
    # round-4 additions
    "text_stats", "dedup_phash", "bpe_token_counts", "bigram_logprob",
    "multimodal_pipeline",
    # round-5 additions: the mergeable-sketch family (hll_distinct also
    # computes the exact countDistinct twin, so its wall carries its own
    # sketch-vs-exact comparison)
    "hll_distinct", "cms_topk", "hist_quantiles",
    # round-5 late additions: positional-index serving (postings_index is
    # the corpus-scan build; bm25_indexed the pruned query), KMV bottom-k,
    # and margin-based bitext mining (exact capped path)
    "postings_index", "bm25_indexed", "kmv_distinct", "bitext_mine",
]


_LOAD_SAMPLES: list[dict] = []


def _sample_load(phase: str) -> None:
    """Noise provenance (VERDICT r4 #6): this host is co-tenant — external
    load bursts inflate walls up to 3×, and round 4's headline drop was
    adjudicated as noise only by hand.  Sampling 1/5/15-min loadavg +
    uptime at every phase boundary puts that evidence INSIDE the bench
    JSON: a reading taken at load1 >> own-core usage explains itself."""
    try:
        l1, l5, l15 = os.getloadavg()
    except OSError:  # pragma: no cover - loadavg is always available here
        l1 = l5 = l15 = -1.0
    up = None
    try:
        with open("/proc/uptime") as fh:
            up = float(fh.read().split()[0])
    except OSError:  # pragma: no cover
        pass
    _LOAD_SAMPLES.append({
        "phase": phase, "ts": round(time.time(), 1),
        "load1": round(l1, 2), "load5": round(l5, 2), "load15": round(l15, 2),
        "uptime_sec": round(up, 1) if up is not None else None,
    })


def _fresh_spark(cores: int):
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    from resume_ocr_spark.session import get_spark

    return get_spark(app_name=f"bench_{cores}", cores=cores,
                     shuffle_partitions=max(cores, 16))


def _build_corpus_warehouse(spark, n_docs: int):
    import tempfile

    from resume_ocr_spark import corpus, warehouse

    root = tempfile.mkdtemp(prefix="bench_wh_")
    docs, blobs = corpus.gen_corpus_fast(n_docs, seed=42)
    warehouse.build_warehouse(spark, root, docs, blobs)
    return root, len(docs), docs, blobs


def _oracle_doc_tuples(args):
    """Pool worker: oracle span sequence for one doc as comparable tuples."""
    from resume_ocr_spark import oracle

    doc, doc_blobs = args
    spans = oracle.extract_doc(doc, doc_blobs)
    return doc["doc_id"], [
        (s["kind"], s["text"], s["media_ref"], s["offset"],
         s["error"], s["ocr_pages"]) for s in spans
    ]


def _span_match_rate(spark, out_dir: str, docs: list, blobs: list,
                     sample_n: int) -> dict:
    """Span-sequence exact-match rate (the second half of the BASELINE.json
    metric): distributed output vs the single-node oracle on a deterministic
    stride sample of the bench corpus (stride sampling hits every doc-mix
    branch incl. the ~1% skew tail). ``rate`` is the north-rule tuple
    (kind, text, media_ref, order); ``strict_rate`` additionally requires
    error and ocr_pages equality per span."""
    import multiprocessing

    step = max(1, len(docs) // sample_n)
    sampled = docs[::step][:sample_n]
    ids = {d["doc_id"] for d in sampled}
    by_doc: dict[str, dict[str, bytes]] = {}
    for b in blobs:
        did = b["media_ref"].split(":")[1]
        if did in ids:
            by_doc.setdefault(did, {})[b["media_ref"]] = b["payload"]
    # spawn, not fork: the default fork start method would fork a live
    # Spark driver (JVM + py4j threads), which can deadlock the children
    # (ADVICE r3). spawn re-imports this module in clean workers.
    with multiprocessing.get_context("spawn").Pool(8) as pool:
        exp = dict(pool.map(
            _oracle_doc_tuples,
            [(d, by_doc.get(d["doc_id"], {})) for d in sampled]))

    rows = (spark.read.parquet(out_dir)
            .where(spark_col("doc_id").isin(list(ids)))
            .select("doc_id", "spans").collect())
    got = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"],
             s["error"], s["ocr_pages"])
            for s in (x.asDict() for x in r["spans"])
        ] for r in rows
    }
    north = strict = 0
    for did, e in exp.items():
        g = got.get(did, [])
        if [t[:4] for t in g] == [t[:4] for t in e]:
            north += 1
        if g == e:
            strict += 1
    n = len(exp)
    return {
        "sampled": n, "exact": north, "rate": round(north / n, 6),
        "strict_exact": strict, "strict_rate": round(strict / n, 6),
    }


def spark_col(name):
    from pyspark.sql import functions as F

    return F.col(name)


def _run_extraction(spark, root: str, warm_root: str | None = None,
                    trials: int | None = None) -> tuple[float, int, str]:
    """Full pipeline incl. the parquet sink — a count() alone would let
    Catalyst prune the extraction UDFs (cardinality-preserving join).

    ``warm_root``: small corpus run first, untimed, so Python workers are
    spawned and codegen/JIT is warm — the steady-state measure a long-running
    cluster job sees (one-off JVM/worker startup is not throughput)."""
    import tempfile

    from resume_ocr_spark import warehouse
    from resume_ocr_spark.operators import extract

    if warm_root:
        wd = warehouse.read_table(spark, warm_root, "documents_raw")
        wb = warehouse.read_table(spark, warm_root, "media_blobs")
        extract.extract_documents(wd, wb, broadcast_blobs=True).write.mode(
            "overwrite").parquet(tempfile.mkdtemp(prefix="warm_out_"))

    # broadcast only a small blob dictionary; a large one goes through a
    # shuffle join (same mode-aware policy as pipeline.run_extraction)
    blob_dir = os.path.join(root, "media_blobs", "data")
    blob_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(blob_dir) for f in fs
    )
    broadcast = blob_bytes < extract.blob_broadcast_cutoff(spark)

    docs_df = warehouse.read_table(spark, root, "documents_raw")
    blobs_df = warehouse.read_table(spark, root, "media_blobs")
    wall = float("inf")
    n = 0
    out_dir = ""
    for _ in range(trials or TRIALS):  # best-of: steady-state throughput
        out_dir = tempfile.mkdtemp(prefix="bench_out_")
        t0 = time.time()
        out = extract.extract_documents(
            docs_df, blobs_df, broadcast_blobs=broadcast,
            ocr_partitions=OCR_PARTITIONS,  # cost-sized, cluster-independent
        )
        out.write.mode("overwrite").parquet(out_dir)
        wall = min(wall, time.time() - t0)
        n = spark.read.parquet(out_dir).count()
    return wall, n, out_dir


def main() -> None:
    import __spark_entry__ as entrymod

    sf = float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", "") or 0.1)
    _sample_load("start")
    spark = _fresh_spark(CPUS)
    qs = entrymod.queries()
    # warm-up: JVM/codegen/FS-cache priming so per-query times reflect
    # steady state, not first-touch costs
    qs["topk_orders"](spark, SF_DIR).collect()
    qs["q1_pricing_summary"](spark, SF_DIR).collect()
    # best-of-2 per query: this box's co-tenant load arrives in bursts that
    # inflate single-shot walls up to 3× (BASELINE.md round-3 measurements);
    # the min of two spaced shots is the documented steady-state protocol
    times: dict[str, float] = {}
    q_trials = int(os.environ.get("SPARK_GRAFT_QUERY_TRIALS", "2"))
    for name in HEADLINE:
        best = float("inf")
        for _ in range(q_trials):
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            df.collect()
            best = min(best, time.time() - t0)
        times[name] = round(best, 3)
    _sample_load("after_queries")

    # extraction throughput at full parallelism
    root, n_docs, docs, blobs = _build_corpus_warehouse(spark, BENCH_DOCS)
    warm_root, _, _, _ = _build_corpus_warehouse(spark, 40)
    wall_full, n_out, out_dir = _run_extraction(spark, root, warm_root)
    assert n_out == n_docs, f"{n_out} != {n_docs}"
    dps_full = n_docs / wall_full
    times["extract_pipeline"] = round(wall_full, 3)
    _sample_load("after_extraction")

    # span-sequence exact-match rate vs the oracle (the second half of the
    # BASELINE.json metric), on the output of the timed run itself
    sm_docs = int(os.environ.get("SPARK_GRAFT_SPANMATCH_DOCS", "1000"))
    span_match = (_span_match_rate(spark, out_dir, docs, blobs, sm_docs)
                  if sm_docs > 0 else {})

    scaling = {}
    if RUN_SCALING:
        # N vs 4N parallelism on identical input (BASELINE.md protocol).
        # Default pair 4/16 stays inside the CPU-bound regime of this single
        # box: the OCR stage is memory-bandwidth-heavy, and one box's memory
        # bus does NOT scale with local[] threads the way a real 4N-executor
        # cluster's aggregate bandwidth does (each executor brings its own).
        # Measured at 8→32 the bus saturates and efficiency reads ~0.3 even
        # though the job is embarrassingly parallel — see BASELINE.md.
        high = int(os.environ.get("SPARK_GRAFT_SCALE_HIGH", "8"))
        low = int(os.environ.get("SPARK_GRAFT_SCALE_LOW", str(high // 4)))
        # Why 2→8 (not 4→16 or 8→32): all local[] threads share ONE memory
        # bus, which a real 4N-executor cluster does not — each executor
        # brings its own bandwidth. At 16+ threads this box's bus saturates
        # and the ratio reads 0.75-0.78 even though the job is
        # embarrassingly parallel; at 8 threads the high level stays in the
        # CPU-bound regime that mirrors per-executor conditions (measured
        # 0.97 at 48k docs, 0.83-0.87 at 16k — see BASELINE.md).
        # INTERLEAVED rounds, best-of per level: the shared host's external
        # load arrives in bursts of minutes, so any single run (or even a
        # back-to-back pair) can land in a burst — observed single-pair
        # ratios swung 0.75-1.05 when a burst hit exactly one of the two
        # runs. Each round runs (high, low) adjacent; the per-level BEST
        # over all rounds estimates the quiet-host steady state (hyperfine-
        # style min), interleaving keeps drift from favoring either level.
        # Every round's raw dps is reported alongside the headline.
        sc_rounds = int(os.environ.get("SPARK_GRAFT_SCALE_ROUNDS", "3"))
        sc_docs = int(os.environ.get("SPARK_GRAFT_SCALE_DOCS",
                                     str(BENCH_DOCS // 2)))
        # separate, smaller corpus bounds the low-level wall (~2 min);
        # input is identical across both levels of every round
        sc_root, sc_n, _, _ = _build_corpus_warehouse(spark, sc_docs)
        rounds = []
        for i in range(sc_rounds):
            _sample_load(f"scaling_round{i}")
            spark = _fresh_spark(high)
            wall_h, _, _ = _run_extraction(spark, sc_root, warm_root, trials=1)
            spark = _fresh_spark(low)
            wall_l, _, _ = _run_extraction(spark, sc_root, warm_root, trials=1)
            rounds.append((sc_n / wall_h, sc_n / wall_l))
        dps_high = max(h for h, _ in rounds)
        dps_low = max(lo for _, lo in rounds)
        eff = (dps_high / dps_low) / (high / low)
        scaling = {
            "cores_low": low, "cores_high": high, "n_docs": sc_n,
            "docs_per_sec_low": round(dps_low, 2),
            "docs_per_sec_high": round(dps_high, 2),
            "scaling_efficiency": round(eff, 3),
            "rounds": [
                {"docs_per_sec_high": round(h, 2),
                 "docs_per_sec_low": round(lo, 2),
                 "efficiency": round((h / lo) / (high / low), 3)}
                for h, lo in rounds
            ],
        }

    _sample_load("end")
    total = round(sum(times.values()), 3)
    print(json.dumps({
        "metric": "extraction docs/sec @ local[%d]" % CPUS,
        "value": round(dps_full, 2),
        "unit": "docs/sec",
        "queries": times,
        "sf": sf,
        "bench_total_sec": total,
        "extraction": {"n_docs": n_docs, "wall_sec": round(wall_full, 3)},
        "span_match": span_match,
        "scaling": scaling,
        # co-tenant noise provenance: loadavg counts EVERY tenant's runnable
        # threads; our own bench contributes ≤CPUS of it. load1 far above
        # the sample's neighbors ⇒ external burst ⇒ inflated walls.
        "host_load": {"cpus_visible": os.cpu_count(),
                      "samples": _LOAD_SAMPLES},
    }))


if __name__ == "__main__":
    main()
