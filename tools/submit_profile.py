"""spark-submit entry point: incremental corpus profiling via mergeable
sketches — the one-scan pass a 100 TB pipeline runs over every new crawl
batch BEFORE making curation decisions (how many distinct tokens per
language? what are the heavy-hitter words? how are document lengths
distributed?), with the sketch tables THEMSELVES as the resumable state:
profiling batch N+1 costs one scan of batch N+1 plus a tiny sketch merge,
never a rescan of batches 1..N.

    spark-submit --py-files dist/resume_ocr_spark.zip tools/submit_profile.py \
        --input <docs.parquet> --output <dir> \
        [--state <prior --output dir>]   # merge into prior sketch state
        [--group-col lang] [--id-col doc_id] [--text-col text]
        [--len-width 200.0] [--topk 20]

Writes under --output (all mergeable — feed as --state to the next run):
    hll_words/   (group, bucket, m_reg)      HLL registers, distinct words
    cms_words/   (row, col, cnt)             count-min sketch, word counts
    len_bins/    (group, bin, c)             doc-length histogram bins
    totals/      (group, n_docs, n_words)    exact additive counters
    candidates/  (word)                      heavy-hitter candidate set
    profile/     one row per group: n_docs, n_words, est_distinct_words,
                 len p50/p95/p99 estimates — derived from the MERGED state
    top_words/   (word, est_count)           CMS estimates for candidates

Known approximation (documented, inherent to candidate-tracked CMS):
``candidates`` is the union of each batch's own exact top-(4·topk) words;
a word that is modest in every batch but large in total can be missed.
The CMS counters themselves are exact-merged — only the candidate LIST
is per-batch.

Refuses an input that yields zero words."""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from resume_ocr_spark.job import (INVALID, NOTHING_TO_DO, Refused, arg_parser,
                                  entry, get_spark)


@entry
def main() -> int:
    ap = arg_parser()
    ap.add_argument("--state", default=None,
                    help="a prior run's --output dir; its sketch tables "
                         "are merged in (incremental profiling)")
    ap.add_argument("--group-col", default="lang")
    ap.add_argument("--len-width", type=float, default=200.0)
    ap.add_argument("--topk", type=int, default=20)
    args = ap.parse_args()
    if args.topk <= 0 or args.len_width <= 0:
        raise Refused(INVALID, "invalid sizing arguments")
    import os.path as _p
    if args.state and _p.abspath(args.state) == _p.abspath(args.output):
        # Spark reads are lazy: overwriting the directory a merge is still
        # reading from corrupts the state mid-job — demand a fresh output
        raise Refused(INVALID, "--state must differ from --output (lazy "
                      "reads would race the overwrite); write to a new dir "
                      "per batch")

    from resume_ocr_spark.operators import sketches as sk
    from resume_ocr_spark.operators.dedup import _tokens

    spark = get_spark(app_name="submit_profile")
    g = args.group_col
    docs = spark.read.parquet(args.input).select(
        F.col(args.id_col).alias("doc_id"), F.col(g),
        F.col(args.text_col).alias("text"))

    words = (docs.select(g, F.explode(_tokens("text")).alias("word"))
             .filter(F.col("word") != "")).persist()
    if words.limit(1).count() == 0:
        words.unpersist()
        raise Refused(NOTHING_TO_DO,
                      "input yields zero words — refusing the run")

    # --- batch sketches (one scan of the words frame, all bounded-state)
    hll = sk.hll_registers(words, "word", [g])
    cms = sk.cms_build(words.select("word"), "word")
    lens = sk.histogram_bins(
        docs.select(g, F.length("text").cast("double").alias("len")),
        "len", [g], width=args.len_width)
    totals = words.groupBy(g).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words")
    ).join(
        docs.groupBy(g).agg(F.count(F.lit(1)).cast("bigint")
                            .alias("n_docs")), g)
    cand = (words.groupBy("word")
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.desc("c"), "word")
            .limit(4 * args.topk).select("word"))

    # --- merge prior state (sketch-table merges; batches 1..N never rescan)
    if args.state:
        hll = sk.hll_merge(
            spark.read.parquet(f"{args.state}/hll_words"), hll, [g])
        cms = sk.cms_merge(
            spark.read.parquet(f"{args.state}/cms_words"), cms)
        lens = sk.histogram_merge(
            spark.read.parquet(f"{args.state}/len_bins"), lens, [g])
        totals = (
            spark.read.parquet(f"{args.state}/totals").union(totals)
            .groupBy(g).agg(F.sum("n_words").cast("bigint").alias("n_words"),
                            F.sum("n_docs").cast("bigint").alias("n_docs"))
            .select(g, "n_words", "n_docs"))
        cand = (spark.read.parquet(f"{args.state}/candidates")
                .union(cand).distinct())

    # --- persist the mergeable state (the next run's --state)
    hll.write.mode("overwrite").parquet(f"{args.output}/hll_words")
    cms.write.mode("overwrite").parquet(f"{args.output}/cms_words")
    lens.write.mode("overwrite").parquet(f"{args.output}/len_bins")
    totals.select(g, "n_words", "n_docs").write.mode("overwrite") \
        .parquet(f"{args.output}/totals")
    cand.write.mode("overwrite").parquet(f"{args.output}/candidates")

    # --- derived profile (reads back the persisted state so the written
    # files, not the lineage, are what the profile certifies)
    hll_t = spark.read.parquet(f"{args.output}/hll_words")
    lens_t = spark.read.parquet(f"{args.output}/len_bins")
    cms_t = spark.read.parquet(f"{args.output}/cms_words")
    cand_t = spark.read.parquet(f"{args.output}/candidates")
    tot_t = spark.read.parquet(f"{args.output}/totals")

    est = sk.hll_estimate(hll_t, [g]).select(
        g, F.col("est_distinct").alias("est_distinct_words"))
    q = sk.histogram_quantiles_from_bins(
        lens_t, [g], width=args.len_width).select(
        g, F.col("q50_est").alias("len_p50"),
        F.col("q95_est").alias("len_p95"),
        F.col("q99_est").alias("len_p99"))
    profile = tot_t.join(est, g).join(q, g)
    profile.coalesce(1).write.mode("overwrite") \
        .parquet(f"{args.output}/profile")

    top = (sk.cms_estimate(cand_t, cms_t, "word")
           .orderBy(F.desc("est_count"), "word").limit(args.topk))
    top.coalesce(1).write.mode("overwrite") \
        .parquet(f"{args.output}/top_words")

    n_groups = profile.count()
    words.unpersist()
    print(f"profiled {n_groups} group(s) -> {args.output}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
