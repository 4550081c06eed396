"""spark-submit entry point: BPE tokenizer train + apply + sequence packing
as a batch job — the tokenizer-prep step of a pretraining data pipeline.

    spark-submit --py-files dist/resume_ocr_spark.zip tools/submit_tokenize.py \
        --input <docs.parquet> --output <dir> \
        [--merges <merges.parquet>]      # reuse a trained table (skip train)
        [--num-merges 2000] [--sample-docs 10000]
        [--budget 2048] [--shards 64] [--id-col doc_id] [--text-col text]

Writes under --output:
    merges/        the merge table (rank, a, b) — reusable via --merges
    token_counts/  (id, n_words, bpe_tokens) per document
    packed/        (id, shard, seq_id, n_tokens, seq_offset) packing
                   assignment at --budget tokens per training sequence

Refuses a corpus that yields zero scorable words (a tokenizer trained
on nothing is a misconfiguration, not a result — nothing is written in
that case)."""

from __future__ import annotations

import json
import sys

from pyspark.sql import functions as F

from resume_ocr_spark.job import (INVALID, NOTHING_TO_DO, Refused, arg_parser,
                                  entry, get_spark)


@entry
def main() -> int:
    ap = arg_parser()
    ap.add_argument("--merges", default=None,
                    help="parquet (rank, a, b) of a trained merge table; "
                         "skips training")
    ap.add_argument("--num-merges", type=int, default=2000)
    ap.add_argument("--sample-docs", type=int, default=10000)
    ap.add_argument("--budget", type=int, default=2048)
    ap.add_argument("--shards", type=int, default=64)
    args = ap.parse_args()
    if args.num_merges < 0 or args.sample_docs <= 0 \
            or args.budget <= 0 or args.shards <= 0:
        raise Refused(INVALID, "invalid sizing arguments")

    from resume_ocr_spark.operators import bpe
    from resume_ocr_spark.operators.packing import pack_sequences_from_counts

    spark = get_spark(app_name="submit_tokenize")
    docs = spark.read.parquet(args.input).select(args.id_col, args.text_col)

    if args.merges:
        rows = spark.read.parquet(args.merges).orderBy("rank").collect()
        merges = [(r["a"], r["b"]) for r in rows]
    else:
        merges = bpe.train_bpe(
            docs, id_col=args.id_col, text_col=args.text_col,
            num_merges=args.num_merges, sample_docs=args.sample_docs)

    counts = bpe.with_bpe_token_counts(
        docs, merges, id_col=args.id_col, text_col=args.text_col)
    counts.persist()
    try:
        total = counts.agg(F.sum("bpe_tokens").alias("t")).collect()[0]["t"]
        if not total:
            raise Refused(NOTHING_TO_DO, "corpus yields zero scorable words "
                                         "— refusing the run")
        spark.createDataFrame(
            [(i, a, b) for i, (a, b) in enumerate(merges)],
            "rank int, a string, b string",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{args.output}/merges")
        counts.write.mode("overwrite").parquet(f"{args.output}/token_counts")
        packed = pack_sequences_from_counts(
            counts.select(F.col(args.id_col),
                          F.col("bpe_tokens").alias("n_tokens")),
            id_col=args.id_col, budget=args.budget, shards=args.shards)
        packed.write.mode("overwrite").parquet(f"{args.output}/packed")
        n_docs = counts.count()
        print(json.dumps({"n_docs": n_docs, "n_merges": len(merges),
                          "total_tokens": int(total)}))
    finally:
        counts.unpersist()
    return 0


if __name__ == "__main__":
    sys.exit(main())
