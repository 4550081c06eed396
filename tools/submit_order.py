"""spark-submit entry point: training-order materialization — turn a
curated corpus into the order manifest a pretraining loader consumes:
per-epoch deterministic shuffle (or the quality-annealed two-phase
curriculum) plus, optionally, sentinel-aware sequence packing.

    spark-submit --py-files dist/resume_ocr_spark.zip tools/submit_order.py \
        --input <docs.parquet> --output <dir> \
        [--schedule epoch|anneal]            # default epoch
        [--epochs 1] [--shards 64] [--seed epoch|anneal]
        [--final-frac 0.25] [--quality-col quality]   # anneal dials
        [--sample-rate 0.5]
        [--pack-budget N]                    # also write packed/ lanes
        [--id-col doc_id] [--text-col text]

Writes under --output:
    order/   epoch schedule: (doc_id, epoch, shard, pos), partitioned by
             epoch — one independent permutation per epoch;
             anneal schedule: (doc_id, quality, phase, shard, pos) — the
             loader reads phase 0 first, phase 1 (highest quality) last.
    packed/  (only with --pack-budget) pack_with_sentinels lanes.

For --schedule anneal the quality column is taken from the input if
present, else computed with textstats.with_quality_score (so the job
runs directly on curated output that carried scores, or on raw text).

Prints one JSON audit line (doc counts per epoch/phase — phase counts
audit the threshold: phase 1 ≈ final_frac of scored docs). Refuses an
empty corpus before any write."""

from __future__ import annotations

import json
import sys

from resume_ocr_spark.job import (INVALID, NOTHING_TO_DO, Refused, arg_parser,
                                  entry, get_spark, require_columns)


@entry
def main() -> int:
    ap = arg_parser()
    ap.add_argument("--schedule", choices=("epoch", "anneal"),
                    default="epoch")
    ap.add_argument("--epochs", type=int, default=1)
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("--seed", default=None)
    ap.add_argument("--final-frac", type=float, default=0.25)
    ap.add_argument("--quality-col", default="quality")
    ap.add_argument("--sample-rate", type=float, default=0.5)
    ap.add_argument("--pack-budget", type=int, default=None)
    args = ap.parse_args()
    if args.epochs < 1 or args.shards < 1 \
            or not 0.0 < args.final_frac < 1.0 \
            or not 0.0 < args.sample_rate <= 1.0 \
            or (args.pack_budget is not None and args.pack_budget < 1):
        raise Refused(INVALID, "invalid order dials")
    seed = args.seed or ("anneal" if args.schedule == "anneal" else "epoch")

    from resume_ocr_spark.operators import packing, textstats

    spark = get_spark(app_name="submit_order")
    docs = spark.read.parquet(args.input)
    require_columns(docs, [args.id_col])
    # every argument/schema refusal happens BEFORE the first write — a
    # partial output tree (order/ without packed/) must never survive
    if args.pack_budget is not None:
        require_columns(docs, [args.text_col], "--pack-budget input")
    if docs.limit(1).count() == 0:
        raise Refused(NOTHING_TO_DO, "corpus is empty — refusing the run")

    audit: dict[str, object] = {"schedule": args.schedule}
    if args.schedule == "epoch":
        per_epoch = [
            packing.epoch_shuffle(docs.select(args.id_col), id_col=args.id_col,
                                  epoch=e, shards=args.shards, seed=seed)
            for e in range(args.epochs)
        ]
        order = per_epoch[0]
        for nxt in per_epoch[1:]:
            order = order.unionAll(nxt)
        (order.write.mode("overwrite").partitionBy("epoch")
              .parquet(f"{args.output}/order"))
        back = spark.read.parquet(f"{args.output}/order")
        audit["docs_per_epoch"] = {
            str(r["epoch"]): int(r["count"])
            for r in back.groupBy("epoch").count().collect()}
    else:
        if args.quality_col in docs.columns:
            scored = docs.select(args.id_col, args.quality_col)
        else:
            require_columns(docs, [args.text_col],
                            f"anneal input without {args.quality_col}")
            scored = textstats.with_quality_score(
                docs.select(args.id_col, args.text_col),
                text_col=args.text_col).select(args.id_col, "quality")
        order = packing.anneal_order(
            scored, id_col=args.id_col, quality_col=scored.columns[1],
            final_frac=args.final_frac, shards=args.shards, seed=seed,
            sample_rate=args.sample_rate)
        (order.write.mode("overwrite").partitionBy("phase")
              .parquet(f"{args.output}/order"))
        back = spark.read.parquet(f"{args.output}/order")
        audit["docs_per_phase"] = {
            str(r["phase"]): int(r["count"])
            for r in back.groupBy("phase").count().collect()}

    if args.pack_budget is not None:
        packed = packing.pack_with_sentinels(
            docs.select(args.id_col, args.text_col), id_col=args.id_col,
            text_col=args.text_col, budget=args.pack_budget,
            shards=args.shards)
        packed.write.mode("overwrite").parquet(f"{args.output}/packed")
        audit["packed_sequences"] = spark.read.parquet(
            f"{args.output}/packed").count()

    print(json.dumps(audit))
    return 0


if __name__ == "__main__":
    sys.exit(main())
