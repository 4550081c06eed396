"""spark-submit entry point: training-objective example transforms — the
last hop of the pretraining pipeline, rewriting curated documents into
FIM/PSM and/or T5-span-corrupted training examples.

    spark-submit --py-files dist/resume_ocr_spark.zip tools/submit_objectives.py \
        --input <docs.parquet> --output <dir> \
        [--objective fim|span|both]          # default both
        [--rate 0.5] [--min-words 8]         # FIM dials
        [--stride 16] [--span-len 3]         # span-corruption dials
        [--seed fim] [--span-seed t5]
        [--id-col doc_id] [--text-col text]

Writes under --output (each a zero-shuffle projection of the input —
the job adds no exchange, so output partitioning follows the scan):
    fim/   (id, fim_applied, n_words, cut1, cut2, fim_text)
    span/  (id, n_words, phase, n_masked, n_spans, corrupted, target)

Prints one JSON audit line. Refuses a corpus with zero words in
--text-col (an objective rewrite of nothing is a misconfiguration, not
a result — nothing is written in that case)."""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from resume_ocr_spark.job import (INVALID, NOTHING_TO_DO, Refused, arg_parser,
                                  get_spark, harness, require_columns,
                                  written)


ap = arg_parser("submit_objectives")
ap.add_argument("--objective", choices=("fim", "span", "both"),
                default="both")
ap.add_argument("--rate", type=float, default=0.5)
ap.add_argument("--min-words", type=int, default=8)
ap.add_argument("--stride", type=int, default=16)
ap.add_argument("--span-len", type=int, default=3)
ap.add_argument("--seed", default="fim")
ap.add_argument("--span-seed", default="t5")


def run(args) -> dict:
    if not (0.0 <= args.rate <= 1.0) or args.min_words < 3 \
            or not 0 < args.span_len < args.stride:
        raise Refused(INVALID, "invalid objective dials")

    from resume_ocr_spark.operators import objectives

    spark = get_spark(app_name="submit_objectives")
    docs = spark.read.parquet(args.input)
    require_columns(docs, [args.id_col, args.text_col])
    docs = docs.select(args.id_col, args.text_col)

    audit: dict[str, int] = {}
    fim = span = None
    if args.objective in ("fim", "both"):
        fim = objectives.fim_transform(
            docs, id_col=args.id_col, text_col=args.text_col,
            rate=args.rate, min_words=args.min_words, seed=args.seed)
    if args.objective in ("span", "both"):
        span = objectives.span_corrupt(
            docs, id_col=args.id_col, text_col=args.text_col,
            stride=args.stride, span_len=args.span_len,
            seed=args.span_seed)

    # zero-word guard BEFORE any write (repo job convention: refuse, not
    # emit an empty-but-plausible output tree)
    probe = fim if fim is not None else span
    stats = probe.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("n_words")).collect()[0]
    if not stats["n_words"]:
        raise Refused(NOTHING_TO_DO,
                      "corpus has zero words — refusing the run")

    audit["n_docs"] = int(stats["n_docs"])
    audit["n_words"] = int(stats["n_words"])
    if fim is not None:
        back = written(fim, f"{args.output}/fim")
        audit["fim_applied"] = back.filter("fim_applied").count()
    if span is not None:
        back = written(span, f"{args.output}/span")
        m = back.agg(F.sum("n_masked").alias("m"),
                     F.sum("n_spans").alias("s")).collect()[0]
        audit["span_masked_words"] = int(m["m"])
        audit["span_runs"] = int(m["s"])
    return audit


main = harness(ap, run)

if __name__ == "__main__":
    sys.exit(main())
