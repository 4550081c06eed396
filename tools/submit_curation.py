"""spark-submit entry point: run the corpus-curation funnel as a batch job.

    spark-submit --py-files dist/resume_ocr_spark.zip tools/submit_curation.py \
        --input <docs.parquet> --output <dir> \
        [--benchmark <bench.parquet>] [--weights '{"en": 1.0, "fr": 0.5}'] \
        [--default-weight 1.0] [--group-col lang] [--ngram 13] [--seed mix] \
        [--near-dup] [--minhash-k 128] [--lsh-bands 16] [--shingle 5] \
        [--group-quota N] [--redact-pii]

Writes three tables under --output:
    curated/      surviving documents (drop_reason IS NULL); input schema,
                  except --redact-pii scrubs the text column and appends
                  n_emails_redacted / n_phones_redacted
    annotated/    every document + drop_reason (the full funnel record,
                  always the ORIGINAL text)
    audit/        one row per outcome with document counts

Refuses a funnel that keeps zero documents — a curation run that drops
everything is a misconfiguration, not a result.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import functions as F

from resume_ocr_spark.job import (INVALID, NOTHING_TO_DO, Refused, arg_parser,
                                  get_spark, harness)
from resume_ocr_spark.storage import persisted


ap = arg_parser("submit_curation")
ap.add_argument("--benchmark", default=None,
                help="parquet of eval-set rows (text column)")
ap.add_argument("--weights", default=None,
                help='JSON dict of per-group sampling rates')
ap.add_argument("--default-weight", type=float, default=1.0)
ap.add_argument("--group-col", default="lang")
ap.add_argument("--ngram", type=int, default=13)
ap.add_argument("--seed", default="mix")
ap.add_argument("--near-dup", action="store_true",
                help="enable the MinHash fuzzy-dedup stage")
ap.add_argument("--group-quota", type=int, default=None,
                help="keep at most N survivors per --group-col value "
                     "(CommonCrawl-style per-domain cap; deterministic "
                     "hash order, overflow reported as over_quota)")
ap.add_argument("--minhash-k", type=int, default=128)
ap.add_argument("--lsh-bands", type=int, default=16)
ap.add_argument("--shingle", type=int, default=5)
ap.add_argument("--redact-pii", action="store_true",
                help="scrub emails/phones from the SURVIVORS' text "
                     "before writing curated/ (annotated/ keeps the "
                     "original text as the audit record); adds "
                     "n_emails_redacted/n_phones_redacted columns")


def run(args) -> dict:
    from resume_ocr_spark.operators import curate

    weights = json.loads(args.weights) if args.weights else None
    if weights is not None and not isinstance(weights, dict):
        raise Refused(INVALID, "invalid --weights: must be a JSON object")

    spark = get_spark(app_name="submit_curation")
    docs = spark.read.parquet(args.input)
    bench = spark.read.parquet(args.benchmark) if args.benchmark else None

    annotated = curate.curate(
        docs, benchmark=bench, weights=weights,
        id_col=args.id_col, text_col=args.text_col,
        group_col=args.group_col, ngram=args.ngram,
        default_weight=args.default_weight, seed=args.seed,
        near_dup=args.near_dup, minhash_k=args.minhash_k,
        lsh_bands=args.lsh_bands, shingle=args.shingle,
        group_quota=args.group_quota,
    )
    with persisted(annotated):
        annotated.write.mode("overwrite").parquet(f"{args.output}/annotated")
        audit = curate.curation_audit(annotated)
        audit.write.mode("overwrite").parquet(f"{args.output}/audit")
        rows = {r["outcome"]: r["n_docs"] for r in audit.collect()}
        # refusal check BEFORE curated/ exists: a kept==0 run must not leave
        # a complete-looking (empty) curated table for a scheduler retry or
        # downstream consumer to pick up (ADVICE r3) — annotated/ + audit/
        # stay for diagnosis, curated/ is never written.
        if rows.get("kept", 0) == 0:
            raise Refused(NOTHING_TO_DO, "curation kept zero documents — "
                          "refusing the run (curated/ not written)",
                          {"outcomes": rows})
        kept = annotated.filter(F.col("drop_reason").isNull()).drop(
            "drop_reason")
        if args.redact_pii:
            from resume_ocr_spark.operators import textstats

            kept = (textstats.with_pii_redacted(kept, args.text_col)
                    .drop(args.text_col)
                    .withColumnRenamed("text_redacted", args.text_col))
        kept.write.mode("overwrite").parquet(f"{args.output}/curated")
    return {"outcomes": rows}


main = harness(ap, run)

if __name__ == "__main__":
    sys.exit(main())
