"""spark-submit entry point: run (or resume) an extraction run.

    spark-submit --py-files dist/resume_ocr_spark.zip tools/submit_extraction.py \
        --warehouse <path> --output <path> --run-id <id> \
        [--query "..."] [--chunk-size N]

Refuses a bad query, a chunk size below 1, a missing warehouse or a
resume under a query other than the run's own; fails when every document
failed (the reference's all-failed gate,
app/routers/analysis.py:518-539).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

from resume_ocr_spark.job import (ALL_FAILED, INVALID, UNREACHABLE, Refused,
                                  get_spark, harness, parser)


ap = parser("submit_extraction")
ap.add_argument("--warehouse", required=True)
ap.add_argument("--output", required=True)
ap.add_argument("--run-id", required=True)
ap.add_argument("--query", default=None)  # ranked vs summary mode
ap.add_argument("--chunk-size", type=int, default=None)


def run(args) -> dict:
    from resume_ocr_spark import pipeline
    from resume_ocr_spark.textproc import normalize_query, query_terms

    # P12 query normalization then driver-side validation (reference F9,
    # llm_service.py:158-235 — rejects the whole run before executor work)
    args.query = normalize_query(args.query)
    if args.query is not None:
        if len(args.query) > 2500:
            raise Refused(INVALID, "invalid query: longer than 2500 chars")
        if not query_terms(args.query):
            raise Refused(INVALID, "invalid query: no content terms")
    if args.chunk_size is not None and args.chunk_size < 1:
        raise Refused(INVALID, "invalid chunk size: must be at least 1")

    # S5 health gate: warehouse reachability before any stage runs
    # (reference: app/services/database_service.py:21-58 — 503 when down)
    manifest = os.path.join(args.warehouse, "documents_raw", "manifest.json")
    if not os.path.exists(manifest):
        raise Refused(UNREACHABLE,
                      f"warehouse unreachable: {manifest} missing")

    spark = get_spark(app_name="submit_extraction")
    try:
        pipeline.run_extraction(
            spark, args.warehouse, args.output, run_id=args.run_id,
            query=args.query, chunk_size=args.chunk_size,
        )
    except ValueError as exc:  # a resume under another query
        raise Refused(INVALID, f"invalid resume: {exc}") from exc
    summary = pipeline.run_summary(spark, args.output, args.run_id).collect()[0]
    # the ok-count reads the column the extraction wrote; the returned
    # ranked frame would add a top-k job for nothing
    n_ok = (spark.read.parquet(pipeline.extracted_path(args.output))
            .filter(F.col("doc_error").isNull()).count())
    audit = {"run": args.run_id, "buckets": summary["buckets_complete"],
             "docs": summary["docs_processed"],
             "ocr_pages": summary["ocr_pages"],
             "parse_failures": summary["parse_failures"], "ok_docs": n_ok}
    if n_ok == 0 and summary["docs_processed"] > 0:
        raise Refused(ALL_FAILED, "all documents failed", audit)
    return audit


main = harness(ap, run)

if __name__ == "__main__":
    sys.exit(main())
