"""spark-submit entry point: crawl HTML → interleaved multimodal tables.

    spark-submit --py-files dist/resume_ocr_spark.zip tools/submit_interleave.py \
        --input <pages.parquet> --output <dir> \
        [--html-col html] [--id-col doc_id] \
        [--chrome-min-docs 2 | --keep-chrome] \
        [--image-token-cost 64] [--budget 8192] [--shards 256] [--no-pack]

The ingest front door of the engine's interleaved table
(BASELINE.json input_hint): pages become ``(doc_id,
spans:array<struct<kind,text,media_ref,offset>>)`` — visible text as
``text`` spans, each ``<img src>`` as an ``image`` span carrying its
alt caption and source URL (operators/interleave.py). Writes under
--output:

    spans/   the interleaved document table (post chrome removal unless
             --keep-chrome), with n_media_removed / n_spans_total
    pairs/   LAION-style (image, caption, context) rows mined from the
             post-removal table
    packed/  multimodal sequence-packing assignment (omit with --no-pack)

Prints one JSON audit line (docs, spans, chrome removed, pairs,
sequences). Refuses a batch that yields ZERO spans — a crawl batch that
ingests nothing is a misconfiguration (wrong --html-col, empty fetch),
not a result; spans/ is never written in that case.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F

from resume_ocr_spark.job import NOTHING_TO_DO, Refused, entry, get_spark


@entry
def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--html-col", default="html")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--chrome-min-docs", type=int, default=2,
                    help="drop every copy of a media_ref seen in >= N "
                         "distinct documents (site chrome)")
    ap.add_argument("--keep-chrome", action="store_true",
                    help="skip boilerplate-media removal entirely")
    ap.add_argument("--image-token-cost", type=int, default=64)
    ap.add_argument("--budget", type=int, default=8192)
    ap.add_argument("--shards", type=int, default=256)
    ap.add_argument("--no-pack", action="store_true")
    args = ap.parse_args()

    from resume_ocr_spark.operators import interleave

    spark = get_spark(app_name="submit_interleave")
    pages = spark.read.parquet(args.input)

    raw = interleave.html_to_spans(
        pages, html_col=args.html_col, id_col=args.id_col)
    if args.keep_chrome:
        table = raw.select(
            "doc_id", "spans",
            F.lit(0).cast("int").alias("n_media_removed"),
            F.size("spans").cast("int").alias("n_spans_total"))
    else:
        table = interleave.drop_frequent_media(
            raw, min_docs=args.chrome_min_docs)
    table.persist()
    try:
        stats = table.agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.size("spans")).alias("spans"),
            F.sum("n_media_removed").alias("chrome_removed")).collect()[0]
        audit = {"docs": stats["docs"] or 0,
                 "spans": int(stats["spans"] or 0),
                 "chrome_removed": int(stats["chrome_removed"] or 0)}
        # refusal BEFORE spans/ exists: an all-empty ingest must not leave
        # a complete-looking table for a downstream consumer (the
        # submit_curation zero-keep convention)
        if audit["spans"] == 0:
            print(json.dumps(audit))
            raise Refused(NOTHING_TO_DO, "ingest produced zero spans — "
                          "refusing the run (spans/ not written)")
        table.write.mode("overwrite").parquet(f"{args.output}/spans")

        pairs = interleave.caption_pairs(table)
        pairs.write.mode("overwrite").parquet(f"{args.output}/pairs")
        audit["pairs"] = spark.read.parquet(f"{args.output}/pairs").count()

        if not args.no_pack:
            packed = interleave.pack_interleaved(
                table, image_token_cost=args.image_token_cost,
                budget=args.budget, shards=args.shards)
            packed.write.mode("overwrite").parquet(f"{args.output}/packed")
            audit["sequences"] = (
                spark.read.parquet(f"{args.output}/packed")
                .select("shard", "seq_id").distinct().count())
    finally:
        table.unpersist()
    print(json.dumps(audit))
    return 0


if __name__ == "__main__":
    sys.exit(main())
