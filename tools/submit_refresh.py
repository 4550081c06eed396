"""spark-submit entry point: incremental crawl refresh.

    spark-submit --py-files dist/resume_ocr_spark.zip tools/submit_refresh.py \
        --new <crawl.parquet> --output <dir> \
        [--manifest <prev_manifest.parquet>] [--robots <robots.parquet>] \
        [--agent trainbot] [--url-col url] [--content-col html] \
        [--no-noindex-gate] [--default-deny]

The monthly re-crawl problem: most pages are byte-identical to the last
snapshot, and re-running extraction + curation over the unchanged bulk is
the largest avoidable cost in a continuously refreshed corpus. This job
chains the round-5 crawl-triage family end-to-end:

  1. digest every new-crawl page (md5 of --content-col)
  2. urltools.snapshot_delta against the previous run's manifest —
     merge-hinted full-outer SMJ, manifest-only exchange; no manifest
     (first run) means every page is 'added'
  3. keep added+changed only (the delta)
  4. robots.txt gate (urltools.parse_robots / filter_robots_allowed on
     host+path from with_url_parts) when --robots is given
  5. meta-robots noindex gate (urltools.with_robots_directives) unless
     --no-noindex-gate

Writes three tables under --output:
    delta/      pages to (re)process downstream: url, status
                (added|changed), digest, content + robots flags
    manifest/   (url, digest) of the FULL new crawl — next run's
                --manifest; gate outcomes deliberately do NOT affect it
                (a denied page must stay 'unchanged' next month, not
                reappear as 'added' forever)
    audit/      one row per outcome (added/changed/unchanged/removed/
                robots_denied/noindex_dropped/emitted) with page counts

Refuses an empty new crawl (a refresh over nothing is a
misconfiguration, not a result). An all-gated delta exits 0 — that is a
legitimate month (nothing changed except denied pages) — but the audit
row makes it visible.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F

from resume_ocr_spark.job import (NOTHING_TO_DO, Refused, entry, get_spark,
                                  require_columns)


@entry
def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--new", required=True,
                    help="parquet of the new crawl (url + content columns)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--manifest", default=None,
                    help="parquet (url, digest) manifest from the previous "
                         "run; omit on the first run")
    ap.add_argument("--robots", default=None,
                    help="parquet of (host, robots_txt) bodies")
    ap.add_argument("--agent", default="*",
                    help="product token for robots.txt group selection")
    ap.add_argument("--url-col", default="url")
    ap.add_argument("--content-col", default="html")
    ap.add_argument("--no-noindex-gate", action="store_true",
                    help="skip the <meta name=robots> noindex drop")
    ap.add_argument("--default-deny", action="store_true",
                    help="robots.txt default: deny when no rule matches "
                         "(RFC default is allow)")
    args = ap.parse_args()

    from resume_ocr_spark.operators import urltools

    spark = get_spark(app_name="submit_refresh")
    new = spark.read.parquet(args.new)
    require_columns(new, [args.url_col, args.content_col], "--new")
    if new.isEmpty():
        raise Refused(NOTHING_TO_DO, "new crawl is empty — refusing the run")

    digested = new.withColumn(
        "digest", F.md5(F.coalesce(F.col(args.content_col), F.lit(""))))
    # next run's manifest covers the FULL crawl, independent of gates
    manifest_out = digested.select(F.col(args.url_col).alias("url"), "digest")

    if args.manifest:
        # manifest/ is always written with columns (url, digest),
        # whatever --url-col the crawl side uses
        prev = spark.read.parquet(args.manifest)
        delta = urltools.snapshot_delta(
            prev.select("url", "digest"),
            digested.withColumnRenamed(args.url_col, "url"),
            key_col="url", digest_col="digest")
    else:
        first = (digested.withColumnRenamed(args.url_col, "url")
                 .withColumnRenamed("digest", "new_digest"))
        passthrough = [c for c in first.columns
                       if c not in ("url", "new_digest")]
        # same column order as snapshot_delta so delta/ has one schema
        # across first and incremental runs
        delta = first.select(
            "url", F.lit("added").alias("status"),
            F.lit(None).cast("string").alias("old_digest"),
            "new_digest", *passthrough)
    delta.persist()
    work = None
    try:
        status_counts = {
            r["status"]: r["n"] for r in
            delta.groupBy("status").agg(F.count("*").alias("n")).collect()}
        audit_rows = [(k, int(v)) for k, v in sorted(status_counts.items())]

        # annotate the FULL gate pipeline lazily, persist once, and take
        # every counter from one aggregation — the earlier per-gate
        # count() formulation re-ran the host join + regex extraction
        # three times over (review r5)
        work = urltools.with_url_parts(
            delta.filter(F.col("status").isin("added", "changed")),
            url_col="url")
        keep_cond = F.lit(True)
        aggs = [F.count(F.lit(1)).alias("n_work")]
        if args.robots:
            robots = spark.read.parquet(args.robots)
            rules = urltools.parse_robots(robots, agent=args.agent)
            work = urltools.filter_robots_allowed(
                work, rules, default_allow=not args.default_deny,
                annotate_only=True)
            aggs.append(F.sum((~F.col("robots_allowed")).cast("long"))
                        .alias("robots_denied"))
            keep_cond = keep_cond & F.col("robots_allowed")
        if not args.no_noindex_gate:
            work = urltools.with_robots_directives(
                work, html_col=args.content_col)
            # dropped = indexing forbidden among pages the robots gate
            # (if any) let through — the same ledger as the sequential
            # formulation, so emitted + denied + dropped = n_work
            aggs.append(F.sum((keep_cond & F.col("robots_noindex"))
                              .cast("long")).alias("noindex_dropped"))
            keep_cond = keep_cond & ~F.col("robots_noindex")
        work = work.persist()
        counters = work.agg(*aggs).collect()[0].asDict()
        n_work = counters.pop("n_work")
        for k in ("robots_denied", "noindex_dropped"):
            if k in counters:
                v = int(counters[k] or 0)
                audit_rows.append((k, v))
                n_work -= v
        audit_rows.append(("emitted", int(n_work)))

        work.filter(keep_cond).write.mode("overwrite").parquet(
            f"{args.output}/delta")
        manifest_out.write.mode("overwrite").parquet(
            f"{args.output}/manifest")
        spark.createDataFrame(
            audit_rows, "outcome string, n_pages bigint"
        ).coalesce(1).write.mode("overwrite").parquet(f"{args.output}/audit")
    finally:
        delta.unpersist()
        if work is not None:
            work.unpersist()
    print(json.dumps({"outcomes": dict(audit_rows)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
