"""spark-submit entry point: URL discovery → crawl frontier.

    spark-submit --py-files dist/resume_ocr_spark.zip tools/submit_discovery.py \
        --robots <robots.parquet> --sitemaps <sitemaps.parquet> \
        --output <dir> [--feeds <feeds.parquet>] [--known <frontier.parquet>] \
        [--no-provenance-gate] [--max-per-host N]

The discovery edge of a refresh crawl: BEFORE pages can be triaged
(tools/submit_refresh.py) they must be FOUND. This job chains the
round-5 discovery family end-to-end:

  1. urltools.robots_sitemaps over --robots (host, robots_txt) — the
     advertised sitemap URLs, canonicalized
  2. --sitemaps (sitemap_url, sitemap_xml) bodies the fetcher brought
     back; unless --no-provenance-gate, only bodies whose canonical URL
     was advertised in step 1 are parsed (a crawler must not honor a
     sitemap nobody pointed to — spam surface)
  3. urltools.sitemap_entries: kind='url' locs become frontier
     candidates; kind='sitemap' children (index shards not yet
     fetched) go to pending/ for the next fetch round
  4. --feeds (feed_url, feed_xml), optional: urltools.feed_entries
     links join the candidate set
  5. urltools.with_canonical_url + per-key fold → one row per
     canonical URL (deterministic min provenance); --max-per-host
     applies the round's fetch budget (exact two-phase cap, no hot
     task); --known (previous frontier) suppresses already-known URLs

Writes under --output:
    frontier/  canonical_url, via (sitemap|feed), src (the sitemap or
               feed that discovered it) — NEW urls only when --known
    pending/   canonical sitemap-index children still to fetch
    audit/     one row per counter (advertised, bodies_provided,
               bodies_parsed, sitemap_urls, feed_urls, pending,
               known_suppressed, frontier)

Distributed shape: the advertised list and audit counters are
dimension-sized (hosts × few records) → broadcast semi join; the ONE
corpus-scale shuffle is the canonical-URL fold (inherent: dedup IS a
groupBy); --known suppression is a merge-hinted SMJ on the same key so
at 10^12 URLs neither side broadcasts.

Refuses an empty robots input (discovery over nothing is a
misconfiguration, not a result).
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from resume_ocr_spark.job import (NOTHING_TO_DO, Refused, get_spark, harness,
                                  parser, require_columns)
from resume_ocr_spark.storage import persisted


ap = parser("submit_discovery")
ap.add_argument("--robots", required=True,
                help="parquet of (host, robots_txt) bodies")
ap.add_argument("--sitemaps", required=True,
                help="parquet of fetched (sitemap_url, sitemap_xml)")
ap.add_argument("--feeds", default=None,
                help="parquet of fetched (feed_url, feed_xml)")
ap.add_argument("--known", default=None,
                help="parquet with canonical_url — the previous "
                     "frontier; suppresses already-known URLs")
ap.add_argument("--output", required=True)
ap.add_argument("--no-provenance-gate", action="store_true",
                help="parse every provided sitemap body, advertised "
                     "or not")
ap.add_argument("--max-per-host", type=int, default=None,
                help="per-host fetch budget for this round — exact "
                     "deterministic two-phase cap on the frontier")


def run(args) -> dict:
    from resume_ocr_spark.operators import urltools

    spark = get_spark(app_name="submit_discovery")
    robots = spark.read.parquet(args.robots)
    require_columns(robots, ["host", "robots_txt"], "--robots")
    if robots.isEmpty():
        raise Refused(NOTHING_TO_DO,
                      "robots input is empty — refusing the run")
    bodies = spark.read.parquet(args.sitemaps)
    require_columns(bodies, ["sitemap_url", "sitemap_xml"], "--sitemaps")

    audit: list[tuple[str, int]] = []

    advertised = urltools.robots_sitemaps(robots).select(
        urltools.canonical_url_expr(F.col("sitemap_url")).alias("_adv"))
    audit.append(("advertised", advertised.count()))

    bodies = bodies.withColumn(
        "_key", urltools.canonical_url_expr(F.col("sitemap_url")))
    audit.append(("bodies_provided", bodies.count()))
    if not args.no_provenance_gate:
        # advertised is hosts×records-sized — dimension next to the
        # body corpus; the gate is a broadcast SEMI join, bodies never
        # shuffle
        bodies = bodies.join(F.broadcast(advertised),
                             bodies["_key"] == advertised["_adv"],
                             "left_semi")
    audit.append(("bodies_parsed", bodies.count()))

    entries = urltools.sitemap_entries(bodies, xml_col="sitemap_xml")
    pages = (entries.filter(F.col("kind") == "url")
             .select(F.col("loc").alias("raw_url"),
                     F.lit("sitemap").alias("via"),
                     F.col("sitemap_url").alias("src")))
    pending = (entries.filter(F.col("kind") == "sitemap")
               .select(urltools.canonical_url_expr(F.col("loc"))
                       .alias("canonical_url"),
                       F.col("sitemap_url").alias("advertised_by"))
               .distinct())

    if args.feeds:
        feeds = spark.read.parquet(args.feeds)
        require_columns(feeds, ["feed_url", "feed_xml"], "--feeds")
        flinks = (urltools.feed_entries(feeds, xml_col="feed_xml")
                  .filter(F.col("link") != "")
                  .select(F.col("link").alias("raw_url"),
                          F.lit("feed").alias("via"),
                          F.col("feed_url").alias("src")))
        audit.append(("feed_urls", flinks.count()))
        pages = pages.unionByName(flinks)

    cand = urltools.with_canonical_url(pages, url_col="raw_url")
    # ONE corpus-scale exchange: fold to one row per canonical URL with
    # deterministic provenance (min struct — engine/retry/cluster-size
    # independent), map-side combined
    frontier = (cand.groupBy("canonical_url")
                .agg(F.min(F.struct("via", "src")).alias("_p"))
                .select("canonical_url",
                        F.col("_p.via").alias("via"),
                        F.col("_p.src").alias("src")))

    if args.max_per_host is not None:
        # budget AFTER the fold (a capped duplicate would waste budget),
        # host derived from the canonical key; two bounded windows, a
        # hot host never lands on one task (urltools.cap_per_host)
        before_cap = frontier.count()
        frontier = urltools.cap_per_host(
            frontier.withColumn(
                "_host", urltools.host_expr(F.col("canonical_url"))),
            host_col="_host", max_per_host=args.max_per_host,
        ).drop("_host")
        audit.append(("budget_dropped", before_cap - frontier.count()))

    if args.known:
        known = spark.read.parquet(args.known)
        require_columns(known, ["canonical_url"], "--known")
        # known is frontier-scale (same order as the output) — merge
        # SMJ on the fold's key, not a broadcast that grows with the
        # corpus
        before = frontier.count()
        frontier = frontier.join(
            known.select("canonical_url").hint("merge"),
            "canonical_url", "left_anti")

    with persisted(frontier):
        n_frontier = frontier.count()
        if args.known:
            audit.append(("known_suppressed", before - n_frontier))
        audit.append(("sitemap_urls", pages.filter(
            F.col("via") == "sitemap").count()))
        audit.append(("pending", pending.count()))
        audit.append(("frontier", n_frontier))

        frontier.write.mode("overwrite").parquet(f"{args.output}/frontier")
        pending.write.mode("overwrite").parquet(f"{args.output}/pending")
    spark.createDataFrame(
        [(k, int(v)) for k, v in audit], "counter string, n long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{args.output}/audit")
    return dict(audit)


main = harness(ap, run)

if __name__ == "__main__":
    sys.exit(main())
