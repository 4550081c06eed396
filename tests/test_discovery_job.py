"""End-to-end test of tools/submit_discovery.py: robots.txt Sitemap:
records → provenance-gated sitemap parsing → canonical frontier with
feed union, pending index shards, known-URL suppression and audit-sum
checks — the packaged form of the round-5 discovery family."""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


ROBOTS_ROWS = [
    # advertises two sitemaps (one will 404 — never provided)
    ("a.com", "User-agent: *\nDisallow: /x\n"
              "Sitemap: https://a.com/s1.xml\n"
              "Sitemap: https://A.COM/missing.xml"),
    # advertises an index sitemap
    ("b.org", "sitemap: https://b.org/index.xml"),
    # no records
    ("c.net", "User-agent: *\nAllow: /"),
]

S1 = ("<urlset>"
      "<url><loc>https://a.com/page/1?utm_source=x&amp;id=1</loc></url>"
      "<url><loc>https://a.com/page/2</loc></url>"
      "<url><loc>https://a.com/page/2#frag</loc></url>"  # canon-dup of 2
      "</urlset>")
SIDX = ("<sitemapindex>"
        "<sitemap><loc>https://b.org/shard1.xml</loc></sitemap>"
        "<sitemap><loc>https://b.org/shard2.xml</loc></sitemap>"
        "</sitemapindex>")
ROGUE = ("<urlset><url><loc>https://spam.example/p</loc></url></urlset>")

FEED = ("<rss><item><title>T</title>"
        "<link>https://a.com/page/3?fbclid=f</link></item>"
        "<item><title>U</title><link>https://a.com/page/2</link></item>"
        "</rss>")


def _write_inputs(spark, tmp_path, with_rogue=True):
    robots_p = str(tmp_path / "robots")
    spark.createDataFrame(ROBOTS_ROWS, "host string, robots_txt string"
                          ).write.mode("overwrite").parquet(robots_p)
    body_rows = [("https://a.com/s1.xml", S1),
                 ("https://b.org/index.xml", SIDX)]
    if with_rogue:
        body_rows.append(("https://spam.example/rogue.xml", ROGUE))
    sitemaps_p = str(tmp_path / "sitemaps")
    spark.createDataFrame(body_rows, "sitemap_url string, sitemap_xml string"
                          ).write.mode("overwrite").parquet(sitemaps_p)
    feeds_p = str(tmp_path / "feeds")
    spark.createDataFrame([("https://a.com/feed.xml", FEED)],
                          "feed_url string, feed_xml string"
                          ).write.mode("overwrite").parquet(feeds_p)
    return robots_p, sitemaps_p, feeds_p


@pytest.mark.usefixtures("spark")
def test_discovery_end_to_end(spark, tmp_path, run_job):
    robots_p, sitemaps_p, feeds_p = _write_inputs(spark, tmp_path)
    out = str(tmp_path / "out")
    rc, stdout, _ = run_job(["submit_discovery", "--robots", robots_p,
                             "--sitemaps", sitemaps_p, "--feeds", feeds_p,
                             "--output", out])
    assert rc == 0

    frontier = {r.canonical_url: (r.via, r.src)
                for r in spark.read.parquet(f"{out}/frontier").collect()}
    # tracking param stripped, fragment dup folded, rogue body dropped
    assert set(frontier) == {"https://a.com/page/1?id=1",
                             "https://a.com/page/2",
                             "https://a.com/page/3"}
    # page 2 was discovered by BOTH sitemap and feed — deterministic
    # min(struct) provenance picks 'feed' < 'sitemap'
    assert frontier["https://a.com/page/2"][0] == "feed"
    assert frontier["https://a.com/page/3"] == ("feed",
                                                "https://a.com/feed.xml")
    pending = {r.canonical_url for r in
               spark.read.parquet(f"{out}/pending").collect()}
    assert pending == {"https://b.org/shard1.xml",
                       "https://b.org/shard2.xml"}
    audit = {r.counter: r.n for r in
             spark.read.parquet(f"{out}/audit").collect()}
    assert audit["advertised"] == 3          # 2 from a.com + 1 from b.org
    assert audit["bodies_provided"] == 3
    assert audit["bodies_parsed"] == 2       # rogue gated out
    assert audit["sitemap_urls"] == 3        # raw locs incl. the #frag dup
    assert audit["feed_urls"] == 2
    assert audit["pending"] == 2
    assert audit["frontier"] == 3
    assert json.loads(stdout) == audit


@pytest.mark.usefixtures("spark")
def test_known_suppression_and_no_provenance_gate(spark, tmp_path, run_job):
    robots_p, sitemaps_p, feeds_p = _write_inputs(spark, tmp_path)
    known_p = str(tmp_path / "known")
    spark.createDataFrame([("https://a.com/page/2",)],
                          "canonical_url string"
                          ).write.mode("overwrite").parquet(known_p)
    out = str(tmp_path / "out2")
    assert run_job(["submit_discovery", "--robots", robots_p,
                    "--sitemaps", sitemaps_p, "--known", known_p,
                    "--no-provenance-gate", "--output", out])[0] == 0
    frontier = {r.canonical_url for r in
                spark.read.parquet(f"{out}/frontier").collect()}
    # rogue body now parsed; page/2 suppressed as known; no feeds arg
    assert frontier == {"https://a.com/page/1?id=1",
                        "https://spam.example/p"}
    audit = {r.counter: r.n for r in
             spark.read.parquet(f"{out}/audit").collect()}
    assert audit["bodies_parsed"] == 3
    assert audit["known_suppressed"] == 1
    assert audit["frontier"] == 2


@pytest.mark.usefixtures("spark")
def test_empty_robots_refused_and_bad_columns(spark, tmp_path, run_job):
    robots_p = str(tmp_path / "robots_e")
    spark.createDataFrame([], "host string, robots_txt string"
                          ).write.parquet(robots_p)
    sitemaps_p = str(tmp_path / "maps_e")
    spark.createDataFrame([("u", "x")],
                          "sitemap_url string, sitemap_xml string"
                          ).write.parquet(sitemaps_p)
    out = str(tmp_path / "out3")
    assert run_job(["submit_discovery", "--robots", robots_p,
                    "--sitemaps", sitemaps_p, "--output", out])[0] == 4
    bad_p = str(tmp_path / "bad")
    spark.createDataFrame([("h",)], "host string").write.parquet(bad_p)
    assert run_job(["submit_discovery", "--robots", bad_p,
                    "--sitemaps", sitemaps_p, "--output", out])[0] == 2


@pytest.mark.usefixtures("spark")
def test_max_per_host_budget(spark, tmp_path, run_job):
    robots_p = str(tmp_path / "robots_b")
    spark.createDataFrame(
        [("a.com", "Sitemap: https://a.com/s1.xml")],
        "host string, robots_txt string").write.parquet(robots_p)
    xml = "<urlset>" + "".join(
        f"<url><loc>https://a.com/page/{i}</loc></url>"
        for i in range(20)) + "</urlset>"
    sitemaps_p = str(tmp_path / "maps_b")
    spark.createDataFrame([("https://a.com/s1.xml", xml)],
                          "sitemap_url string, sitemap_xml string"
                          ).write.parquet(sitemaps_p)
    out = str(tmp_path / "out_b")
    assert run_job(["submit_discovery", "--robots", robots_p,
                    "--sitemaps", sitemaps_p, "--max-per-host", "7",
                    "--output", out])[0] == 0
    fr = spark.read.parquet(f"{out}/frontier")
    assert fr.count() == 7
    audit = {r.counter: r.n for r in
             spark.read.parquet(f"{out}/audit").collect()}
    assert audit["budget_dropped"] == 13
    assert audit["frontier"] == 7
    # budget keeper set is deterministic across runs
    out2 = str(tmp_path / "out_b2")
    assert run_job(["submit_discovery", "--robots", robots_p,
                    "--sitemaps", sitemaps_p, "--max-per-host", "7",
                    "--output", out2])[0] == 0
    a = sorted(r.canonical_url for r in fr.collect())
    b = sorted(r.canonical_url for r in
               spark.read.parquet(f"{out2}/frontier").collect())
    assert a == b
