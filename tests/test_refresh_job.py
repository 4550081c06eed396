"""End-to-end test of tools/submit_refresh.py: two consecutive crawl
refreshes over parquet, chaining snapshot delta → robots.txt gate →
noindex gate, with audit-sum and manifest-roundtrip checks — the
packaged form of the round-5 crawl-triage family."""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


ROBOTS = "User-agent: *\nDisallow: /private/\n"


def _crawl(spark, rows):
    return spark.createDataFrame(rows, "url string, html string, lang string")


def _page(i, noindex=False, rev=""):
    meta = '<meta name="robots" content="noindex">' if noindex else ""
    return (f"https://site.com/{'private' if i % 5 == 0 else 'pub'}/p{i}",
            f"<html><head>{meta}</head><body>doc {i} {rev}</body></html>",
            "en")


@pytest.mark.usefixtures("spark")
def test_refresh_two_rounds(spark, tmp_path, run_job):
    crawl1 = _crawl(spark, [_page(i, noindex=(i % 7 == 0))
                            for i in range(60)])
    crawl1_p = str(tmp_path / "crawl1")
    crawl1.write.parquet(crawl1_p)
    robots_p = str(tmp_path / "robots")
    spark.createDataFrame([("site.com", ROBOTS)],
                          "host string, robots_txt string"
                          ).write.parquet(robots_p)

    out1 = str(tmp_path / "out1")
    rc = run_job(["submit_refresh", "--new", crawl1_p, "--output", out1,
                  "--robots", robots_p, "--agent", "trainbot"])[0]
    assert rc == 0
    audit1 = {r.outcome: r.n_pages
              for r in spark.read.parquet(f"{out1}/audit").collect()}
    # first run: everything added; /private/ (i%5==0, 12 pages) denied by
    # robots; of the remaining 48, noindex metas (i%7==0 minus the
    # robots-denied overlap) dropped
    n_private = sum(1 for i in range(60) if i % 5 == 0)
    n_noindex_surviving = sum(
        1 for i in range(60) if i % 7 == 0 and i % 5 != 0)
    assert audit1["added"] == 60
    assert audit1["robots_denied"] == n_private
    assert audit1["noindex_dropped"] == n_noindex_surviving
    assert audit1["emitted"] == 60 - n_private - n_noindex_surviving
    delta1 = spark.read.parquet(f"{out1}/delta")
    assert delta1.count() == audit1["emitted"]
    assert set(r.status for r in delta1.collect()) == {"added"}
    # manifest covers the FULL crawl, gates notwithstanding
    assert spark.read.parquet(f"{out1}/manifest").count() == 60

    # round 2: pages 10..19 revised, 60..64 new, 0..4 gone
    crawl2 = _crawl(spark, [
        _page(i, noindex=(i % 7 == 0), rev="v2" if 10 <= i < 20 else "")
        for i in range(5, 65)])
    crawl2_p = str(tmp_path / "crawl2")
    crawl2.write.parquet(crawl2_p)
    out2 = str(tmp_path / "out2")
    rc = run_job(["submit_refresh", "--new", crawl2_p, "--output", out2,
                  "--manifest", f"{out1}/manifest", "--robots", robots_p,
                  "--agent", "trainbot"])[0]
    assert rc == 0
    audit2 = {r.outcome: r.n_pages
              for r in spark.read.parquet(f"{out2}/audit").collect()}
    assert audit2["added"] == 5          # 60..64
    assert audit2["changed"] == 10       # 10..19
    assert audit2["removed"] == 5        # 0..4
    assert audit2["unchanged"] == 45
    delta2 = spark.read.parquet(f"{out2}/delta")
    # the delta never re-emits unchanged pages
    ids = sorted(int(r.url.rsplit("p", 1)[1]) for r in delta2.collect())
    expect = [i for i in list(range(10, 20)) + list(range(60, 65))
              if i % 5 != 0 and i % 7 != 0]
    assert ids == expect
    assert audit2["emitted"] == len(expect)
    # second-run manifest is the full new crawl
    assert spark.read.parquet(f"{out2}/manifest").count() == 60


@pytest.mark.usefixtures("spark")
def test_refresh_refuses_empty_crawl(spark, tmp_path, run_job):
    empty = _crawl(spark, []).filter("1=0")
    p = str(tmp_path / "empty")
    empty.write.parquet(p)
    assert run_job(["submit_refresh", "--new", p,
                    "--output", str(tmp_path / "o")])[0] == 4


@pytest.mark.usefixtures("spark")
def test_refresh_missing_column_is_arg_error(spark, tmp_path, run_job):
    df = spark.createDataFrame([("u",)], "url string")
    p = str(tmp_path / "nocontent")
    df.write.parquet(p)
    assert run_job(["submit_refresh", "--new", p,
                    "--output", str(tmp_path / "o")])[0] == 2


@pytest.mark.usefixtures("spark")
def test_refresh_json_line_matches_audit(spark, tmp_path, run_job):
    crawl = _crawl(spark, [_page(i) for i in range(12)])
    p = str(tmp_path / "c")
    crawl.write.parquet(p)
    out = str(tmp_path / "o")
    rc, stdout, _ = run_job(["submit_refresh", "--new", p, "--output", out,
                             "--no-noindex-gate"])
    assert rc == 0
    payload = json.loads(stdout)
    audit = {r.outcome: r.n_pages
             for r in spark.read.parquet(f"{out}/audit").collect()}
    assert payload["outcomes"] == audit
    assert "noindex_dropped" not in audit


@pytest.mark.usefixtures("spark")
def test_refresh_chains_with_custom_url_col(spark, tmp_path, run_job):
    # manifest/ is written with (url, digest) regardless of --url-col;
    # run 2 must read it back under that contract (review r5: the old
    # code selected args.url_col from the manifest and crashed)
    rows = [(f"https://c.io/{i}", f"<html><body>b{i}</body></html>")
            for i in range(8)]
    df = spark.createDataFrame(rows, "page_url string, html string")
    p = str(tmp_path / "c1")
    df.write.parquet(p)
    out1 = str(tmp_path / "o1")
    assert run_job(["submit_refresh", "--new", p, "--output", out1,
                    "--url-col", "page_url", "--no-noindex-gate"])[0] == 0
    out2 = str(tmp_path / "o2")
    assert run_job(["submit_refresh", "--new", p, "--output", out2,
                    "--url-col", "page_url", "--manifest", f"{out1}/manifest",
                    "--no-noindex-gate"])[0] == 0
    audit = {r.outcome: r.n_pages
             for r in spark.read.parquet(f"{out2}/audit").collect()}
    assert audit == {"unchanged": 8, "emitted": 0}
