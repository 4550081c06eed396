"""S7 rotating app-log sink: rotation policy + Spark-readable log table,
and the run events every packaged job logs there through ``job.main``."""

from __future__ import annotations

import json
import logging
import re

from pyspark.errors import AnalysisException

from resume_ocr_spark import applog


def _reset_logging():
    root = logging.getLogger()
    for h in list(root.handlers):
        h.close()
        root.removeHandler(h)


def test_rotation_and_readback(tmp_path, spark, monkeypatch):
    log_dir = str(tmp_path / "logs")
    # shrink the rotation threshold so the test actually rotates
    monkeypatch.setattr(applog, "MAX_BYTES", 2000)
    applog.setup_logging(log_dir)
    try:
        for i in range(60):
            applog.log_run_event(f"run-{i % 3}", "chunk_complete",
                                 bucket=i, docs=100 + i)
        import glob

        files = sorted(glob.glob(f"{log_dir}/app.log*"))
        assert len(files) > 1, "rotation must have produced backups"

        df = applog.read_app_logs(spark, log_dir)
        rows = df.collect()
        assert len(rows) >= 60  # every event line survives rotation readback
        assert all(r["level"] == "INFO" for r in rows if r["logger"])
        run0 = df.filter(df.message.contains("run_id=run-0")).count()
        assert run0 == 20
        assert df.filter("ts IS NOT NULL").count() >= 60
    finally:
        _reset_logging()


def test_format_matches_reference_shape(tmp_path):
    applog.setup_logging(str(tmp_path / "logs"))
    try:
        logging.getLogger("x.y").warning("hello | with pipe")
        with open(tmp_path / "logs" / "app.log", encoding="utf-8") as f:
            lines = [ln for ln in f if "hello" in ln]
        assert len(lines) == 1
        parts = lines[0].split(" | ", 3)
        assert parts[1] == "x.y" and parts[2] == "WARNING"
        assert parts[3].strip() == "hello | with pipe"
    finally:
        _reset_logging()


def test_job_run_events_read_back(spark, tmp_path, run_job):
    """A good, a refused and a crashed run of two jobs each log run_start
    and one closing event under their own run id and job name, and the
    run_complete audit is the one JSON line the run printed."""
    table = str(tmp_path / "table")
    spark.range(20).write.parquet(table)
    rc, stdout, _ = run_job(["submit_maintenance", "--mode", "compact",
                             "--table", table,
                             "--output", str(tmp_path / "c")])
    assert rc == 0
    crawl = str(tmp_path / "crawl")
    spark.createDataFrame([], "url string, html string").write.parquet(crawl)
    assert run_job(["submit_refresh", "--new", crawl,
                    "--output", str(tmp_path / "r")])[0] == 4
    rc, _, err = run_job(["submit_maintenance", "--mode", "zorder",
                          "--cols", "id",
                          "--table", str(tmp_path / "missing"),
                          "--output", str(tmp_path / "z")])
    assert rc == 5  # CRASHED, not ALL_FAILED's 1
    assert AnalysisException.__name__ in err  # the traceback

    runs: dict[str, dict[str, str]] = {}
    for row in applog.read_app_logs(spark, str(tmp_path / "logs")).filter(
            "message LIKE 'run_id=% event=run_%'").collect():
        m = re.match(r"run_id=(\S+) event=(\S+) job=(\S+) ?(.*)$",
                     row.message)
        run = runs.setdefault(m[1], {"job": m[3]})
        assert run["job"] == m[3]
        run[m[2]] = m[4]
    assert sorted((r["job"], sorted(k for k in r if k != "job"))
                  for r in runs.values()) == [
        ("submit_maintenance", ["run_complete", "run_start"]),
        ("submit_maintenance", ["run_failed", "run_start"]),
        ("submit_refresh", ["run_refused", "run_start"])]
    done = next(r["run_complete"] for r in runs.values()
                if "run_complete" in r)
    assert json.loads(done.split(" audit=", 1)[1]) == json.loads(stdout)
    refused = next(r["run_refused"] for r in runs.values()
                   if "run_refused" in r)
    assert refused.startswith("code=4 reason=new crawl is empty")
