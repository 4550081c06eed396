"""S7 rotating app-log sink: rotation policy + Spark-readable log table."""

from __future__ import annotations

import logging

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
    applog.setup_logging(log_dir, console=False)
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
    applog.setup_logging(str(tmp_path / "logs"), console=False)
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
