"""Rotating application log sink + Spark-readable log table (S7).

Mirrors the reference's logging setup (reference:
app/config/logging_config.py — RotatingFileHandler 10 MB × 5 backups,
``"%(asctime)s | %(name)s | %(levelname)s | %(message)s"``) for the DRIVER
process of a Spark job, minus its console echo: ``spark-submit`` merges
the Python driver's stderr into its stdout, which a job keeps for its one
audit line (``job.main``). Executor logs stay on Spark's own log4j.
``read_app_logs`` turns the rotated files back into a DataFrame so the
log-by-id lookup surface (S6) extends to app logs: filter by run_id
token, level, or time range with ordinary Column predicates.
"""

from __future__ import annotations

import logging
import logging.handlers
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LOG_FORMAT = "%(asctime)s | %(name)s | %(levelname)s | %(message)s"
DATE_FORMAT = "%Y-%m-%d %H:%M:%S"
MAX_BYTES = 10 * 1024 * 1024
BACKUP_COUNT = 5

# "ts | name | level | message" — message may itself contain ' | ', so the
# pattern is anchored and the tail greedy
_LINE_PATTERN = r"^([^|]+) \| ([^|]+) \| ([^|]+) \| (.*)$"


def setup_logging(log_dir: str = "logs") -> logging.Logger:
    """Configure the root logger with the reference's rotation policy."""
    os.makedirs(log_dir, exist_ok=True)
    root = logging.getLogger()
    for h in list(root.handlers):  # close before dropping: a bare clear()
        h.close()                  # leaks the old rotating-file descriptor
        root.removeHandler(h)
    root.setLevel(logging.DEBUG)
    fmt = logging.Formatter(LOG_FORMAT, DATE_FORMAT)
    fh = logging.handlers.RotatingFileHandler(
        filename=os.path.join(log_dir, "app.log"),
        maxBytes=MAX_BYTES, backupCount=BACKUP_COUNT, encoding="utf-8")
    fh.setLevel(logging.DEBUG)
    fh.setFormatter(fmt)
    root.addHandler(fh)
    # a Spark driver's root-at-DEBUG would flood the rotating sink with
    # py4j protocol chatter — keep framework loggers at WARNING (the
    # reference is sparkless and doesn't need this)
    for noisy in ("py4j", "pyspark"):
        logging.getLogger(noisy).setLevel(logging.WARNING)
    logging.getLogger(__name__).info("logging configured (rotating sink)")
    return root


def read_app_logs(spark: SparkSession, log_dir: str = "logs") -> DataFrame:
    """Rotated app.log* files → (ts, logger, level, message) DataFrame.

    Text-source read + regexp split: the parse is pure Column work, so at
    scale (a fleet of driver logs synced to one prefix) this is an ordinary
    distributed scan with predicate pushdown on the file listing."""
    path = os.path.join(log_dir, "app.log*")
    raw = spark.read.text(path)
    line = F.col("value")
    matched = line.rlike(_LINE_PATTERN)
    return (
        raw.select(
            F.when(matched, F.to_timestamp(
                F.regexp_extract(line, _LINE_PATTERN, 1),
                "yyyy-MM-dd HH:mm:ss")).alias("ts"),
            F.when(matched,
                   F.trim(F.regexp_extract(line, _LINE_PATTERN, 2)))
            .otherwise(F.lit("")).alias("logger"),
            F.when(matched,
                   F.trim(F.regexp_extract(line, _LINE_PATTERN, 3)))
            .otherwise(F.lit("")).alias("level"),
            # continuation lines (tracebacks) don't match the header
            # pattern — keep the whole line as a message-only row instead
            # of dropping audit content
            F.when(matched, F.regexp_extract(line, _LINE_PATTERN, 4))
            .otherwise(line).alias("message"),
        )
        .filter(F.length("message") + F.length("logger") > 0)
    )


def log_run_event(run_id: str, event: str, **fields) -> None:
    """One structured audit line per run event (the Mongo-audit-doc analog,
    reference: app/services/database_service.py:60-69): key=value pairs on
    one line, in the order given, so read_app_logs filters reconstruct any
    run's timeline."""
    kv = " ".join(f"{k}={v}" for k, v in fields.items())
    logging.getLogger("resume_ocr_spark.run").info(
        "run_id=%s event=%s %s", run_id, event, kv)
