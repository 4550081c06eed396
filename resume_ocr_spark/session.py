"""SparkSession factory: the one way any entry point gets a session.

- **Live session:** returned unchanged; no caller rewrites its confs.
- **Launched by ``spark-submit``** (``PYSPARK_GATEWAY_PORT`` is set before
  any context exists): the launcher's ``--master``/``--conf`` win, and
  the pinned table below fills only the keys it left unset.
- **Plain ``python``:** ``local[N, F]`` (N = ``SPARK_GRAFT_CPUS`` or else
  the core count) plus the table — UTC, AQE skew join, task retries, an
  Arrow batch cap that bounds Python-UDF memory on multi-MB media
  payloads, and one BLAS thread per Python worker."""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

from .config import ARROW_MAX_RECORDS_PER_BATCH

BLAS_THREAD_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                    "MKL_NUM_THREADS")


def get_spark(
    app_name: str = "resume_ocr_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    task_retries: int | None = None,
) -> SparkSession:
    """The session under the module's three-case rule. ``app_name`` names
    only a plain-``python`` run: ``spark-submit`` always sets
    ``spark.app.name`` (to the script's file name unless ``--name`` is
    given), and the launcher's value wins."""
    if SparkContext._active_spark_context is not None:
        return SparkSession.builder.getOrCreate()
    # one BLAS thread per Python worker: Spark already parallelizes across
    # workers, and N workers × M BLAS threads oversubscribes the box
    # (observed: local[32] slower than local[8] on the OCR stage without this)
    for var in BLAS_THREAD_VARS:
        os.environ.setdefault(var, "1")
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    shuffle_partitions = shuffle_partitions or max(cores, 32)
    # C3 retry budget: local mode IGNORES spark.task.maxFailures — retries
    # require the local[N, F] master form. F=2 means one retry, enough for
    # transient task faults; every stage is deterministic (value-hash salts,
    # seeded corpus, pure codecs) so a retried task reproduces its output
    # exactly (tests/test_retry_determinism.py injects failures to prove it).
    task_retries = task_retries or 2
    pins = {
        "spark.app.name": app_name,
        "spark.master": f"local[{cores}, {task_retries}]",
        "spark.task.maxFailures": str(task_retries),  # cluster parity
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch":
            str(ARROW_MAX_RECORDS_PER_BATCH),
        "spark.sql.files.maxPartitionBytes": "128m",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        **{f"spark.executorEnv.{var}": os.environ[var]
           for var in BLAS_THREAD_VARS},
    }
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        # under plain python this read shows pyspark-shell's local[*], so
        # only the launcher's port can tell the two cases apart
        SparkContext._ensure_initialized()
        launcher = SparkConf()
        pins = {k: v for k, v in pins.items() if not launcher.contains(k)}
    return SparkSession.builder.config(map=pins).getOrCreate()
