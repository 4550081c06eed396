"""Spark session lifecycle for the benchmark: every file Spark, the JVM and
Python write goes under one work directory, and shutdown waits until the
JVM and its Python workers have exited."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

from . import proctree

DRIVER_MEM = "2g"


CONFINED_VARS = ("TMPDIR", "SPARK_LOCAL_DIRS", "PYTHONPATH", "PYSPARK_PYTHON",
                 "SPARK_DRIVER_MEM", "JAVA_TOOL_OPTIONS")


def confine(work_dir: str, repo_root: str) -> dict:
    """Point temp files, Spark local dirs and Python workers' import path
    at the checkout. Must run before the first session starts; returns
    what ``release`` needs to restore the process environment."""
    import tempfile

    saved = {"env": {v: os.environ.get(v) for v in CONFINED_VARS},
             "tempdir": tempfile.tempdir}
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo_root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # session.get_spark's own knob; its 8g default lets the heap grow for
    # the whole run, so peak RSS would depend on how many jobs ran
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # -XX:-UsePerfData: no hsperfdata files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    tempfile.tempdir = tmp
    return saved


def release(saved: dict) -> None:
    import tempfile

    for var, value in saved["env"].items():
        if value is None:
            os.environ.pop(var, None)
        else:
            os.environ[var] = value
    tempfile.tempdir = saved["tempdir"]


def start(cores: int):
    from resume_ocr_spark.session import get_spark

    return get_spark(app_name="perfbench", cores=cores)


def shutdown(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and the JVM, then wait for every process the run
    started (the JVM's Python workers are orphaned, not reaped, when the
    JVM exits) — killing any still alive at the deadline."""
    from pyspark import SparkContext

    from multiprocessing import resource_tracker

    pids = [p for p in proctree.tree_pids() if p != os.getpid()]
    # spawn pools leave their resource tracker running until interpreter exit
    resource_tracker._resource_tracker._stop()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while pids:
        pids = [p for p in pids if _alive(p)]
        if pids and time.monotonic() > deadline:
            for p in pids:
                _kill(p)
            deadline = time.monotonic() + 5
        if pids:
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            state = fh.read().rsplit(b")", 1)[1].split()[0]
    except OSError:
        return False
    return state != b"Z"


def _kill(pid: int) -> None:
    try:
        os.kill(pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
