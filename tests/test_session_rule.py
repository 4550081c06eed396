"""session.get_spark is the one way an entry point gets a session, under
one rule: a live session comes back unchanged, a ``spark-submit`` launch
keeps the launcher's ``--master``/``--conf`` and gains the pinned table
only where it left a key unset, and a plain ``python`` process builds
``local[N, F]`` plus the table (pinned by the packaging and retry tests,
which start that way)."""

from __future__ import annotations

import glob
import json
import os
import pathlib
import subprocess
import sys

import pyspark
import pytest

from resume_ocr_spark.config import ARROW_MAX_RECORDS_PER_BATCH

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_no_session_builder_outside_session_module():
    paths = (glob.glob(os.path.join(ROOT, "tools", "*.py"))
             + glob.glob(os.path.join(ROOT, "resume_ocr_spark", "**", "*.py"),
                         recursive=True))
    session_py = os.path.join(ROOT, "resume_ocr_spark", "session.py")
    bare = [os.path.relpath(p, ROOT) for p in paths if p != session_py
            and "SparkSession.builder" in pathlib.Path(p).read_text()]
    assert len(paths) > 20
    assert bare == []


def test_live_session_is_returned_unchanged(spark):
    from resume_ocr_spark.session import get_spark

    width = spark.conf.get("spark.sql.shuffle.partitions")
    master = spark.sparkContext.master
    try:
        got = get_spark(app_name="other", cores=3, shuffle_partitions=3,
                        task_retries=5)
        assert got is spark
        assert spark.conf.get("spark.sql.shuffle.partitions") == width
        assert spark.sparkContext.master == master
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", width)


PROBE = r"""
import json
from resume_ocr_spark.session import get_spark

spark = get_spark(app_name="probe", cores=3)
keys = ["spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.execution.arrow.maxRecordsPerBatch"]
out = {k: spark.conf.get(k) for k in keys}
conf = spark.sparkContext.getConf()
out["master"] = spark.sparkContext.master
out["spark.task.maxFailures"] = conf.get("spark.task.maxFailures")
out["spark.executorEnv.OMP_NUM_THREADS"] = conf.get(
    "spark.executorEnv.OMP_NUM_THREADS")
print("CONF " + json.dumps(out))
spark.stop()
"""


def _spark_submit() -> str | None:
    for home in (os.environ.get("SPARK_HOME"),
                 os.path.dirname(pyspark.__file__)):
        if home and os.path.isfile(os.path.join(home, "bin", "spark-submit")):
            return os.path.join(home, "bin", "spark-submit")
    return None


@pytest.mark.skipif(_spark_submit() is None, reason="no spark-submit")
def test_spark_submit_conf_wins_and_table_fills_the_rest(tmp_path):
    script = tmp_path / "probe.py"
    script.write_text(PROBE)
    env = dict(os.environ, PYTHONPATH=ROOT, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    proc = subprocess.run(
        [_spark_submit(), "--master", "local[2]",
         "--conf", "spark.sql.shuffle.partitions=7", str(script)],
        env=env, cwd=str(tmp_path), capture_output=True, text=True,
        timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("CONF ")]
    got = json.loads(line[0][5:])
    assert got["master"] == "local[2]"
    assert got["spark.sql.shuffle.partitions"] == "7"
    assert got["spark.sql.session.timeZone"] == "UTC"
    assert got["spark.sql.adaptive.skewJoin.enabled"] == "true"
    assert got["spark.sql.execution.arrow.maxRecordsPerBatch"] == str(
        ARROW_MAX_RECORDS_PER_BATCH)
    assert got["spark.task.maxFailures"] == "2"
    assert got["spark.executorEnv.OMP_NUM_THREADS"] == os.environ.get(
        "OMP_NUM_THREADS", "1")
