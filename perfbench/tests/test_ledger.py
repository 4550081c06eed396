"""The benchmark's declared metrics, its trace arithmetic, and the traced
run's ledger: every layer that runs in a workload reports a value."""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

from perfbench import harness, metrics, trace, workloads
from perfbench.run import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
TIME_UNITS = ("s", "ms", "ms/doc", "ms/span", "ms/page")
# event-log counters a small run can leave at 0: it may finish between
# collections
MAY_BE_ZERO = {"spark.gc_ms_per_doc"}


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_matches_the_metric_table():
    bench = _benchmark_json()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert list(workloads.WORKLOADS) == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]
            } == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]
            } == {n: (u, b) for n, (u, b, _) in metrics.PER_LAYER.items()}
    setup_bound = next(m["bound"] for m in bench["end_to_end"]
                       if m["name"] == "setup_s")
    assert setup_bound == max(m["bound"] for m in bench["end_to_end"])


def test_self_time_is_duration_minus_children():
    tr = trace.Tracer()
    with tr.span("parent") as parent:
        with tr.span("child"):
            pass
        with tr.span("child"):
            pass
    kids = [s for s in tr.spans if s["parent"] == parent["id"]]
    assert len(kids) == 2
    assert trace.self_time(parent) == pytest.approx(
        trace.duration(parent) - sum(trace.duration(k) for k in kids))


def test_wrapping_records_and_restores():
    tr = trace.Tracer()
    orig = json.dumps
    with tr.wrapping([(json, "dumps", "json.dumps")]):
        json.dumps({})
        assert json.dumps is not orig
    assert json.dumps is orig
    assert len(tr.named("json.dumps")) == 1


def test_missing_package_fails_without_a_result(tmp_path):
    """A directory with only the benchmark files: non-zero exit, no JSON."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "mixed",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


SMALL = {"mixed": 120, "text_html": 600, "chunked_ranked": 300}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_every_layer_that_runs(workload):
    result, provenance = harness.run(ROOT, workload, seed=3, seconds=0.0,
                                     traced=True, n_docs=SMALL[workload])
    assert result["correct"] and result["failed"] == 0
    values = result["metrics"]
    assert set(values) == set(metrics.PER_LAYER)
    for name in metrics.runs_in(workload):
        v = values[name]["value"]
        assert v is not None and math.isfinite(v), name
        if values[name]["unit"] in TIME_UNITS and name not in MAY_BE_ZERO:
            assert v != 0.0, f"{name} reads 0 on {workload}"
    assert values["trace.e2e_wall_s"]["value"] > 0
    assert values["trace.layer_sum_s"]["value"] > 0
    assert provenance["input"]["docs"] == SMALL[workload]
