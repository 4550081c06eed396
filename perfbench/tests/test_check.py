"""The output check is not vacuous: on a real run it passes, and a planted
divergence — a dropped span, a missing row, a swapped top-K slot — makes
``failed`` > 0. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import os

import pytest

from perfbench import check, harness

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_span_failures_count_missing_and_divergent_docs():
    expected = {"a": [("text", "x", "", 0, None, 0)],
                "b": [("html", "y", "", 0, None, 0)]}
    assert check.span_failures(expected, copy.deepcopy(expected)) == 0
    assert check.span_failures(expected, {"a": expected["a"]}) == 1
    changed = copy.deepcopy(expected)
    changed["b"] = [("html", "y", "", 0, "empty file", 0)]
    assert check.span_failures(expected, changed) == 1


def test_top_failures_count_each_slot():
    assert check.top_failures(["a", "b", "c"], ["a", "b", "c"]) == 0
    assert check.top_failures(["a", "b", "c"], ["b", "a", "c"]) == 2
    assert check.top_failures(["a", "b", "c"], ["a", "b"]) == 1


@pytest.fixture(scope="module")
def ranked_run():
    run = harness.Run(ROOT, "chunked_ranked", seed=5, n_docs=120)
    run.setup()
    yield run, run.timed_window(0.0)[-1].out
    run.close()


def test_clean_run_passes(ranked_run):
    run, out = ranked_run
    attempted, failed = run.check(out)
    assert attempted == len(run.inp.docs) + 5 + 2
    assert failed == 0


def test_planted_span_divergence_fails(ranked_run):
    run, out = ranked_run
    saved = copy.deepcopy(run.inp.docs)
    try:
        victim = next(d for d in run.inp.docs if len(d["spans"]) > 1)
        victim["spans"].pop()
        assert run.check(out)[1] >= 1
    finally:
        run.inp.docs = saved


def test_planted_top_k_divergence_fails(ranked_run):
    run, out = ranked_run
    assert len(out.top) == 5
    swapped = copy.copy(out)
    swapped.top = [out.top[1], out.top[0]] + out.top[2:]
    assert run.check(swapped)[1] == 2
