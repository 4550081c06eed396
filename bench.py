"""The BASELINE.json metric, through perfbench. Prints ONE JSON line.

    python bench.py

Runs perfbench's ``mixed`` workload (the BASELINE doc mix in exact
proportions, including the 1% skew tail) at BASELINE scale: 48,000 docs,
seed 42, on local[nproc].

  - ``value``: extraction docs/sec, the median over at least a minute of
    read warehouse → extract → parquet jobs, after perfbench's set-up and
    untimed warm-up job;
  - ``span_match``: every doc of the last timed job's output against the
    single-node oracle. ``rate`` compares the north-rule fields (kind,
    text, media_ref, offset), ``strict_rate`` also error and ocr_pages;
  - ``scaling``: perfbench's local[1] → local[nproc] efficiency over half
    the warehouse buckets (the sandbox stand-in for N → 4N executors on a
    4-core host; see BASELINE.md).

Set-up, the oracle check and the scaling pair are most of a full run's
wall: 626 s on a 4-core host.
"""

from __future__ import annotations

import json
import os
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
N_DOCS = 48_000
SEED = 42
WINDOW_S = 60.0
NORTH_FIELDS = 4  # kind, text, media_ref, offset: the leading SPAN_FIELDS


def span_match(spark, out_dir: str, docs: list[dict], blobs: list[dict]
               ) -> dict:
    """Span-sequence exact match of every doc in ``docs``: the extraction
    output in ``out_dir`` against one oracle pass on nproc spawned
    processes."""
    from perfbench import check, inputs

    expected, _ = check.expected(docs, blobs, inputs.host_cpus())
    got = check.read_spans(spark, out_dir)
    n = len(expected)
    strict = n - check.span_failures(expected, got)
    north = sum(doc_id in got and [t[:NORTH_FIELDS] for t in got[doc_id]]
                == [t[:NORTH_FIELDS] for t in spans]
                for doc_id, spans in expected.items())
    return {"sampled": n, "exact": north, "rate": round(north / n, 6),
            "strict_exact": strict, "strict_rate": round(strict / n, 6)}


def main() -> None:
    from perfbench import harness

    t0 = time.perf_counter()
    run = harness.Run(ROOT, "mixed", seed=SEED, n_docs=N_DOCS)
    try:
        setup_s = run.setup()
        stats = run.timed_window(WINDOW_S)
        n_docs = len(run.inp.docs)
        e2e = harness.end_to_end(setup_s, stats, n_docs)
        matched = span_match(run.spark, stats[-1].out.out_dir, run.inp.docs,
                             run.inp.blobs)
        run.sample_load("checked")
        efficiency = harness.scaling(run)
        run.sample_load("scaled")
    finally:
        run.close()
    wall_s = round(n_docs / e2e["docs_per_sec"], 3)
    print(json.dumps({
        "metric": f"extraction docs/sec @ local[{run.cpus}]",
        "value": round(e2e["docs_per_sec"], 2),
        "unit": "docs/sec",
        "queries": {"extract_pipeline": wall_s},
        "sf": None,
        "bench_total_sec": round(time.perf_counter() - t0, 1),
        "extraction": {"n_docs": n_docs, "wall_sec": wall_s,
                       "cpu_ms_per_doc": round(e2e["cpu_ms_per_doc"], 3),
                       "setup_s": round(setup_s, 1)},
        "span_match": matched,
        "scaling": {"cores_low": 1, "cores_high": run.cpus,
                    "scaling_efficiency": round(efficiency, 3)},
        # loadavg counts every tenant's runnable threads; a phase whose
        # load1 or steal_ticks jumped ran while co-tenants held the cores
        "host_load": {"cpus_visible": run.cpus, "samples": run.loads},
    }))


if __name__ == "__main__":
    main()
