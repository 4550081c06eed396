"""Extraction benchmark entry point.

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 5 --trace 0

Run from the repository root. Builds its inputs from ``--seed``, sets up a
local[nproc] session, times the workload's job for ``--seconds`` of job
time, checks the outputs against the oracle and prints, as the last line,
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer ledger with
``--trace 1``. The line before it holds the run's provenance.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("mixed", "text_html", "chunked_ranked")


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import resume_ocr_spark
    except ImportError as exc:
        print(f"perfbench: the package is not in {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    # an installed copy elsewhere would be measured in place of the checkout
    if not os.path.abspath(resume_ocr_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: imported {resume_ocr_spark.__file__}, not the "
              f"package in {ROOT}", file=sys.stderr)
        return 2
    from perfbench import harness

    result, provenance = harness.run(ROOT, args.workload, args.seed,
                                     args.seconds, bool(args.trace))
    print(json.dumps(provenance))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
