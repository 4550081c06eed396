"""The one harness every ``tools/submit_*.py`` job runs under.

A job module builds its argument parser with :func:`parser` (or
:func:`arg_parser`), which names the job and adds the shared
``--log-dir``, defines ``run(args) -> dict``, which returns the run's
audit, and sets ``main = harness(ap, run)``. :func:`main` parses the
arguments, opens the rotating app-log sink in ``--log-dir``, logs
``run_start`` and then ``run_complete``, ``run_refused`` or ``run_failed``
under one run id (``--run-id`` where the job has one, else a generated
one), prints the audit as one JSON line on stdout and returns the code:

    0  success
    1  ALL_FAILED     the run completed but every document failed
    2  INVALID        invalid arguments or input schema; nothing written
    3  UNREACHABLE    an input the run needs is not there
    4  NOTHING_TO_DO  the input yields nothing to do (empty corpus, zero
                      words, no match); refused rather than writing an
                      empty-but-plausible output tree

A job gets its session from ``get_spark`` (re-exported from ``session``)
and refuses by raising :class:`Refused`: the message goes to stderr, and
an audit the refusal carries is printed as a success's would be."""

from __future__ import annotations

import argparse
import functools
import json
import sys
import time
import uuid

from . import applog
from .session import get_spark  # noqa: F401 — re-exported for the jobs

ALL_FAILED, INVALID, UNREACHABLE, NOTHING_TO_DO = 1, 2, 3, 4


class Refused(Exception):
    def __init__(self, code: int, message: str, audit: dict | None = None):
        super().__init__(message)
        self.code = code
        self.audit = audit


def main(ap, run, argv=None) -> int:
    args = ap.parse_args(argv)
    applog.setup_logging(args.log_dir)
    run_id = getattr(args, "run_id", None) or uuid.uuid4().hex

    def log(event, **fields):
        applog.log_run_event(run_id, event, job=ap.prog, **fields)

    log("run_start", args=json.dumps(vars(args)))
    t0 = time.monotonic()
    try:
        audit = run(args)
    except Refused as r:
        log("run_refused", code=r.code, reason=r, audit=json.dumps(r.audit))
        if r.audit is not None:
            print(json.dumps(r.audit))
        print(r, file=sys.stderr)
        return r.code
    except BaseException as exc:
        log("run_failed", error=repr(exc))
        raise
    log("run_complete", wall_s=round(time.monotonic() - t0, 3),
        audit=json.dumps(audit))
    print(json.dumps(audit))
    return 0


def harness(ap, run):
    """A job module's ``main(argv=None) -> int``."""
    return functools.partial(main, ap, run)


def parser(prog: str) -> argparse.ArgumentParser:
    """The parser of the job ``prog``, with the shared ``--log-dir``."""
    ap = argparse.ArgumentParser(prog=prog)
    ap.add_argument("--log-dir", default="logs",
                    help="directory of the rotating app.log run-event sink")
    return ap


def arg_parser(prog: str) -> argparse.ArgumentParser:
    """--input/--output plus the id and text columns most jobs read."""
    ap = parser(prog)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    return ap


def written(df, path: str):
    """Overwrite the parquet table at ``path`` with ``df`` and return the
    table as written, so what a job reports counts the files it wrote."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def require_columns(df, cols, what: str = "input") -> None:
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise Refused(INVALID, f"{what} is missing column(s) {missing}")
