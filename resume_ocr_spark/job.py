"""Exit codes and the refusal path shared by every ``tools/submit_*.py`` job.

    0  success
    1  ALL_FAILED     the run completed but every document failed
    2  INVALID        invalid arguments or input schema; nothing written
    3  UNREACHABLE    an input the run needs is not there
    4  NOTHING_TO_DO  the input yields nothing to do (empty corpus, zero
                      words, no match); refused rather than writing an
                      empty-but-plausible output tree

A job gets its session from ``get_spark`` (re-exported from ``session``)
and refuses by raising :class:`Refused`; its ``main()``, wrapped in
:func:`entry`, prints the message to stderr and returns the code."""

from __future__ import annotations

import argparse
import functools
import sys

from .session import get_spark  # noqa: F401 — re-exported for the jobs

ALL_FAILED, INVALID, UNREACHABLE, NOTHING_TO_DO = 1, 2, 3, 4


class Refused(Exception):
    def __init__(self, code: int, message: str):
        super().__init__(message)
        self.code = code


def entry(main):
    @functools.wraps(main)
    def run() -> int:
        try:
            return main()
        except Refused as r:
            print(r, file=sys.stderr)
            return r.code

    return run


def arg_parser() -> argparse.ArgumentParser:
    """--input/--output plus the id and text columns most jobs read."""
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    return ap


def require_columns(df, cols, what: str = "input") -> None:
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise Refused(INVALID, f"{what} is missing column(s) {missing}")
