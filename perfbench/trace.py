"""Tracing for the per-layer run: in-memory spans with self time, function
wrappers for the single-process codec replay, and Spark's event log.

Nothing here touches package code: codec layers are timed by swapping the
named public functions on their modules for the length of the replay, and
Spark's ``EventLoggingListener`` is attached to the live context only
around the traced jobs.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time


class Tracer:
    """Spans kept in memory. A span's self time is its duration minus the
    durations of its direct children."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "parent": self._stack[-1]["id"] if self._stack
               else None, "id": len(self.spans), "start": time.perf_counter(),
               "end": None, "children_s": 0.0, "error": False, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        except BaseException:
            rec["error"] = True
            raise
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._stack[-1]["children_s"] += rec["end"] - rec["start"]

    @contextlib.contextmanager
    def wrapping(self, targets):
        """Swap each ``(module, attr, span_name)`` for a spanned wrapper."""
        saved = []
        try:
            for module, attr, name in targets:
                orig = getattr(module, attr)
                saved.append((module, attr, orig))
                setattr(module, attr, self._wrapped(orig, name))
            yield
        finally:
            for module, attr, orig in reversed(saved):
                setattr(module, attr, orig)

    def _wrapped(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return wrapper

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


def self_time(rec: dict) -> float:
    return duration(rec) - rec["children_s"]


def total_self(spans: list[dict]) -> float:
    return sum(self_time(s) for s in spans)


# ---------------------------------------------------------------- event log

class EventLog:
    """Spark's own event log, attached to a running context for the
    duration of a ``with`` block; ``events`` holds the parsed records."""

    def __init__(self, spark, log_dir: str, name: str):
        self.spark = spark
        self.log_dir = log_dir
        self.name = name
        self.events: list[dict] = []

    def __enter__(self) -> "EventLog":
        os.makedirs(self.log_dir, exist_ok=True)
        sc = self.spark.sparkContext
        jvm, jsc = sc._jvm, sc._jsc.sc()
        # one plain JSON-lines file: no rolling directory, no zstd
        conf = (jsc.conf().clone()
                .set("spark.eventLog.compress", "false")
                .set("spark.eventLog.rolling.enabled", "false")
                .set("spark.eventLog.overwrite", "true"))
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self.name, jsc.applicationAttemptId(),
            jvm.java.net.URI("file://" + self.log_dir), conf)
        self._listener.start()
        jsc.addSparkListener(self._listener)
        return self

    def __exit__(self, *exc) -> None:
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(self._listener)
        self._listener.stop()
        for path in glob.glob(os.path.join(self.log_dir, self.name + "*")):
            with open(path) as fh:
                self.events.extend(json.loads(line) for line in fh if line.strip())

    def job_stages(self) -> dict[str, set[int]]:
        """Stage ids per job description (``SparkContext.setJobDescription``)."""
        out: dict[str, set[int]] = {}
        for ev in self.events:
            if ev.get("Event") == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                out.setdefault(desc or "", set()).update(ev.get("Stage IDs", []))
        return out

    def tasks(self, stages: set[int]) -> list[dict]:
        return [ev for ev in self.events
                if ev.get("Event") == "SparkListenerTaskEnd"
                and ev.get("Stage ID") in stages]


def task_totals(tasks: list[dict]) -> dict[str, float]:
    """Shuffle bytes written, JVM GC ms, bytes sent to Python workers."""
    shuffle = gc = py_sent = 0.0
    for ev in tasks:
        m = ev.get("Task Metrics") or {}
        shuffle += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        gc += m.get("JVM GC Time", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            if acc.get("Name") == "data sent to Python workers":
                py_sent += float(acc.get("Update") or 0)
    return {"shuffle_bytes": shuffle, "gc_ms": gc, "py_bytes": py_sent}


def heaviest_stage_skew(tasks: list[dict]) -> float:
    """max ÷ median task run time of the stage with the most run time."""
    by_stage: dict[int, list[float]] = {}
    for ev in tasks:
        run = (ev.get("Task Metrics") or {}).get("Executor Run Time", 0)
        by_stage.setdefault(ev["Stage ID"], []).append(float(run))
    if not by_stage:
        return 0.0
    runs = max(by_stage.values(), key=sum)
    med = statistics.median(runs)
    return max(runs) / med if med else 0.0
