"""One benchmark run: set up, time the workload's job for a fixed window,
check the outputs, and report medians. The traced run adds the per-layer
ledger on top of the same set-up."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import time
from dataclasses import dataclass

from resume_ocr_spark.config import WAREHOUSE_BUCKETS

from . import inputs, layers, metrics, proctree, spark_env, trace
from .workloads import WORKLOADS, ChunkedRanked, JobOutput, Workload

TRACED_JOB = "job.traced"


@dataclass
class JobStat:
    wall_s: float
    cpu_s: float
    peak_rss: int
    out: JobOutput


def timed_job(spark, wl: Workload, wh_root: str, out_dir: str, inp,
              tracer=None) -> JobStat:
    cpu0 = proctree.tree_cpu_s()
    with proctree.PeakRss() as rss:
        t0 = time.perf_counter()
        out = wl.job(spark, wh_root, out_dir, inp, tracer)
        wall = time.perf_counter() - t0
    return JobStat(wall, proctree.tree_cpu_s() - cpu0, rss.peak, out)


class Run:
    """State of one run: its work directory, session and phase log."""

    def __init__(self, repo_root: str, workload: str, seed: int,
                 n_docs: int | None = None):
        self.repo_root = repo_root
        self.wl = WORKLOADS[workload](n_docs)
        self.seed = seed
        self.cpus = inputs.host_cpus()
        self.work = os.path.join(repo_root, ".perfbench",
                                 f"{workload}-{seed}-{os.getpid()}")
        self.spark = None
        self._saved_env = None
        self.loads: list[dict] = []
        self.phases: dict[str, float] = {}
        self._outs = 0

    def sample_load(self, phase: str) -> None:
        """Load averages and the host's cumulative steal ticks: a phase
        whose steal grew ran while co-tenants held the physical cores."""
        l1, l5, l15 = os.getloadavg()
        with open("/proc/stat") as fh:
            steal = int(fh.readline().split()[8])
        self.loads.append({"phase": phase, "load1": l1, "load5": l5,
                           "load15": l15, "steal_ticks": steal})

    def phase(self, name: str, fn, *args):
        t0 = time.perf_counter()
        result = fn(*args)
        self.phases[name] = time.perf_counter() - t0
        return result

    def out_dir(self) -> str:
        self._outs += 1
        return os.path.join(self.work, "out", str(self._outs))

    def setup(self) -> float:
        """Session start, input generation, warehouse build and warm-up;
        returns the seconds they took."""
        from resume_ocr_spark import warehouse

        t0 = time.perf_counter()
        self._saved_env = spark_env.confine(self.work, self.repo_root)
        self.sample_load("start")
        self.spark = self.phase("session_start", spark_env.start, self.cpus)
        self.inp = self.phase("inputs", self.wl.make_inputs, self.seed)
        self.wh = os.path.join(self.work, "warehouse")
        self.phase("warehouse_build", warehouse.build_warehouse, self.spark,
                   self.wh, self.inp.docs, self.inp.blobs)
        # one untimed job pays Python-worker start-up and class loading.
        # Warm-up never quite ends: every job plans a new query and
        # JIT-compiles its generated code again, about a third of a warm
        # mixed job's CPU.
        self.phases["warmup"] = self.job().wall_s
        self.sample_load("setup_done")
        return time.perf_counter() - t0

    def job(self, tracer=None) -> JobStat:
        return timed_job(self.spark, self.wl, self.wh, self.out_dir(),
                         self.inp, tracer)

    def timed_window(self, seconds: float) -> list[JobStat]:
        """Jobs back to back until ``seconds`` of job time have passed."""
        stats: list[JobStat] = []
        while not stats or sum(s.wall_s for s in stats) < seconds:
            stats.append(self.job())
        self.sample_load("timed_done")
        return stats

    def check(self, out: JobOutput) -> tuple[int, int]:
        attempted, failed = self.wl.check(self.spark, out, self.inp, self.cpus)
        self.sample_load("checked")
        return attempted, failed

    def close(self) -> None:
        spark_env.shutdown(self.spark)
        self.spark = None
        if self._saved_env is not None:
            spark_env.release(self._saved_env)
            self._saved_env = None
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:  # another run's directory or a trace file is there
            pass

    def provenance(self) -> dict:
        import pyspark

        return {
            "workload": self.wl.name, "seed": self.seed, "nproc": self.cpus,
            "git_commit": _git_commit(self.repo_root),
            "pyspark": pyspark.__version__, "java": self.spark.sparkContext
            ._jvm.java.lang.System.getProperty("java.vm.version"),
            "input": inputs.describe(self.inp.docs, self.inp.blobs),
            "loadavg": self.loads,
            "phases_s": self.phases,
        }


def end_to_end(setup_s: float, stats: list[JobStat], n_docs: int) -> dict:
    return {
        "docs_per_sec": statistics.median(n_docs / s.wall_s for s in stats),
        "cpu_ms_per_doc": statistics.median(
            1000 * s.cpu_s / n_docs for s in stats),
        "peak_rss_mb": statistics.median(s.peak_rss for s in stats) / 2**20,
        "setup_s": setup_s,
    }


def per_layer(run: Run, failed_frac: float) -> dict:
    """Every PER_LAYER metric; layers this workload never runs read 0."""
    wl, inp, spark = run.wl, run.inp, run.spark
    n_docs = len(inp.docs)
    spans_by_kind = inputs.describe(inp.docs, inp.blobs)["spans_by_kind"]
    m = dict.fromkeys(metrics.PER_LAYER, 0.0)
    m["session.start_s"] = run.phases["session_start"]
    m["warehouse.build_s"] = run.phases["warehouse_build"]
    m["check.failed_frac"] = failed_frac

    t0 = time.perf_counter()
    codec, replay_cpu = layers.replay(inp.docs, inp.blobs, inp.query)
    run.phases["replay"] = time.perf_counter() - t0
    m.update(codec)
    run.sample_load("replayed")

    tracer = trace.Tracer()
    jobs = layers.SparkJobs(spark, tracer, os.path.join(run.work, "layers"))
    ranked = isinstance(wl, ChunkedRanked)
    t0 = time.perf_counter()
    # the tracing overhead's baseline: an untraced job right before the
    # traced one, since the JVM keeps warming from job to job
    untraced = run.job()
    with trace.EventLog(spark, os.path.join(run.work, "eventlog"),
                        f"perfbench-{wl.name}") as log:
        from resume_ocr_spark import pipeline

        with tracer.wrapping([(pipeline, "completed_buckets",
                               "pipeline.completed_buckets")]):
            traced = jobs.run(TRACED_JOB, lambda: run.job(tracer))
        # the extraction workloads' job is the extract_documents plan itself
        extract_m, layer_sum = layers.extract_layers(
            jobs, run.wh, n_docs, spans_by_kind,
            plan="plan.parquet" if ranked else TRACED_JOB)
        m.update(extract_m)
        m.update(layers.udf_taxes(jobs, replay_cpu))
        if ranked:
            m.update(layers.pipeline_layers(jobs, run.wh, inp.query,
                                            wl.chunk_size, tracer))
            m.update(layers.analyze_layers(
                jobs, wl.extracted_dir(traced.out), inp.query, n_docs))
            layer_sum += ranked_layer_sum(jobs, tracer, m, n_docs)
    py_spans = sum(spans_by_kind.get(k, 0) for k in ("html",) + layers.MEDIA)
    m.update(layers.event_log_metrics(log, TRACED_JOB, n_docs, py_spans))
    m["trace.layer_sum_s"] = layer_sum
    m["trace.e2e_wall_s"] = traced.wall_s
    m["trace.layer_sum_ratio"] = layer_sum / traced.wall_s
    m["trace.overhead_s"] = traced.wall_s - untraced.wall_s
    run.phases["spark_layers"] = time.perf_counter() - t0
    run.sample_load("layers_done")

    if "session.scaling_eff_1to4" in metrics.runs_in(wl.name):
        t0 = time.perf_counter()
        m["session.scaling_eff_1to4"] = scaling(run)
        run.phases["scaling"] = time.perf_counter() - t0
    _write_trace(run, tracer, m)
    return m


def ranked_layer_sum(jobs: layers.SparkJobs, tracer: trace.Tracer, m: dict,
                     n_docs: int) -> float:
    """Self time the chunked job spends beyond one extraction pass: the
    extra chunks' fixed cost, the ranked analysis, the top-K read, the
    summary and the resume call."""
    extra_chunks = (trace.duration(tracer.named("pipeline.run_extraction")[0])
                    - jobs.wall("pipeline.one_job"))
    span_s = sum(trace.duration(tracer.named(n)[0]) for n in (
        "pipeline.top_read", "pipeline.run_summary", "pipeline.resume"))
    return (extra_chunks + span_s
            + m["analyze.ranked_ms_per_doc"] * n_docs / 1000)


def scaling(run: Run) -> float:
    """(throughput at local[nproc] ÷ throughput at local[1]) ÷ nproc for
    the workload's extraction over half the buckets, identical input at
    both levels. The warm session measures local[nproc]; the fresh
    local[1] session first runs one bucket to start its Python worker."""
    half = list(range(WAREHOUSE_BUCKETS // 2))
    high = min(layers.scaling_job(run.spark, run.wh, run.out_dir(), half)
               for _ in range(2))
    run.spark.stop()
    run.spark = spark_env.start(1)
    layers.scaling_job(run.spark, run.wh, run.out_dir(), half[:1])
    low = layers.scaling_job(run.spark, run.wh, run.out_dir(), half)
    return low / high / run.cpus


def _write_trace(run: Run, tracer: trace.Tracer, m: dict) -> None:
    """Spans, provenance and the ledger, kept in the checkout after the run."""
    path = os.path.join(run.repo_root, ".perfbench", "traces",
                        f"{run.wl.name}-{run.seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"provenance": run.provenance(), "metrics": m,
                   "not_run": [n for n in metrics.PER_LAYER
                               if n not in metrics.runs_in(run.wl.name)],
                   "spans": tracer.spans}, fh, indent=1, default=str)


def run(repo_root: str, workload: str, seed: int, seconds: float,
        traced: bool, n_docs: int | None = None) -> tuple[dict, dict]:
    """One run; returns the result object (the last line of the output)
    and the run's provenance."""
    r = Run(repo_root, workload, seed, n_docs)
    try:
        setup_s = r.setup()
        stats = r.timed_window(seconds)
        attempted, failed = r.check(stats[-1].out)
        if traced:
            values = per_layer(r, failed / attempted)
            specs = {n: u for n, (u, _, _) in metrics.PER_LAYER.items()}
        else:
            values = end_to_end(setup_s, stats, len(r.inp.docs))
            specs = {n: u for n, (u, _) in metrics.END_TO_END.items()}
        provenance = r.provenance()
    finally:
        r.close()
    provenance["jobs"] = [{"wall_s": s.wall_s, "cpu_s": s.cpu_s,
                           "peak_rss_mb": s.peak_rss / 2**20} for s in stats]
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(values[n]), "unit": u}
                    for n, u in specs.items()},
    }, provenance


def _git_commit(root: str) -> str:
    try:
        return subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"
