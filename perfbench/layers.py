"""Per-layer measurements for the traced run.

Spark layers: each public function gets a materialized input and drains
to Spark's ``noop`` sink; its cost is that job minus the scan of its input.
Codec and text layers: a single-process replay of the workload's spans
through ``oracle.extract_span`` (and, when ranked, ``oracle.analyze_doc``)
with the named public functions wrapped, so self time is parent minus
children. Shuffle, GC and Python-transfer bytes come from the event log.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from resume_ocr_spark import oracle, pipeline, textproc
from resume_ocr_spark.config import WAREHOUSE_BUCKETS
from resume_ocr_spark.formats import htmlcodec, imagecodec, pdfcodec, realfont
from resume_ocr_spark.operators import analyze, extract

from . import proctree, trace
from .workloads import extract_to_parquet, read_warehouse

MEDIA = ("pdf", "image")
# a noop layer job runs up to NOOP_REPEATS times, until its runs have taken
# NOOP_REPEAT_BUDGET_S, and its fastest run counts
NOOP_REPEATS = 3
NOOP_REPEAT_BUDGET_S = 1.0
CODEC_TARGETS = (
    (imagecodec, "decompress_payload", "imagecodec.decompress"),
    (imagecodec, "decode_image", "imagecodec.decode"),
    (imagecodec, "deskew", "imagecodec.deskew"),
    (imagecodec, "median3", "imagecodec.median3"),
    (imagecodec, "adaptive_threshold", "imagecodec.threshold"),
    (imagecodec, "ocr_image", "imagecodec.match"),
    (realfont, "recognize_page", "realfont.recognize"),
    (pdfcodec, "extract_text", "pdfcodec.extract_text"),
    (pdfcodec, "extract_page_images", "pdfcodec.page_images"),
    (htmlcodec, "strip_boilerplate", "htmlcodec.strip"),
)
TEXT_TARGETS = (
    (textproc, "is_resume", "textproc.is_resume"),
    (textproc, "segment_sections", "textproc.segment"),
    (textproc, "summarize", "textproc.summarize"),
    (textproc, "score_against_query", "textproc.score"),
)


def _per(total: float, n: float) -> float:
    return total / n if n else 0.0


# ------------------------------------------------------------------ replay

def replay(docs: list[dict], blobs: list[dict], query: str | None = None
           ) -> tuple[dict[str, float], dict[str, float]]:
    """Codec/oracle (and, with a query, textproc) layer metrics, plus the
    replay's CPU seconds per kind (the udf-tax denominators)."""
    payload = {b["media_ref"]: b["payload"] for b in blobs}
    _warm_codecs(docs, payload)
    tr = trace.Tracer()
    cpu = {"text": 0.0, "html": 0.0, "pdf": 0.0, "image": 0.0}
    n_docs, pages, errors, spans_by_kind = len(docs), 0, 0, dict.fromkeys(cpu, 0)
    extracted = []
    with tr.wrapping(CODEC_TARGETS):
        for doc in docs:
            out = []
            for s in doc["spans"]:
                kind = s["kind"]
                c0 = time.process_time()
                with tr.span("oracle." + kind):
                    text, err, n = oracle.extract_span(
                        kind, s["text"], s["media_ref"],
                        payload.get(s["media_ref"]))
                cpu[kind] = cpu.get(kind, 0.0) + time.process_time() - c0
                spans_by_kind[kind] = spans_by_kind.get(kind, 0) + 1
                pages += n
                errors += err is not None
                out.append({"kind": kind, "text": text,
                            "media_ref": s["media_ref"], "offset": s["offset"],
                            "error": err, "ocr_pages": n})
            extracted.append(sorted(out, key=oracle.RESULT_SORT_KEY))
    m = _codec_metrics(tr, spans_by_kind)
    n_spans = sum(spans_by_kind.values())
    m["oracle.ocr_pages_per_doc"] = _per(pages, n_docs)
    m["oracle.error_span_frac"] = _per(errors, n_spans)
    if query:
        tr = trace.Tracer()
        with tr.wrapping(TEXT_TARGETS):
            for spans in extracted:
                oracle.analyze_doc(spans, query)
        for name in ("is_resume", "segment", "summarize", "score"):
            m[f"textproc.{name}_ms_per_doc"] = 1000 * _per(
                trace.total_self(tr.named(f"textproc.{name}")), n_docs)
    return m, cpu


def _warm_codecs(docs: list[dict], payload: dict[str, bytes]) -> None:
    """Build the OCR prototypes outside the traced replay (the real-font
    tables stay lazy: the grid recognizer accepts every engine page)."""
    seen = set()
    for doc in docs:
        for s in doc["spans"]:
            if s["kind"] in MEDIA and s["kind"] not in seen:
                seen.add(s["kind"])
                oracle.extract_span(s["kind"], "", s["media_ref"],
                                    payload.get(s["media_ref"]))


def _codec_metrics(tr: trace.Tracer, spans_by_kind: dict[str, int]
                   ) -> dict[str, float]:
    m = {}
    for kind in ("image", "pdf", "html"):
        m[f"oracle.{kind}_ms_per_span"] = 1000 * _per(
            sum(trace.duration(s) for s in tr.named("oracle." + kind)),
            spans_by_kind.get(kind, 0))
    ocr = tr.named("imagecodec.match")
    n_pages = len(ocr)
    n_media = sum(spans_by_kind.get(k, 0) for k in MEDIA)
    n_pdf = spans_by_kind.get("pdf", 0)

    def ms(name: str, per: int) -> float:
        return 1000 * _per(trace.total_self(tr.named(name)), per)

    m["imagecodec.decompress_ms_per_span"] = ms("imagecodec.decompress", n_media)
    for layer in ("decode", "deskew", "median3", "threshold", "match"):
        m[f"imagecodec.{layer}_ms_per_page"] = ms(f"imagecodec.{layer}", n_pages)
    recog = tr.named("realfont.recognize")
    m["realfont.recognize_ms_per_call"] = ms("realfont.recognize", len(recog))
    fell_back = {s["parent"] for s in recog}
    m["imagecodec.grid_hit_frac"] = _per(
        sum(1 for s in ocr if s["id"] not in fell_back and not s["error"]),
        n_pages)
    m["pdfcodec.extract_text_ms_per_span"] = ms("pdfcodec.extract_text", n_pdf)
    m["pdfcodec.page_images_ms_per_span"] = ms("pdfcodec.page_images", n_pdf)
    rasterized = {s["parent"] for s in tr.named("pdfcodec.page_images")}
    m["pdfcodec.direct_text_useful_frac"] = _per(
        sum(1 for s in tr.named("oracle.pdf")
            if s["id"] not in rasterized and not s["error"]), n_pdf)
    m["htmlcodec.strip_ms_per_span"] = ms("htmlcodec.strip",
                                          spans_by_kind.get("html", 0))
    return m


# ------------------------------------------------------------ spark layers

class SparkJobs:
    """Runs labelled Spark actions, each inside a tracer span that records
    its wall and process-tree CPU; the label becomes the job description,
    which is how event-log stages are matched back to layers."""

    def __init__(self, spark, tracer: trace.Tracer, work_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.work_dir = work_dir
        self.rec: dict[str, dict] = {}

    def run(self, name: str, action):
        """Run ``action`` under ``name``; of several runs under one name,
        the fastest is the one recorded."""
        self.spark.sparkContext.setJobDescription(name)
        cpu0 = proctree.tree_cpu_s()
        try:
            with self.tracer.span(name) as rec:
                result = action()
        finally:
            self.spark.sparkContext.setJobDescription(None)
        rec["cpu_s"] = proctree.tree_cpu_s() - cpu0
        best = self.rec.get(name)
        if best is None or trace.duration(rec) < trace.duration(best):
            self.rec[name] = rec
        return result

    def noop(self, name: str, df) -> None:
        """Drain ``df`` to the noop sink, repeated while cheap: a cheap
        layer's self time is a difference of two jobs of a tenth of a
        second, the size of one job's scheduling jitter."""
        t0 = time.perf_counter()
        for _ in range(NOOP_REPEATS):
            self.run(name, lambda: df.write.format("noop").mode("overwrite")
                     .save())
            if time.perf_counter() - t0 > NOOP_REPEAT_BUDGET_S:
                break

    def materialize(self, name: str, df) -> str:
        path = os.path.join(self.work_dir, "mat", name)
        df.write.mode("overwrite").parquet(path)
        return path

    def wall(self, name: str) -> float:
        return trace.duration(self.rec[name])

    def cpu(self, name: str) -> float:
        return self.rec[name]["cpu_s"]


def extract_layers(jobs: SparkJobs, wh_root: str, n_docs: int,
                   spans_by_kind: dict[str, int], plan: str
                   ) -> tuple[dict[str, float], float]:
    """Layer jobs of the extract_documents plan, and the sum of their self
    times. ``plan`` labels the plan's run to parquet; it is run here
    unless the caller already ran it under that label."""
    spark = jobs.spark
    docs, blobs, broadcast = read_warehouse(spark, wh_root)
    if plan not in jobs.rec:
        jobs.run(plan, lambda: extract_to_parquet(
            spark, wh_root, os.path.join(jobs.work_dir, "plan")))
    jobs.noop("scan.docs", docs)
    jobs.noop("scan.blobs", blobs)
    jobs.noop("explode", extract.explode_spans(docs))

    spans_path = jobs.materialize("spans", extract.explode_spans(docs))
    kinds = {"text": ["text"], "html": ["html"], "media": list(MEDIA)}
    for layer, ks in kinds.items():
        part = spark.read.parquet(spans_path).where(F.col("kind").isin(ks))
        jobs.noop(f"scan.spans.{layer}", part)
        jobs.noop(f"extract.{layer}",
                  extract.extract_spans(part, blobs, broadcast))

    results_path = jobs.materialize("results", extract.extract_spans(
        spark.read.parquet(spans_path), blobs, broadcast))
    results = spark.read.parquet(results_path)
    doc_ids = docs.select("doc_id")
    jobs.noop("scan.results", results)
    jobs.noop("scan.doc_ids", doc_ids)
    jobs.noop("reassemble",
              extract.with_doc_text(extract.reassemble(doc_ids, results)))
    jobs.noop("plan.noop", extract.extract_documents(docs, blobs, broadcast))

    w = jobs.wall
    n_media = sum(spans_by_kind.get(k, 0) for k in MEDIA)
    self_s = {
        "scan": w("scan.docs") + w("scan.blobs"),
        "explode": w("explode") - w("scan.docs"),
        "text": w("extract.text") - w("scan.spans.text"),
        "html": w("extract.html") - w("scan.spans.html"),
        "media": w("extract.media") - w("scan.spans.media") - w("scan.blobs"),
        "reassemble": w("reassemble") - w("scan.results") - w("scan.doc_ids"),
        "write": w(plan) - w("plan.noop"),
    }
    m = {
        "warehouse.scan_ms_per_doc": 1000 * _per(self_s["scan"], n_docs),
        "extract.explode_ms_per_doc": 1000 * _per(self_s["explode"], n_docs),
        "extract.text_ms_per_span": 1000 * _per(
            self_s["text"], spans_by_kind.get("text", 0)),
        "extract.html_ms_per_span": 1000 * _per(
            self_s["html"], spans_by_kind.get("html", 0)),
        "extract.media_ms_per_span": 1000 * _per(self_s["media"], n_media),
        "extract.reassemble_ms_per_doc": 1000 * _per(
            self_s["reassemble"], n_docs),
        "extract.write_ms_per_doc": 1000 * _per(self_s["write"], n_docs),
    }
    return m, sum(self_s.values())


def udf_taxes(jobs: SparkJobs, replay_cpu: dict[str, float]) -> dict[str, float]:
    c = jobs.cpu
    media_cpu = c("extract.media") - c("scan.spans.media") - c("scan.blobs")
    html_cpu = c("extract.html") - c("scan.spans.html")
    return {
        "extract.media_udf_tax": _per(
            media_cpu, replay_cpu["pdf"] + replay_cpu["image"]),
        "extract.html_udf_tax": _per(html_cpu, replay_cpu["html"]),
    }


def event_log_metrics(log: trace.EventLog, job: str, n_docs: int,
                      py_spans: int) -> dict[str, float]:
    """Event-log totals over the stages of the jobs labelled ``job``, and
    the task skew of the media-only extraction."""
    stages = log.job_stages()
    main = trace.task_totals(log.tasks(stages.get(job, set())))
    media = log.tasks(stages.get("extract.media", set()))
    return {
        "spark.shuffle_bytes_per_doc": _per(main["shuffle_bytes"], n_docs),
        "spark.gc_ms_per_doc": _per(main["gc_ms"], n_docs),
        "spark.py_bytes_per_span": _per(main["py_bytes"], py_spans),
        "extract.media_task_skew": trace.heaviest_stage_skew(media),
    }


def pipeline_layers(jobs: SparkJobs, wh_root: str, query: str,
                    chunk_size: int, job_spans: trace.Tracer
                    ) -> dict[str, float]:
    """From the traced chunked job's spans plus one single-job extraction
    on the same warehouse."""
    out = os.path.join(jobs.work_dir, "one_job")
    jobs.run("pipeline.one_job", lambda: pipeline.run_extraction(
        jobs.spark, wh_root, out, "one_job", query=query))
    chunks = -(-WAREHOUSE_BUCKETS // chunk_size)
    chunked = trace.duration(job_spans.named("pipeline.run_extraction")[0])
    resume = job_spans.named("pipeline.resume")[0]
    marker_reads = [s for s in job_spans.named("pipeline.completed_buckets")
                    if s["parent"] == resume["id"]]
    return {
        "pipeline.chunk_fixed_s": (chunked - jobs.wall("pipeline.one_job"))
        / max(chunks - 1, 1),
        "pipeline.completed_buckets_ms": 1000 * sum(
            trace.duration(s) for s in marker_reads),
        "pipeline.resume_noop_s": trace.duration(resume),
        "pipeline.run_summary_ms": 1000 * trace.duration(
            job_spans.named("pipeline.run_summary")[0]),
    }


def analyze_layers(jobs: SparkJobs, extracted_dir: str, query: str,
                   n_docs: int) -> dict[str, float]:
    spark = jobs.spark
    ext = spark.read.parquet(extracted_dir).drop("bucket")
    jobs.noop("scan.extracted", ext)
    jobs.noop("analyze.classify", analyze.classify_resumes(ext))
    jobs.noop("analyze.fields", analyze.extract_fields(ext))
    jobs.noop("analyze.summary", analyze.analyze_documents(ext, query=None))
    jobs.noop("analyze.ranked", analyze.analyze_documents(ext, query=query))
    scored = spark.read.parquet(jobs.materialize(
        "analyzed", analyze.analyze_documents(ext, query=query).drop("rank")))
    jobs.noop("scan.analyzed", scored)
    jobs.noop("analyze.rank_top_k", analyze.rank_top_k(scored))
    w = jobs.wall
    scan = w("scan.extracted")
    top_k = w("analyze.rank_top_k") - w("scan.analyzed")
    return {
        "analyze.classify_ms_per_doc": 1000 * _per(
            w("analyze.classify") - scan, n_docs),
        "analyze.fields_ms_per_doc": 1000 * _per(
            w("analyze.fields") - scan, n_docs),
        "analyze.summary_ms_per_doc": 1000 * _per(
            w("analyze.summary") - scan, n_docs),
        "analyze.ranked_ms_per_doc": 1000 * _per(
            w("analyze.ranked") - scan, n_docs),
        "analyze.rank_top_k_ms": 1000 * top_k,
        "analyze.recompute_ratio": w("analyze.ranked") / (
            w("analyze.summary") + w("analyze.rank_top_k")),
    }


def scaling_job(spark, wh_root: str, out_dir: str, buckets: list[int]) -> float:
    """Wall of extract_documents → parquet over ``buckets``."""
    t0 = time.perf_counter()
    extract_to_parquet(spark, wh_root, out_dir, buckets)
    return time.perf_counter() - t0
