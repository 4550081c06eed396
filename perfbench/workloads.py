"""The three workloads: their inputs, their timed job and their check.

A timed job starts at its first call into the package and ends when its
last output file is written.
"""

from __future__ import annotations

import contextlib
import os
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from resume_ocr_spark import pipeline, warehouse
from resume_ocr_spark.config import TOP_K, WAREHOUSE_BUCKETS
from resume_ocr_spark.operators import extract

from . import check, inputs

RUN_ID = "perfbench"


@dataclass
class Inputs:
    docs: list[dict]
    blobs: list[dict]
    query: str | None = None


@dataclass
class JobOutput:
    out_dir: str
    top: list[str] = field(default_factory=list)
    summary_docs: int = 0


def read_warehouse(spark, wh_root: str, buckets: list[int] | None = None):
    """(documents_raw, media_blobs, broadcast_blobs): the blob dictionary
    is broadcast under the same on-disk size rule as
    pipeline.run_extraction."""
    blob_dir = os.path.join(wh_root, "media_blobs", "data")
    size = sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(blob_dir) for f in fs)
    return (warehouse.read_table(spark, wh_root, "documents_raw", buckets),
            warehouse.read_table(spark, wh_root, "media_blobs"),
            size < extract.blob_broadcast_cutoff(spark))


def extract_to_parquet(spark, wh_root: str, out_dir: str,
                       buckets: list[int] | None = None) -> None:
    docs, blobs, broadcast = read_warehouse(spark, wh_root, buckets)
    extract.extract_documents(docs, blobs, broadcast_blobs=broadcast
                              ).write.mode("overwrite").parquet(out_dir)


class Workload:
    name = ""
    n_docs = 0

    def __init__(self, n_docs: int | None = None):
        self.n_docs = n_docs or self.n_docs

    def make_inputs(self, seed: int) -> Inputs:
        raise NotImplementedError

    def job(self, spark, wh_root: str, out_dir: str, inp: Inputs,
            tracer=None) -> JobOutput:
        """One timed job; with a ``tracer``, its phases are recorded as
        spans."""
        raise NotImplementedError

    def extracted_dir(self, out: JobOutput) -> str:
        """Where the job left its documents_extracted rows."""
        return out.out_dir

    def check(self, spark, out: JobOutput, inp: Inputs, workers: int
              ) -> tuple[int, int]:
        """(attempted, failed) over every doc of the input."""
        spans, _ = check.expected(inp.docs, inp.blobs, workers)
        got = check.read_spans(spark, self.extracted_dir(out))
        return len(spans), check.span_failures(spans, got)


class ExtractWorkload(Workload):
    """documents_raw → extract.extract_documents → parquet."""

    def job(self, spark, wh_root, out_dir, inp, tracer=None):
        extract_to_parquet(spark, wh_root, out_dir)
        return JobOutput(out_dir)


class Mixed(ExtractWorkload):
    name = "mixed"
    n_docs = 800

    def make_inputs(self, seed):
        return Inputs(*inputs.mixed_corpus(self.n_docs, seed))


class TextHtml(ExtractWorkload):
    name = "text_html"
    n_docs = 10000

    def make_inputs(self, seed):
        return Inputs(*inputs.text_html_corpus(self.n_docs, seed))


class ChunkedRanked(Workload):
    """pipeline.run_extraction in chunks of several buckets, the ranked
    analysis written once, top-K read back, then a resume call on the same
    run id that must find every bucket done."""

    name = "chunked_ranked"
    n_docs = 2000
    chunk_size = WAREHOUSE_BUCKETS // 2

    def make_inputs(self, seed):
        return Inputs(*inputs.text_html_corpus(self.n_docs, seed),
                      query=inputs.job_query(seed))

    def job(self, spark, wh_root, out_dir, inp, tracer=None):
        def span(name):
            return tracer.span(name) if tracer else contextlib.nullcontext()

        with span("pipeline.run_extraction"):
            analyzed = pipeline.run_extraction(
                spark, wh_root, out_dir, RUN_ID, query=inp.query,
                chunk_size=self.chunk_size)
        ranked_dir = os.path.join(out_dir, "resumes_analyzed")
        with span("analyze.write"):
            analyzed.write.mode("overwrite").parquet(ranked_dir)
        with span("pipeline.top_read"):
            top = [r["doc_id"] for r in spark.read.parquet(ranked_dir)
                   .where(F.col("rank").isNotNull()).orderBy("rank")
                   .select("doc_id").collect()]
        with span("pipeline.run_summary"):
            summary = pipeline.run_summary(spark, out_dir, RUN_ID).collect()
        with span("pipeline.resume"):
            pipeline.run_extraction(spark, wh_root, out_dir, RUN_ID,
                                    query=inp.query, chunk_size=self.chunk_size)
        return JobOutput(out_dir, top=top,
                         summary_docs=int(summary[0]["docs_processed"]))

    def extracted_dir(self, out):
        return os.path.join(out.out_dir, "documents_extracted", "data")

    def check(self, spark, out, inp, workers):
        spans, top = check.expected(inp.docs, inp.blobs, workers, inp.query)
        got = check.read_spans(spark, self.extracted_dir(out))
        attempted = len(spans)
        failed = check.span_failures(spans, got)
        failed += check.top_failures(top, out.top)
        # run-level checks: the summary saw every doc, and the resume call
        # appended no marker (one marker row per bucket, written once)
        markers = spark.read.parquet(
            os.path.join(out.out_dir, "run_metrics", "data")).count()
        failed += (out.summary_docs != len(inp.docs)) + (
            markers != WAREHOUSE_BUCKETS)
        return attempted + TOP_K + 2, failed


WORKLOADS = {w.name: w for w in (Mixed, TextHtml, ChunkedRanked)}
