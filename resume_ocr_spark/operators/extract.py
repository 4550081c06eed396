"""Distributed extraction: documents_raw → documents_extracted.

Spark-first redesign of the reference's per-file pipeline
(reference: app/services/analyze_service.py:93-118 fan-out,
app/services/ocr_service.py:20-127 extraction; SURVEY.md §3.1 stage map):

    read documents_raw (bucket-pruned)
      → posexplode spans                       (P2 analog: per-span rows)
      → split by branch                        (F5 kind dispatch)
        text  : pure Column ops (no Python); also routes null and
                unsupported kinds to their error rows
        html, pdf, image : one Python stage — repartition on
                (doc_id, offset) (span-level parallelism is the skew salt:
                a doc with 10^3 media spans spreads over the whole stage
                instead of pinning one task) with a LEFT join of
                media_blobs (broadcast when its files sum under
                blob_broadcast_cutoff, else a shuffle join of the media
                spans only; extract_spans measures and decides)
                → map_rows(oracle.extract_span)
      → unionByName
      → groupBy(doc_id) collect_list + array_sort(struct(offset, kind,
        media_ref, text, …))                   (order restored by explicit
                                                sort key, never row order)
      → left join doc ids (empty-span docs survive)

Both branches emit the same span-result shape; failures are error *values*
(error-as-data, reference: app/services/analyze_service.py:105-117). The
Python branch runs ``oracle.extract_span`` itself through ``map_rows``,
the one Arrow batch runner for every per-row Python UDF in the package
(extraction, analysis, media, curation and ingest operators).
"""

from __future__ import annotations

import functools
import os
import zipimport
from collections.abc import Callable
from urllib.parse import urlparse
from urllib.request import url2pathname

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType

from .. import oracle

BROADCAST_CUTOFF_CLUSTER = 64 * 1024 * 1024
BROADCAST_CUTOFF_LOCAL = 256 * 1024 * 1024


def blob_broadcast_cutoff(spark: SparkSession) -> int:
    """Max on-disk blob-dict size to broadcast for the spans⋈media_blobs
    join. Broadcast cost is (dict size × executor count): on a cluster the
    64 MB cutoff caps network fan-out and executor heap; in single-JVM
    local mode there is exactly one copy, so the cutoff rises to 256 MB —
    measured ~8% faster than the shuffle join at 141 MB on this box."""
    master = spark.sparkContext.master or ""
    # "local"/"local[...]" only — "local-cluster[...]" is multi-JVM and
    # must keep the cluster cutoff
    is_single_jvm = master == "local" or master.startswith("local[")
    return BROADCAST_CUTOFF_LOCAL if is_single_jvm else BROADCAST_CUTOFF_CLUSTER


def _on_disk_bytes(df: DataFrame) -> int:
    """Summed size of the files ``df`` scans (0 for a frame built from
    local rows). Assumes a filesystem the driver can ``stat``, as the
    warehouse layout already does (``warehouse.manifest``)."""
    return sum(os.path.getsize(url2pathname(urlparse(f).path))
               for f in df.inputFiles())


_SPAN_KEYS = ["doc_id", "offset", "kind", "media_ref"]
_RESULT_COLS = _SPAN_KEYS + ["text", "error", "ocr_pages"]


# --------------------------------------------------------------------------
# batch runner (Arrow-transferred; the only Python in the pipeline)
# --------------------------------------------------------------------------

def keep_unchanged_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(st_ino, st_size, st_mtime_ns)`` changed since the last read.

    The Python worker calls ``importlib.invalidate_caches()`` before every
    task, and on CPython 3.11 that makes each zipimporter re-parse its whole
    archive directory: one per package directory of ``pyspark.zip`` (1,328
    entries), py4j and any ``--py-files`` zip, a tenth of a CPU-second or
    more per task. An unchanged archive now keeps the directory already
    cached; a rewritten or replaced one is still re-read. Idempotent; any
    surprise falls back to the original method. ``map_rows`` installs it
    in every worker that runs one of its tasks."""
    orig = zipimport.zipimporter.invalidate_caches
    if getattr(orig, "_keeps_unchanged", False):
        return
    read_at: dict[str, tuple] = {}  # archive → its stat key when last read

    @functools.wraps(orig)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
            files = zipimport._zip_directory_cache.get(self.archive)
            if files is not None and read_at.get(self.archive) == key:
                self._files = files
                return
        except Exception:  # noqa: BLE001 — the original method decides
            key = None
        orig(self)
        if key is not None:
            # stat taken before the read: a change racing the read is
            # caught by the next call's key mismatch
            read_at[self.archive] = key

    invalidate_caches._keeps_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def map_rows(df: DataFrame, keep: list[str], args: list[str],
             fn: Callable[..., tuple], out_ddl: str) -> DataFrame:
    """The one Python row UDF runner for the whole package: ``fn(*args)``
    runs once per row and its tuple fills the ``out_ddl`` columns; the
    ``keep`` columns pass through as Arrow arrays, untouched and with their
    ``df`` types. An ``out_ddl`` column replaces a ``keep`` column of the
    same name, so re-running an operator over its own output recomputes
    its columns. ``fn`` must be total (error-as-data), so no input row can
    fail the task. A row that fans out to several output rows returns one
    ``array<struct<…>>`` column, which the caller explodes with
    ``.select(*keep, F.inline(col))``."""
    out = StructType.fromDDL(out_ddl)
    keep = [c for c in keep if c not in out.fieldNames()]
    schema = StructType([df.schema[c] for c in keep] + out.fields)
    types = [to_arrow_type(f.dataType) for f in out.fields]

    def run(batches):
        keep_unchanged_zip_directories()
        for batch in batches:
            cols = [batch.column(a).to_pylist() for a in args]
            results = list(zip(*(fn(*row) for row in zip(*cols))))
            results = results or [()] * len(types)
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in keep]
                + [pa.array(r, type=t) for r, t in zip(results, types)],
                names=schema.fieldNames())

    # a column may be both kept and an argument (``kind``): select it once
    return df.select(*dict.fromkeys(keep + args)).mapInArrow(run, schema)


# --------------------------------------------------------------------------
# pipeline
# --------------------------------------------------------------------------

def explode_spans(docs_df: DataFrame) -> DataFrame:
    """documents_raw → one row per span (empty-span docs drop out here and
    are restored by the left join in reassemble)."""
    return (
        docs_df
        .select("doc_id", F.explode("spans").alias("span"))
        .select(
            "doc_id",
            F.col("span.offset").alias("offset"),
            F.col("span.kind").alias("kind"),
            F.col("span.text").alias("text"),
            F.col("span.media_ref").alias("media_ref"),
        )
    )


def extract_spans(
    spans_df: DataFrame,
    blobs_df: DataFrame,
    broadcast_blobs: bool | None = None,
) -> DataFrame:
    """Per-span extraction, split in two: spans that need Python (html,
    pdf, image) and spans handled by pure Column ops (everything else).

    The blob join is chosen here from the blob table's on-disk size
    (``_on_disk_bytes`` against ``blob_broadcast_cutoff``): broadcast under
    the cutoff, shuffle join otherwise. ``broadcast_blobs`` overrides that
    choice. The OCR stage is ``2 × defaultParallelism`` partitions, so
    ``spark.default.parallelism`` sets its width."""
    is_python = F.col("kind").isin("html", "pdf", "image")

    # text + unsupported-kind branch: one pure-Column scan — whole-stage
    # codegen, zero Python. Emptiness uses the oracle's Python str.strip()
    # whitespace set (F.trim strips ASCII space only — a '\xa0' span must
    # be "empty file" on both sides, oracle.extract_span parity).
    # NULL-safe routing: a null kind makes the Python predicate SQL NULL,
    # which would silently drop the span — coalesce routes it here with
    # the oracle's "unsupported kind: None".
    from ..textproc import PY_WHITESPACE_CLASS

    is_text = F.coalesce(F.col("kind") == "text", F.lit(False))
    stripped_len = F.length(F.regexp_replace(
        F.coalesce(F.col("text"), F.lit("")), PY_WHITESPACE_CLASS, ""))
    text_b = (
        spans_df.filter(~F.coalesce(is_python, F.lit(False)))
        .withColumn(
            "error",
            F.when(~is_text,
                   F.concat(F.lit("unsupported kind: "),
                            F.coalesce(F.col("kind"), F.lit("None"))))
            .when(stripped_len == 0, F.lit("empty file")))
        .withColumn("text", F.when(F.col("error").isNull(), F.col("text"))
                    .otherwise(F.lit("")))
        .withColumn("ocr_pages", F.lit(0))
        .select(_RESULT_COLS)
    )

    # Python branch: spread spans, join payloads, batch-extract
    blobs = blobs_df.select("media_ref", "payload")
    # explicit partition count: AQE's coalescing sizes partitions by bytes,
    # but media payloads are tiny relative to their OCR CPU cost — letting it
    # coalesce serializes the whole OCR stage (observed: 6 MB → 1 partition).
    # Chunky tasks: each Python task carries a fixed protocol overhead
    # (worker hand-off and Arrow stream set-up; map_rows skips the per-task
    # zip re-parse), so partitions target seconds of OCR work each; 2×
    # parallelism bounds wave-straggle while span-level hashing spreads the
    # skew tail (a doc with 10³ media spans never pins one task).
    ocr_width = spans_df.sparkSession.sparkContext.defaultParallelism * 2
    py_spans = spans_df.filter(is_python).select(
        "doc_id", "offset", "kind", "media_ref", "text")
    if broadcast_blobs is None:
        broadcast_blobs = (_on_disk_bytes(blobs_df)
                           < blob_broadcast_cutoff(spans_df.sparkSession))
    if broadcast_blobs:
        # repartition BEFORE the broadcast join: the shuffle then carries
        # only the span keys and html text, never payload bytes — the
        # map-side join attaches payloads after the exchange, same row
        # distribution. Html spans (media_ref "") look up no blob.
        spans = py_spans.repartition(
            ocr_width, "doc_id", "offset"
        ).join(F.broadcast(blobs), "media_ref", "left")
    else:
        # shuffle join repartitions by media_ref, so only media spans enter
        # it: every html span shares media_ref "" and would hash into one
        # join partition. Html rows rejoin (null payload) before the
        # span-level repartition (payload bytes must cross here regardless).
        # The merge hint keeps Spark's own size estimate from broadcasting
        # a dictionary this rule chose to shuffle.
        is_html = F.col("kind") == "html"
        spans = (
            py_spans.filter(~is_html)
            .join(blobs.hint("merge"), "media_ref", "left")
            .unionByName(py_spans.filter(is_html), allowMissingColumns=True)
            .repartition(ocr_width, "doc_id", "offset"))
    # oracle.extract_span returns for html before it reads the payload and
    # never reads text for media; the left join hands a dangling media_ref
    # a null payload, which it turns into "missing media blob".
    py_b = map_rows(spans, _SPAN_KEYS, ["kind", "text", "media_ref", "payload"],
                    oracle.extract_span,
                    "text string, error string, ocr_pages int")

    return text_b.unionByName(py_b)


def reassemble(doc_ids_df: DataFrame, span_results: DataFrame) -> DataFrame:
    """Per-span rows → ordered span array per doc. Order is the explicit
    result key (offset, kind, media_ref, text, error, ocr_pages) —
    FIXTURES.md §7 dup-offset tie-break, oracle.RESULT_SORT_KEY — restored
    with array_sort after the shuffle. Each nullable key field contributes a
    null-coalesced copy plus an is-null flag (null sorts after ''), so two
    spans identical except null-vs-'' still compare deterministically on the
    key alone — struct comparison never reaches the trailing span struct and
    never hits engine-specific NULL ordering; the oracle's Python tuple key
    is the same (value-or-'', is-null) sequence.

    Empty-span docs survive via a null-sentinel row per doc unioned into the
    aggregate (collect_list drops nulls → empty array).  This costs one
    narrow column scan instead of the distinct + left-join it replaces
    (two fewer shuffles and one fewer full pass at cluster scale)."""
    span_struct = F.struct("offset", "kind", "media_ref", "text", "error",
                           "ocr_pages")
    def _nflag(col: str):
        return F.when(F.col(col).isNull(), 1).otherwise(0)

    keyed = F.struct(
        F.col("offset").alias("k_off"),
        F.coalesce(F.col("kind"), F.lit("")).alias("k_kind"),
        _nflag("kind").alias("k_kind_n"),
        F.coalesce(F.col("media_ref"), F.lit("")).alias("k_ref"),
        _nflag("media_ref").alias("k_ref_n"),
        F.coalesce(F.col("text"), F.lit("")).alias("k_text"),
        _nflag("text").alias("k_text_n"),
        F.coalesce(F.col("error"), F.lit("")).alias("k_err"),
        _nflag("error").alias("k_err_n"),
        F.coalesce(F.col("ocr_pages"), F.lit(0)).alias("k_pages"),
        span_struct.alias("span"),
    )
    rows = span_results.select("doc_id", keyed.alias("kspan"))
    return (
        rows.unionByName(doc_ids_df.select("doc_id"),
                         allowMissingColumns=True)
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list("kspan")), lambda x: x["span"]
            ).alias("spans")
        )
    )


def with_doc_text(extracted: DataFrame) -> DataFrame:
    """full_text = newline-join of successful span texts, in span order."""
    ok = F.filter("spans", lambda s: s.error.isNull())
    return extracted.select(
        "*",
        F.array_join(F.transform(ok, lambda s: s.text), "\n").alias("full_text"),
        F.when(F.size("spans") == 0, F.lit("empty document")).when(
            F.size(ok) == 0, F.element_at("spans", 1).error
        ).alias("doc_error"),
        F.aggregate(
            "spans", F.lit(0), lambda acc, s: acc + F.coalesce(s.ocr_pages, F.lit(0))
        ).alias("ocr_pages"),
        F.size(F.filter("spans", lambda s: s.error.isNotNull())
               ).alias("parse_failures"),
    )


def extract_documents(
    docs_df: DataFrame,
    blobs_df: DataFrame,
    broadcast_blobs: bool | None = None,
) -> DataFrame:
    """End-to-end: documents_raw DF → (doc_id, spans, full_text, doc_error,
    ocr_pages, parse_failures). ``extract_spans`` picks the blob join."""
    spans = explode_spans(docs_df)
    results = extract_spans(spans, blobs_df, broadcast_blobs)
    return with_doc_text(reassemble(docs_df, results))


def strip_html_column(
    df: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
    mode: str = "tags",
) -> DataFrame:
    """Standalone HTML main-content projection for curation inputs
    (round 5): ``(id_col, html)`` → ``(id_col, text, error)`` via the
    shared pure classifier — ``mode='tags'`` for document-class HTML,
    ``mode='justext'`` for real crawl pages (context-sensitive
    stopword-density classification; see formats/htmlcodec.py).

    Zero-shuffle Arrow batch projection; empty/None input and classifier
    exceptions become error rows."""
    from ..formats import htmlcodec

    if mode not in ("tags", "justext"):
        raise ValueError(f"unknown strip mode: {mode!r}")
    return map_rows(df, [id_col], [html_col],
                    functools.partial(htmlcodec.strip_span, mode=mode),
                    "text string, error string")
