"""Resume analysis stage: classify → segment → extract fields → score → rank.

Distributed re-expression of the reference's LLM analysis + assembly
(reference: app/services/llm_service.py:26-156, app/routers/analysis.py:
504-555; SURVEY.md P6–P9, A1–A2, F7, F10):

  - classify, extract fields, segment, score/seniority, summarise: one
    Python pass per document — ``oracle.analyze_text``, the function the
    single-node oracle calls, run by the shared Arrow batch runner
    (extract.map_rows); no self-join, no second regex dialect
  - ranking: ``orderBy().limit(K)`` → TakeOrderedAndProject (no global
    window; scale-safe top-k), rank broadcast-joined back onto the table

The two steps are separate functions (``score_documents``,
``rank_documents``) so ``pipeline.run_extraction`` can score each chunk
before its write and rank the written table afterwards.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import oracle, textproc
from ..config import TOP_K
from .extract import map_rows

_ANALYSIS_DDL = (
    "rejected boolean, emails array<string>, phones array<string>, "
    "dates array<string>, score_num double, score_label string, "
    "summary string, n_sections int")


def classify_resumes(extracted: DataFrame) -> DataFrame:
    """Adds ``rejected``: ``textproc.is_resume`` per document; an errored
    document is never rejected (the classify step of analyze_text)."""
    return map_rows(
        extracted, extracted.columns, ["full_text", "doc_error"],
        lambda text, err: (err is None and not textproc.is_resume(text or ""),),
        "rejected boolean")


def extract_fields(df: DataFrame, col: str = "full_text") -> DataFrame:
    """Adds the email/phone/date-range arrays of ``textproc.extract_fields``
    (the field step of analyze_text, over every row)."""
    def fields(text):
        f = textproc.extract_fields(text or "")
        return f["emails"], f["phones"], f["dates"]

    return map_rows(df, df.columns, [col], fields,
                    "emails array<string>, phones array<string>, "
                    "dates array<string>")


def analyze_documents(extracted: DataFrame,
                      query: str | None = None) -> DataFrame:
    """documents_extracted → resumes_analyzed: :func:`score_documents`,
    then :func:`rank_documents`.

    Output: the ``extracted`` columns (doc_id, spans, full_text, doc_error,
    …), then rejected, emails, phones, dates, score_num, score_label,
    summary, n_sections, rank (query mode; null otherwise).

    In query mode the scored frame feeds two branches (the table and the
    top-k probe, which re-runs the scoring). A caller passing a live
    extraction lineage rather than a parquet scan persists it first
    (``.persist()``, or ``storage.persisted(...)`` to release it
    afterwards), so the extraction runs once."""
    return rank_documents(score_documents(extracted, query), query)


def score_documents(extracted: DataFrame,
                    query: str | None = None) -> DataFrame:
    """Adds the ``oracle.ANALYSIS_FIELDS`` columns: one
    ``oracle.analyze_text`` call per document, in one Python pass."""
    return map_rows(extracted, extracted.columns, ["full_text", "doc_error"],
                    functools.partial(oracle.analyze_text, query=query),
                    _ANALYSIS_DDL)


def rank_documents(scored: DataFrame, query: str | None = None) -> DataFrame:
    """Adds ``rank``: :func:`rank_top_k` in query mode, null otherwise. No
    Python: over a scored table this is a scan and one broadcast join."""
    if query:
        return rank_top_k(scored)
    return scored.withColumn("rank", F.lit(None).cast("int"))


def rank_top_k(analyzed: DataFrame, k: int = TOP_K) -> DataFrame:
    """Top-K by (score desc, doc_id asc) — reference sort + truncate-to-5
    (app/routers/analysis.py:542-545). ``orderBy().limit(k)`` compiles to
    TakeOrderedAndProject: per-partition heap + driver merge of K rows, no
    single-partition window, so it holds at any input size."""
    # P11 score coercion: null/unparseable scores sort as 0.0
    # (reference get_score fallback, app/utils/utils.py:50-56)
    score = F.coalesce(F.col("score_num").cast("double"), F.lit(0.0))
    top = (
        analyzed.filter(~F.col("rejected") & F.col("doc_error").isNull())
        .select("doc_id", score.alias("score_num"))
        .orderBy(F.col("score_num").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    # the window below runs over exactly k rows (post-limit), so the single
    # partition it implies is k-bounded, not data-bounded
    ranked = top.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("score_num").desc(), F.col("doc_id").asc())
        ),
    ).select("doc_id", "rank")
    return analyzed.join(F.broadcast(ranked), "doc_id", "left")
