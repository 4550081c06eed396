"""Resume analysis stage: classify → segment → extract fields → score → rank.

Distributed re-expression of the reference's LLM analysis + assembly
(reference: app/services/llm_service.py:26-156, app/routers/analysis.py:
504-555; SURVEY.md P6–P9, A1–A2, F7, F10):

  - resume/not-resume judge: pure Column ops — per-heading ``contains`` over
    the first 3000 chars (cap preserved, validation_service.py:149)
  - field extraction: native ``regexp_extract_all`` (JVM, codegen — P8)
  - sections/score/seniority/summary: ``textproc.analysis_fields`` run by
    the shared Arrow batch runner (extract.map_rows) — the same function
    the single-node oracle calls
  - ranking: ``orderBy().limit(K)`` → TakeOrderedAndProject (no global
    window; scale-safe top-k), rank joined back onto the full table
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import textproc
from ..config import TOP_K, VALIDATION_TEXT_CAP
from .extract import map_rows


def classify_resumes(extracted: DataFrame) -> DataFrame:
    """Adds ``rejected`` — pure Column mirror of textproc.is_resume: count
    distinct heading-STEM families anchored at line starts in the first
    3000 chars; accept on ≥2, or on 1 plus an email/phone token. The stem
    patterns are shared dialect-neutral constants
    (textproc.HEADING_STEM_PATTERNS) evaluated by Java regex here and
    Python re in the oracle."""
    head = F.substring("full_text", 1, VALIDATION_TEXT_CAP)
    found = sum(
        F.when(head.rlike(p), 1).otherwise(0)
        for p in textproc.HEADING_STEM_PATTERNS
    )
    contact = (head.rlike(textproc.EMAIL_PATTERN)
               | head.rlike(textproc.PHONE_PATTERN))
    # content-negative veto: culinary lexicon outweighs structural headings
    # (semantic 'mascarado como currículo' reject — textproc lexicon notes).
    # Short-circuited behind a substring trigger: the 13 family regexes are
    # Java-regex scans (~2.2 s over 48k docs), while lower() + contains()
    # compile to SIMD indexOf (~0.2 s). The stem list is a provable
    # SUPERSET of every regex variant (all four açúcar accent spellings
    # included), so the trigger can overfire onto the full count — which
    # then decides — but never underfire; virtually no genuine document
    # trips it, and CASE WHEN branches evaluate lazily in codegen.
    low = F.lower(head)
    neg_trigger = None
    for s in textproc.NEGATIVE_TRIGGER_STEMS:
        c = low.contains(s)
        neg_trigger = c if neg_trigger is None else (neg_trigger | c)
    negative = F.when(
        neg_trigger,
        sum(F.when(head.rlike(p), 1).otherwise(0)
            for p in textproc.NEGATIVE_STEM_PATTERNS),
    ).otherwise(F.lit(0))
    accepted = ((found >= textproc.MIN_HEADINGS_FOR_RESUME) | (
        (found >= 1) & contact)) & (
        negative <= textproc.MAX_NEGATIVE_FOR_RESUME)
    return extracted.withColumn(
        "rejected",
        F.when(F.col("doc_error").isNotNull(), F.lit(False)).otherwise(
            ~accepted
        ),
    )


def extract_fields(df: DataFrame, col: str = "full_text") -> DataFrame:
    """Email/phone/date-range arrays via native regexp (no Python)."""
    return (
        df.withColumn("emails", F.regexp_extract_all(col, F.lit(textproc.EMAIL_PATTERN), 0))
        .withColumn("phones", F.regexp_extract_all(col, F.lit(textproc.PHONE_PATTERN), 0))
        .withColumn("dates", F.regexp_extract_all(col, F.lit(textproc.DATE_RANGE_PATTERN), 0))
    )


def analyze_documents(extracted: DataFrame, query: str | None = None,
                      persist_input: bool = False) -> DataFrame:
    """documents_extracted → resumes_analyzed.

    Output: doc_id, spans, full_text, doc_error, rejected, emails, phones,
    dates, score_num, score_label, summary, n_sections, rank (query mode).

    ``persist_input=True`` caches the extracted frame first: this plan
    references it from multiple branches (analysis UDF input, the base
    join, the top-k probe), and while AQE's exchange reuse dedupes most of
    the recompute, caching measures ~25% faster end-to-end when the input
    is a live extraction lineage. Leave False when the input is already a
    cheap scan (pipeline.run_extraction reads back from parquet) — the
    cache is never unpersisted here because the result is lazy; the pinned
    frame is handed back as ``result.persisted_input`` so callers release
    it after materializing (``storage.release_handles(result)``), or wrap
    the input in ``storage.persisted(...)`` instead — one-shot jobs may
    simply let session teardown reclaim it."""
    if persist_input:
        extracted = extracted.persist()
    base = classify_resumes(extracted)
    base = extract_fields(base)

    eligible = base.filter(~F.col("rejected") & F.col("doc_error").isNull())
    analysis = map_rows(
        eligible, ["doc_id"], ["full_text"],
        functools.partial(textproc.analysis_fields, query=query),
        "score_num double, score_label string, summary string, "
        "n_sections int")
    out = base.join(analysis, "doc_id", "left")
    # non-eligible rows: null analysis columns except n_sections, which the
    # oracle defines as 0 for rejected/error docs (oracle.analyze_doc);
    # field arrays empty
    out = out.withColumn("n_sections",
                         F.coalesce(F.col("n_sections"), F.lit(0)))
    for c in ("emails", "phones", "dates"):
        out = out.withColumn(
            c,
            F.when(~F.col("rejected") & F.col("doc_error").isNull(), F.col(c))
            .otherwise(F.array().cast("array<string>")),
        )
    if query:
        out = rank_top_k(out)
    else:
        out = out.withColumn("rank", F.lit(None).cast("int"))
    if persist_input:
        out.persisted_input = extracted  # caller releases after materializing
    return out


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
