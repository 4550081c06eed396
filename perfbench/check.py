"""Output checks against the single-node oracle.

A checked doc fails when its output row is missing or its strict span
tuple sequence differs from ``oracle.extract_doc``. In ranked runs each
top-K slot that differs from ``oracle.run_pipeline`` is one more failure.
"""

from __future__ import annotations

import multiprocessing

from resume_ocr_spark import oracle

SPAN_FIELDS = ("kind", "text", "media_ref", "offset", "error", "ocr_pages")


def span_tuples(spans) -> list[tuple]:
    return [tuple(s[f] for f in SPAN_FIELDS) for s in spans]


def _ranked(result: dict[str, dict]) -> list[str]:
    return [d for _, d in sorted((r["rank"], d) for d, r in result.items()
                                 if r["rank"])]


def _oracle_part(args) -> tuple[dict[str, list[tuple]], list[str]]:
    docs, blobs, query = args
    if not query:
        payload = {b["media_ref"]: b["payload"] for b in blobs}
        return {d["doc_id"]: span_tuples(oracle.extract_doc(d, payload))
                for d in docs}, []
    result = oracle.run_pipeline(docs, blobs, query=query)
    return ({d: span_tuples(r["spans"]) for d, r in result.items()},
            _ranked(result))


def expected(docs: list[dict], blobs: list[dict], workers: int,
             query: str | None = None) -> tuple[dict[str, list[tuple]], list[str]]:
    """Oracle span tuples per doc and, with a query, the oracle's top-K,
    computed on ``workers`` spawned processes (never forked: the parent
    runs a live JVM). The top-K of the whole corpus is the top-K of the
    union of each part's top-K, so the final ranking is the oracle's own
    ``run_pipeline`` over those candidates."""
    by_ref = {b["media_ref"]: b for b in blobs}
    step = max(1, -(-len(docs) // (workers * 4)))
    parts = []
    for lo in range(0, len(docs), step):
        part = docs[lo:lo + step]
        refs = {s["media_ref"] for d in part for s in d["spans"]}
        parts.append((part, [by_ref[r] for r in refs if r in by_ref], query))
    with multiprocessing.get_context("spawn").Pool(workers) as pool:
        results = pool.map(_oracle_part, parts)
    spans = {d: s for part_spans, _ in results for d, s in part_spans.items()}
    if not query:
        return spans, []
    candidates = {d for _, top in results for d in top}
    cand_docs = [d for d in docs if d["doc_id"] in candidates]
    refs = {s["media_ref"] for d in cand_docs for s in d["spans"]}
    return spans, _ranked(oracle.run_pipeline(
        cand_docs, [by_ref[r] for r in refs if r in by_ref], query=query))


def read_spans(spark, out_dir: str) -> dict[str, list[tuple]]:
    rows = spark.read.parquet(out_dir).select("doc_id", "spans").collect()
    return {r["doc_id"]: span_tuples(s.asDict() for s in r["spans"])
            for r in rows}


def span_failures(expected_spans: dict[str, list[tuple]],
                  got: dict[str, list[tuple]]) -> int:
    return sum(1 for doc_id, spans in expected_spans.items()
               if got.get(doc_id) != spans)


def top_failures(expected_top: list[str], got: list[str]) -> int:
    slots = max(len(expected_top), len(got))
    return sum(1 for k in range(slots)
               if k >= len(expected_top) or k >= len(got)
               or expected_top[k] != got[k])
