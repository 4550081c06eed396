"""Seeded workload inputs. Everything here runs before any timing.

``mixed`` keeps the BASELINE doc mix of ``corpus.gen_corpus_fast`` but with
exact per-category counts: doc ``i`` of seed ``s`` is the very doc
``gen_corpus_fast(seed=s)`` would emit at index ``i`` (same per-doc RNG,
same worker function), and indices are taken in order until each category
quota is full. A plain ``gen_corpus_fast`` corpus of a thousand docs
swings its skew-tail size by a third from seed to seed, and that tail
carries most of the image spans.

``text_html`` docs are built directly from the corpus text helpers, so no
media is rendered only to be thrown away. A sliver of single-span pdf/image
docs stays in: ``warehouse.read_table`` cannot read back an empty
``media_blobs`` table (UNABLE_TO_INFER_SCHEMA).
"""

from __future__ import annotations

import multiprocessing
import os
import random

from resume_ocr_spark import corpus
from resume_ocr_spark.config import SKEW_SPAN_THRESHOLD
from resume_ocr_spark.formats import imagecodec, pdfcodec

# upper edge of each category's roll range in corpus._gen_one_doc
MIX_CUTS = (
    (0.40, "text"), (0.60, "html"), (0.80, "pdf"), (0.90, "image"),
    (0.95, "interleaved"), (0.99, "negative"), (1.00, "skew"),
)
SCANNED_SHARE = 0.4  # of pdf docs, as in corpus._gen_one_doc
SKEW_MIN, SKEW_MAX = SKEW_SPAN_THRESHOLD + 18, 4 * SKEW_SPAN_THRESHOLD
MEDIA_SLIVER = 0.005


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def mix_draw(seed: int, i: int) -> tuple[str, int]:
    """(category, skew span count) of doc ``i`` under gen_corpus_fast's
    per-doc seeding, from the generator's first draws: the category roll,
    then for pdf docs the scanned flag (after the resume text), and for
    skew docs the media span count. Pdf docs split into "pdf" and
    "scanned"."""
    rng = random.Random(f"{seed}:{i}")
    roll = rng.random()
    cat = next(name for cut, name in MIX_CUTS if roll < cut)
    if cat == "pdf":
        corpus.make_resume_text(rng)
        return ("scanned" if rng.random() < SCANNED_SHARE else "pdf"), 0
    if cat == "skew":
        return cat, rng.randint(SKEW_MIN, SKEW_MAX)
    return cat, 0


def mix_quotas(n_docs: int) -> dict[str, int]:
    shares, lo = {}, 0.0
    for cut, name in MIX_CUTS:
        shares[name] = cut - lo
        lo = cut
    shares["scanned"] = shares["pdf"] * SCANNED_SHARE
    shares["pdf"] -= shares["scanned"]
    quotas = {name: round(n_docs * share) for name, share in shares.items()}
    quotas["text"] += n_docs - sum(quotas.values())
    return quotas


def mixed_indices(n_docs: int, seed: int) -> dict[int, int]:
    """Doc index → predicted skew span count (0 for other docs), taking
    indices in order until every quota is full. A skew doc is taken only
    while the skew span total stays within a quarter of the span-count
    range of its expected value, so the tail's size does not swing with
    the seed either."""
    left = mix_quotas(n_docs)
    mean, slack = (SKEW_MIN + SKEW_MAX) / 2, (SKEW_MAX - SKEW_MIN) / 4
    picked: dict[int, int] = {}
    skew_docs = skew_spans = 0
    i = -1
    while len(picked) < n_docs:
        i += 1
        cat, n_media = mix_draw(seed, i)
        if left[cat] == 0:
            continue
        if cat == "skew":
            if abs(skew_spans + n_media - mean * (skew_docs + 1)) > slack:
                continue
            skew_docs += 1
            skew_spans += n_media
        left[cat] -= 1
        picked[i] = n_media
    return picked


def mixed_corpus(n_docs: int, seed: int) -> tuple[list[dict], list[dict]]:
    """(docs, blobs) with the BASELINE mix in exact proportions, generated
    on ``host_cpus()`` spawned processes."""
    workers = host_cpus()
    picked = mixed_indices(n_docs, seed)
    ranges = [(seed, i, i + 1) for i in picked]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(workers) as pool:
        parts = pool.map(corpus._gen_docs_range, ranges,
                         chunksize=max(1, len(ranges) // (workers * 4)))
    docs = [d for ds, _ in parts for d in ds]
    blobs = [b for _, bs in parts for b in bs]
    for i, doc in zip(picked, docs):
        if picked[i] and len(doc["spans"]) != picked[i]:
            raise RuntimeError(
                "corpus._gen_one_doc no longer draws in the order mix_draw "
                f"mirrors: doc {i} has {len(doc['spans'])} spans, "
                f"expected {picked[i]}")
    return docs, blobs


def _split(text: str, n: int) -> list[str]:
    lines = text.split("\n")
    step = max(1, len(lines) // n)
    cuts = [i * step for i in range(n)] + [len(lines)]
    return ["\n".join(lines[a:b]) for a, b in zip(cuts, cuts[1:]) if a < b]


def _span(kind: str, text: str = "", media_ref: str = "", offset: int = 0) -> dict:
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def text_html_corpus(n_docs: int, seed: int) -> tuple[list[dict], list[dict]]:
    """Text (1-4 spans) and html docs at 2:1, plus ``MEDIA_SLIVER`` of
    single-span docs cycling direct-text pdf, scanned pdf and image."""
    rng = random.Random(f"text_html:{seed}")
    n_media = max(3, round(n_docs * MEDIA_SLIVER))
    media_at = sorted(rng.sample(range(n_docs), n_media))
    media_kind = {i: ("pdf", "scan", "image")[k % 3]
                  for k, i in enumerate(media_at)}
    docs, blobs = [], []
    for i in range(n_docs):
        doc_id = f"doc{i:08d}"
        text = corpus.make_resume_text(rng)
        kind = media_kind.get(i)
        if kind is None and i % 3 == 0:
            spans = [_span("html", corpus.wrap_html(text))]
        elif kind is None:
            parts = _split(text, rng.randint(1, 4))
            spans = [_span("text", p, offset=k) for k, p in enumerate(parts)]
        else:
            if kind == "pdf":
                payload, blob_kind = pdfcodec.write_text_pdf([text]), "pdf"
            else:
                page = imagecodec.render_text_image(
                    text, skew=rng.choice(imagecodec.SKEW_CANDIDATES))
                payload, blob_kind = (
                    (pdfcodec.write_scanned_pdf([page]), "pdf")
                    if kind == "scan" else (page, "image"))
            ref = f"blob:{doc_id}:0"
            blobs.append({"media_ref": ref, "kind": blob_kind,
                          "payload": imagecodec.compress_payload(payload)})
            spans = [_span(blob_kind, media_ref=ref)]
        docs.append({"doc_id": doc_id, "spans": spans})
    return docs, blobs


def job_query(seed: int) -> str:
    return corpus.make_job_query(random.Random(f"query:{seed}"))


def describe(docs: list[dict], blobs: list[dict]) -> dict:
    """Docs and spans per kind, for the result's provenance."""
    spans: dict[str, int] = {}
    doc_kinds: dict[str, int] = {}
    for d in docs:
        kinds = sorted({s["kind"] for s in d["spans"]})
        key = "+".join(kinds) or "empty"
        doc_kinds[key] = doc_kinds.get(key, 0) + 1
        for s in d["spans"]:
            spans[s["kind"]] = spans.get(s["kind"], 0) + 1
    return {"docs": len(docs), "blobs": len(blobs),
            "blob_bytes": sum(len(b["payload"]) for b in blobs),
            "docs_by_kinds": doc_kinds, "spans_by_kind": spans}
