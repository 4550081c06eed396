"""Single-node oracle: the executable spec of the extraction semantics.

Implements, in plain Python over one document at a time, exactly what the
Spark pipeline computes distributed — P1–P9 of SURVEY.md §2.  Pytest asserts
span-sequence equality (kind, text, media_ref, order) per doc_id between this
and the Spark output (BASELINE.json north_rule invariant), plus analysis
equality (score/label/rank).

Per-span semantics (mirroring the reference's per-file pipeline):
  text   — payload passes through; empty payload ⇒ error
           (reference: app/services/analyze_service.py:16-25 empty-file check)
  html   — boilerplate strip + block classification (north_rule)
  pdf    — direct text extract; if stripped length > 200 keep it, else OCR
           every page and join with ordered page markers
           (reference: app/services/ocr_service.py:50-61, :84-120)
  image  — OCR; whitespace-only result ⇒ error
           (reference: app/services/ocr_service.py:119-120)
  other  — unsupported-kind error (reference: app/services/ocr_service.py:126-127)
Any decode failure becomes an error *value*, never an exception
(reference: app/services/analyze_service.py:105-117).
"""

from __future__ import annotations

from .config import MAX_FILE_SIZE, PAGE_MARKER, PDF_TEXT_THRESHOLD, TOP_K
from .formats import htmlcodec, imagecodec, pdfcodec
from . import textproc

# Deterministic span order: explicit key over the EXTRACTED result (never
# input order). Defined on the result so the distributed engine can sort the
# same tuple after its shuffle — sorting inputs would diverge wherever
# extraction rewrites text (html strip, OCR) under duplicate
# (offset, kind, media_ref).  Each nullable field contributes (value-or-"",
# is-null) so NULL and '' order deterministically (null after ''), with no
# dependence on engine NULL ordering or input row order — the Spark side
# builds the identical key in operators/extract.reassemble.
RESULT_SORT_KEY = lambda s: (  # noqa: E731
    s["offset"],
    s["kind"] or "", s["kind"] is None,
    s["media_ref"] or "", s["media_ref"] is None,
    s["text"] or "", s["text"] is None,
    s["error"] or "", s["error"] is None,
    s["ocr_pages"] or 0)


def extract_span(kind: str, text: str, media_ref: str, payload: bytes | None):
    """Returns (extracted_text, error, ocr_pages). Pure; total; never raises."""
    try:
        if kind == "text":
            if not (text or "").strip():
                return "", "empty file", 0
            return text, None, 0
        if kind == "html":
            return (*htmlcodec.strip_span(text), 0)
        if kind not in ("pdf", "image"):
            return "", f"unsupported kind: {kind}", 0
        if payload is None:
            return "", "missing media blob", 0
        try:
            raw = imagecodec.decompress_payload(payload)
        except imagecodec.ImageDecodeError:
            raw = payload  # blobs may be stored uncompressed
        if len(raw) > MAX_FILE_SIZE:
            return "", "file too large", 0
        if kind == "image":
            try:
                out = imagecodec.ocr_image(raw)
            except imagecodec.OcrConfidenceError as exc:
                return "", str(exc), 1  # attempted 1 page; error-as-data
            if not out.strip():
                return "", "empty OCR result", 1
            return out, None, 1
        # kind == "pdf"
        direct = pdfcodec.extract_text(raw)
        if len(direct.strip()) > PDF_TEXT_THRESHOLD:
            return direct.replace("\f", "\n"), None, 0
        pages = pdfcodec.extract_page_images(raw)
        if not pages:
            if direct.strip():
                return direct.replace("\f", "\n"), None, 0
            return "", "empty OCR result", 0
        page_texts, unrecognized = [], 0
        for img in pages:
            try:
                page_texts.append(imagecodec.ocr_image(img))
            except imagecodec.OcrConfidenceError:
                # per-page gate: an unreadable page contributes no text but
                # still counts as an attempted OCR page (metrics accuracy)
                unrecognized += 1
                page_texts.append("")
        if all(not t.strip() for t in page_texts):
            err = "unrecognized glyphs" if unrecognized else "empty OCR result"
            return "", err, len(pages)
        joined = "".join(
            PAGE_MARKER.format(i + 1) + t for i, t in enumerate(page_texts)
        )
        return joined, None, len(pages)
    except (imagecodec.ImageDecodeError, pdfcodec.PdfParseError) as exc:
        return "", str(exc), 0
    except Exception as exc:  # total function: error-as-data, never raise
        return "", f"unexpected: {exc}", 0


def extract_doc(doc: dict, blobs: dict[str, bytes]) -> list[dict]:
    """Ordered output span sequence for one documents_raw row.

    Sort is by the explicit result key (offset, kind, media_ref, extracted
    text, error, ocr_pages) — the deterministic tie-break of FIXTURES.md §7 —
    never by input order."""
    out = []
    for s in doc["spans"]:
        payload = blobs.get(s["media_ref"]) if s["media_ref"] else None
        text, error, pages = extract_span(s["kind"], s["text"], s["media_ref"], payload)
        out.append({
            "kind": s["kind"], "text": text, "media_ref": s["media_ref"],
            "offset": s["offset"], "error": error, "ocr_pages": pages,
        })
    return sorted(out, key=RESULT_SORT_KEY)


def doc_text(extracted_spans: list[dict]) -> str:
    """Document full text: successful span texts in order, newline-joined."""
    return "\n".join(s["text"] for s in extracted_spans if s["error"] is None)


# analyze_text's output, in order (the Spark analysis columns)
ANALYSIS_FIELDS = ("rejected", "emails", "phones", "dates", "score_num",
                   "score_label", "summary", "n_sections")


def analyze_text(full_text: str | None, doc_error: str | None,
                 query: str | None) -> tuple:
    """The ``ANALYSIS_FIELDS`` of one document's full text: the whole
    per-document analysis (ResumeResult analog, reference:
    app/models/models.py:4-8 + llm_service rubric). Total: an errored
    document is neither rejected nor scored, a rejected one is not scored.
    ``analyze_doc`` and the Spark analysis UDF
    (operators/analyze.analyze_documents) both call this."""
    if doc_error is not None:
        return False, [], [], [], None, None, None, 0
    text = full_text or ""
    if not textproc.is_resume(text):
        return True, [], [], [], None, None, None, 0
    fields = textproc.extract_fields(text)
    return (False, fields["emails"], fields["phones"], fields["dates"],
            *textproc.analysis_fields(text, query))


def analyze_doc(extracted_spans: list[dict], query: str | None) -> dict:
    """Per-document analysis row of ``analyze_text`` over the document's
    text; the error is the first span's when no span succeeded."""
    doc_error = None
    if all(s["error"] is not None for s in extracted_spans):
        doc_error = (extracted_spans[0]["error"] if extracted_spans
                     else "empty document")
    fields = analyze_text(doc_text(extracted_spans), doc_error, query)
    return {"error": doc_error, **dict(zip(ANALYSIS_FIELDS, fields))}


def run_pipeline(docs: list[dict], blob_rows: list[dict],
                 query: str | None = None) -> dict[str, dict]:
    """Full oracle run: {doc_id: {spans: [...], analysis: {...}, rank: int|None}}.
    Ranking: top-K by score desc, doc_id asc tie-break (reference sort+top-5,
    app/routers/analysis.py:542-545)."""
    blobs = {b["media_ref"]: b["payload"] for b in blob_rows}
    out: dict[str, dict] = {}
    for doc in docs:
        spans = extract_doc(doc, blobs)
        analysis = analyze_doc(spans, query)
        out[doc["doc_id"]] = {"spans": spans, "analysis": analysis, "rank": None}
    if query:
        scored = sorted(
            ((d, r) for d, r in out.items()
             if not r["analysis"]["rejected"] and r["analysis"]["error"] is None),
            key=lambda kv: (-(kv[1]["analysis"]["score_num"] or 0.0), kv[0]),
        )
        for rank, (d, r) in enumerate(scored[:TOP_K], start=1):
            r["rank"] = rank
    return out
