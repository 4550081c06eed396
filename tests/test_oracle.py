"""Unit tests: textproc + single-node oracle (the executable spec)."""

import pytest

from resume_ocr_spark import corpus, oracle, textproc
from resume_ocr_spark.config import TOP_K
from resume_ocr_spark.formats import imagecodec as ic, pdfcodec as pc


RESUME = corpus.make_resume_text(__import__("random").Random(1))


class TestTextproc:
    def test_is_resume_positive(self):
        assert textproc.is_resume(RESUME)

    def test_is_resume_negative(self):
        assert not textproc.is_resume(corpus.RECIPE_TEXT)
        assert not textproc.is_resume(corpus.GENERIC_TEXT)

    def test_truncation_cap(self):
        # headings only beyond the 3000-char cap must not count
        text = "x" * 3100 + "\nRESUMO\nEXPERIÊNCIA PROFISSIONAL\n"
        assert not textproc.is_resume(text)

    def test_segment_sections(self):
        s = textproc.segment_sections(RESUME)
        assert "EXPERIÊNCIA PROFISSIONAL" in s
        assert "COMPETÊNCIAS TÉCNICAS" in s
        assert "_HEADER" in s

    def test_extract_fields(self):
        f = textproc.extract_fields(RESUME)
        assert len(f["emails"]) == 1 and "@email.com" in f["emails"][0]
        assert len(f["phones"]) == 1
        assert f["dates"]

    def test_experience_years_deterministic(self):
        y = textproc.experience_years(RESUME)
        assert y == textproc.experience_years(RESUME) and y >= 0

    def test_seniority_thresholds(self):
        def fake(years_text):
            return ("EXPERIÊNCIA PROFISSIONAL\nDev " + years_text +
                    "\nRESUMO\nx")
        assert textproc.seniority_label(fake("(Jan 2024 - Jan 2025)")) == "Júnior"
        assert textproc.seniority_label(fake("(Jan 2019 - Jan 2024)")) == "Pleno"
        assert textproc.seniority_label(fake("(Jan 2010 - Jan 2024)")) == "Sênior"

    def test_score_bounds_and_determinism(self):
        q = corpus.make_job_query(__import__("random").Random(3))
        s = textproc.score_against_query(RESUME, q)
        assert 0.0 <= s <= 10.0
        assert s == textproc.score_against_query(RESUME, q)
        assert textproc.score_against_query("", q) == 0.0


class TestOracle:
    @pytest.fixture(scope="class")
    def result(self, small_corpus):
        docs, blobs = small_corpus
        q = corpus.make_job_query(__import__("random").Random(7))
        return oracle.run_pipeline(docs, blobs, query=q)

    def test_every_doc_present(self, small_corpus, result):
        docs, _ = small_corpus
        assert set(result) == {d["doc_id"] for d in docs}

    def test_span_order_restored(self, result):
        for r in result.values():
            offs = [s["offset"] for s in r["spans"]]
            assert offs == sorted(offs)

    def test_errors_are_data(self, result):
        assert result["edge-corrupt-pdf"]["spans"][0]["error"]
        assert result["edge-dangling-ref"]["spans"][0]["error"] == "missing media blob"
        assert result["edge-unsupported-kind"]["spans"][0]["error"].startswith(
            "unsupported kind")
        assert result["edge-blank-image"]["spans"][0]["error"] == "empty OCR result"

    def test_dup_offset_tiebreak(self, result):
        texts = [s["text"] for s in result["edge-dup-offset"]["spans"]]
        assert texts == ["primeira parte", "parte B duplicada", "segunda parte"]

    def test_threshold_branch(self, small_corpus):
        docs, blobs = small_corpus
        bmap = {b["media_ref"]: b["payload"] for b in blobs}
        by_id = {d["doc_id"]: d for d in docs}
        r201 = oracle.extract_doc(by_id["edge-thresh-201"], bmap)[0]
        assert r201["error"] is None and len(r201["text"].strip()) > 200

    def test_topk_cutoff(self, result):
        ranks = sorted(r["rank"] for r in result.values() if r["rank"])
        assert ranks == list(range(1, min(TOP_K, len(ranks)) + 1))

    def test_negative_docs_rejected(self, result):
        rejected = [d for d, r in result.items() if r["analysis"]["rejected"]]
        assert rejected  # recipe/generic docs exist in every 40-doc corpus

    def test_summary_mode_labels(self, small_corpus):
        docs, blobs = small_corpus
        res = oracle.run_pipeline(docs, blobs, query=None)
        labels = {r["analysis"]["score_label"] for r in res.values()
                  if r["analysis"]["score_label"]}
        assert labels <= {"Júnior", "Pleno", "Sênior"} and labels
        assert all(r["rank"] is None for r in res.values())

    def test_multipage_page_markers(self):
        imgs = [ic.render_text_image("um"), ic.render_text_image("dois")]
        pdf = pc.write_scanned_pdf(imgs)
        text, err, pages = oracle.extract_span("pdf", "", "m", pdf)
        assert err is None and pages == 2
        assert text == "\n--- Página 1 ---\num\n--- Página 2 ---\ndois"

    def test_pipeline_deterministic(self, small_corpus):
        docs, blobs = small_corpus
        a = oracle.run_pipeline(docs[:10], blobs)
        b = oracle.run_pipeline(docs[:10], blobs)
        assert a == b


def test_negative_trigger_stems_are_superset():
    """is_resume's substring gate must never underfire: every string
    that matches any NEGATIVE_STEM_PATTERNS regex contains one of
    NEGATIVE_TRIGGER_STEMS in its lowercase form — enumerated over the
    case/accent variants each pattern accepts."""
    import re

    variants = [
        "XÍCARA", "xícaras", "Xicara", "FARINHA", "farinha", "Fermento",
        "AÇÚCAR", "açúcar", "acucar", "açucar", "acúcar", "OVOS", "ovos",
        "BOLO", "bolos", "Cenoura", "CENOURAS", "manteiga", "MANTEIGA",
        "chocolate", "CHOCOLATE", "Ingredientes", "INGREDIENTES",
        "Modo de Preparo", "MODO DE PREPARO", "forno", "FORNO",
        "colher de sopa", "COLHERES DE SOPA",
    ]
    for v in variants:
        probe = f"um {v} qualquer"
        assert any(re.search(p, probe)
                   for p in textproc.NEGATIVE_STEM_PATTERNS), v
        low = probe.lower()
        assert any(s in low for s in textproc.NEGATIVE_TRIGGER_STEMS), v
