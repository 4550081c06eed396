"""Deterministic synthetic corpus: documents_raw + media_blobs.

Shape is exactly BASELINE.json:input_hint:

  documents_raw(doc_id string,
                spans array<struct<kind string, text string,
                                   media_ref string, offset int>>)
  media_blobs(media_ref string, kind string, payload binary)

Mix per FIXTURES.md §1 (seeded, default seed=42): 40% text-only resumes,
20% html (boilerplate-wrapped), 20% pdf (text/scanned/CID/two-column,
~10% multi-page mirroring davi_moreira.pdf), 10% image, 5% interleaved
mixed-kind, 5% negatives (cake recipe / generic doc analogs of
receita_bolo*.pdf, doc_generico.png), ~1% skew tail with many media spans,
plus the edge-case rows of FIXTURES.md §7.
"""

from __future__ import annotations

import random

from .config import SKEW_SPAN_THRESHOLD
from .formats import imagecodec, pdfcodec

FIRST = ["Ana", "Bruno", "Carla", "Davi", "Elisa", "Fábio", "Gabriela", "Hugo",
         "Iara", "João", "Karina", "Lucas", "Mariana", "Nicolas", "Olívia",
         "Paulo", "Quésia", "Rafael", "Sofia", "Tatiana"]
LAST = ["Silva", "Costa", "Moreira", "Pereira", "Teixeira", "Azevedo", "Alves",
        "Barros", "Matos", "Guedes", "Souza", "Lima", "Rocha", "Nunes"]
ROLES = ["Engenheira de Dados", "Engenheiro de Software", "Cientista de Dados",
         "Analista de Sistemas", "Arquiteto de Soluções", "Desenvolvedora Backend"]
SKILLS = ["Python", "Spark", "SQL", "AWS", "Airflow", "Kafka", "Docker",
          "Kubernetes", "Scala", "Terraform", "PostgreSQL", "Redshift",
          "DBT", "Glue", "EMR", "Athena", "Java", "Git"]
COMPANIES = ["TechCorp", "DataMax", "CloudBr", "InovaSys", "MegaSoft", "ByteLab"]
DEGREES = ["Ciência da Computação", "Engenharia de Software", "Sistemas de Informação"]
UNIS = ["USP", "UNICAMP", "UFMG", "UFRJ", "PUC-SP"]
MONTHS = ["Jan", "Fev", "Mar", "Abr", "Mai", "Jun",
          "Jul", "Ago", "Set", "Out", "Nov", "Dez"]

RECIPE_TEXT = (
    "RECEITA DE BOLO DE CENOURA\n\nIngredientes:\n3 cenouras médias\n2 xícaras "
    "de açúcar\n3 ovos\n1 xícara de óleo\n2 xícaras de farinha de trigo\n\nModo "
    "de preparo:\nBata no liquidificador as cenouras, os ovos e o óleo.\nAsse por "
    "40 minutos em forno médio."
)
GENERIC_TEXT = (
    "COMUNICADO INTERNO\n\nPrezados colaboradores,\nInformamos que o estacionamento "
    "ficará fechado para manutenção na próxima semana.\nAgradecemos a compreensão.\n"
    "Administração do condomínio."
)


def make_resume_text(rng: random.Random) -> str:
    name = f"{rng.choice(FIRST).upper()} {rng.choice(LAST).upper()}"
    role = rng.choice(ROLES)
    phone = f"(1{rng.randint(1, 9)}) 9{rng.randint(1000, 9999)}-{rng.randint(1000, 9999)}"
    email = f"{name.split()[0].lower()}.{name.split()[1].lower()}{rng.randint(1, 99)}@email.com"
    n_jobs = rng.randint(1, 3)
    jobs = []
    year = rng.randint(2012, 2021)
    for j in range(n_jobs):
        m0, m1 = rng.choice(MONTHS), rng.choice(MONTHS)
        y1 = year + rng.randint(1, 3)
        end = "Presente" if j == n_jobs - 1 and rng.random() < 0.5 else f"{m1} {y1}"
        jobs.append(
            f"{rng.choice(ROLES)} — {rng.choice(COMPANIES)} ({m0} {year} - {end})\n"
            f"Atuou com {', '.join(rng.sample(SKILLS, 3))} em projetos de dados."
        )
        year = y1
    skills = rng.sample(SKILLS, rng.randint(4, 8))
    return (
        f"{name}\n{role}\n{phone} | {email} | linkedin.com/in/"
        f"{name.replace(' ', '').lower()}\n"
        f"---\nRESUMO\nProfissional de {role.lower()} com foco em "
        f"{', '.join(skills[:2])}.\n"
        f"---\nEXPERIÊNCIA PROFISSIONAL\n" + "\n".join(jobs) + "\n"
        f"---\nFORMAÇÃO ACADÊMICA\n{rng.choice(DEGREES)} — {rng.choice(UNIS)} "
        f"({rng.randint(2008, 2016)})\n"
        f"---\nCOMPETÊNCIAS TÉCNICAS\n{', '.join(skills)}"
    )


def make_job_query(rng: random.Random) -> str:
    """Job-description query patterned on tests/vagas/vaga1.txt."""
    need = rng.sample(SKILLS, 4)
    nice = rng.sample([s for s in SKILLS if s not in need], 3)
    return (
        f"Vaga: {rng.choice(ROLES)} {rng.choice(['Pleno', 'Sênior'])}\n"
        f"Requisitos Obrigatórios: {', '.join(need)}\n"
        f"Desejáveis: {', '.join(nice)}\n"
        f"Buscamos profissional com experiência em pipelines de dados."
    )


def _span(kind: str, text: str = "", media_ref: str = "", offset: int = 0) -> dict:
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


_HTML_TEMPLATE = (
    '<html><body><nav><a href="/">Home</a> <a href="/vagas">Vagas</a> '
    '<a href="/sobre">Sobre</a></nav>'
    '<div class="ad banner">COMPRE AGORA! Oferta imperdível de hospedagem</div>'
    "<main><article>{body}</article></main>"
    '<div class="promo">Assine nossa newsletter</div>'
    "<footer>© 2025 TechMatch — <a href='/priv'>Privacidade</a></footer>"
    "</body></html>"
)


def wrap_html(text: str) -> str:
    body = "".join(f"<p>{ln}</p>" for ln in text.split("\n"))
    return _HTML_TEMPLATE.format(body=body)


def gen_corpus(
    n_docs: int, seed: int = 42, with_edge_cases: bool = True
) -> tuple[list[dict], list[dict]]:
    """Returns (documents, blobs): documents rows {doc_id, spans}, blob rows
    {media_ref, kind, payload}. Fully deterministic in (n_docs, seed): each
    doc draws from its own seeded rng, so doc ``i`` is the same in every
    corpus of that seed with more than ``i`` docs."""
    docs, blobs = _gen_docs_range((seed, 0, n_docs))
    if with_edge_cases:
        docs.extend(_edge_docs(blobs))
    return docs, blobs


def _gen_docs_range(args: tuple[int, int, int]) -> tuple[list[dict], list[dict]]:
    """Docs [lo, hi) with per-doc seeds (``random.Random(f"{seed}:{i}")``),
    so a corpus is the same in (n, seed) however its ranges are split over
    worker processes; perfbench's ``inputs.mixed_corpus`` maps it over a
    process pool."""
    seed, lo, hi = args
    docs: list[dict] = []
    blobs: list[dict] = []
    for i in range(lo, hi):
        rng = random.Random(f"{seed}:{i}")
        doc_id = f"doc{i:08d}"
        d, b = _gen_one_doc(doc_id, rng)
        docs.append(d)
        blobs.extend(b)
    return docs, blobs


def _gen_one_doc(doc_id: str, rng: random.Random) -> tuple[dict, list[dict]]:
    """One doc + its blobs from a dedicated rng (used by the parallel path)."""
    blobs: list[dict] = []

    def add_blob(idx: int, kind: str, payload: bytes) -> str:
        ref = f"blob:{doc_id}:{idx}"
        blobs.append({"media_ref": ref, "kind": kind,
                      "payload": imagecodec.compress_payload(payload)})
        return ref

    def pdf_payload(text: str, scanned: bool) -> bytes:
        lines = text.split("\n")
        if rng.random() < 0.10 and len(lines) > 6:
            cut = len(lines) // 2
            pages = ["\n".join(lines[:cut]), "\n".join(lines[cut:])]
        else:
            pages = [text]
        if scanned:
            imgs = [imagecodec.render_text_image(
                p, skew=rng.choice(imagecodec.SKEW_CANDIDATES)) for p in pages]
            return pdfcodec.write_scanned_pdf(imgs)
        return pdfcodec.write_text_pdf(
            pages, cid=rng.random() < 0.3, two_column=rng.random() < 0.2)

    roll = rng.random()
    spans: list[dict] = []
    if roll < 0.40:
        text = make_resume_text(rng)
        for off, part in enumerate(_split_n(text, rng.randint(1, 4))):
            spans.append(_span("text", text=part, offset=off))
    elif roll < 0.60:
        spans.append(_span("html", text=wrap_html(make_resume_text(rng))))
    elif roll < 0.80:
        ref = add_blob(0, "pdf", pdf_payload(make_resume_text(rng),
                                             rng.random() < 0.4))
        spans.append(_span("pdf", media_ref=ref))
    elif roll < 0.90:
        img = imagecodec.render_text_image(
            make_resume_text(rng), skew=rng.choice(imagecodec.SKEW_CANDIDATES))
        spans.append(_span("image", media_ref=add_blob(0, "image", img)))
    elif roll < 0.95:
        parts = _split_n(make_resume_text(rng), 3)
        spans.append(_span("text", text=parts[0], offset=0))
        spans.append(_span("pdf", media_ref=add_blob(1, "pdf",
                     pdf_payload(parts[1], scanned=False)), offset=1))
        spans.append(_span("image", media_ref=add_blob(
            2, "image", imagecodec.render_text_image(parts[2])), offset=2))
    elif roll < 0.99:
        neg = rng.choice([RECIPE_TEXT, GENERIC_TEXT])
        if rng.random() < 0.5:
            spans.append(_span("text", text=neg))
        else:
            spans.append(_span("pdf", media_ref=add_blob(
                0, "pdf", pdf_payload(neg, rng.random() < 0.5))))
    else:
        n_media = rng.randint(SKEW_SPAN_THRESHOLD + 18, 4 * SKEW_SPAN_THRESHOLD)
        for off in range(n_media):
            img = imagecodec.render_text_image(f"fragmento {off} do dossiê")
            spans.append(_span("image", media_ref=add_blob(off, "image", img),
                               offset=off))
    for off, s in enumerate(spans):
        s["offset"] = off
    return {"doc_id": doc_id, "spans": spans}, blobs


def _split_n(text: str, n: int) -> list[str]:
    lines = text.split("\n")
    if n <= 1 or len(lines) < n:
        return [text]
    step = len(lines) // n
    parts = ["\n".join(lines[i * step : (i + 1) * step]) for i in range(n - 1)]
    parts.append("\n".join(lines[(n - 1) * step :]))
    return parts


def _edge_docs(blobs: list[dict]) -> list[dict]:
    """FIXTURES.md §7 edge rows (deterministic, fixed ids)."""
    rng = random.Random(4242)
    out: list[dict] = []

    def add_blob(doc_id: str, idx: int, kind: str, payload: bytes,
                 compress: bool = True) -> str:
        ref = f"blob:{doc_id}:{idx}"
        blobs.append({
            "media_ref": ref, "kind": kind,
            "payload": imagecodec.compress_payload(payload) if compress else payload,
        })
        return ref

    out.append({"doc_id": "edge-empty-spans", "spans": []})
    out.append({"doc_id": "edge-empty-text",
                "spans": [_span("text", text="", offset=0)]})
    # 199/200/201-char direct-text PDFs around the threshold
    for n in (199, 200, 201):
        base = make_resume_text(rng)
        text = (base.replace("\n", " "))[:n]
        pdf = pdfcodec.write_text_pdf([text])
        # pad/trim so extracted text is exactly n chars of stripped text
        ref = add_blob(f"edge-thresh-{n}", 0, "pdf", pdf)
        out.append({"doc_id": f"edge-thresh-{n}",
                    "spans": [_span("pdf", media_ref=ref, offset=0)]})
    out.append({"doc_id": "edge-unsupported-kind",
                "spans": [_span("audio", media_ref="blob:none", offset=0)]})
    out.append({"doc_id": "edge-dangling-ref",
                "spans": [_span("image", media_ref="blob:missing", offset=0)]})
    pdf = pdfcodec.write_text_pdf([make_resume_text(rng)])
    ref = add_blob("edge-corrupt-pdf", 0, "pdf", pdf[: len(pdf) // 2], compress=False)
    out.append({"doc_id": "edge-corrupt-pdf",
                "spans": [_span("pdf", media_ref=ref, offset=0)]})
    img = imagecodec.render_text_image("   \n  ")
    ref = add_blob("edge-blank-image", 0, "image", img)
    out.append({"doc_id": "edge-blank-image",
                "spans": [_span("image", media_ref=ref, offset=0)]})
    # Skia-style per-glyph PDF — the real fixtures' emission mode (CTM-
    # positioned per-glyph runs, explicit space glyphs): keeps the parser's
    # matrix-tracking path under the distributed contract, not just codec
    # unit tests
    gpdf = pdfcodec.write_text_pdf([make_resume_text(rng)], glyph_mode=True)
    ref = add_blob("edge-glyph-pdf", 0, "pdf", gpdf)
    out.append({"doc_id": "edge-glyph-pdf",
                "spans": [_span("pdf", media_ref=ref, offset=0)]})
    # duplicate offsets -> deterministic tie-break (offset, kind, media_ref)
    out.append({"doc_id": "edge-dup-offset", "spans": [
        _span("text", text="segunda parte", offset=1),
        _span("text", text="primeira parte", offset=0),
        _span("text", text="parte B duplicada", offset=1),
    ]})
    return out
