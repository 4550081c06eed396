"""Resume-specific text analysis: classify / segment / extract / score.

Deterministic replacements for the reference's LLM stages, preserving the
data-processing semantics:

  is_resume()        — resume/not-resume judge on the first 3000 chars
                       (reference: app/utils/validation_service.py:115-187,
                       truncation at :149 → VALIDATION_TEXT_CAP)
  segment_sections() — section segmentation implicit in the LLM prompt
                       (reference: app/services/llm_service.py:55); headings
                       mirror the fixture structure (SURVEY.md §5)
  extract_fields()   — email/phone/date patterns (fixture evidence:
                       "(11) 98765-4321 | ana.silva.dev@email.com")
  score_against_query() — 0–10 alignment score in query mode
                       (reference rubric: app/services/llm_service.py:59-63)
  seniority_label()  — Júnior/Pleno/Sênior in no-query mode
                       (reference: app/services/llm_service.py:93)
  experience_years() — total years across dated entries "(Mar 2021 - Presente)"

All pure functions; the Spark side runs them inside its one analysis UDF
(oracle.analyze_text), so Python re is the only regex dialect that judges,
extracts or scores a resume.
"""

from __future__ import annotations

import re

from .config import (
    SCORE_MAX,
    SCORE_MIN,
    SENIORITY_JUNIOR_MAX_YEARS,
    SENIORITY_PLENO_MAX_YEARS,
    VALIDATION_TEXT_CAP,
)

# Python str.strip()'s whitespace set as a Java-regex character class, so
# Column-side emptiness checks agree with the oracle's .strip() exactly
# (Spark's F.trim / \s cover only the ASCII subset — '\xa0' et al differ).
PY_WHITESPACE_CLASS = (
    "[\t-\r \x1c-\x1f\x85\xa0\u1680\u2000-\u200a"
    "\u2028\u2029\u202f\u205f\u3000]"
)

EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\(\d{2}\) 9?\d{4}-\d{4}"
MONTHS = "Jan|Fev|Mar|Abr|Mai|Jun|Jul|Ago|Set|Out|Nov|Dez"
# date ranges as real resumes write them (fixture evidence:
# "(Mar 2021 - Presente)", "(Dez 2021 - Atualmente)", "(2019 - Atual)",
# "(2014 - 2019)", "(2021 - hoje)"): month optional, several "present"
# spellings; longer alternatives first so backtracking never truncates
_PRESENT_WORDS = "Presente|Atualmente|Atual|atualmente|atual|hoje"
_RANGE_CORE = (
    rf"(?:(?:{MONTHS}) )?\d{{4}} - "
    rf"(?:(?:(?:{MONTHS}) )?\d{{4}}|{_PRESENT_WORDS})"
)
# parenthesized ("(Mar 2021 - Presente)") or pipe-delimited
# ("| 2019 - Presente", fixture gabriel_rocha.pdf) — bare ranges stay
# unmatched on purpose: "2 1/2 xícaras"-style text must not parse as dates
DATE_RANGE_PATTERN = rf"\({_RANGE_CORE}\)|\| {_RANGE_CORE}"

_MONTH_NUM = {m: i + 1 for i, m in enumerate(MONTHS.split("|"))}
# 'Presente' resolves to a fixed reference date for determinism
PRESENT_YEAR, PRESENT_MONTH = 2025, 6

SECTION_HEADINGS = (
    "RESUMO",
    "EXPERIÊNCIA PROFISSIONAL",
    "FORMAÇÃO ACADÊMICA",
    "COMPETÊNCIAS TÉCNICAS",
    "CERTIFICAÇÕES",
    "IDIOMAS",
)
_HEADING_SET = set(SECTION_HEADINGS)

MIN_HEADINGS_FOR_RESUME = 2

# Line-anchored heading stems, one pattern per distinct stem family. Real
# resumes vary heading wording ("PERFIL", "Resumo da Carreira", "Experiência
# Relevante", "Habilidades" — all present in the reference's fixture PDFs),
# so the judge counts distinct STEM FAMILIES whose capitalized form starts a
# line (optionally bullet/dash-decorated). The line anchor is an explicit
# terminator class, NOT (?m)^ (which breaks on \n only), so a heading after
# a bare \r / U+0085 / U+2028-9 line end still counts.
_HL = r"(?:\A|[\n\r\u0085\u2028\u2029])[ \t>*•●○-]*"
HEADING_STEM_PATTERNS = (
    _HL + r"(?:RESUMO|Resumo)",
    _HL + r"(?:PERFIL|Perfil)",
    _HL + r"(?:OBJETIVO|Objetivo)",
    # prefix stems match both Portuguese and English resume headings
    # (EXPERIÊNCIA / EXPERIENCE; resumes are not all one language —
    # the reference judge is language-agnostic, llm lang='por+eng')
    _HL + r"(?:EXPERI[ÊE]NC|Experi[êe]nc)",
    _HL + r"(?:FORMA[ÇC][ÃA]O|Forma[çc][ãa]o)",
    _HL + r"(?:EDUCA[ÇC][ÃA]O|EDUCATION|Educa[çc][ãa]o|Education)",
    _HL + r"(?:COMPET[ÊE]NCIAS|Compet[êe]ncias)",
    _HL + r"(?:HABILIDADES|Habilidades)",
    _HL + r"(?:TECNOLOGIAS|Tecnologias)",
    _HL + r"(?:CERTIFI|Certifi)",  # Certificações / Certified / Certifications
    _HL + r"(?:IDIOMAS|Idiomas|LANGUAGES|Languages)",
    _HL + r"(?:SKILLS|Skills)",
    _HL + r"(?:SUMMARY|Summary)",
)


# Content-negative lexicon: culinary/recipe token families. The reference's
# LLM judge rejects documents "mascarado como currículo" — structured like a
# resume but semantically something else (validation_service.py:115-187 user
# prompt; fixture receita_bolo.pdf, a cake recipe with resume headings).
# The deterministic approximation: ≥3 distinct culinary families in the
# validation window outweigh structural headings. Measured: receita_bolo
# trips 12 families; every genuine fixture + synthetic resume trips 0.
# Spelled-case alternations, not (?i): only the capitalizations listed
# count, and NEGATIVE_TRIGGER_STEMS below is proved against exactly these.
NEGATIVE_STEM_PATTERNS = (
    r"\b(?:X[ÍI]CARAS?|[Xx][íi]caras?)",
    r"(?:FARINHA|[Ff]arinha)",
    r"(?:FERMENTO|[Ff]ermento)",
    r"(?:A[ÇC][ÚU]CAR|[Aa][çc][úu]car)",
    r"\b(?:OVOS|[Oo]vos)\b",
    r"\b(?:BOLOS?|[Bb]olos?)\b",
    r"\b(?:CENOURAS?|[Cc]enouras?)\b",
    r"(?:MANTEIGA|[Mm]anteiga)",
    r"(?:CHOCOLATE|[Cc]hocolate)",
    r"(?:INGREDIENTES|[Ii]ngredientes)",
    r"(?:MODO DE PREPARO|[Mm]odo de [Pp]reparo)",
    r"\b(?:FORNO|[Ff]orno)\b",
    r"(?:COLHER(?:ES)? DE SOPA|[Cc]olher(?:es)? de sopa)",
)
MAX_NEGATIVE_FOR_RESUME = 2  # ≥3 distinct culinary families ⇒ semantic reject

# lowercase substring superset of every NEGATIVE_STEM_PATTERNS variant:
# is_resume runs the 13 regex scans only when lower(head) contains one of
# these, since every regex match contains one in its lowercase form (see
# test_oracle trigger test) — a head without any can have no family
NEGATIVE_TRIGGER_STEMS = (
    "xícara", "xicara", "farinha", "fermento",
    "çúcar", "çucar", "cúcar", "cucar",   # the four açúcar spellings
    "ovos", "bolo", "cenoura", "manteiga", "chocolate", "ingredientes",
    "modo de preparo", "forno", "colher",
)


def is_resume(text: str) -> bool:
    """Resume judge on the first VALIDATION_TEXT_CAP chars:
    structural accept = ≥2 distinct heading-stem families, or 1 family plus
    an explicit contact token (email/phone); then a content-negative veto =
    >MAX_NEGATIVE_FOR_RESUME distinct culinary families (the deterministic
    stand-in for the reference LLM judge's semantic reject of
    documents 'mascarado como currículo', validation_service.py:115-187).
    Verified to accept every real text fixture resume and reject both
    receita_bolo.pdf and the synthetic recipe/memo negatives."""
    head = text[:VALIDATION_TEXT_CAP]
    found = sum(1 for p in HEADING_STEM_PATTERNS if re.search(p, head))
    if found < MIN_HEADINGS_FOR_RESUME and not (
        found >= 1 and (re.search(EMAIL_PATTERN, head) is not None
                        or re.search(PHONE_PATTERN, head) is not None)
    ):
        return False
    low = head.lower()
    if not any(s in low for s in NEGATIVE_TRIGGER_STEMS):
        return True
    negative = sum(1 for p in NEGATIVE_STEM_PATTERNS if re.search(p, head))
    return negative <= MAX_NEGATIVE_FOR_RESUME


def _is_heading_line(stripped: str) -> bool:
    """Line-feature heading rule: an exact known heading, or a short
    non-sentence line starting with a capitalized heading stem (real resumes
    write 'Experiência', 'Resumo da Carreira', 'Formação Acadêmica', …)."""
    if stripped in _HEADING_SET:
        return True
    if not stripped or len(stripped) > 60 or stripped.endswith("."):
        return False
    return any(re.match(p, stripped) for p in HEADING_STEM_PATTERNS)


def segment_sections(text: str) -> dict[str, str]:
    """Split on heading lines (see _is_heading_line); returns {heading:
    body}. Text before the first heading lands under '_HEADER'."""
    sections: dict[str, str] = {}
    current = "_HEADER"
    buf: list[str] = []
    for line in text.split("\n"):
        stripped = line.strip().strip("-").strip()
        if _is_heading_line(stripped):
            sections[current] = "\n".join(buf).strip()
            current, buf = stripped, []
        else:
            buf.append(line)
    sections[current] = "\n".join(buf).strip()
    return {k: v for k, v in sections.items() if v or k != "_HEADER"}


def extract_fields(text: str) -> dict[str, list[str]]:
    return {
        "emails": re.findall(EMAIL_PATTERN, text),
        "phones": re.findall(PHONE_PATTERN, text),
        "dates": re.findall(DATE_RANGE_PATTERN, text),
    }


def _range_months(token: str) -> int:
    m = re.match(
        rf"[(|] ?(?:({MONTHS}) )?(\d{{4}}) - "
        rf"(?:(?:({MONTHS}) )?(\d{{4}})|{_PRESENT_WORDS})\)?", token
    )
    if not m:
        return 0
    # month omitted ("(2014 - 2019)") → January on both ends, so a bare
    # year range counts its calendar-year difference
    y0, mo0 = int(m.group(2)), _MONTH_NUM[m.group(1)] if m.group(1) else 1
    if m.group(4):
        y1, mo1 = int(m.group(4)), _MONTH_NUM[m.group(3)] if m.group(3) else 1
    else:
        y1, mo1 = PRESENT_YEAR, PRESENT_MONTH
    return max(0, (y1 - y0) * 12 + (mo1 - mo0))


def experience_years(text: str) -> float:
    """Total years across dated entries in the experiência section(s) —
    any heading starting with an EXPERI stem, so education date ranges are
    excluded whenever the resume is segmentable (falls back to the whole
    text otherwise)."""
    sections = segment_sections(text)
    exp = [v for k, v in sections.items()
           if k != "_HEADER" and re.match(r"(?:EXPERI[ÊE]|Experi[êe])", k)]
    scope = "\n".join(exp) if exp else text
    months = sum(_range_months(t) for t in re.findall(DATE_RANGE_PATTERN, scope))
    return round(months / 12.0, 2)


def seniority_label(text: str) -> str:
    years = experience_years(text)
    if years <= SENIORITY_JUNIOR_MAX_YEARS:
        return "Júnior"
    if years <= SENIORITY_PLENO_MAX_YEARS:
        return "Pleno"
    return "Sênior"


# F1 analog: run ids mirror the reference's UUIDv4 request_id contract
# (reference: app/utils/utils.py:13-15 — uuid.UUID(x).version == 4)
UUID4_PATTERN = (
    r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-4[0-9a-fA-F]{3}-"
    r"[89abAB][0-9a-fA-F]{3}-[0-9a-fA-F]{12}$"
)


def is_valid_uuid4(value: str) -> bool:
    return re.match(UUID4_PATTERN, value or "") is not None


def normalize_query(query: str | None) -> str | None:
    """P12: strip; empty → None (reference: app/routers/analysis.py:485-487)."""
    if query is None:
        return None
    q = query.strip()
    return q or None


_TERM_RE = re.compile(r"[a-zà-ÿ0-9]{3,}", re.I)
_STOP_TERMS = {
    "com", "para", "que", "dos", "das", "nos", "nas", "uma", "por", "mais",
    "anos", "ano", "experiência", "experiencia", "conhecimento", "vaga",
    "profissional", "requisitos", "obrigatórios", "obrigatorios", "desejáveis",
    "desejaveis", "buscamos", "atuação", "atuacao", "área", "area", "nível",
    "nivel", "pleno", "sênior", "senior", "júnior", "junior",
}


def query_terms(query: str) -> list[str]:
    """Distinct lowercase content terms of a job-description query, in first-
    appearance order."""
    seen: list[str] = []
    for tok in _TERM_RE.findall(query.lower()):
        if tok not in _STOP_TERMS and tok not in seen:
            seen.append(tok)
    return seen


def score_against_query(text: str, query: str) -> float:
    """Deterministic 0–10 alignment rubric: fraction of distinct query terms
    present in the resume text (case-insensitive), scaled to 10, rounded to
    one decimal (reference score shape: app/services/llm_service.py:16,
    :143-147)."""
    terms = query_terms(query)
    if not terms:
        return SCORE_MIN
    low = text.lower()
    hit = sum(1 for t in terms if t in low)
    return max(SCORE_MIN, min(SCORE_MAX, round(10.0 * hit / len(terms), 1)))


def summarize(text: str) -> str:
    """Deterministic summary: header first line + years + section list
    (replaces the LLM free-text summary, min 10 chars —
    reference: app/services/llm_service.py:17)."""
    sections = segment_sections(text)
    header = (sections.get("_HEADER") or text).split("\n")[0].strip()
    names = [k for k in SECTION_HEADINGS if k in sections]
    summary = (
        f"{header or 'Documento'} — {experience_years(text)} anos de experiência; "
        f"seções: {', '.join(names) if names else 'nenhuma'}."
    )
    return summary


def analysis_fields(text: str | None, query: str | None
                    ) -> tuple[float | None, str | None, str, int]:
    """``(score_num, score_label, summary, n_sections)`` for one accepted
    document: a numeric query score in ranked mode, a seniority label
    otherwise. The oracle and the Spark analysis UDF both call this."""
    text = text or ""
    n_sections = sum(1 for k in segment_sections(text) if k != "_HEADER")
    if query:  # ranked mode: numeric score (llm_service.py:16)
        return (score_against_query(text, query), None, summarize(text),
                n_sections)
    # summary mode: seniority label (llm_service.py:93)
    return None, seniority_label(text), summarize(text), n_sections
