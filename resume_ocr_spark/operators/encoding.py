"""Encoding triage for crawl text: mojibake detect/repair, NFC, controls.

Real web corpora carry systematic encoding damage — UTF-8 byte streams
decoded as cp1252/latin-1 somewhere in the serving or crawling chain
("â€™" for U+2019, "Ã©" for é), often applied twice; stray C0 control
bytes; U+FFFD replacement chars from lossy earlier decodes; mixed NFC/NFD
normalization that breaks exact dedup and tokenization.  CCNet/ftfy run
exactly this pass before any content filter; the reference app never
needs it (its inputs are binary PDFs/images, app/utils/utils.py:43-44),
so this extends SURVEY §2.7's curation inventory to the byte axis.

Design (the 100 TB shape):

  with_encoding_flags — detection counters as pure Column regex ops
                        (zero shuffle, zero Python, codegen-friendly):
                        the cheap full-corpus scan that decides who pays
                        the repair path
  fix_text            — ``repair_encoding`` + NFC + C0-strip per row
                        on the Arrow batch runner (``extract.map_rows``);
                        a projection (no shuffle), with every string
                        routine shared verbatim with the single-node
                        oracle (the htmlcodec pattern: distributed-
                        correctness questions live in the plan, not in
                        the pure function)

The repair is the public ftfy idea re-derived, conservative by
construction: re-encode through "sloppy cp1252" (cp1252 with latin-1
fallback for the five unmapped bytes), strict-decode as UTF-8, and KEEP
the result only if it strictly reduces the mojibake-signature count;
repeat up to ``max_passes`` (double-encoded text needs 2).  A string
that merely *mentions* "Ã©" round-trips to fewer signatures and is
repaired — the documented, measured false-positive class of every
signature-based fixer; a string whose bytes don't form valid UTF-8 is
left untouched.
"""

from __future__ import annotations

import re
import unicodedata

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .extract import map_rows

# --- the mojibake signature -------------------------------------------
# UTF-8 continuation bytes 0x80-0xBF, as they appear after a cp1252
# decode (0x80-0x9F become curly punctuation etc.; five bytes are
# unmapped in cp1252 and survive only via latin-1 as C1 controls) or a
# latin-1 decode (C1 controls U+0080-009F), plus U+00A0-00BF shared by
# both. One class covers both decode chains.
_CONT = (
    "\u0080-\u00bf"                          # C1 controls + A0-BF
    "\u20ac\u201a\u0192\u201e\u2026\u2020\u2021\u02c6\u2030\u0160"
    "\u2039\u0152\u017d\u2018\u2019\u201c\u201d\u2022\u2013\u2014"
    "\u02dc\u2122\u0161\u203a\u0153\u017e\u0178"  # cp1252 0x80-0x9F
)
# UTF-8 lead bytes through the same decode: C2-DF (2-byte), E0-EF
# (3-byte), F0-F4 (4-byte) land on U+00C2-00DF / U+00E0-00EF / U+00F0-00F4
MOJIBAKE_RE = (
    f"[\u00c2-\u00df][{_CONT}]"
    f"|[\u00e0-\u00ef][{_CONT}]{{2}}"
    f"|[\u00f0-\u00f4][{_CONT}]{{3}}"
)
_MOJIBAKE_PY = re.compile(MOJIBAKE_RE)

# C0 controls except \t\n\r, plus DEL — stripped from fixed text
CTRL_RE = "[\u0000-\u0008\u000b\u000c\u000e-\u001f\u007f]"
_CTRL_PY = re.compile(CTRL_RE)

# --- sloppy cp1252 (cp1252 with latin-1 fallback) ----------------------
# decode: byte -> char; encode: char -> codepoint <= 0xFF for latin-1
_SLOPPY_DEC: dict[int, str] = {}
_SLOPPY_ENC_TRANS: dict[int, int] = {}
for _b in range(256):
    try:
        _c = bytes([_b]).decode("cp1252")
    except UnicodeDecodeError:  # 0x81 0x8D 0x8F 0x90 0x9D
        _c = chr(_b)
    _SLOPPY_DEC[_b] = _c
    if ord(_c) > 0xFF:  # the cp1252 specials need folding back for encode
        _SLOPPY_ENC_TRANS[ord(_c)] = _b


def sloppy_cp1252_decode(b: bytes) -> str:
    """Decode bytes as cp1252, passing the five unmapped bytes through as
    their latin-1 codepoints — how damaged text actually reaches a crawl."""
    return "".join(_SLOPPY_DEC[x] for x in b)


def sloppy_cp1252_encode(s: str) -> bytes | None:
    """Inverse of :func:`sloppy_cp1252_decode`; None when any char has no
    single-byte image (true non-Latin text — not re-encodable, so not
    mojibake of this class)."""
    try:
        return s.translate(_SLOPPY_ENC_TRANS).encode("latin-1")
    except UnicodeEncodeError:
        return None


def mojibake_count(s: str) -> int:
    return len(_MOJIBAKE_PY.findall(s))


def repair_encoding(s: str | None, max_passes: int = 3) -> tuple[str, int]:
    """(fixed, n_passes): undo up to ``max_passes`` UTF-8-as-cp1252/latin-1
    decode layers, then NFC-normalize and strip C0 controls (keeping
    tab/newline/CR) and DEL.  Pure function — shared verbatim by the
    Spark UDF, the gate oracle, and the property tests.  None → ("", 0)
    (the family's NULL-text-judged-as-empty rule)."""
    if s is None:
        return "", 0
    passes = 0
    cur = s
    score = mojibake_count(cur)
    while passes < max_passes and score > 0:
        b = sloppy_cp1252_encode(cur)
        if b is None:
            break
        try:
            cand = b.decode("utf-8")
        except UnicodeDecodeError:
            break
        cand_score = mojibake_count(cand)
        if cand_score >= score:
            break
        cur, score = cand, cand_score
        passes += 1
    fixed = _CTRL_PY.sub("", unicodedata.normalize("NFC", cur))
    return fixed, passes


def with_encoding_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Detection counters as pure Column ops — ``mojibake_hits``,
    ``n_replacement_chars`` (U+FFFD), ``n_ctrl_chars`` (C0 minus
    tab/newline/CR, plus DEL).  Zero shuffle; this is the full-corpus
    scan that routes rows to the (Python) repair path, so it must stay
    JVM-side."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    return (
        df.withColumn("mojibake_hits",
                      F.regexp_count(t, F.lit(MOJIBAKE_RE)))
        .withColumn("n_replacement_chars",
                    F.regexp_count(t, F.lit("�")))
        .withColumn("n_ctrl_chars", F.regexp_count(t, F.lit(CTRL_RE)))
    )


def fix_text(df: DataFrame, text_col: str = "text",
             out_col: str = "text_fixed", max_passes: int = 3) -> DataFrame:
    """Repair + NFC + control-strip per row on the Arrow batch runner
    (adds ``out_col`` string and ``n_repair_passes`` int).  A pure
    projection — no shuffle; cost is per-row Python ONLY for rows whose
    signature count is nonzero (the fast path is two regex scans that
    bail immediately on clean text, which is ~all of a healthy corpus).

    At 100 TB pair it with :func:`with_encoding_flags`: filter
    ``mojibake_hits > 0`` first and repair only that slice, then union
    back — the flags scan is JVM-side and free next to the decode UDFs."""

    new = [out_col, "n_repair_passes"]
    fixed = map_rows(df, [c for c in df.columns if c not in new], [text_col],
                     lambda v: repair_encoding(v, max_passes),
                     f"`{out_col}` string, n_repair_passes int")
    # withColumn placement: a replaced column keeps its position
    return fixed.select(*dict.fromkeys(df.columns + new))
