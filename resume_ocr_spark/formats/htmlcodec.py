"""HTML main-content extraction: boilerplate strip + block classification.

The reference has no HTML branch (it accepts PDF/PNG/JPG only,
app/utils/utils.py:43-44); HTML spans come from BASELINE.json:north_rule
("HTML boilerplate strip, DOM heuristics").  This is a deterministic,
dependency-free block classifier in the spirit of Readability/jusText:

  1. split the document into block-level segments,
  2. score each block: tag-based prior (nav/footer/aside/ad ⇒ boilerplate,
     main/article ⇒ content) + link density + text density,
  3. keep content blocks, strip inline tags, unescape entities.

Two modes, chosen by input class (both pure functions — shared verbatim
by the single-node oracle and the Spark batch UDF; the distributed-
correctness questions are order/join/shuffle, covered by pipeline tests):

``mode='tags'`` (default, the extraction-pipeline mode): tag prior +
link density.  Right for DOCUMENT-class HTML (resumes, reports) where
short heading blocks carry no stopwords but are content.

``mode='justext'`` (round 5, the web-crawl curation mode): adds the
jusText-style context-sensitive pass (Pomikálek 2011, public algorithm —
parameters re-derived, no code consulted): blocks get a context-free
class from length + stopword density + link density
(bad / short / near-good / good), then undecided blocks resolve by their
nearest decisive neighbors — a short headline between two good paragraphs
is content; the same headline inside a footer run is boilerplate.  Right
for real crawl pages, where tag semantics are unreliable and function-word
density separates prose from navigation/copyright chrome.  A
boilerplate-only page correctly extracts EMPTY under this mode.
"""

from __future__ import annotations

import html as _html
import re

# elements whose CONTENT is never document text: stripping only the tags
# would leak raw JS/CSS/markup into the extracted blocks
_INVISIBLE_RE = re.compile(
    r"<(script|style|noscript|template|svg)\b[^>]*>.*?</\1\s*>|<!--.*?-->",
    re.I | re.S,
)
# truncated documents: an unterminated script/style swallows to EOF rather
# than leaking raw JS/CSS into the block splitter
_INVISIBLE_OPEN_RE = re.compile(r"<(script|style)\b[^>]*>.*\Z", re.I | re.S)

_BLOCK_SPLIT_RE = re.compile(
    r"<(nav|header|footer|aside|main|article|div|section|p|h[1-6]|ul|table)"
    r"(\s[^>]*)?>|</(nav|header|footer|aside|main|article|div|section|p|h[1-6]|ul|table)>",
    re.I,
)
_TAG_RE = re.compile(r"<[^>]+>")
_ANCHOR_RE = re.compile(r"<a\b[^>]*>(.*?)</a>", re.I | re.S)

_BOILERPLATE_TAGS = {"nav", "header", "footer", "aside"}
_CONTENT_TAGS = {"main", "article"}
_AD_CLASS_RE = re.compile(r'class="[^"]*\b(ad|ads|banner|promo|cookie|social)\b', re.I)

LINK_DENSITY_MAX = 0.5
MIN_BLOCK_CHARS = 3


def _blocks(doc: str) -> list[tuple[list[str], str]]:
    """Split into (open-marker-stack, raw-html) segments.

    The stack holds (actual_tag, marker) pairs: a closing tag pops by the
    ACTUAL tag name, while segments see only the markers — so an ad-classed
    <div> (marker 'aside') is correctly popped by its </div> instead of
    leaking the boilerplate marker over the rest of the document."""
    out: list[tuple[list[str], str]] = []
    stack: list[tuple[str, str]] = []
    pos = 0
    for m in _BLOCK_SPLIT_RE.finditer(doc):
        seg = doc[pos : m.start()]
        if seg.strip():
            out.append(([mk for _, mk in stack], seg))
        if m.group(3):  # closing tag
            tag = m.group(3).lower()
            if any(t == tag for t, _ in stack):
                while stack and stack[-1][0] != tag:
                    stack.pop()
                if stack:
                    stack.pop()
        else:
            tag = m.group(1).lower()
            marker = tag
            if m.group(2) and _AD_CLASS_RE.search(m.group(0)):
                marker = "aside"  # ad-classed divs treated as boilerplate
            stack.append((tag, marker))
        pos = m.end()
    tail = doc[pos:]
    if tail.strip():
        out.append(([mk for _, mk in stack], tail))
    return out


def _link_density(raw: str) -> float:
    anchor_text = sum(len(_TAG_RE.sub("", m)) for m in _ANCHOR_RE.findall(raw))
    total = len(_TAG_RE.sub("", raw))
    return anchor_text / total if total else 1.0


# function words for the stopword-density feature (jusText's signal for
# prose vs chrome) — English + Portuguese, matching the bilingual corpus
STOPWORDS = frozenset("""
a an and are as at be but by for from had has have he her his i in is it
its not of on or she that the their they this to was were will with you
o os um uma umas uns e de do da dos das em no na nos nas por para com sem
que não mais como mas ou se seu sua meu minha este esta isso ele ela eles
elas foi ser ter são está
""".split())

# context-free thresholds (characters / stopword word-fraction); same
# ballpark as jusText's published defaults, tuned on the test fixtures
LENGTH_LOW, LENGTH_HIGH = 50, 150
STOPWORDS_LOW, STOPWORDS_HIGH = 0.18, 0.30

GOOD, BAD, SHORT, NEAR_GOOD = "good", "bad", "short", "near_good"


def _stopword_density(text: str) -> float:
    words = re.findall(r"[a-zà-ÿ0-9]+", text.lower())
    if not words:
        return 0.0
    return sum(w in STOPWORDS for w in words) / len(words)


def _ctx_free_class(text: str, link_density: float,
                    tags: set[str]) -> str:
    if tags & _CONTENT_TAGS:
        return GOOD                      # explicit semantic content tag
    if tags & _BOILERPLATE_TAGS:
        return BAD                       # explicit chrome tag
    if link_density > LINK_DENSITY_MAX:
        return BAD
    if len(text) < LENGTH_LOW:
        return SHORT
    sd = _stopword_density(text)
    if sd >= STOPWORDS_HIGH:
        return GOOD if len(text) > LENGTH_HIGH else NEAR_GOOD
    if sd >= STOPWORDS_LOW:
        return NEAR_GOOD
    return BAD


def classify_blocks(doc: str) -> list[tuple[str, str]]:
    """jusText-style classification: ``[(block_text, class)]`` with class
    in {good, bad} after the context pass.

    Context rule (deterministic): SHORT and NEAR_GOOD blocks resolve by
    the nearest context-free decisive (good/bad) neighbor on each side,
    searching outward past other undecided blocks; good on EITHER side ⇒
    good, otherwise bad (document edges count as bad, per jusText — chrome
    concentrates at page boundaries)."""
    doc = _INVISIBLE_RE.sub(" ", doc)
    doc = _INVISIBLE_OPEN_RE.sub(" ", doc)
    items: list[tuple[str, str]] = []  # (text, ctx-free class)
    for stack, raw in _blocks(doc):
        text = _html.unescape(_TAG_RE.sub(" ", raw))
        text = re.sub(r"[ \t]+", " ", text).strip()
        if len(text) < MIN_BLOCK_CHARS:
            continue
        items.append((text, _ctx_free_class(text, _link_density(raw),
                                            set(stack))))
    classes = [c for _, c in items]
    n = len(classes)
    # nearest decisive neighbor on each side (edges decisive-bad)
    left = [BAD] * n
    last = BAD
    for i in range(n):
        left[i] = last
        if classes[i] in (GOOD, BAD):
            last = classes[i]
    right = [BAD] * n
    last = BAD
    for i in range(n - 1, -1, -1):
        right[i] = last
        if classes[i] in (GOOD, BAD):
            last = classes[i]
    out = []
    for i, (text, c) in enumerate(items):
        if c in (SHORT, NEAR_GOOD):
            c = GOOD if GOOD in (left[i], right[i]) else BAD
        out.append((text, c))
    return out


def strip_boilerplate(doc: str, mode: str = "tags") -> str:
    """Main-content text of an HTML document, blocks joined by newlines.

    ``mode='tags'``: tag prior + link density (document-class HTML — the
    extraction pipeline's mode).  ``mode='justext'``: the context-
    sensitive classifier above (web-crawl curation). See module docstring
    for when each is right."""
    if mode == "justext":
        return "\n".join(t for t, c in classify_blocks(doc) if c == GOOD)
    if mode != "tags":
        raise ValueError(f"unknown strip mode: {mode!r}")
    doc = _INVISIBLE_RE.sub(" ", doc)
    doc = _INVISIBLE_OPEN_RE.sub(" ", doc)
    kept: list[str] = []
    for stack, raw in _blocks(doc):
        tags = set(stack)
        if tags & _BOILERPLATE_TAGS and not tags & _CONTENT_TAGS:
            continue
        if _link_density(raw) > LINK_DENSITY_MAX and not tags & _CONTENT_TAGS:
            continue
        text = _html.unescape(_TAG_RE.sub(" ", raw))
        text = re.sub(r"[ \t]+", " ", text).strip()
        if len(text) >= MIN_BLOCK_CHARS:
            kept.append(text)
    return "\n".join(kept)


def strip_span(raw: str | None, mode: str = "tags") -> tuple[str, str | None]:
    """Total per-span strip: ``(text, error)``, never raises. Empty or
    whitespace-only input is ``"empty file"``; a classifier exception is
    an ``"unexpected: …"`` error value (error-as-data). The oracle's html
    branch and the Spark batch runner both call this one function."""
    if not (raw or "").strip():
        return "", "empty file"
    try:
        return strip_boilerplate(raw, mode=mode), None
    except Exception as exc:
        return "", f"unexpected: {exc}"
