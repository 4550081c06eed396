"""Minimal deterministic PDF writer + pure-Python PDF parser.

The reference extracts PDF text with PyMuPDF ``page.get_text()`` in page
order (reference: app/services/ocr_service.py:50-58) and, when the direct
text is ≤200 chars, rasterizes pages with pdf2image and OCRs each
(ocr_service.py:61, :84-117).  Neither PyMuPDF nor poppler exist in this
container, so this module provides the same two capabilities in pure Python:

  write_text_pdf(pages, ...)    -> bytes   real PDF: Flate content streams,
                                           BT/Tf/Td/TJ text ops, optional
                                           two-column layout, optional CID
                                           (Identity-H + ToUnicode CMap,
                                           UTF-16BE hex strings — the fixture
                                           encoding, SURVEY.md §5)
  write_scanned_pdf(page_imgs)  -> bytes   image-only PDF: one RIMG image
                                           XObject per page, no text layer
  extract_text(pdf)             -> str     per-page runs sorted into reading
                                           order ((column, -y, x)); pages
                                           joined with \\f
  extract_page_images(pdf)      -> list    ordered raw image payloads (the
                                           pdf2image analog)

Corrupt input raises ``PdfParseError`` — callers convert to error rows
(error-as-data, reference: app/services/ocr_service.py:56-58).
"""

from __future__ import annotations

import re
import zlib

from ..config import MAX_FILE_SIZE

COLUMN_SPLIT_GAP = 150.0  # pt; two x-clusters farther apart than this = 2 columns
LINE_Y_TOL = 2.0


class PdfParseError(ValueError):
    """Raised on malformed PDF input."""


# --------------------------------------------------------------------------
# writer
# --------------------------------------------------------------------------

def _esc(s: bytes) -> bytes:
    return s.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")


def _text_stream(lines: list[tuple[float, float, str]], cid: bool) -> bytes:
    """lines: (x, y, text) in page space."""
    ops = [b"BT /F1 11 Tf"]
    for x, y, text in lines:
        ops.append(b"1 0 0 1 %.2f %.2f Tm" % (x, y))
        if cid:
            hexs = text.encode("utf-16-be").hex().upper().encode()
            ops.append(b"<" + hexs + b"> Tj")
        else:
            ops.append(b"(" + _esc(text.encode("latin-1", "replace")) + b") Tj")
    ops.append(b"ET")
    return b"\n".join(ops)


_CMAP_TEMPLATE = b"""/CIDInit /ProcSet findresource begin
12 dict begin begincmap
/CMapName /Adobe-Identity-UCS def /CMapType 2 def
1 begincodespacerange <0000> <FFFF> endcodespacerange
1 beginbfrange <0000> <FFFF> <0000> endbfrange
endcmap CMapName currentdict /CMap defineresource pop end end"""


def _build_pdf(page_objs: list[dict]) -> bytes:
    """Assemble a PDF from per-page dicts {content: bytes, extra: [(dict_body,
    stream|None), ...], resources: bytes}."""
    objs: list[bytes] = []  # 1-indexed bodies, without "N 0 obj"/"endobj"

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    page_ids: list[int] = []
    kids_slots = []
    for p in page_objs:
        extra_ids = {}
        for name, (dict_body, stream) in p.get("extra", {}).items():
            if stream is not None:
                comp = zlib.compress(stream)
                body = (
                    dict_body.replace(b"%LEN%", str(len(comp)).encode())
                    + b"\nstream\n" + comp + b"\nendstream"
                )
            else:
                body = dict_body
            extra_ids[name] = add(body)
        comp = zlib.compress(p["content"])
        cid_ = add(
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(comp)
            + comp + b"\nendstream"
        )
        res = p["resources"]
        for name, oid in extra_ids.items():
            res = res.replace(b"%" + name + b"%", b"%d 0 R" % oid)
        page_ids.append(add(
            b"<< /Type /Page /Parent %PAGES% /MediaBox [0 0 612 792] "
            b"/Resources " + res + b" /Contents %d 0 R >>" % cid_
        ))
        kids_slots.append(page_ids[-1])
    pages_id = add(
        b"<< /Type /Pages /Kids [" + b" ".join(b"%d 0 R" % i for i in kids_slots)
        + b"] /Count %d >>" % len(kids_slots)
    )
    catalog_id = add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_id)
    out = [b"%PDF-1.4"]
    offsets = [0]
    pos = len(out[0]) + 1
    for i, body in enumerate(objs, start=1):
        body = body.replace(b"%PAGES%", b"%d 0 R" % pages_id)
        chunk = b"%d 0 obj\n" % i + body + b"\nendobj"
        offsets.append(pos)
        out.append(chunk)
        pos += len(chunk) + 1
    xref_pos = pos
    xref = [b"xref", b"0 %d" % (len(objs) + 1), b"0000000000 65535 f "]
    xref += [b"%010d 00000 n " % off for off in offsets[1:]]
    out.append(b"\n".join(xref))
    out.append(b"trailer\n<< /Size %d /Root %d 0 R >>" % (len(objs) + 1, catalog_id))
    out.append(b"startxref\n%d\n%%%%EOF" % xref_pos)
    return b"\n".join(out)


def _glyph_stream(lines: list[str]) -> bytes:
    """Skia-style emission (what Google-Docs PDFs actually contain, and what
    the real fixtures exercise): a scaled+flipped CTM, one BT block per
    line, one Td/Tj PER GLYPH with explicit space glyphs. Round-trips
    through the parser's full CTM×Tm tracking path."""
    size = 14.666667
    ops = [b"1 0 0 -1 0 842 cm", b"q", b".75 0 0 .75 72 72 cm"]
    for li, ln in enumerate(lines):
        if not ln.strip():
            continue
        y = 13.2773438 + li * 14.6666667
        ops += [b"BT", b"/F1 14.666667 Tf", b"1 0 0 -1 0 .47981739 Tm"]
        adv_prev = 0.0
        first = True
        for ch in ln:
            hexs = ch.encode("utf-16-be").hex().upper().encode()
            if first:
                ops.append(b"0 %.4f Td <%s> Tj" % (-y, hexs))
                first = False
            else:
                ops.append(b"%.4f 0 Td <%s> Tj" % (adv_prev, hexs))
            # advance ≈ estimated width + small slack: x stays strictly
            # increasing and the reader's word-gap heuristic never fires
            adv_prev = _est_width(ch) * size + 2.0 / 0.75
        ops.append(b"ET")
    ops.append(b"Q")
    return b"\n".join(ops)


def write_text_pdf(
    pages: list[str], cid: bool = False, two_column: bool = False,
    glyph_mode: bool = False,
) -> bytes:
    """Each element of ``pages`` is that page's text ('\\n'-separated lines).
    ``glyph_mode`` writes Skia-style per-glyph CID runs through a scaled
    CTM (see _glyph_stream) instead of one Tj per line."""
    if glyph_mode:
        cid = True
    if cid:
        font = (
            b"<< /Type /Font /Subtype /Type0 /BaseFont /Synth-Identity "
            b"/Encoding /Identity-H /ToUnicode %CMAP% >>"
        )
        extra = {b"CMAP": (b"<< /Length %LEN% /Filter /FlateDecode >>", _CMAP_TEMPLATE)}
    else:
        font = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
        extra = {}
    page_objs = []
    for text in pages:
        lines = text.split("\n")
        placed: list[tuple[float, float, str]] = []
        if two_column:
            half = (len(lines) + 1) // 2
            for i, ln in enumerate(lines[:half]):
                placed.append((72.0, 720.0 - 14.0 * i, ln))
            for i, ln in enumerate(lines[half:]):
                placed.append((340.0, 720.0 - 14.0 * i, ln))
        else:
            for i, ln in enumerate(lines):
                placed.append((72.0, 720.0 - 14.0 * i, ln))
        placed = [(x, y, t) for x, y, t in placed if t.strip()]
        content = (_glyph_stream(lines) if glyph_mode
                   else _text_stream(placed, cid))
        page_objs.append({
            "content": content,
            "resources": b"<< /Font << /F1 " + font + b" >> >>",
            "extra": dict(extra),
        })
    return _build_pdf(page_objs)


def write_scanned_pdf(page_images: list[bytes]) -> bytes:
    """Image-only PDF: one RIMG payload per page as an image XObject."""
    page_objs = []
    for img in page_images:
        page_objs.append({
            "content": b"q 612 0 0 792 0 0 cm /Im1 Do Q",
            "resources": b"<< /XObject << /Im1 %IMG% >> >>",
            "extra": {
                b"IMG": (
                    b"<< /Type /XObject /Subtype /Image /Width 612 /Height 792 "
                    b"/ColorSpace /DeviceGray /BitsPerComponent 8 "
                    b"/Length %LEN% /Filter /FlateDecode >>",
                    img,
                )
            },
        })
    return _build_pdf(page_objs)


# --------------------------------------------------------------------------
# parser
#
# Handles two producer families end-to-end:
#   - this module's own writer (inline /F1 font, no cm, Tm-per-line)
#   - real-world Skia/PDF (Google Docs) files, the reference's fixtures
#     (/root/reference/tests/curriculos/*.pdf): subset Type0/Identity-H
#     fonts under arbitrary names with Flate-compressed /ToUnicode CMaps,
#     per-glyph Tj runs positioned through a q/Q-stacked CTM (cm) composed
#     with Tm/Td, explicit space glyphs, raw-RGB Flate image XObjects.
# Reference parity target: fitz page.get_text() recovers the full text of
# every fixture (reference: app/services/ocr_service.py:50-58); this parser
# must recover the same lines (heading + contact parity asserted in
# tests/test_real_fixtures.py).
# --------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+) 0 obj\s*(.*?)\s*endobj", re.S)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\nendstream", re.S)


def _parse_objects(pdf: bytes) -> dict[int, bytes]:
    if not pdf.startswith(b"%PDF"):
        raise PdfParseError("not a PDF (missing %PDF header)")
    objs = {int(m.group(1)): m.group(2) for m in _OBJ_RE.finditer(pdf)}
    if not objs:
        raise PdfParseError("no objects found")
    _expand_object_streams(objs)
    return objs


def _expand_object_streams(objs: dict[int, bytes]) -> None:
    """Unpack /Type /ObjStm containers (PDF 1.5+): modern producers store
    non-stream objects (pages, fonts, catalogs) inside compressed object
    streams, invisible to the top-level 'N 0 obj' scan. Layout per spec:
    /N pairs of 'objnum offset' ints up to /First, then the object bodies.
    Existing top-level objects are never overwritten."""
    for body in list(objs.values()):
        if not re.search(rb"/Type\s*/ObjStm", body):
            continue
        n = _int_after(body, b"N")
        first = _int_after(body, b"First")
        data = _get_stream(body)
        if not n or first is None or data is None:
            continue
        try:
            nums = [int(x) for x in data[:first].split()]
        except ValueError:
            continue
        pairs = list(zip(nums[0::2], nums[1::2]))[:n]
        for idx, (oid, off) in enumerate(pairs):
            end = (first + pairs[idx + 1][1]
                   if idx + 1 < len(pairs) else len(data))
            objs.setdefault(oid, data[first + off : end].strip())


def _get_stream(body: bytes) -> bytes | None:
    m = _STREAM_RE.search(body)
    if m is None:
        return None
    data = m.group(1)
    if b"/FlateDecode" in body:
        # inflate at most one byte past the payload cap, so a Flate bomb
        # stops there instead of inflating in full
        d = zlib.decompressobj()
        try:
            out = d.decompress(data, MAX_FILE_SIZE + 1)
        except zlib.error as exc:
            raise PdfParseError(f"corrupt Flate stream: {exc}") from exc
        if len(out) > MAX_FILE_SIZE:
            raise PdfParseError("Flate stream too large")
        if not d.eof:
            raise PdfParseError(
                "corrupt Flate stream: incomplete or truncated stream")
        return out
    return data


def _page_order(objs: dict[int, bytes]) -> list[int]:
    """Object ids of pages, in /Kids order."""
    for body in objs.values():
        if b"/Type /Pages" in body or b"/Type/Pages" in body:
            kids = re.search(rb"/Kids\s*\[(.*?)\]", body, re.S)
            if kids:
                return [int(x) for x in re.findall(rb"(\d+) 0 R", kids.group(1))]
    raise PdfParseError("no /Pages object")


# ---- dictionary navigation (inline dicts and indirect refs both occur) ----

def _balanced_dict(buf: bytes, start: int) -> tuple[bytes, int]:
    """``buf[start:]`` begins with ``<<``; return (full dict bytes incl.
    delimiters, end index after the closing ``>>``)."""
    depth, i, n = 0, start, len(buf)
    while i < n:
        if buf[i : i + 2] == b"<<":
            depth += 1
            i += 2
        elif buf[i : i + 2] == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return buf[start:i], i
        else:
            i += 1
    raise PdfParseError("unterminated dictionary")


def _value_after(body: bytes, name: bytes) -> tuple[str, object] | None:
    """Typed value of ``/name`` in a dict body: ('ref', int) | ('dict', bytes)
    | ('array', bytes) | ('name', bytes) | ('num', bytes) | None."""
    m = re.search(rb"/" + re.escape(name) + rb"(?![A-Za-z0-9])\s*", body)
    if m is None:
        return None
    rest = body[m.end():]
    mr = re.match(rb"(\d+)\s+0\s+R", rest)
    if mr:
        return ("ref", int(mr.group(1)))
    if rest.startswith(b"<<"):
        d, _ = _balanced_dict(rest, 0)
        return ("dict", d)
    if rest.startswith(b"["):
        j = rest.find(b"]")
        return ("array", rest[1 : j if j >= 0 else len(rest)])
    mn = re.match(rb"/([^\s/<>\[\]()]+)", rest)
    if mn:
        return ("name", mn.group(1))
    mnum = re.match(rb"[-+.0-9]+", rest)
    if mnum:
        return ("num", mnum.group(0))
    return None


def _resolve(objs: dict[int, bytes], val) -> bytes | None:
    """Dict body from a typed value: follow a ref, pass an inline dict."""
    if val is None:
        return None
    kind, v = val
    if kind == "ref":
        return objs.get(v)
    if kind == "dict":
        return v
    return None


def _int_after(body: bytes, name: bytes) -> int | None:
    v = _value_after(body, name)
    if v is not None and v[0] == "num":
        try:
            return int(float(v[1]))
        except ValueError:
            return None
    return None


def _dict_entries(d: bytes):
    """Yield (name, typed value) for the top-level entries of a dict body —
    sequential scan, so names inside nested sub-dicts are never mistaken
    for entries (a /Font dict may hold inline font dicts)."""
    i = 2 if d.startswith(b"<<") else 0
    end = len(d) - (2 if d.startswith(b"<<") else 0)
    name_re = re.compile(rb"\s*/([^\s/<>\[\]()]+)\s*")
    ref_re = re.compile(rb"(\d+)\s+0\s+R")
    tok_re = re.compile(rb"[^\s/<>\[\]]+")
    while i < end:
        m = name_re.match(d, i)
        if m is None:
            break
        name, i = m.group(1), m.end()
        if d.startswith(b"<<", i):
            sub, i = _balanced_dict(d, i)
            yield name, ("dict", sub)
        elif (mr := ref_re.match(d, i)) is not None:
            yield name, ("ref", int(mr.group(1)))
            i = mr.end()
        elif d.startswith(b"[", i):
            j = d.find(b"]", i)
            j = j if j >= 0 else end
            yield name, ("array", d[i + 1 : j])
            i = j + 1
        elif (mn := name_re.match(d, i)) is not None:
            yield name, ("name", mn.group(1))
            i = mn.end()
        else:
            mt = tok_re.match(d, i)
            if mt is None:
                break
            yield name, ("tok", mt.group(0))
            i = mt.end()


# ---- string decoding: literal escapes, ToUnicode CMaps, font decoders ----

_LITERAL_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _decode_literal(raw: bytes) -> bytes:
    """PDF literal-string body → raw bytes (escapes + octal resolved)."""
    out = bytearray()
    i = 0
    while i < len(raw):
        c = raw[i : i + 1]
        if c == b"\\" and i + 1 < len(raw):
            nxt = raw[i + 1 : i + 2]
            if nxt in _LITERAL_ESCAPES:
                out += _LITERAL_ESCAPES[nxt]
                i += 2
                continue
            if nxt.isdigit():  # octal, up to 3 digits
                j = i + 1
                while j < min(i + 4, len(raw)) and raw[j : j + 1].isdigit():
                    j += 1
                out.append(int(raw[i + 1 : j], 8) & 0xFF)
                i = j
                continue
        out += c
        i += 1
    return bytes(out)


def _hex_text(h: bytes) -> str:
    """CMap destination hex → text. Even byte counts are UTF-16BE (so a
    multi-code-unit destination like a ligature 'fi' or a surrogate pair
    decodes to its full string); odd ones fall back to latin-1."""
    try:
        b = bytes.fromhex(h.decode())
    except ValueError:
        return ""
    if len(b) % 2 == 0:
        # strict: valid surrogate PAIRS combine fine; a lone surrogate from
        # a corrupt/hostile CMap must NOT leak into span text (it would
        # crash Arrow UTF-8 serialization downstream instead of staying
        # error-as-data), so it falls through to the latin-1 byte view
        try:
            return b.decode("utf-16-be")
        except UnicodeDecodeError:
            return b.decode("latin-1")
    return b.decode("latin-1")


class _CMap:
    """ToUnicode mapping: code → str (may be multi-char)."""

    def __init__(self, ranges, chars, arrays):
        self.ranges, self.chars, self.arrays = ranges, chars, arrays

    def decode(self, code: int) -> str:
        hit = self.chars.get(code)
        if hit is not None:
            return hit
        for lo, hi, base in self.ranges:
            if lo <= code <= hi:
                if not base:
                    return "�"
                return base[:-1] + chr(ord(base[-1]) + (code - lo))
        for lo, strs in self.arrays:
            if lo <= code < lo + len(strs):
                return strs[code - lo]
        return "�"


_BFRANGE_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
    rb"(?:<([0-9A-Fa-f]+)>|\[((?:\s*<[0-9A-Fa-f]+>)+)\s*\])"
)


def _parse_cmap(cmap: bytes) -> _CMap:
    ranges, chars, arrays = [], {}, []
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", cmap, re.S):
        for lo, hi, dst, arr in _BFRANGE_RE.findall(m.group(1)):
            lo_i, hi_i = int(lo, 16), int(hi, 16)
            if arr:
                strs = [_hex_text(h) for h in re.findall(rb"<([0-9A-Fa-f]+)>", arr)]
                arrays.append((lo_i, strs))
            else:
                ranges.append((lo_i, hi_i, _hex_text(dst)))
    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", cmap, re.S):
        for src, dst in re.findall(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", m.group(1)
        ):
            chars[int(src, 16)] = _hex_text(dst)
    return _CMap(ranges, chars, arrays)


class _FontDecoder:
    """Per-font string decoder. CID fonts (Type0/Identity-H — the Skia
    fixture encoding) consume 2-byte codes through the ToUnicode CMap;
    simple fonts consume single bytes (CMap if present, else latin-1)."""

    def __init__(self, cmap: _CMap | None, cid: bool):
        self.cmap, self.cid = cmap, cid

    def decode_bytes(self, data: bytes) -> str:
        if self.cid:
            out = []
            for i in range(0, len(data) - len(data) % 2, 2):
                code = (data[i] << 8) | data[i + 1]
                out.append(self.cmap.decode(code) if self.cmap else chr(code))
            return "".join(out)
        if self.cmap is not None:
            return "".join(self.cmap.decode(b) for b in data)
        return data.decode("latin-1")

    def decode_hex(self, hexs: bytes) -> str:
        try:
            return self.decode_bytes(bytes.fromhex(hexs.decode()))
        except ValueError as exc:
            raise PdfParseError(f"bad hex string: {exc}") from exc


_FALLBACK_DECODER = _FontDecoder(None, False)


def _font_decoder(objs: dict[int, bytes], val) -> _FontDecoder:
    body = _resolve(objs, val)
    if body is None:
        return _FALLBACK_DECODER
    cid = b"/Identity-H" in body or b"/Type0" in body
    cmap = None
    tu = _value_after(body, b"ToUnicode")
    if tu is not None and tu[0] == "ref" and tu[1] in objs:
        s = _get_stream(objs[tu[1]])
        if s:
            cmap = _parse_cmap(s)
    return _FontDecoder(cmap, cid)


def _page_fonts(objs: dict[int, bytes], page_body: bytes) -> dict[bytes, _FontDecoder]:
    """Font name → decoder from the page's /Resources (inline dict or
    indirect ref; font entries may be refs or inline dicts)."""
    res = _resolve(objs, _value_after(page_body, b"Resources"))
    if res is None:
        return {}
    fd = _resolve(objs, _value_after(res, b"Font"))
    if fd is None:
        return {}
    return {name: _font_decoder(objs, val) for name, val in _dict_entries(fd)}


def _page_content(objs: dict[int, bytes], page_body: bytes) -> bytes | None:
    """Concatenated content stream(s): /Contents may be one ref or an array."""
    val = _value_after(page_body, b"Contents")
    if val is None:
        return None
    if val[0] == "ref":
        refs = [val[1]]
    elif val[0] == "array":
        refs = [int(x) for x in re.findall(rb"(\d+)\s+0\s+R", val[1])]
    else:
        return None
    chunks = [
        s for r in refs if r in objs
        if (s := _get_stream(objs[r])) is not None
    ]
    return b"\n".join(chunks) if chunks else None


# ---- content-stream interpreter: full CTM × text-matrix tracking ----

_ID_MAT = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _mmul(m, n):
    """Compose affine maps (apply m, then n); PDF row-vector convention."""
    a, b, c, d, e, f = m
    A, B, C, D, E, G = n
    return (a * A + b * C, a * B + b * D, c * A + d * C, c * B + d * D,
            e * A + f * C + E, e * B + f * D + G)


_TOKEN_RE = re.compile(
    rb"\((?:[^()\\]|\\.)*\)|<<|>>|<[0-9A-Fa-f\s]*>|\[|\]|/[^\s/<>\[\]()]*|"
    rb"[-+.0-9]+|[A-Za-z'\"*]+"
)

# (x, y, text, est_width, font_size) in device space
_Run = tuple[float, float, str, float, float]

# rough Helvetica/Arial advance classes in em — only used by the
# separate-word gap heuristic in _join_lines, so ±15% error is fine, but a
# flat 0.5 em/char underestimates wide glyphs ('@' ≈ 1.0 em) enough to
# trigger spurious spaces inside per-glyph runs (seen on the contact line of
# the real fixtures before this table existed)
_NARROW = set("iIl.,:;'!|jft()[]{}/\\ r")
_WIDE = set("mwMW@%—–")


def _est_width(text: str, per_char: float = 0.58) -> float:
    w = 0.0
    for ch in text:
        if ch in _NARROW:
            w += 0.30
        elif ch in _WIDE:
            w += 0.95
        elif ch.isupper() or ch.isdigit():
            w += 0.68
        else:
            w += per_char
    return w


def _content_runs(content: bytes, fonts: dict[bytes, _FontDecoder]) -> list[_Run]:
    """Execute the graphics/text-positioning subset of the content stream.

    Tracks the full state real producers rely on: q/Q graphics stack, cm CTM
    concatenation, BT/Tm/Td/TD/T*/TL text matrices, Tf font switching (each
    font decodes through its own ToUnicode CMap).  Glyph-run device position
    is (0,0) through Tm·CTM — Skia places every glyph via a 0.75-scaled,
    y-flipped CTM, so ignoring cm (the round-1 bug) scrambled real fixtures.
    Unknown operators clear the operand stack (postfix discipline), so
    BDC/gs/re/cm-adjacent operands never leak into later operators."""
    runs: list[_Run] = []
    stack: list = []
    ctm, gstack = _ID_MAT, []
    tm = tlm = _ID_MAT
    leading = 14.0
    font = next(iter(fonts.values()), _FALLBACK_DECODER)
    fsize = 11.0

    def emit(parts: list[str]) -> None:
        text = "".join(parts)
        if not text:
            return
        trm = _mmul(tm, ctm)
        scale = (trm[0] ** 2 + trm[1] ** 2) ** 0.5 or 1.0
        size = fsize * scale
        runs.append((trm[4], trm[5], text, _est_width(text) * size, size))

    def decode_tok(tok: bytes) -> str:
        if tok.startswith(b"("):
            return font.decode_bytes(_decode_literal(tok[1:-1]))
        hexs = re.sub(rb"\s", b"", tok[1:-1])
        if len(hexs) % 2:
            hexs += b"0"
        return font.decode_hex(hexs)

    def newline() -> None:
        nonlocal tm, tlm
        tlm = _mmul((1.0, 0.0, 0.0, 1.0, 0.0, -leading), tlm)
        tm = tlm

    def floats(n: int) -> list[float] | None:
        if len(stack) >= n and all(isinstance(v, float) for v in stack[-n:]):
            return stack[-n:]
        return None

    for m in _TOKEN_RE.finditer(content):
        tok = m.group(0)
        c0 = tok[:1]
        if c0 in (b"(", b"<") and tok not in (b"<<", b">>"):
            stack.append(tok)
        elif tok in (b"[", b"]", b"<<", b">>"):
            continue
        elif c0 in b"-+.0123456789":
            try:
                stack.append(float(tok))
            except ValueError:
                stack.append(0.0)
        elif c0 == b"/":
            stack.append(tok)
        elif tok == b"q":
            gstack.append(ctm)
            stack.clear()
        elif tok == b"Q":
            if gstack:
                ctm = gstack.pop()
            stack.clear()
        elif tok == b"cm":
            if (ops := floats(6)) is not None:
                ctm = _mmul(tuple(ops), ctm)
            stack.clear()
        elif tok == b"BT":
            tm = tlm = _ID_MAT
            stack.clear()
        elif tok == b"Tf":
            if (len(stack) >= 2 and isinstance(stack[-2], bytes)
                    and stack[-2].startswith(b"/")):
                name = stack[-2][1:]
                if name in fonts:
                    font = fonts[name]
                if isinstance(stack[-1], float):
                    fsize = stack[-1]
            stack.clear()
        elif tok == b"Tm":
            if (ops := floats(6)) is not None:
                tm = tlm = tuple(ops)
            stack.clear()
        elif tok in (b"Td", b"TD"):
            if (ops := floats(2)) is not None:
                tx, ty = ops
                if tok == b"TD":
                    leading = -ty
                tlm = _mmul((1.0, 0.0, 0.0, 1.0, tx, ty), tlm)
                tm = tlm
            stack.clear()
        elif tok == b"T*":
            newline()
            stack.clear()
        elif tok == b"TL":
            if stack and isinstance(stack[-1], float):
                leading = stack[-1]
            stack.clear()
        elif tok == b"Tj":
            if stack and isinstance(stack[-1], bytes) and stack[-1][:1] in (b"(", b"<"):
                emit([decode_tok(stack[-1])])
            stack.clear()
        elif tok in (b"'", b'"'):
            newline()
            strs = [t for t in stack
                    if isinstance(t, bytes) and t[:1] in (b"(", b"<")]
            if strs:
                emit([decode_tok(strs[-1])])
            stack.clear()
        elif tok == b"TJ":
            parts = []
            for t in stack:
                if isinstance(t, bytes) and t[:1] in (b"(", b"<"):
                    parts.append(decode_tok(t))
                elif isinstance(t, float) and t < -180.0:
                    # large negative kern (thousandths of em) = word gap,
                    # the standard pdftotext/pdfminer heuristic
                    parts.append(" ")
            emit(parts)
            stack.clear()
        else:
            stack.clear()  # unknown operator: consume its operands
    return runs


def _reading_order(runs: list[_Run]) -> str:
    """Sort runs into reading order with column reconstruction: cluster x
    positions; if two clusters are separated by > COLUMN_SPLIT_GAP, read the
    left column fully before the right (north_star: column/reading-order
    reconstruction)."""
    if not runs:
        return ""
    xs = sorted({r[0] for r in runs})
    split = None
    for a, b in zip(xs, xs[1:]):
        if b - a > COLUMN_SPLIT_GAP:
            split = (a + b) / 2
            break

    def key(run):
        x, y = run[0], run[1]
        col = 0 if split is None or x < split else 1
        return (col, -round(y / LINE_Y_TOL), x)

    return _join_lines(sorted(runs, key=key), split)


def _join_lines(ordered: list[_Run], split) -> str:
    """Concatenate same-line runs in x order. Runs are glued with NO
    separator — real producers (Skia) emit explicit space glyphs per word
    gap — unless the x-gap past the previous run's estimated extent exceeds
    half the font size (the separate-word heuristic for producers that
    position words without space glyphs)."""
    lines: list[str] = []
    cur: list[str] = []
    cur_k = None
    pos_end = 0.0
    for x, y, t, w, size in ordered:
        col = 0 if split is None or x < split else 1
        k = (col, -round(y / LINE_Y_TOL))
        if k != cur_k:
            if cur:
                lines.append("".join(cur).rstrip())
            cur, cur_k, pos_end = [], k, x
        if cur and x - pos_end > 0.6 * size:
            cur.append(" ")
        cur.append(t)
        pos_end = max(pos_end, x + w)
    if cur:
        lines.append("".join(cur).rstrip())
    return "\n".join(lines)


def extract_text(pdf: bytes) -> str:
    """Direct text extraction, pages joined with \\f (the fitz
    ``page.get_text()`` analog, reference: app/services/ocr_service.py:50-58).
    Verified against every real fixture in /root/reference/tests/curriculos
    (tests/test_real_fixtures.py) and byte-exact on this module's writer."""
    objs = _parse_objects(pdf)
    pages = []
    for pid in _page_order(objs):
        body = objs.get(pid)
        if body is None:
            raise PdfParseError(f"missing page object {pid}")
        content = _page_content(objs, body)
        if content is None:
            pages.append("")
            continue
        fonts = _page_fonts(objs, body)
        pages.append(_reading_order(_content_runs(content, fonts)))
    return "\f".join(pages)


def extract_page_images(pdf: bytes) -> list[bytes]:
    """Ordered list of per-page image payloads, RIMG-wrapped so the OCR
    stage can consume them directly (the pdf2image ``convert_from_bytes``
    analog, reference: app/services/ocr_service.py:84-98).

    Each page contributes its largest image XObject (Skia image-PDFs embed
    the page scan as one raw-RGB Flate XObject; this module's scanned writer
    embeds one RIMG payload). Raw RGB/gray streams are converted to RIMG
    grayscale via integer luminosity; unknown encodings pass through raw and
    surface as OCR decode errors downstream (error-as-data)."""
    objs = _parse_objects(pdf)
    out: list[bytes] = []
    for pid in _page_order(objs):
        body = objs.get(pid, b"")
        res = _resolve(objs, _value_after(body, b"Resources")) or body
        xod = _resolve(objs, _value_after(res, b"XObject"))
        images: list[bytes] = []
        if xod is not None:
            for _name, val in _dict_entries(xod):
                ib = _resolve(objs, val)
                if ib is not None and re.search(rb"/Subtype\s*/Image", ib):
                    images.append(ib)
        if not images:
            continue
        best = max(images, key=lambda ib: (_int_after(ib, b"Width") or 0)
                   * (_int_after(ib, b"Height") or 0))
        data = _get_stream(best)
        if data is None:
            raise PdfParseError(f"image object on page {pid} has no stream")
        out.append(_to_rimg(data, _int_after(best, b"Width"),
                            _int_after(best, b"Height")))
    return out


def _to_rimg(data: bytes, w: int | None, h: int | None) -> bytes:
    """Wrap a decoded image stream as an RIMG grayscale payload."""
    from . import imagecodec

    if data[:5] == imagecodec.MAGIC:  # writer-native payload: pass through
        return data
    if data[:3] == b"\xff\xd8\xff":
        # /DCTDecode XObject — the most common real-world scanned-PDF page
        # encoding; decode via the baseline JPEG codec
        from . import jpegcodec

        try:
            gray = jpegcodec.decode_jpeg_gray(data)
        except jpegcodec.JpegDecodeError as exc:
            raise PdfParseError(f"corrupt DCT image: {exc}") from exc
        import numpy as np

        header = imagecodec.MAGIC + np.array(gray.shape, dtype="<u4").tobytes()
        return header + gray.tobytes()
    if w and h and len(data) in (w * h * 3, w * h):
        import numpy as np

        if len(data) == w * h * 3:
            arr = np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)
            gray = ((arr[..., 0].astype(np.uint32) * 299
                     + arr[..., 1].astype(np.uint32) * 587
                     + arr[..., 2].astype(np.uint32) * 114 + 500)
                    // 1000).astype(np.uint8)
        else:
            gray = np.frombuffer(data, dtype=np.uint8).reshape(h, w)
        header = imagecodec.MAGIC + np.array([h, w], dtype="<u4").tobytes()
        return header + gray.tobytes()
    return data  # unknown encoding — downstream OCR rejects (error-as-data)
