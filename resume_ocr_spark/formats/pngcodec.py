"""Pure-Python PNG decoder (zlib inflate + scanline unfilter, numpy rows).

The reference OCRs real PNG resume uploads (reference:
app/services/ocr_service.py:23-46); this container has no PIL/OpenCV, but
PNG itself is just zlib + five per-scanline byte filters, so the decode is
implemented here directly. Supports the whole fixture corpus
(/root/reference/tests/curriculos/*.png): bit depth 8, color types
0 (gray), 2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA), non-interlaced.

  decode_png(data)       -> (H, W, C) uint8, C ∈ {1, 3, 4} as stored
  decode_png_gray(data)  -> (H, W) uint8 luminosity, alpha composited on
                            white (scans/documents are white-backed)

Corrupt/unsupported input raises ``PngDecodeError`` — callers convert to
error rows (error-as-data, reference: app/services/analyze_service.py:105-117).
So does an image over ``MAX_PIXELS`` or an IDAT stream that inflates past
the size its IHDR declares; neither is inflated in full.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# pixel cap, checked against the IHDR before anything is inflated or
# allocated: ~33.5 MP, almost 4× a 300-dpi A4 scan (8.7 MP)
MAX_PIXELS = 1 << 25


class PngDecodeError(ValueError):
    """Raised on corrupt or unsupported PNG input."""


def _chunks(data: bytes):
    i = 8
    n = len(data)
    while i + 8 <= n:
        ln, typ = struct.unpack(">I4s", data[i : i + 8])
        body = data[i + 8 : i + 8 + ln]
        if len(body) != ln:
            raise PngDecodeError("truncated chunk")
        yield typ, body
        i += 12 + ln  # length + type + body + crc
        if typ == b"IEND":
            return


def _unfilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo per-scanline filters; returns (h, stride) uint8 of recon bytes.

    Row-vectorized where the filter allows (None, Up, and Sub via a
    byte-wise per-channel cumsum); Average and Paeth depend on the
    reconstructed left neighbor, so those rows fall back to a per-byte
    Python loop — fine at fixture scale, and batched under map_rows in
    the pipeline."""
    if len(raw) != h * (stride + 1):
        raise PngDecodeError(
            f"decompressed size {len(raw)} != expected {h * (stride + 1)}")
    src = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for r in range(h):
        ftype = int(src[r, 0])
        row = src[r, 1:]
        if ftype == 0:  # None
            cur = row.copy()
        elif ftype == 1:  # Sub: recon[x] = row[x] + recon[x-bpp]
            # per-channel byte-wise cumsum; uint64 accumulator then a uint8
            # cast is exact mod-256 arithmetic
            cur = np.cumsum(row.reshape(-1, bpp), axis=0,
                            dtype=np.uint64).astype(np.uint8).reshape(-1)
        elif ftype == 2:  # Up
            cur = (row.astype(np.uint16) + prev).astype(np.uint8)
        elif ftype == 3:  # Average
            cur = _avg_row(row, prev, bpp)
        elif ftype == 4:  # Paeth
            cur = _paeth_row(row, prev, bpp)
        else:
            raise PngDecodeError(f"unknown filter type {ftype}")
        out[r] = cur
        prev = cur
    return out


def _avg_row(row: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    cur = bytearray(len(row))
    rv, pv = row.tolist(), prev.tolist()
    for x in range(len(rv)):
        left = cur[x - bpp] if x >= bpp else 0
        cur[x] = (rv[x] + ((left + pv[x]) >> 1)) & 0xFF
    return np.frombuffer(bytes(cur), dtype=np.uint8)


def _paeth_row(row: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    cur = bytearray(len(row))
    rv, pv = row.tolist(), prev.tolist()
    for x in range(len(rv)):
        a = cur[x - bpp] if x >= bpp else 0  # left
        b = pv[x]                            # up
        c = pv[x - bpp] if x >= bpp else 0   # up-left
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            pred = a
        elif pb <= pc:
            pred = b
        else:
            pred = c
        cur[x] = (rv[x] + pred) & 0xFF
    return np.frombuffer(bytes(cur), dtype=np.uint8)


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes → (H, W, C) uint8 (palette entries expanded to RGB)."""
    if data[:8] != PNG_MAGIC:
        raise PngDecodeError("bad PNG magic")
    ihdr = None
    palette = None
    idat = bytearray()
    try:
        for typ, body in _chunks(data):
            if typ == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", body)
            elif typ == b"PLTE":
                palette = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
            elif typ == b"IDAT":
                idat += body
    except struct.error as exc:
        raise PngDecodeError(f"corrupt chunk structure: {exc}") from exc
    if ihdr is None or not idat:
        raise PngDecodeError("missing IHDR or IDAT")
    w, h, bitdepth, colortype, comp, filt, interlace = ihdr
    if bitdepth != 8:
        raise PngDecodeError(f"unsupported bit depth {bitdepth} (only 8)")
    if colortype not in _CHANNELS:
        raise PngDecodeError(f"unsupported color type {colortype}")
    if interlace != 0:
        raise PngDecodeError("Adam7 interlace not supported")
    if w == 0 or h == 0:
        raise PngDecodeError("zero-sized image")
    if w * h > MAX_PIXELS:
        raise PngDecodeError(f"image too large ({w}x{h} > {MAX_PIXELS} px)")
    ch = _CHANNELS[colortype]
    # the IHDR fixes the inflated size exactly: inflate at most one byte
    # past it, so an IDAT bomb stops there instead of inflating in full
    expected = h * (w * ch + 1)
    d = zlib.decompressobj()
    try:
        raw = d.decompress(idat, expected + 1)
    except zlib.error as exc:
        raise PngDecodeError(f"corrupt IDAT stream: {exc}") from exc
    if len(raw) > expected:
        raise PngDecodeError(
            f"IDAT inflates past the {expected} bytes its IHDR declares")
    if not d.eof:
        raise PngDecodeError(
            "corrupt IDAT stream: incomplete or truncated stream")
    recon = _unfilter(raw, h, w * ch, ch)  # also rejects a short stream
    img = recon.reshape(h, w, ch)
    if colortype == 3:
        if palette is None:
            raise PngDecodeError("palette image without PLTE")
        idx = img[..., 0]
        if int(idx.max()) >= len(palette):
            raise PngDecodeError("palette index out of range")
        img = palette[idx]
    return img


def decode_png_gray(data: bytes) -> np.ndarray:
    """PNG → (H, W) uint8 grayscale: integer luminosity, alpha composited
    over white (document scans are white-backed; matches the RGB→gray rule
    used for PDF image XObjects in pdfcodec._to_rimg)."""
    img = decode_png(data)
    ch = img.shape[2]
    if ch in (3, 4):
        rgb = img[..., :3].astype(np.uint32)
        gray = (rgb[..., 0] * 299 + rgb[..., 1] * 587 + rgb[..., 2] * 114
                + 500) // 1000
    else:  # gray or gray+alpha
        gray = img[..., 0].astype(np.uint32)
    if ch in (2, 4):
        a = img[..., -1].astype(np.uint32)
        gray = (gray * a + 255 * (255 - a) + 127) // 255
    return gray.astype(np.uint8)
