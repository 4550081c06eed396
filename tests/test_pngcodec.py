"""PNG decoder tests: per-filter synthetic round-trips + the reference's
real PNG fixtures (/root/reference/tests/curriculos/*.png).

The synthetic encoder below writes each scanline with a FORCED filter type,
so every unfilter path (None/Sub/Up/Average/Paeth) is pinned independently
against numpy ground truth — no PIL needed on either side.
"""

from __future__ import annotations

import glob
import os
import struct
import tracemalloc
import zlib

import numpy as np
import pytest

from resume_ocr_spark import oracle
from resume_ocr_spark.formats import imagecodec, pngcodec

FIXDIR = "/root/reference/tests/curriculos"


# ---------------------------------------------------------------------------
# minimal encoder (test-only): filters each row with a chosen type
# ---------------------------------------------------------------------------

def _chunk(typ: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + typ + body
            + struct.pack(">I", zlib.crc32(typ + body)))


def _filter_row(row, prev, bpp: int, ftype: int) -> bytes:
    out = bytearray()
    for x in range(len(row)):
        a = row[x - bpp] if x >= bpp else 0
        b = prev[x]
        c = prev[x - bpp] if x >= bpp else 0
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = a
        elif ftype == 2:
            pred = b
        elif ftype == 3:
            pred = (a + b) >> 1
        else:  # Paeth
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
        out.append((row[x] - pred) & 0xFF)
    return bytes(out)


def encode_png(img: np.ndarray, colortype: int, ftype: int) -> bytes:
    h, w = img.shape[:2]
    ch = 1 if img.ndim == 2 else img.shape[2]
    flat = img.reshape(h, w * ch)
    raw = bytearray()
    prev = [0] * (w * ch)
    for r in range(h):
        row = [int(v) for v in flat[r]]
        raw.append(ftype)
        raw += _filter_row(row, prev, ch, ftype)
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, colortype, 0, 0, 0)
    return (pngcodec.PNG_MAGIC + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b""))


def _img(h, w, ch, seed=3):
    rng = np.random.RandomState(seed)
    a = rng.randint(0, 256, size=(h, w, ch) if ch > 1 else (h, w),
                    dtype=np.uint8)
    return a


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("colortype,ch", [(0, 1), (2, 3), (6, 4)])
def test_filter_roundtrip(ftype, colortype, ch):
    img = _img(13, 17, ch, seed=ftype * 10 + ch)
    data = encode_png(img, colortype, ftype)
    dec = pngcodec.decode_png(data)
    assert dec.shape == (13, 17, ch)
    expect = img if img.ndim == 3 else img[..., None]
    np.testing.assert_array_equal(dec, expect)


def test_gray_luminosity_and_alpha_composite():
    # pure red RGBA, alpha 0 → white; alpha 255 → luminosity of red (76)
    img = np.zeros((2, 2, 4), dtype=np.uint8)
    img[..., 0] = 255
    img[0, :, 3] = 255
    data = encode_png(img, 6, 0)
    gray = pngcodec.decode_png_gray(data)
    assert gray[0, 0] == (255 * 299 + 500) // 1000  # 76
    assert gray[1, 0] == 255


def test_corrupt_png_is_error():
    good = encode_png(_img(5, 5, 3), 2, 0)
    with pytest.raises(pngcodec.PngDecodeError):
        pngcodec.decode_png(good[:40])
    with pytest.raises(pngcodec.PngDecodeError):
        pngcodec.decode_png(b"\x89PNG\r\n\x1a\n" + b"garbage" * 4)
    # dispatcher: corrupt PNG surfaces as ImageDecodeError (error-as-data)
    with pytest.raises(imagecodec.ImageDecodeError):
        imagecodec.decode_image(good[:40])


def _png_with_idat(w: int, h: int, idat: bytes) -> bytes:
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit gray
    return (pngcodec.PNG_MAGIC + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", idat) + _chunk(b"IEND", b""))


def test_idat_bomb_is_error_row_in_bounded_memory():
    # a 4x4 gray IHDR over 64 MiB of inflated zeros, compressed 1 MiB at a
    # time so the test never holds it inflated
    comp, zeros = zlib.compressobj(9), bytes(1 << 20)
    idat = b"".join(comp.compress(zeros) for _ in range(64)) + comp.flush()
    bomb = _png_with_idat(4, 4, idat)
    tracemalloc.start()
    try:
        out = oracle.extract_span("image", None, "m", bomb)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert out[0] == "" and out[2] == 0
    assert out[1].startswith("corrupt PNG: IDAT inflates past")
    assert peak < 4 << 20  # the payload's copies, never its 64 MiB inflation


def test_pixel_cap_rejects_before_inflating():
    side = int(pngcodec.MAX_PIXELS ** 0.5) + 1
    with pytest.raises(pngcodec.PngDecodeError, match="image too large"):
        pngcodec.decode_png(_png_with_idat(side, side, zlib.compress(b"")))


def test_short_and_truncated_idat_are_errors():
    raw = bytes(5 * (3 + 1))  # 5 rows of filter byte + 3 gray pixels
    assert pngcodec.decode_png(
        _png_with_idat(3, 5, zlib.compress(raw))).shape == (5, 3, 1)
    with pytest.raises(pngcodec.PngDecodeError, match="decompressed size"):
        pngcodec.decode_png(_png_with_idat(3, 5, zlib.compress(raw[:-1])))
    with pytest.raises(pngcodec.PngDecodeError, match="truncated"):
        pngcodec.decode_png(_png_with_idat(3, 5, zlib.compress(raw)[:-4]))


@pytest.mark.skipif(not os.path.isdir(FIXDIR), reason="no reference fixtures")
class TestRealPngFixtures:
    SHAPES = {
        "carla_matos.png": (429, 573),
        "doc_generico.png": (1811, 1280),
        "juliana_alves.png": (442, 650),
        "lucas_barros.png": (442, 650),
        "mariana_teixeira.png": (673, 660),
        "nicolas_azevedo.png": (442, 650),
        "olivia_pereira.png": (442, 650),
    }

    def test_all_real_pngs_decode(self):
        for name, shape in self.SHAPES.items():
            with open(os.path.join(FIXDIR, name), "rb") as f:
                gray = pngcodec.decode_png_gray(f.read())
            assert gray.shape == shape, name
            assert 200 < float(gray.mean()) < 255, name  # white-backed doc

    def test_image_branch_accepts_real_png(self):
        """The reference OCRs PNG uploads (ocr_service.py:23-46); the
        engine's image branch must consume the same real PNGs end-to-end
        (decode → preprocess → stand-in OCR), never raising."""
        with open(os.path.join(FIXDIR, "olivia_pereira.png"), "rb") as f:
            payload = f.read()
        text, error, pages = oracle.extract_span("image", "", "m", payload)
        if error is None:
            assert text.strip() and pages == 1
        else:
            assert error == "empty OCR result"

    def test_real_png_ocr_deterministic(self):
        with open(os.path.join(FIXDIR, "lucas_barros.png"), "rb") as f:
            payload = f.read()
        assert imagecodec.ocr_image(payload) == imagecodec.ocr_image(payload)
