"""Adversarial fuzz harness for every untrusted-input surface.

Usage:  python tools/fuzz_codecs.py [N_PER_CASE]   (default 2000)

Three campaigns, mirroring the round-3 hunt that found the Vorbis/Opus
ident truncation, the JPEG/MP4 named-error leaks, the deskew crash and
the two unbounded-cost OCR paths (all since fixed and test-pinned):

1. container mutation — bit flips + truncations of VALID streams (much
   deeper reach than random bytes) across PDF / RIMG / JPEG / WAV / MP4 /
   MP3 / OGG, plus the reference's real PDF/PNG fixtures when present;
   every decode must return or raise its documented error type only. A
   zlib bomb, a PNG-IDAT bomb and a PDF-Flate bomb (and their mutations)
   go through oracle.extract_span, which must stay total AND within a
   peak-memory budget.
2. adversarial images — noise / flats / salt / mutated renders / stripes
   through preprocess, grid OCR, real-font OCR and ocr_image; must be
   total AND each page must finish within a wall budget (cost bombs are
   scale hazards, not just crashes).
3. hostile strings — printable/unicode/regex-metachar soup through every
   textproc function.

Exit 0 when leak-free and within budget, 1 otherwise. Not in the pytest
suite (minutes of runtime); the fast pinned versions live in
tests/test_codec_error_contract, tests/test_mpegaudio and tests/test_codecs.
"""

from __future__ import annotations

import collections
import glob
import os
import random
import re
import string
import struct
import sys
import time
import tracemalloc
import zlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from resume_ocr_spark import oracle, textproc  # noqa: E402
from resume_ocr_spark.config import MAX_FILE_SIZE  # noqa: E402
from resume_ocr_spark.formats import (avcodec, exifcodec,  # noqa: E402
                                      htmlcodec, imagecodec,
                                      jpegcodec, jpegenc, mp4codec, mpegaudio,
                                      pdfcodec, pngcodec, realfont,
                                      warcformat)

FIXDIR = "/root/reference/tests/curriculos"
PAGE_WALL_BUDGET = 30.0  # s; a single garbage page may not cost more
BOMB_MIB = 64  # inflated size of the zlib bomb
BOMB_MEM_BUDGET = 3 * MAX_FILE_SIZE  # B; traced peak of one bomb span

leaks: collections.Counter = collections.Counter()
examples: dict = {}
slow: list = []
heavy: list = []
peaks: dict = {}


def probe(name, fn, arg, ok_exc, budget=None, mem_budget=None):
    if mem_budget:
        tracemalloc.start()
    t0 = time.time()
    try:
        fn(arg)
    except ok_exc:
        pass
    except Exception as exc:  # noqa: BLE001 — the leak detector itself
        key = (name, type(exc).__name__)
        leaks[key] += 1
        examples.setdefault(key, str(exc)[:90])
    dt = time.time() - t0
    if budget and dt > budget:
        slow.append((name, round(dt, 1)))
    if mem_budget:
        peak = tracemalloc.get_traced_memory()[1]
        tracemalloc.stop()
        peaks[name] = max(peaks.get(name, 0), peak)
        if peak > mem_budget:
            heavy.append((name, round(peak / 2**20)))


def mutate(rng: random.Random, base: bytes) -> bytes:
    b = bytearray(base)
    for _ in range(rng.randint(1, 16)):
        b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
    if rng.random() < 0.4:
        b = b[: rng.randint(1, len(b))]
    return bytes(b)


def campaign_containers(n: int) -> None:
    rng = random.Random(1)
    img = imagecodec.render_text_image("Currículo de Teste\njoao@x.com")
    raw = imagecodec.decode_rimg(img)
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tests"))
    from test_jpegcodec import encode_jpeg  # the test-side spec-pin encoder

    js = encode_jpeg(raw[:64, :64])
    mp3 = None
    try:
        from test_mpegaudio import mp3_frame, ogg_page, vorbis_ident
        mp3 = mp3_frame() * 6
        ogg = ogg_page(vorbis_ident(), granule=0) + ogg_page(
            bytes(40), granule=4410, seq=1, htype=4)
    except Exception:
        ogg = None
    cases = [
        ("pdf_text", pdfcodec.write_text_pdf(["Experiência\nPython"]),
         pdfcodec.extract_text, pdfcodec.PdfParseError),
        ("pdf_cid", pdfcodec.write_text_pdf(["Olá"], cid=True),
         pdfcodec.extract_text, pdfcodec.PdfParseError),
        ("pdf_scan", pdfcodec.write_scanned_pdf([raw]),
         pdfcodec.extract_page_images, pdfcodec.PdfParseError),
        ("rimg", img, imagecodec.decode_image, imagecodec.ImageDecodeError),
        ("jpg", js, jpegcodec.decode_jpeg_gray, jpegcodec.JpegDecodeError),
        ("jpg_prog", jpegenc.encode_jpeg(raw[:64, :64], progressive=True),
         jpegcodec.decode_jpeg_gray, jpegcodec.JpegDecodeError),
        ("jpg_prog_color", jpegenc.encode_jpeg(
            np.stack([raw[:48, :48]] * 3, axis=-1), progressive=True,
            subsample=True, restart_interval=4),
         jpegcodec.decode_jpeg, jpegcodec.JpegDecodeError),
        ("wav", avcodec.write_wav(np.zeros(400, np.int16), 8000),
         avcodec.decode_wav, avcodec.AudioDecodeError),
        ("mp4", mp4codec.write_mjpeg_mp4([js] * 2, 64, 64, fps=5),
         mp4codec.extract_frames_gray, mp4codec.Mp4DecodeError),
        ("warc", warcformat.build_warc([
            {"warc_type": "response",
             "payload": b"HTTP/1.1 200 OK\r\n\r\n<html>x</html>",
             "target_uri": "https://f.example/p",
             "content_type": "application/http; msgtype=response"},
            {"warc_type": "resource", "payload": b"abc",
             "content_type": "text/plain"}]),
         warcformat.parse_warc, warcformat.WarcError),
        ("warc_gz", warcformat.build_warc([
            {"warc_type": "resource", "payload": b"zzz" * 30,
             "content_type": "text/plain"}], gzip_members=True),
         warcformat.parse_warc, warcformat.WarcError),
        # EXIF surfaces: the parser directly (ExifError is the named
        # error) AND the decode hot path (orientation_of must swallow
        # every mangled APP1 — only JpegDecodeError may surface)
        ("jpg_exif", exifcodec.splice_app1(js, exifcodec.build_app1(
            orientation=6, make="CamX", model="M-1", gps=True,
            datetime_original="2026:01:01 00:00:00", pixel_x=64,
            pixel_y=64, byte_order="MM")),
         exifcodec.parse_exif, exifcodec.ExifError),
        ("jpg_exif_decode", exifcodec.splice_app1(js, exifcodec.build_app1(
            orientation=8, make="CamY", byte_order="II")),
         imagecodec.decode_image, imagecodec.ImageDecodeError),
    ]
    if mp3:
        cases.append(("mp3", mp3, avcodec.probe_audio_any,
                      avcodec.AudioDecodeError))
    if ogg:
        cases.append(("ogg", ogg, avcodec.probe_audio_any,
                      avcodec.AudioDecodeError))
    for p in sorted(glob.glob(FIXDIR + "/*.pdf"))[:3]:
        cases.append((os.path.basename(p), open(p, "rb").read(),
                      pdfcodec.extract_text, pdfcodec.PdfParseError))
    for p in sorted(glob.glob(FIXDIR + "/*.png"))[:3]:
        cases.append((os.path.basename(p), open(p, "rb").read(),
                      imagecodec.decode_image, imagecodec.ImageDecodeError))
    for name, base, fn, okexc in cases:
        reps = n if len(base) < 200_000 else max(50, n // 10)
        for _ in range(reps):
            probe(name, fn, mutate(rng, base), okexc)
    # zlib bomb: streamed 1 MiB at a time, so the harness never holds it
    comp, zeros = zlib.compressobj(9), bytes(1 << 20)
    bomb = b"".join(comp.compress(zeros) for _ in range(BOMB_MIB)) + comp.flush()
    # PNG-IDAT bomb: each stream again as the IDAT of a 64x64 gray PNG
    # (mutations stay in the stream; the IHDR pixel cap has its own test);
    # PDF-Flate bomb: each stream again as a one-page PDF's content stream
    ihdr = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 64, 64, 8, 0, 0, 0, 0))
    pdf = pdfcodec.write_text_pdf(["x"])
    content = re.search(rb"/FlateDecode >>\nstream\n(.*?)\nendstream", pdf,
                        re.S)
    for b in [bomb] + [mutate(rng, bomb) for _ in range(max(20, n // 100))]:
        png = (pngcodec.PNG_MAGIC + ihdr + _png_chunk(b"IDAT", b)
               + _png_chunk(b"IEND", b""))
        flate = pdf[:content.start(1)] + b + pdf[content.end(1):]
        for name, kind, payload in (("zlib_bomb", "image", b),
                                    ("png_idat_bomb", "image", png),
                                    ("pdf_flate_bomb", "pdf", flate)):
            probe(name, lambda p: oracle.extract_span(kind, None, "m", p),
                  payload, (), mem_budget=BOMB_MEM_BUDGET)
    print(f"containers: {len(cases) + 3} cases fuzzed; bomb peaks "
          f"zlib {peaks['zlib_bomb'] / 2**20:.1f} MiB, "
          f"png idat {peaks['png_idat_bomb'] / 2**20:.1f} MiB, "
          f"pdf flate {peaks['pdf_flate_bomb'] / 2**20:.1f} MiB "
          f"(budget {BOMB_MEM_BUDGET / 2**20:.0f} MiB)")


def _png_chunk(typ: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + typ + body
            + struct.pack(">I", zlib.crc32(typ + body)))


def campaign_images(n: int) -> None:
    rng = np.random.default_rng(4)
    pyr = random.Random(4)
    ocr_ok = (imagecodec.OcrConfidenceError, imagecodec.ImageDecodeError)
    for t in range(max(60, n // 10)):
        h = int(rng.integers(1, 400))
        w = int(rng.integers(1, 500))
        kind = t % 5
        if kind == 0:
            page = rng.integers(0, 256, (h, w), dtype=np.uint8)
        elif kind == 1:
            page = np.full((h, w), int(rng.integers(0, 256)), np.uint8)
        elif kind == 2:
            p = float(rng.uniform(0.005, 0.08))
            page = (255 - ((rng.random((h, w)) < p)
                           .astype(np.uint8) * 255)).astype(np.uint8)
        elif kind == 3:
            base = imagecodec.decode_rimg(imagecodec.render_text_image(
                "Experiência\nPython",
                skew=pyr.choice(imagecodec.SKEW_CANDIDATES)))
            page = base.copy()
            for _ in range(pyr.randint(1, 300)):
                page[pyr.randrange(base.shape[0]),
                     pyr.randrange(base.shape[1])] ^= 255
        else:
            page = ((np.arange(h)[:, None] * int(rng.integers(1, 9))
                     + np.arange(w)[None, :]) % 256).astype(np.uint8)
        probe("preprocess", imagecodec.preprocess, page, (), None)
        probe("realfont", realfont.recognize_page, page, (),
              PAGE_WALL_BUDGET)
        payload = (imagecodec.MAGIC
                   + np.array(page.shape, dtype="<u4").tobytes()
                   + page.tobytes())
        probe("ocr_image", imagecodec.ocr_image, payload, ocr_ok,
              PAGE_WALL_BUDGET)
    print("images: adversarial pages fuzzed")


def campaign_strings(n: int) -> None:
    rng = random.Random(10)
    fns = [
        ("is_resume", textproc.is_resume),
        ("segment_sections", textproc.segment_sections),
        ("extract_fields", textproc.extract_fields),
        ("experience_years", textproc.experience_years),
        ("seniority_label", textproc.seniority_label),
        ("normalize_query", textproc.normalize_query),
        ("score_against_query",
         lambda s: textproc.score_against_query(s, "python dev spark")),
        ("summarize", textproc.summarize),
        ("query_terms", textproc.query_terms),
        ("html_strip_tags", htmlcodec.strip_boilerplate),
        ("html_strip_justext",
         lambda s: htmlcodec.strip_boilerplate(s, mode="justext")),
    ]
    pools = [string.printable, "ÁÉÍÓÚáéíóúçãõâêô\n\t -/",
             "(()))(\\\\[]{}$^.*+?|", "0123456789/-– ", "\x00\x01\x02  "]
    for _ in range(n):
        s = "".join(rng.choice(rng.choice(pools))
                    for _ in range(rng.randint(0, 400)))
        if rng.random() < 0.2:
            s = "".join(chr(rng.randint(1, 0x2FFFF))
                        for _ in range(rng.randint(0, 120)))
        for name, f in fns:
            probe(name, f, s, ())
    print("strings: textproc surface fuzzed")


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    campaign_containers(n)
    campaign_images(n)
    campaign_strings(n)
    for k, c in leaks.most_common(20):
        print("LEAK", k, c, "|", examples[k])
    if slow:
        print("SLOW (over budget):", slow[:10], f"({len(slow)} total)")
    if heavy:
        print("HEAVY (over memory budget):", heavy[:10],
              f"({len(heavy)} total)")
    print(f"leak kinds: {len(leaks)}; slow pages: {len(slow)}; "
          f"over-memory spans: {len(heavy)}")
    return 1 if (leaks or slow or heavy) else 0


if __name__ == "__main__":
    sys.exit(main())
