"""Unit tests: image/pdf/html codecs — the executable-spec building blocks."""

import re
import tracemalloc
import zlib

import numpy as np
import pytest
from hypothesis import example, given, settings, strategies as st

from resume_ocr_spark import oracle
from resume_ocr_spark.config import MAX_FILE_SIZE
from resume_ocr_spark.formats import htmlcodec, imagecodec as ic, pdfcodec as pc


SAMPLE = (
    "ANA SILVA\nEngenheira de Dados\n(11) 98765-4321 | ana@email.com\n\n"
    "EXPERIÊNCIA PROFISSIONAL\nEngenheira (Mar 2021 - Presente)"
)


class TestImageCodec:
    @pytest.mark.parametrize("skew", ic.SKEW_CANDIDATES)
    def test_roundtrip_all_skews(self, skew):
        payload = ic.render_text_image(SAMPLE, skew=skew)
        assert ic.ocr_image(payload) == ic._normalize(SAMPLE)

    def test_whitespace_only_ocrs_empty(self):
        assert ic.ocr_image(ic.render_text_image("  \n \n")) == ""

    def test_corrupt_magic_raises(self):
        with pytest.raises(ic.ImageDecodeError):
            ic.decode_rimg(b"garbage-not-rimg")

    def test_truncated_raises(self):
        payload = ic.render_text_image("abc")
        with pytest.raises(ic.ImageDecodeError):
            ic.decode_rimg(payload[: len(payload) // 2])

    def test_unsupported_chars_become_question_mark(self):
        payload = ic.render_text_image("a中z")
        assert ic.ocr_image(payload) == "a?z"

    @settings(max_examples=15, deadline=None)
    @given(st.text(alphabet=ic.CHARSET + "\n", min_size=0, max_size=60))
    def test_roundtrip_property(self, text):
        payload = ic.render_text_image(text)
        assert ic.ocr_image(payload) == ic._normalize(text)

    def _grid_ocr_scalar(self, binary):
        """Per-cell reference for the vectorized band matcher: the original
        dict-walk semantics (exact lookup, zero-pad truncated cells,
        _nearest fallback) — _grid_ocr must match this exactly."""
        protos, (dr, dc) = ic._protos()
        ys, xs = np.nonzero(binary)
        if len(ys) == 0:
            return "", 0, 0
        top = int(ys.min()) - dr - ic.MARGIN + ic.TEXT_TOP
        left = int(xs.min()) - dc
        bottom = int(ys.max())
        gw = ic.GLYPH_W * ic.SCALE
        lines, n_exact, n_cells, li = [], 0, 0, 0
        while top + li * ic.LINE_PITCH <= bottom:
            r0 = top + li * ic.LINE_PITCH
            li += 1
            band = binary[r0 : r0 + ic.CELL_H, :]
            bxs = np.nonzero(band)[1]
            if len(bxs) == 0:
                lines.append("")
                continue
            n_cols = (int(bxs.max()) - left) // ic.CELL_W + 1
            chars = []
            for ci in range(n_cols):
                c0 = left + ci * ic.CELL_W
                cell = band[:, c0 : c0 + gw]
                if cell.shape != (ic.CELL_H, gw):
                    cell = np.pad(cell, ((0, ic.CELL_H - cell.shape[0]),
                                         (0, gw - cell.shape[1])))
                ch = protos.get(np.ascontiguousarray(cell).tobytes())
                if ch is not None:
                    if ch != " ":
                        n_exact += 1
                        n_cells += 1
                else:
                    ch = self._nearest(cell, protos)
                    n_cells += 1
                chars.append(ch)
            lines.append("".join(chars).rstrip())
        while lines and lines[-1] == "":
            lines.pop()
        return "\n".join(lines), n_exact, n_cells

    @staticmethod
    def _nearest(cell, protos):
        return ic._nearest(cell, protos)

    @given(st.integers(0, 2**32 - 1))
    @settings(max_examples=25, deadline=None)
    def test_vectorized_grid_matches_scalar_reference(self, seed):
        """Adversarial binaries: rendered glyph rows corrupted with random
        bit flips, truncated right/bottom edges — the hashed band matcher
        must agree with the per-cell dict walk on text AND counts."""
        rng = np.random.default_rng(seed)
        text = "".join(rng.choice(list("AbZ9 ?~ç"), size=rng.integers(1, 12)))
        page = ic.decode_rimg(ic.render_text_image(text))
        binary = ic.preprocess(page)
        # corrupt a few pixels so some cells miss the prototype dict
        for _ in range(int(rng.integers(0, 20))):
            y = int(rng.integers(0, binary.shape[0]))
            x = int(rng.integers(0, binary.shape[1]))
            binary[y, x] ^= 1
        # random truncation exercises the zero-pad path
        if rng.random() < 0.5:
            binary = binary[: rng.integers(binary.shape[0] // 2, binary.shape[0]),
                            : rng.integers(binary.shape[1] // 2, binary.shape[1])]
        assert ic._grid_ocr(binary) == self._grid_ocr_scalar(binary)

    @given(st.integers(1, 40), st.integers(1, 40), st.integers(0, 255),
           st.integers(0, 255), st.integers(0, 2**32 - 1))
    @example(1, 17, 30, 220, 0)   # one row
    @example(17, 1, 30, 220, 1)   # one column
    @example(9, 9, 128, 128, 2)   # single-valued
    @settings(max_examples=40, deadline=None)
    def test_median3_two_valued_matches_padded_stack_median(
            self, h, w, a, b, seed):
        """The two-valued majority-vote path must equal the plain median
        of the edge-padded 3x3 neighbourhood stack."""
        rng = np.random.default_rng(seed)
        img = np.where(rng.random((h, w)) < rng.random(), a, b).astype(np.uint8)
        p = np.pad(img, 1, mode="edge")
        stack = np.stack([p[dy : dy + h, dx : dx + w]
                          for dy in range(3) for dx in range(3)])
        out = ic.median3(img)
        assert out.dtype == np.uint8
        np.testing.assert_array_equal(
            out, np.median(stack, axis=0).astype(np.uint8))

    @given(st.integers(0, 2**32 - 1))
    @settings(max_examples=20, deadline=None)
    def test_blocked_threshold_matches_unblocked_reference(self, seed):
        """The L2-tiled adaptive_threshold must be BIT-identical to the
        straightforward unblocked separable convolution — per-element float
        operation order is unchanged by the tiling, so any divergence is a
        bug, not rounding."""
        rng = np.random.default_rng(seed)
        h = int(rng.integers(1, 300))
        w = int(rng.integers(1, 300))
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        block, c = 11, 2.0

        k = ic._gauss_kernel(block).astype(np.float32)
        pad = block // 2
        img32 = img.astype(np.float32)
        p = np.pad(img32, pad, mode="edge")
        tmp = np.empty((h + 2 * pad, w), np.float32)
        buf = np.empty_like(tmp)
        np.multiply(p[:, 0:w], k[0], out=tmp)
        for i in range(1, block):
            np.multiply(p[:, i:i + w], k[i], out=buf)
            tmp += buf
        mean = np.empty((h, w), np.float32)
        buf2 = np.empty_like(mean)
        np.multiply(tmp[0:h, :], k[0], out=mean)
        for i in range(1, block):
            np.multiply(tmp[i:i + h, :], k[i], out=buf2)
            mean += buf2
        mean -= np.float32(c)
        ref = (img32 < mean).astype(np.uint8)

        assert np.array_equal(ic.adaptive_threshold(img), ref)
        # odd tile sizes exercise the partial-final-block path
        assert np.array_equal(ic.adaptive_threshold(img, tile=37), ref)

    def test_preprocess_is_position_invariant(self):
        # same glyph at two grid positions yields identical preprocessed cells
        p1 = ic.preprocess(ic.decode_rimg(ic.render_text_image("A")))
        p2 = ic.preprocess(ic.decode_rimg(ic.render_text_image("  A\n\nA")))
        c1 = p1[ic.TEXT_TOP : ic.TEXT_TOP + ic.CELL_H,
                ic.MARGIN : ic.MARGIN + ic.GLYPH_W * ic.SCALE]
        top2 = ic.TEXT_TOP + 2 * ic.LINE_PITCH
        c2 = p2[top2 : top2 + ic.CELL_H, ic.MARGIN : ic.MARGIN + ic.GLYPH_W * ic.SCALE]
        assert np.array_equal(c1, c2)

    def test_compress_roundtrip(self):
        payload = ic.render_text_image("x")
        assert ic.decompress_payload(ic.compress_payload(payload)) == payload

    def test_corrupt_compressed_raises(self):
        with pytest.raises(ic.ImageDecodeError):
            ic.decompress_payload(b"\x78\x9cbroken")

    def test_zlib_bomb_is_too_large_in_bounded_memory(self):
        # 64 MiB of zeros, compressed 1 MiB at a time: never held inflated
        comp, zeros = zlib.compressobj(9), bytes(1 << 20)
        bomb = b"".join(comp.compress(zeros) for _ in range(64)) + comp.flush()
        tracemalloc.start()
        try:
            out = oracle.extract_span("image", None, "m", bomb)
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert out == ("", "file too large", 0)
        assert peak < 3 * MAX_FILE_SIZE


class TestPdfCodec:
    def test_text_pdf_roundtrip(self):
        pages = [SAMPLE, "FORMAÇÃO ACADÊMICA\nUSP (2014)"]
        out = pc.extract_text(pc.write_text_pdf(pages))
        exp = "\f".join(
            "\n".join(ln for ln in p.split("\n") if ln.strip()) for p in pages
        )
        assert out == exp

    def test_cid_pdf_roundtrip(self):
        out = pc.extract_text(pc.write_text_pdf([SAMPLE], cid=True))
        assert out == "\n".join(ln for ln in SAMPLE.split("\n") if ln.strip())

    def test_two_column_reading_order(self):
        out = pc.extract_text(pc.write_text_pdf([SAMPLE], two_column=True))
        assert out == "\n".join(ln for ln in SAMPLE.split("\n") if ln.strip())

    def test_scanned_pdf_page_images_ordered(self):
        imgs = [ic.render_text_image(f"pagina {i}") for i in (1, 2, 3)]
        pdf = pc.write_scanned_pdf(imgs)
        assert pc.extract_text(pdf).strip("\f") == ""
        assert [ic.ocr_image(p) for p in pc.extract_page_images(pdf)] == [
            "pagina 1", "pagina 2", "pagina 3",
        ]

    def test_not_a_pdf_raises(self):
        with pytest.raises(pc.PdfParseError):
            pc.extract_text(b"hello world")

    def test_truncated_pdf_raises(self):
        pdf = pc.write_text_pdf([SAMPLE])
        with pytest.raises(pc.PdfParseError):
            pc.extract_text(pdf[: len(pdf) // 3])

    @staticmethod
    def _with_content_stream(stream: bytes) -> bytes:
        pdf = pc.write_text_pdf(["x"])
        m = re.search(rb"/FlateDecode >>\nstream\n(.*?)\nendstream", pdf, re.S)
        return pdf[:m.start(1)] + stream + pdf[m.end(1):]

    def test_flate_bomb_is_error_row_in_bounded_memory(self):
        # a content stream of 64 MiB of zeros, compressed 1 MiB at a time
        comp, zeros = zlib.compressobj(9), bytes(1 << 20)
        bomb = b"".join(comp.compress(zeros) for _ in range(64)) + comp.flush()
        pdf = self._with_content_stream(bomb)
        tracemalloc.start()
        try:
            out = oracle.extract_span("pdf", None, "m", pdf)
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert out == ("", "Flate stream too large", 0)
        assert peak < 3 * MAX_FILE_SIZE

    def test_truncated_flate_stream_raises(self):
        stream = zlib.compress(b"BT /F1 11 Tf (abc) Tj ET" * 50)
        with pytest.raises(pc.PdfParseError, match="truncated"):
            pc.extract_text(self._with_content_stream(stream[:-8]))

    def test_escapes_in_literals(self):
        tricky = "a(b)c\\d"
        out = pc.extract_text(pc.write_text_pdf([tricky]))
        assert out == tricky


class TestHtmlCodec:
    def test_strips_nav_footer_ads(self):
        from resume_ocr_spark.corpus import wrap_html

        doc = wrap_html(SAMPLE)
        out = htmlcodec.strip_boilerplate(doc)
        assert "Home" not in out
        assert "COMPRE AGORA" not in out
        assert "newsletter" not in out
        assert "Privacidade" not in out
        assert "ANA SILVA" in out
        assert "EXPERIÊNCIA PROFISSIONAL" in out

    def test_invisible_content_stripped(self):
        doc = (
            "<html><head><style>.x{color:red}</style>"
            "<script type='text/javascript'>var secret = 'LEAK1';</script>"
            "</head><body><!-- LEAK2 --><main><p>Real content here</p>"
            "<noscript>LEAK3</noscript><svg><text>LEAK4</text></svg>"
            "<SCRIPT>function f(){return 'LEAK5'}</SCRIPT></main></body></html>"
        )
        out = htmlcodec.strip_boilerplate(doc)
        assert "Real content here" in out
        for leak in ("LEAK1", "LEAK2", "LEAK3", "LEAK4", "LEAK5",
                     "color:red", "javascript"):
            assert leak not in out

    @given(st.text(max_size=400))
    @settings(max_examples=120, deadline=None)
    def test_strip_boilerplate_total_on_arbitrary_text(self, doc):
        """Total function: any input yields a str, never an exception —
        and script content stays stripped no matter what surrounds it."""
        assert isinstance(htmlcodec.strip_boilerplate(doc), str)
        assert isinstance(htmlcodec.strip_boilerplate(doc, mode="justext"),
                          str)
        doc = doc.replace("leakcanary", "")
        wrapped = f"<p>keep</p><script>leakcanary {doc}</script>{doc}"
        assert "leakcanary" not in htmlcodec.strip_boilerplate(wrapped)
        assert "leakcanary" not in htmlcodec.strip_boilerplate(
            wrapped, mode="justext")

    def test_unterminated_script_swallowed_to_eof(self):
        doc = ("<main><p>Visible text</p>"
               "<script>var x = 'LEAK'; // truncated document")
        out = htmlcodec.strip_boilerplate(doc)
        assert "Visible text" in out
        assert "LEAK" not in out

    def test_link_density_filter(self):
        doc = ("<div><a href='1'>x</a> <a href='2'>y</a></div>"
               "<p>conteúdo real do documento aqui</p>")
        out = htmlcodec.strip_boilerplate(doc)
        assert "conteúdo real" in out
        assert "x y" not in out

    def test_entities_unescaped(self):
        assert "a & b" in htmlcodec.strip_boilerplate("<p>a &amp; b</p>")


class TestObjectStreams:
    """PDF 1.5+ object streams: non-stream objects packed in an /ObjStm."""

    @staticmethod
    def _objstm_pdf() -> bytes:
        import zlib

        content = zlib.compress(
            b"BT /F1 11 Tf 1 0 0 1 72 720 Tm (Hello ObjStm) Tj ET")
        inner = {
            2: (b"<< /Type /Page /Parent 3 0 R /MediaBox [0 0 612 792] "
                b"/Resources << /Font << /F1 5 0 R >> >> /Contents 1 0 R >>"),
            3: b"<< /Type /Pages /Kids [2 0 R] /Count 1 >>",
            4: b"<< /Type /Catalog /Pages 3 0 R >>",
            5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        }
        header, bodies = b"", b""
        for oid, body in inner.items():
            header += b"%d %d " % (oid, len(bodies))
            bodies += body + b" "
        stm = zlib.compress(header + bodies)
        out = [b"%PDF-1.5"]
        out.append(b"1 0 obj\n<< /Length %d /Filter /FlateDecode >>\n"
                   b"stream\n" % len(content) + content + b"\nendstream\nendobj")
        out.append(b"6 0 obj\n<< /Type /ObjStm /N 4 /First %d /Length %d "
                   b"/Filter /FlateDecode >>\nstream\n" % (len(header), len(stm))
                   + stm + b"\nendstream\nendobj")
        out.append(b"trailer\n<< /Size 7 /Root 4 0 R >>\n%%EOF")
        return b"\n".join(out)

    def test_objstm_text_extraction(self):
        text = pc.extract_text(self._objstm_pdf())
        assert text.strip() == "Hello ObjStm"

    def test_objstm_never_overwrites_toplevel(self):
        pdf = self._objstm_pdf()
        objs = pc._parse_objects(pdf)
        assert 1 in objs and b"/ObjStm" not in objs[1]
        assert all(i in objs for i in (2, 3, 4, 5))


class TestGlyphMode:
    """Skia-style per-glyph emission: the writer's realistic mode feeds the
    parser's CTM×Tm tracking path (what the real fixtures contain)."""

    def test_glyph_roundtrip(self):
        pdf = pc.write_text_pdf([SAMPLE], glyph_mode=True)
        out = pc.extract_text(pdf)
        want = [ln.rstrip() for ln in SAMPLE.split("\n") if ln.strip()]
        assert [ln for ln in out.split("\n") if ln.strip()] == want

    def test_glyph_multipage_order(self):
        pdf = pc.write_text_pdf(["pagina um\nlinha dois", "pagina dois"],
                                glyph_mode=True)
        assert pc.extract_text(pdf) == "pagina um\nlinha dois\fpagina dois"

    def test_glyph_spaces_exact(self):
        # explicit space glyphs survive; no spurious heuristic spaces appear
        pdf = pc.write_text_pdf(["a@b w | x  y"], glyph_mode=True)
        assert pc.extract_text(pdf) == "a@b w | x  y"


class TestWavCodec:
    """Real RIFF/WAV PCM decode (no libs — plain chunked container)."""

    def test_wav_roundtrip_16bit(self):
        from resume_ocr_spark.formats import avcodec

        pcm = (np.sin(np.arange(1000) / 7.0) * 30000).astype(np.int16)
        sr, out = avcodec.decode_wav(avcodec.write_wav(pcm, 44100))
        assert sr == 44100
        np.testing.assert_array_equal(out, pcm)

    def test_wav_stereo_downmix_and_8bit(self):
        import struct

        from resume_ocr_spark.formats import avcodec

        # hand-build a stereo 16-bit WAV: L=100, R=300 → mono mean 200
        frames = struct.pack("<4h", 100, 300, -100, -300)
        fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
        wav = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(frames))
               + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
               + b"data" + struct.pack("<I", len(frames)) + frames)
        sr, out = avcodec.decode_wav(wav)
        assert sr == 8000 and list(out) == [200, -200]
        # unsigned 8-bit: 128 → 0, 129 → 256
        fmt8 = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
        wav8 = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt8) + 8 + 2)
                + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt8)) + fmt8
                + b"data" + struct.pack("<I", 2) + bytes([128, 129]))
        _, out8 = avcodec.decode_wav(wav8)
        assert list(out8) == [0, 256]

    def test_wav_errors(self):
        from resume_ocr_spark.formats import avcodec

        with pytest.raises(avcodec.AudioDecodeError):
            avcodec.decode_wav(b"RIFF\x00\x00\x00\x00WAVEjunk")
        # non-PCM (format 3 = float) rejected, not mis-read
        import struct

        fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
        bad = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt)) + b"WAVE"
               + b"fmt " + struct.pack("<I", len(fmt)) + fmt)
        with pytest.raises(avcodec.AudioDecodeError):
            avcodec.decode_wav(bad)


class TestDctPdfImages:
    """Scanned PDFs whose pages are /DCTDecode (JPEG) XObjects — the most
    common real-world scan encoding — decode through the JPEG codec."""

    def test_dct_xobject_page_image(self):
        from tests.test_jpegcodec import encode_jpeg

        page = np.full((64, 48), 140, dtype=np.uint8)
        jpg = encode_jpeg(page)
        pdf_parts = [b"%PDF-1.4"]
        pdf_parts.append(
            b"1 0 obj\n<< /Type /XObject /Subtype /Image /Width 48 "
            b"/Height 64 /ColorSpace /DeviceGray /BitsPerComponent 8 "
            b"/Filter /DCTDecode /Length %d >>\nstream\n" % len(jpg)
            + jpg + b"\nendstream\nendobj")
        pdf_parts.append(
            b"2 0 obj\n<< /Type /Page /Parent 3 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /XObject << /Im1 1 0 R >> >> >>\nendobj")
        pdf_parts.append(
            b"3 0 obj\n<< /Type /Pages /Kids [2 0 R] /Count 1 >>\nendobj")
        pdf_parts.append(
            b"4 0 obj\n<< /Type /Catalog /Pages 3 0 R >>\nendobj")
        pdf = b"\n".join(pdf_parts)
        imgs = pc.extract_page_images(pdf)
        assert len(imgs) == 1
        decoded = ic.decode_rimg(imgs[0])
        np.testing.assert_array_equal(decoded, page)  # flat → exact


class TestGlyphModeProperty:
    @given(st.lists(
        st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FFF,
                                       blacklist_categories=("Cs", "Cc")),
                min_size=0, max_size=40),
        min_size=1, max_size=8))
    @settings(max_examples=30, deadline=None)
    def test_glyph_roundtrip_any_bmp_text(self, lines):
        """Per-glyph CID emission round-trips ANY BMP text (the identity
        ToUnicode CMap carries every code point), with blank lines dropped
        and right-whitespace trimmed — the writer/parser contract."""
        text = "\n".join(lines)
        pdf = pc.write_text_pdf([text], glyph_mode=True)
        out = pc.extract_text(pdf)
        want = [ln.rstrip() for ln in lines if ln.strip()]
        got = [ln for ln in out.split("\n") if ln]
        assert got == [w for w in want if w]


class TestJustextMode:
    """Round-5 context-sensitive classifier (htmlcodec mode='justext')."""

    PROSE = ("The team said that they will be moving all of their "
             "pipelines to the new platform in the coming months and that "
             "the change is expected to reduce costs for the company.")

    def test_crawl_page_chrome_drops_without_tag_semantics(self):
        page = (
            '<div><a href=a>Home</a> <a href=b>News</a> <a href=c>More</a>'
            f"</div><div>Headline under fifty chars</div><p>{self.PROSE}</p>"
            f"<p>{self.PROSE}</p><div><a href=d>S1</a> <a href=e>S2</a> "
            "<a href=f>S3</a></div><div>Copyright 2026 Example Corp</div>"
        )
        out = htmlcodec.strip_boilerplate(page, mode="justext")
        assert self.PROSE in out
        assert "Headline under fifty chars" in out  # short + good neighbor
        assert "Home" not in out                    # link bar: density
        assert "S1" not in out                      # related list: density
        assert "Copyright" not in out               # short between bads
        # tag mode keeps the copyright div (no tag semantics to drop it) —
        # exactly the gap the context pass closes
        assert "Copyright" in htmlcodec.strip_boilerplate(page)

    def test_short_between_bads_drops_between_goods_keeps(self):
        short = "<div>Quarterly results</div>"
        bad = '<div><a href=x>L1</a> <a href=y>L2</a> <a href=z>L3</a></div>'
        good = f"<p>{self.PROSE}</p>"
        kept = htmlcodec.strip_boilerplate(good + short + good,
                                           mode="justext")
        assert "Quarterly results" in kept
        dropped = htmlcodec.strip_boilerplate(bad + short + bad,
                                              mode="justext")
        assert "Quarterly results" not in dropped

    def test_long_low_stopword_block_is_bad(self):
        chrome = ("SPORTS POLITICS BUSINESS TECH SCIENCE HEALTH TRAVEL "
                  "OPINION CULTURE WEATHER MARKETS LIFESTYLE EDUCATION "
                  "REGIONAL NATIONAL GLOBAL")  # >150 chars, no stopwords
        page = f"<div>{chrome}</div><p>{self.PROSE}</p>"
        out = htmlcodec.strip_boilerplate(page, mode="justext")
        assert "SPORTS POLITICS" not in out and self.PROSE in out

    def test_content_tags_force_good_boilerplate_tags_force_bad(self):
        page = ("<article><div>short but inside article</div></article>"
                f"<footer><p>{self.PROSE}</p></footer>")
        out = htmlcodec.strip_boilerplate(page, mode="justext")
        assert "short but inside article" in out
        assert self.PROSE not in out   # footer prior beats density

    def test_boilerplate_only_page_extracts_empty(self):
        page = ('<div><a href=a>Home</a> <a href=b>News</a> '
                "<a href=c>More</a></div><div>Copyright 2026</div>")
        assert htmlcodec.strip_boilerplate(page, mode="justext") == ""

    def test_unknown_mode_rejected(self):
        import pytest as _pytest
        with _pytest.raises(ValueError, match="mode"):
            htmlcodec.strip_boilerplate("<p>x</p>", mode="readability")

    def test_tags_mode_output_unchanged_by_round5(self):
        """The extraction pipeline's default mode must be byte-identical to
        the pre-round-5 classifier (span-sequence stability)."""
        import random

        from resume_ocr_spark import corpus
        rng = random.Random(99)
        doc = corpus.wrap_html(corpus.make_resume_text(rng))
        out = htmlcodec.strip_boilerplate(doc)
        assert out == htmlcodec.strip_boilerplate(doc, mode="tags")
        assert "Experiência" in out or len(out) > 50


def test_strip_html_column_preserves_id_type(spark):
    """strip_html_column must carry the caller's id type (string doc ids
    are the common crawl case), not force long."""
    from resume_ocr_spark.operators import extract
    df = spark.createDataFrame(
        [("urn:doc:1", "<p>the team said that this is one of the plans "
                       "that will be shared with all of the users in the "
                       "region over the coming months and that the change "
                       "is expected to reduce costs for the company</p>"),
         ("urn:doc:2", None)],
        "doc_id string, html string")
    out = extract.strip_html_column(df, mode="justext")
    assert dict(out.dtypes)["doc_id"] == "string"
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows["urn:doc:1"]["error"] is None and rows["urn:doc:1"]["text"]
    assert rows["urn:doc:2"]["error"] == "empty file"
