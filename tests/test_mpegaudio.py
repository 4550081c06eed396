"""Compressed-audio container probing (formats/mpegaudio.py): hand-built
MP3 frame streams and OGG page streams with known geometry, checked against
the ffprobe-style metadata the probe reports.  Decode-to-PCM for these
containers stays stubbed (genuinely ffmpeg-class DSP); the probe is the
honest no-DSP subset a 100 TB ingest runs before transcoding."""

from __future__ import annotations

import struct

import pytest

from resume_ocr_spark.formats import avcodec, mpegaudio

# ---------------------------------------------------------------------------
# fixture builders — valid container geometry, silent payloads
# ---------------------------------------------------------------------------


def mp3_frame(version=3, layer_code=1, br_idx=9, sr_idx=0, pad=0,
              mono=False, body=None):
    """One MPEG audio frame with a valid header and zeroed payload."""
    b1 = 0xE0 | (version << 3) | (layer_code << 1) | 1  # no CRC
    b2 = (br_idx << 4) | (sr_idx << 2) | (pad << 1)
    b3 = 0xC0 if mono else 0x00
    hdr = bytes([0xFF, b1, b2, b3])
    if body is None:
        # recompute the spec frame length for the zero body
        parsed = mpegaudio._parse_frame_header(hdr)
        assert parsed is not None
        body = bytes(parsed[5] - 4)
    return hdr + body


def ogg_page(body, granule, serial=7, seq=0, htype=0):
    lacing = []
    rest = len(body)
    while rest >= 255:
        lacing.append(255)
        rest -= 255
    lacing.append(rest)
    return (b"OggS" + bytes([0, htype]) + struct.pack("<q", granule)
            + struct.pack("<I", serial) + struct.pack("<I", seq)
            + struct.pack("<I", 0) + bytes([len(lacing)]) + bytes(lacing)
            + body)


def vorbis_ident(channels=2, rate=44100, nominal=128000):
    return (b"\x01vorbis" + struct.pack("<I", 0) + bytes([channels])
            + struct.pack("<I", rate) + struct.pack("<i", 0)
            + struct.pack("<i", nominal) + struct.pack("<i", 0)
            + bytes([0xB8, 0x01]))


def opus_ident(channels=1, rate=16000, preskip=312):
    return (b"OpusHead" + bytes([1, channels]) + struct.pack("<H", preskip)
            + struct.pack("<I", rate) + struct.pack("<H", 0) + bytes([0]))


# ---------------------------------------------------------------------------
# MP3
# ---------------------------------------------------------------------------


class TestMp3Probe:
    def test_cbr_stream_geometry(self):
        # MPEG1 Layer III, 44.1 kHz, 128 kbps stereo — the canonical MP3
        payload = mp3_frame() * 10
        m = mpegaudio.parse_mp3_info(payload)
        assert m["codec"] == "mpeg1-layer3"
        assert m["sample_rate"] == 44100 and m["channels"] == 2
        assert m["n_frames"] == 10
        assert m["duration_sec"] == pytest.approx(10 * 1152 / 44100, abs=1e-3)
        assert m["bitrate_kbps"] == 128 and m["vbr"] is False

    def test_id3v2_and_id3v1_tags_skipped(self):
        tag_body = bytes(64)
        size = len(tag_body)
        id3v2 = (b"ID3\x03\x00\x00"
                 + bytes([(size >> 21) & 0x7F, (size >> 14) & 0x7F,
                          (size >> 7) & 0x7F, size & 0x7F]) + tag_body)
        id3v1 = b"TAG" + bytes(125)
        m = mpegaudio.parse_mp3_info(id3v2 + mp3_frame() * 4 + id3v1)
        assert m["n_frames"] == 4

    def test_padding_bit_changes_frame_length(self):
        payload = mp3_frame(pad=1) + mp3_frame(pad=0)
        m = mpegaudio.parse_mp3_info(payload)
        assert m["n_frames"] == 2

    def test_vbr_mixed_bitrates_flagged(self):
        payload = mp3_frame(br_idx=9) + mp3_frame(br_idx=11) * 2
        m = mpegaudio.parse_mp3_info(payload)
        assert m["n_frames"] == 3 and m["vbr"] is True
        # average sits strictly between the two rates (128 / 192)
        assert 128 < m["bitrate_kbps"] < 192

    def test_xing_header_read(self):
        first = bytearray(mp3_frame())
        off = 4 + 32  # MPEG1 stereo side-info
        first[off:off + 4] = b"Xing"
        first[off + 4:off + 8] = struct.pack(">I", 1)  # FRAMES flag
        first[off + 8:off + 12] = struct.pack(">I", 5)
        m = mpegaudio.parse_mp3_info(bytes(first) + mp3_frame() * 5)
        assert m["vbr"] is True and m["tag_frames"] == 5
        assert m["n_frames"] == 6  # the walk counts the tag frame too

    def test_mpeg2_layer3_and_layer1(self):
        m2 = mpegaudio.parse_mp3_info(mp3_frame(version=2, br_idx=9) * 6)
        assert m2["codec"] == "mpeg2-layer3"
        assert m2["sample_rate"] == 22050
        assert m2["duration_sec"] == pytest.approx(6 * 576 / 22050, abs=1e-3)
        l1 = mpegaudio.parse_mp3_info(
            mp3_frame(layer_code=3, br_idx=1, mono=True) * 8)
        assert l1["codec"] == "mpeg1-layer1" and l1["channels"] == 1
        assert l1["duration_sec"] == pytest.approx(8 * 384 / 44100, abs=1e-3)

    def test_junk_prefix_resync_and_garbage_rejected(self):
        m = mpegaudio.parse_mp3_info(b"\x00junk" + mp3_frame() * 3)
        assert m["n_frames"] == 3
        with pytest.raises(avcodec.AudioDecodeError):
            mpegaudio.parse_mp3_info(b"\x00" * 64)


# ---------------------------------------------------------------------------
# OGG
# ---------------------------------------------------------------------------


class TestOggProbe:
    def test_vorbis_duration_from_terminal_granule(self):
        pages = (ogg_page(vorbis_ident(), granule=0, seq=0)
                 + ogg_page(bytes(300), granule=44100, seq=1)
                 + ogg_page(bytes(300), granule=88200, seq=2, htype=4))
        m = mpegaudio.parse_ogg_info(pages)
        assert m["codec"] == "vorbis"
        assert m["sample_rate"] == 44100 and m["channels"] == 2
        assert m["duration_sec"] == pytest.approx(2.0)
        assert m["bitrate_kbps"] == 128 and m["vbr"] is False
        assert m["n_frames"] == 3  # pages

    def test_opus_preskip_subtracted_at_48k(self):
        pages = (ogg_page(opus_ident(preskip=312), granule=0)
                 + ogg_page(bytes(100), granule=48000 + 312, seq=1, htype=4))
        m = mpegaudio.parse_ogg_info(pages)
        assert m["codec"] == "opus" and m["channels"] == 1
        assert m["duration_sec"] == pytest.approx(1.0)

    def test_truncated_page_and_unknown_codec_rejected(self):
        good = ogg_page(vorbis_ident(), granule=0)
        with pytest.raises(avcodec.AudioDecodeError):
            mpegaudio.parse_ogg_info(good[:-3])
        with pytest.raises(avcodec.AudioDecodeError):
            mpegaudio.parse_ogg_info(ogg_page(b"mystery codec", granule=0))


# ---------------------------------------------------------------------------
# uniform dispatch + the Spark operator
# ---------------------------------------------------------------------------


class TestProbeDispatch:
    def test_wav_and_raud_probed_headers_only(self):
        import numpy as np

        pcm = (np.sin(np.arange(8000) / 9.0) * 20000).astype(np.int16)
        wav = avcodec.probe_audio_any(avcodec.write_wav(pcm, 8000))
        assert wav["codec"] == "pcm_s16le"
        assert wav["duration_sec"] == pytest.approx(1.0)
        raud = avcodec.probe_audio_any(avcodec.render_audio("hello"))
        assert raud["codec"] == "raud-pcm" and raud["sample_rate"] == 8000

    def test_unknown_container_rejected(self):
        with pytest.raises(avcodec.AudioDecodeError):
            avcodec.probe_audio_any(b"notaudio")

    def test_spark_operator_mixed_column(self, spark):
        from resume_ocr_spark.operators import multimodal

        rows = [
            (1, bytearray(avcodec.render_audio("abc"))),
            (2, bytearray(avcodec.write_wav(
                __import__("numpy").zeros(4000, dtype="int16"), 8000))),
            (3, bytearray(mp3_frame() * 10)),
            (4, bytearray(ogg_page(vorbis_ident(), granule=0)
                          + ogg_page(bytes(50), granule=22050, seq=1,
                                     htype=4))),
            (5, bytearray(b"notaudio")),
            (6, None),
        ]
        df = spark.createDataFrame(rows, "doc_id long, media binary")
        probed = multimodal.audio_container_metadata(df)
        assert probed.schema.simpleString() == (
            "struct<doc_id:bigint,codec:string,sample_rate:int,channels:int,"
            "bitrate_kbps:int,n_frames:bigint,duration_sec:double,"
            "vbr:boolean,error:string>")
        got = {r["doc_id"]: r for r in probed.collect()}
        assert got[1]["codec"] == "raud-pcm"
        assert got[2]["codec"] == "pcm_s16le"
        assert got[3]["codec"] == "mpeg1-layer3"
        assert got[3]["duration_sec"] == pytest.approx(10 * 1152 / 44100,
                                                       abs=1e-3)
        assert got[4]["codec"] == "vorbis"
        assert got[4]["duration_sec"] == pytest.approx(0.5)
        assert got[5]["error"] is not None and got[5]["codec"] is None
        assert got[6]["error"] == "null payload"
        assert all(got[i]["error"] is None for i in (1, 2, 3, 4))


class TestProbeTotality:
    """Poisoned payloads must surface as AudioDecodeError (→ error rows in
    the multimodal UDF), never any other exception type."""

    from hypothesis import given, settings, strategies as st

    @given(st.binary(max_size=600))
    @settings(max_examples=300, deadline=None)
    def test_random_bytes_total(self, blob):
        try:
            meta = avcodec.probe_audio_any(blob)
            assert isinstance(meta, dict) and "codec" in meta
        except avcodec.AudioDecodeError:
            pass

    @given(st.integers(0, 2**32 - 1))
    @settings(max_examples=150, deadline=None)
    def test_mutated_valid_streams_total(self, seed):
        import random as _r

        rng = _r.Random(seed)
        base = rng.choice([
            mp3_frame() * 6,
            ogg_page(vorbis_ident(), granule=0)
            + ogg_page(bytes(40), granule=4410, seq=1, htype=4),
            ogg_page(opus_ident(), granule=0)
            + ogg_page(bytes(20), granule=9600, seq=1, htype=4),
        ])
        blob = bytearray(base)
        for _ in range(rng.randint(1, 12)):
            blob[rng.randrange(len(blob))] ^= 1 << rng.randrange(8)
        blob = bytes(blob[: rng.randint(1, len(blob))])
        try:
            meta = avcodec.probe_audio_any(blob)
            assert isinstance(meta, dict)
        except avcodec.AudioDecodeError:
            pass
