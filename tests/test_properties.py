"""Property tests at the pipeline level (SURVEY.md §5.2 item 4):
input span order must never matter, and corrupt payloads must never throw.
"""

import random
import zlib

from resume_ocr_spark import corpus, oracle, warehouse
from resume_ocr_spark.operators import extract


def _span_rows(df):
    return sorted(
        (r["doc_id"], tuple((s["kind"], s["text"], s["media_ref"], s["error"])
                            for s in r["spans"]))
        for r in df.collect()
    )


def test_span_input_order_invariance(spark, tmp_path):
    """Permuting the spans array in the input yields identical output —
    order comes from the explicit sort key, never from row order."""
    docs, blobs = corpus.gen_corpus(12, seed=3, with_edge_cases=False)
    rng = random.Random(99)
    permuted = [
        {"doc_id": d["doc_id"],
         "spans": rng.sample(d["spans"], len(d["spans"]))}
        for d in docs
    ]
    r1 = str(tmp_path / "a")
    r2 = str(tmp_path / "b")
    warehouse.build_warehouse(spark, r1, docs, blobs)
    warehouse.build_warehouse(spark, r2, permuted, blobs)
    out1 = extract.extract_documents(
        warehouse.read_table(spark, r1, "documents_raw"),
        warehouse.read_table(spark, r1, "media_blobs"))
    out2 = extract.extract_documents(
        warehouse.read_table(spark, r2, "documents_raw"),
        warehouse.read_table(spark, r2, "media_blobs"))
    assert _span_rows(out1) == _span_rows(out2)


def test_random_payload_corruption_never_throws(spark, tmp_path):
    """Arbitrarily corrupted blobs produce error rows, never task failures
    (reference: app/services/analyze_service.py:105-117)."""
    docs, blobs = corpus.gen_corpus(15, seed=5, with_edge_cases=False)
    rng = random.Random(7)
    for b in blobs:
        roll = rng.random()
        payload = bytes(b["payload"])
        if roll < 0.3:  # truncate
            b["payload"] = payload[: max(1, len(payload) // 3)]
        elif roll < 0.6:  # flip bytes
            pos = rng.randrange(max(1, len(payload) - 8))
            b["payload"] = payload[:pos] + bytes(8) + payload[pos + 8:]
        elif roll < 0.8:  # replace with noise
            b["payload"] = bytes(rng.getrandbits(8) for _ in range(64))
    root = str(tmp_path / "c")
    warehouse.build_warehouse(spark, root, docs, blobs)
    out = extract.extract_documents(
        warehouse.read_table(spark, root, "documents_raw"),
        warehouse.read_table(spark, root, "media_blobs"))
    rows = out.collect()  # must not raise
    assert len(rows) == len(docs)
    # matches the single-node oracle under the same corruption
    exp = oracle.run_pipeline(docs, blobs)
    for r in rows:
        want = [(s["kind"], s["text"], s["media_ref"], s["error"])
                for s in exp[r["doc_id"]]["spans"]]
        got = [(s["kind"], s["text"], s["media_ref"], s["error"])
               for s in r["spans"]]
        assert got == want, r["doc_id"]


def test_compressed_and_raw_blobs_equivalent(spark, tmp_path):
    """Blobs stored raw (uncompressed) extract identically — the decompress
    step falls back transparently."""
    docs, blobs = corpus.gen_corpus(8, seed=11, with_edge_cases=False)
    raw_blobs = [
        {"media_ref": b["media_ref"], "kind": b["kind"],
         "payload": zlib.decompress(bytes(b["payload"]))}
        for b in blobs
    ]
    r1, r2 = str(tmp_path / "z"), str(tmp_path / "r")
    warehouse.build_warehouse(spark, r1, docs, blobs)
    warehouse.build_warehouse(spark, r2, docs, raw_blobs)
    out1 = extract.extract_documents(
        warehouse.read_table(spark, r1, "documents_raw"),
        warehouse.read_table(spark, r1, "media_blobs"))
    out2 = extract.extract_documents(
        warehouse.read_table(spark, r2, "documents_raw"),
        warehouse.read_table(spark, r2, "media_blobs"))
    assert _span_rows(out1) == _span_rows(out2)


def test_avcodec_corruption_never_throws_decode_errors_only():
    """Any truncation/bit-flip of a valid RAUD/RVID payload either decodes
    (structurally valid prefix) or raises the codec's typed error — never an
    unrelated exception (the batch UDFs convert typed errors to error rows)."""
    import numpy as np

    from resume_ocr_spark.formats import avcodec

    rng = np.random.RandomState(5)
    for kind, render, decode, err in (
        ("aud", avcodec.render_audio, avcodec.decode_raud,
         avcodec.AudioDecodeError),
        ("vid", avcodec.render_video, avcodec.decode_rvid,
         avcodec.VideoDecodeError),
    ):
        payload = render(f"property test {kind}")
        for cut in (0, 4, 12, 16, len(payload) // 2, len(payload) - 1):
            try:
                decode(payload[:cut])
            except err:
                pass  # typed → becomes an error row downstream
        for _ in range(20):
            b = bytearray(payload)
            b[rng.randint(0, len(b))] ^= 1 << rng.randint(0, 8)
            try:
                decode(bytes(b))
            except err:
                pass


def test_cosine_pairs_threshold_monotone(spark):
    """Raising the threshold can only shrink the pair set (and every pair
    at t_high is also present at t_low with the identical cosine)."""
    from resume_ocr_spark.operators import similarity

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").filter("vec_id < 40")
    lo = {(r["id_a"], r["id_b"]): r["cosine"]
          for r in similarity.cosine_pairs(emb, 0.1).collect()}
    hi = {(r["id_a"], r["id_b"]): r["cosine"]
          for r in similarity.cosine_pairs(emb, 0.25).collect()}
    assert set(hi) <= set(lo)
    assert all(lo[k] == v for k, v in hi.items())
    assert all(v >= 0.25 for v in hi.values())


def test_edge_spans_match_oracle(spark):
    """Parity regressions: unicode-whitespace text spans, null kind, and
    duplicate-offset html spans must extract identically in Spark and the
    oracle (sort key is the extracted result, emptiness is str.strip)."""
    from resume_ocr_spark.operators import extract

    docs = [
        {"doc_id": "ws", "spans": [
            {"kind": "text", "text": "\xa0\t\n", "media_ref": "", "offset": 0},
            {"kind": "text", "text": " real content ", "media_ref": "", "offset": 1},
        ]},
        {"doc_id": "nullkind", "spans": [
            {"kind": None, "text": "x", "media_ref": "", "offset": 0},
            {"kind": "text", "text": "ok", "media_ref": "", "offset": 1},
        ]},
        {"doc_id": "dupoff", "spans": [
            # input-text order ('<p…' < '<s…') differs from extracted-text
            # order ('alpha…' < 'zeta…') — the tie-break must use extracted
            {"kind": "html", "text": "<section>alpha x</section>", "media_ref": "", "offset": 0},
            {"kind": "html", "text": "<p>zeta y</p>", "media_ref": "", "offset": 0},
        ]},
    ]
    expected = {d["doc_id"]: oracle.extract_doc(d, {}) for d in docs}
    docs_df = spark.createDataFrame(
        [(d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"])
                        for s in d["spans"]]) for d in docs],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    blobs_df = spark.createDataFrame([], "media_ref string, payload binary")
    got = {r["doc_id"]: r for r in
           extract.extract_documents(docs_df, blobs_df).collect()}
    for doc_id, exp in expected.items():
        g = [(s["kind"], s["text"], s["media_ref"], s["offset"], s["error"])
             for s in got[doc_id]["spans"]]
        e = [(s["kind"], s["text"], s["media_ref"], s["offset"], s["error"])
             for s in exp]
        assert g == e, doc_id
    assert got["ws"]["spans"][0]["error"] == "empty file"
    assert got["nullkind"]["spans"][0]["error"] == "unsupported kind: None"


def test_ad_div_close_does_not_leak_boilerplate():
    from resume_ocr_spark.formats import htmlcodec

    doc = ('<div class="ad">COMPRE AGORA</div>'
           "<p>Conteudo real do curriculo aqui</p>"
           "<p>Mais conteudo importante</p>")
    out = htmlcodec.strip_boilerplate(doc)
    assert "Conteudo real" in out and "Mais conteudo" in out
    assert "COMPRE AGORA" not in out


def test_text_pipeline_ops_total_on_adversarial_text(spark):
    """decontam / quality filter / packing / chunking / mixture are TOTAL
    over adversarial unicode: no row ever throws, and each op's core
    invariant holds on every row."""
    import random as _random

    from resume_ocr_spark.operators import decontam, mixture, packing
    from resume_ocr_spark.operators import textstats as ts

    rng = _random.Random(123)
    nasty = [
        "", " ", "\t\n\r ", "a", "word " * 5000,
        "éèê café naïve",     # accents
        "你好世界 " * 30,              # CJK
        "\U0001f600\U0001f4a9 emoji ​‍zw",   # emoji + zero-width
        "السلام rtl text",
        "x" * 20000,                                    # one giant word
        "line one\nline one\nline one\nline two",
        "NUL\x00 byte and \x1b[31mansi\x1b[0m",
        "<script>alert(1)</script> <b>html</b>",
        '"quotes" \'and\' `ticks` $(cmd) %s %d {fmt}',
        "\\n literal backslash-n \\t",
    ]
    nasty += ["".join(chr(rng.randrange(1, 0x2FFF)) for _ in range(80))
              for _ in range(15)]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(nasty)], "doc_id long, text string")

    qf = ts.with_quality_filter(df).collect()
    assert len(qf) == len(nasty)
    assert all(r["keep"] == (r["reasons"] == "") for r in qf)

    bench = df.limit(2).select("text")
    counts = decontam.contamination_counts(df, bench, n=3).collect()
    assert all(r["contaminated_ngrams"] >= 1 for r in counts)

    packed = packing.pack_sequences(df, budget=64, shards=4).collect()
    assert len(packed) == len(nasty)
    assert all(0 <= r["seq_offset"] < 64 and r["n_tokens"] >= 0
               for r in packed)

    chunks = packing.chunk_documents(df, chunk_words=16, overlap=4).collect()
    per_doc = {}
    for r in chunks:
        per_doc.setdefault(r["doc_id"], []).append(r)
    assert set(per_doc) == set(range(len(nasty)))  # every doc chunked
    import re as _re
    for i, t in enumerate(nasty):
        # mirror the ENGINE's tokenization: Spark trim() strips ASCII
        # spaces only and Java's \s is the ASCII class — NBSP, \x1c and
        # friends are word characters there, unlike Python's unicode \s
        words = _re.split(r"[ \t\n\x0b\f\r]+", t.strip(" "))
        got = {w for r in per_doc[i] for w in r["chunk_text"].split(" ")}
        assert got == set(words), i  # full word coverage, nothing invented

    mixed = mixture.with_sample_bucket(df).collect()
    assert all(0 <= r["bucket"] < 65536 for r in mixed)
    sampled = mixture.weighted_mixture(
        df.withColumn("grp", (df.doc_id % 2).cast("string")),
        {"0": 1.0}, group_col="grp", default_weight=0.5)
    kept = {r["doc_id"] for r in sampled.collect()}
    assert kept <= set(range(len(nasty)))
    assert {i for i in range(len(nasty)) if i % 2 == 0} <= kept
