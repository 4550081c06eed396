"""Unit tests: dedup / similarity / textstats / multimodal operators."""

import pytest
from pyspark.sql import functions as F

from resume_ocr_spark.operators import dedup, multimodal, similarity, textstats

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


class TestDedup:
    def test_exact_dedup_finds_planted_dupes(self, spark, docs):
        d = docs.select("doc_id", "text").limit(20)
        shifted = d.select((F.col("doc_id") + 1000).alias("doc_id"), "text")
        groups = dedup.exact_dedup(d.unionAll(shifted)).collect()
        assert len(groups) == 20
        assert all(g["n_copies"] == 2 for g in groups)
        assert all(g["keep_id"] < 1000 for g in groups)

    def test_minhash_identical_docs_same_signature(self, spark):
        df = spark.createDataFrame(
            [(1, "spark reads parquet fast"), (2, "spark reads parquet fast"),
             (3, "completely different words here")],
            "doc_id int, text string")
        sigs = {r["doc_id"]: (r["mh0"], r["mh1"], r["mh2"], r["mh3"])
                for r in dedup.minhash_signatures(df, "doc_id", "text").collect()}
        assert sigs[1] == sigs[2]
        assert sigs[1] != sigs[3]

    def test_lsh_candidates_catch_near_dupes(self, spark):
        base = "the quick brown fox jumps over the lazy dog near the river bank"
        df = spark.createDataFrame(
            [(1, base), (2, base + " today"), (3, "unrelated text about spark sql")],
            "doc_id int, text string")
        sigs = dedup.minhash_signatures(df, "doc_id", "text")
        pairs = {(r["id_a"], r["id_b"])
                 for r in dedup.minhash_lsh_candidates(sigs, "doc_id").collect()}
        assert (1, 2) in pairs
        assert (1, 3) not in pairs and (2, 3) not in pairs

    def test_star_edges_cluster_equivalence(self, spark):
        """Star edges (rep→member per bucket, O(m)) must yield exactly the
        same connected components as the pairwise candidate clique
        (O(m²)) — the equivalence that makes star edges the scale-safe
        clustering input for mega-buckets."""
        base = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
        rows = [(i, base + f" tail{i % 3}") for i in range(30)]  # 3 clusters
        rows += [(100, "completely different text about spark catalyst"),
                 (101, "completely different text about spark catalyst plans")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        sigs = dedup.minhash_signatures(df, "doc_id", "text")
        via_pairs = {(r["doc_id"], r["cluster_id"]) for r in dedup.dedup_clusters(
            dedup.minhash_lsh_candidates(sigs, "doc_id")).collect()}
        via_star = {(r["doc_id"], r["cluster_id"]) for r in dedup.dedup_clusters(
            dedup.minhash_lsh_star_edges(sigs, "doc_id")).collect()}
        assert via_pairs == via_star
        assert len(via_pairs) > 0

    def test_lsh_bucket_cap_drops_mega_buckets(self, spark):
        """max_bucket_size prunes degenerate buckets: identical docs land
        in one bucket per band; capping below the bucket size removes all
        their pairs while an unrelated small pair survives."""
        rows = [(i, "same boilerplate text repeated everywhere") for i in range(20)]
        rows += [(50, "rare pair of documents alpha beta gamma"),
                 (51, "rare pair of documents alpha beta gamma delta")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        sigs = dedup.minhash_signatures(df, "doc_id", "text")
        capped = {(r["id_a"], r["id_b"]) for r in dedup.minhash_lsh_candidates(
            sigs, "doc_id", max_bucket_size=5).collect()}
        assert all(a >= 50 and b >= 50 for a, b in capped), capped
        assert (50, 51) in capped
        uncapped = {(r["id_a"], r["id_b"])
                    for r in dedup.minhash_lsh_candidates(sigs, "doc_id").collect()}
        assert len(uncapped) >= 20 * 19 // 2  # the clique the cap removes

    def test_cluster_connected_components(self, spark):
        """Components are found, incl. a 6-deep chain (more than one
        large-star/small-star round), and singletons stay unlabeled."""
        pairs = spark.createDataFrame(
            [(2, 3), (3, 4), (4, 5), (5, 6), (6, 7),   # chain 2..7
             (10, 11), (11, 12),                        # triangle-ish
             (20, 21)],
            "id_a long, id_b long")
        got = {r["doc_id"]: r["cluster_id"]
               for r in dedup.dedup_clusters(pairs).collect()}
        assert got == {2: 2, 3: 2, 4: 2, 5: 2, 6: 2, 7: 2,
                       10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    def test_cluster_reliable_checkpoint(self, spark, tmp_path):
        """checkpoint_dir switches snapshots to reliable checkpoint():
        identical labels, and snapshot files actually land in the dir —
        the executor-loss-resilient form for real clusters (round-2
        verdict, What's wrong #5)."""
        import glob as _glob

        pairs = spark.createDataFrame(
            [(2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (10, 11)],
            "id_a long, id_b long")
        ckdir = str(tmp_path / "reliable_ck")
        got = {r["doc_id"]: r["cluster_id"]
               for r in dedup.dedup_clusters(
                   pairs, checkpoint_dir=ckdir).collect()}
        assert got == {2: 2, 3: 2, 4: 2, 5: 2, 6: 2, 7: 2, 10: 10, 11: 10}
        assert _glob.glob(ckdir + "/*/rdd-*"), "no reliable snapshot written"

    def test_cluster_star_matches_propagation(self, spark):
        """Large-star/small-star computes the same components as a
        union-find over the same edges — pinned on a mixed graph and on a
        60-node path whose diameter would cost min-label propagation 60
        rounds but star only O(log n)."""
        import random

        rng = random.Random(17)
        edges = [(2, 3), (3, 4), (4, 5), (5, 6), (6, 7),
                 (10, 11), (11, 12), (20, 21)]
        edges += [(rng.randrange(100, 160), rng.randrange(100, 160))
                  for _ in range(60)]
        edges = [(a, b) for a, b in edges if a != b]
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)  # the root is the min id
        want = {x: find(x) for x in parent}
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        star = {r["doc_id"]: r["cluster_id"]
                for r in dedup.dedup_clusters(pairs).collect()}
        assert star == want

        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(500, 560)], "id_a long, id_b long")
        star = {r["doc_id"]: r["cluster_id"]
                for r in dedup.dedup_clusters(chain).collect()}
        assert star == {i: 500 for i in range(500, 561)}

    def test_cluster_star_reliable_checkpoint(self, spark, tmp_path):
        pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)],
                                      "id_a long, id_b long")
        got = {r["doc_id"]: r["cluster_id"]
               for r in dedup.dedup_clusters(
                   pairs, checkpoint_dir=str(tmp_path / "ck")).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}

    def test_shingle_units_exact(self, spark):
        """3-word shingles are the exact sliding window over normalized
        tokens; docs shorter than n yield no units."""
        df = spark.createDataFrame(
            [(1, "The quick, brown FOX jumps!"), (2, "too short"), (3, "")],
            "doc_id int, text string")
        rows = {(r["doc_id"], r["word"])
                for r in dedup._shingles(df, "doc_id", "text", 3).collect()}
        assert rows == {(1, "the quick brown"), (1, "quick brown fox"),
                        (1, "brown fox jumps")}

    def test_shingled_jaccard_stricter_than_words(self, spark):
        """Same word SET, different order → word-Jaccard 1.0 but shingle-
        Jaccard low: the shingle unit captures sequence, words don't."""
        a = "spark shuffles data between stages of the plan"
        b = "the plan of spark stages shuffles data between"
        df = spark.createDataFrame([(1, a), (2, b)], "doc_id int, text string")
        wj = {(r["id_a"], r["id_b"]): r["jaccard"]
              for r in dedup.jaccard_pairs(df, threshold=0.0).collect()}
        sj = {(r["id_a"], r["id_b"]): r["jaccard"]
              for r in dedup.jaccard_pairs(
                  df, threshold=0.0, shingle=3).collect()}
        assert wj[(1, 2)] == 1.0
        assert sj.get((1, 2), 0.0) < 0.35

    def test_minhash_k128_b16_recall_and_precision(self, spark):
        """Realistic MMDS parameters (K=128 signatures, 16 bands of 8 rows):
        near-identical docs must still collide on some band (recall), while
        moderately-overlapping docs must NOT (precision — the K=4/b=2 toy
        banding passes almost anything with band size 2)."""
        base = ("spark executes the physical plan in stages separated by "
                "shuffle boundaries and each stage runs as parallel tasks "
                "over the partitions of its input data")
        mid = ("spark executes a logical plan optimized by catalyst before "
               "codegen while flink streams records through operator chains "
               "with checkpoints barriers and watermarks for event time")
        df = spark.createDataFrame(
            [(1, base), (2, base + " extra"), (3, mid),
             (4, "bolo de cenoura com cobertura de chocolate da vovó")],
            "doc_id int, text string")
        sigs = dedup.minhash_signatures(df, "doc_id", "text", k=128)
        assert len(sigs.columns) == 129  # doc_id + mh0..mh127
        pairs = {(r["id_a"], r["id_b"])
                 for r in dedup.minhash_lsh_candidates(
                     sigs, "doc_id", k=128, bands=16).collect()}
        assert (1, 2) in pairs            # ~0.9 Jaccard: recalled
        assert (1, 4) not in pairs        # disjoint: never a candidate
        assert (1, 3) not in pairs        # ~0.2 Jaccard: pruned at b=8 rows

    def test_simhash_near_dupes_close(self, spark):
        base = "spark shuffle partitions tuning guide for large clusters"
        df = spark.createDataFrame(
            [(1, base), (2, base + " v2"), (3, "bolo de cenoura receita farinha")],
            "doc_id int, text string")
        h = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}
        def hamming(a, b):
            return bin(a ^ b).count("1")
        assert hamming(h[1], h[2]) < hamming(h[1], h[3])

    def test_jaccard_exact_value(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")],
            "doc_id int, text string")
        rows = {(r["id_a"], r["id_b"]): r["jaccard"]
                for r in dedup.jaccard_pairs(df, threshold=0.1).collect()}
        assert rows[(1, 2)] == 0.6  # |{a,b,c}| / |{a,b,c,d,e}|
        assert (1, 3) not in rows


class TestSimilarity:
    def test_cosine_topk_self_excluded_and_sorted(self, emb):
        rows = similarity.cosine_topk(emb, query_id=0, k=10).collect()
        assert len(rows) == 10
        assert all(r["vec_id"] != 0 for r in rows)
        cosines = [r["cosine"] for r in rows]
        assert cosines == sorted(cosines, reverse=True)
        assert all(-1.0 <= c <= 1.0 for c in cosines)

    def test_lsh_recall_vs_brute_force(self, emb):
        dim = len(emb.select("embedding").first()["embedding"])
        exact = {r["vec_id"] for r in
                 similarity.cosine_topk(emb, query_id=0, k=10).collect()}
        approx = {r["vec_id"] for r in
                  similarity.lsh_bucketed_topk(emb, query_id=0, dim=dim, k=10)
                  .collect()}
        # hyperplane LSH with 8 planes: nearest vectors share the bucket
        # often; require non-trivial recall, not exactness
        assert len(exact & approx) >= 3

    def test_lsh_signature_no_shuffle(self, emb):
        dim = len(emb.select("embedding").first()["embedding"])
        plan = similarity.lsh_signature(emb, dim)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan, "signature must be shuffle-free"


class TestTextstats:
    def test_lang_id_markers(self, spark):
        df = spark.createDataFrame(
            [(1, "o modelo de dados que usamos para uma análise"),
             (2, "the model and the data with this approach for training"),
             (3, "xyz")],
            "doc_id int, text string")
        out = {r["doc_id"]: r["lang_pred"]
               for r in textstats.with_lang_id(df).collect()}
        assert out == {1: "pt", 2: "en", 3: "unk"}

    def test_quality_bounds(self, docs):
        rows = textstats.with_quality_score(docs).select("quality").collect()
        assert all(0.0 <= r["quality"] <= 1.0 for r in rows)

    def test_token_counts_simple(self, spark):
        df = spark.createDataFrame([(1, "one two  three")], "doc_id int, text string")
        r = textstats.with_token_counts(df).first()
        assert r["ws_tokens"] == 3
        assert r["bpe_tokens"] == 3  # 11 non-space chars / 4 → ceil = 3

    def test_fingerprint_normalization_collides(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello, World!"), (2, "hello   world"), (3, "other")],
            "doc_id int, text string")
        fps = {r["doc_id"]: r["fingerprint"]
               for r in textstats.with_fingerprint(df).collect()}
        assert fps[1] == fps[2] != fps[3]

    def test_pii_redaction(self, spark):
        df = spark.createDataFrame(
            [(1, "Contato: joao.silva@example.com ou (11) 98888-1234."),
             (2, "sem pii aqui"),
             (3, "a@b.io c@d.net (21) 3333-4444")],
            "doc_id int, text string")
        out = {r["doc_id"]: r
               for r in textstats.with_pii_redacted(df).collect()}
        assert out[1]["text_redacted"] == "Contato: [EMAIL] ou [PHONE]."
        assert (out[1]["n_emails_redacted"], out[1]["n_phones_redacted"]) == (1, 1)
        assert out[2]["text_redacted"] == "sem pii aqui"
        assert (out[2]["n_emails_redacted"], out[2]["n_phones_redacted"]) == (0, 0)
        assert out[3]["text_redacted"] == "[EMAIL] [EMAIL] [PHONE]"
        assert (out[3]["n_emails_redacted"], out[3]["n_phones_redacted"]) == (2, 1)
        # agreement with the single-node field extractor: no extractable
        # PII survives redaction on a real corpus sample
        from resume_ocr_spark import textproc
        for r in out.values():
            fields = textproc.extract_fields(r["text_redacted"])
            assert fields["emails"] == [] and fields["phones"] == []

    def test_repeated_line_fraction(self, spark):
        df = spark.createDataFrame(
            [(1, "a\nb\nc"), (2, "spam\nspam\nspam\nspam"),
             (3, "x\n\n\nx\ny"), (4, "only"), (5, "")],
            "doc_id int, text string")
        out = {r["doc_id"]: r["repeated_line_frac"]
               for r in textstats.with_repeated_line_fraction(df).collect()}
        assert out[1] == 0.0
        assert out[2] == 0.75          # 4 lines, 1 distinct
        assert out[3] == round(1 - 2 / 3, 3)  # blanks excluded
        assert out[4] == 0.0 and out[5] == 0.0


class TestDecontam:
    N = 3  # small n so hand-built fixtures can hit/miss precisely

    @staticmethod
    def _grams(text, n):
        import re
        toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    def test_counts_match_python_oracle_on_corpus(self, spark, docs):
        from resume_ocr_spark.operators import decontam
        d = docs.select("doc_id", "text").limit(40)
        bench = d.orderBy("doc_id").limit(3).select(
            F.col("text").alias("question"))
        got = {r["doc_id"]: r["contaminated_ngrams"]
               for r in decontam.contamination_counts(
                   d, bench, bench_text_col="question", n=self.N).collect()}
        rows = {r["doc_id"]: r["text"] for r in d.collect()}
        bgrams = set()
        for t in (r["question"] for r in bench.collect()):
            bgrams |= self._grams(t, self.N)
        for doc_id, text in rows.items():
            expect = len(self._grams(text, self.N) & bgrams)
            assert got.get(doc_id, 0) == expect, doc_id

    def test_decontaminate_drops_exact_and_partial_overlap(self, spark):
        from resume_ocr_spark.operators import decontam
        docs = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "a totally clean training document with fresh words"),
             (3, "brown fox jumps embedded inside a longer training text"),
             (4, "fox brown jumps scrambled order shares no trigram")],
            "doc_id int, text string")
        bench = spark.createDataFrame(
            [("what does the quick brown fox jumps over?",)], "text string")
        kept = sorted(r["doc_id"] for r in decontam.decontaminate(
            docs, bench, n=self.N).collect())
        assert kept == [2, 4]
        # threshold raises the bar: doc 3 shares exactly 1 trigram
        kept2 = sorted(r["doc_id"] for r in decontam.decontaminate(
            docs, bench, n=self.N, threshold=2).collect())
        assert kept2 == [2, 3, 4]

    def test_short_docs_and_empty_bench_are_clean(self, spark):
        from resume_ocr_spark.operators import decontam
        docs = spark.createDataFrame(
            [(1, "two words"), (2, "")], "doc_id int, text string")
        bench = spark.createDataFrame([("two words",)], "text string")
        assert decontam.contamination_counts(
            docs, bench, n=self.N).count() == 0
        empty_bench = bench.filter(F.lit(False))
        assert decontam.decontaminate(
            docs, empty_bench, n=self.N).count() == 2

    def test_plan_is_broadcast_on_bench_side(self, spark, docs):
        from resume_ocr_spark.operators import decontam
        d = docs.select("doc_id", "text").limit(10)
        bench = d.limit(1).select("text")
        out = decontam.contamination_counts(d, bench, n=self.N)
        plan = spark._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestMultimodal:
    def test_metadata_roundtrip(self, spark, docs):
        media = multimodal.render_binary_column(docs.limit(5))
        rows = multimodal.image_metadata(media).collect()
        assert len(rows) == 5
        assert all(r["error"] is None for r in rows)
        assert all(r["n_pixels"] == r["height"] * r["width"] for r in rows)

    def test_corrupt_media_is_error_row(self, spark):
        df = spark.createDataFrame(
            [(1, bytearray(b"not-an-image"))], "doc_id long, media binary")
        rows = multimodal.image_metadata(df).collect()
        assert rows[0]["error"] is not None

    def test_resize_halves_dimensions(self, spark, docs):
        media = multimodal.render_binary_column(docs.limit(3))
        before = {r["doc_id"]: r for r in multimodal.image_metadata(media).collect()}
        after = {r["doc_id"]: r for r in
                 multimodal.image_metadata(multimodal.resize_half(media)).collect()}
        for d, b in before.items():
            assert after[d]["height"] == b["height"] // 2
            assert after[d]["width"] == b["width"] // 2

    def test_external_decodes(self):
        import numpy as np

        from resume_ocr_spark.formats import avcodec, imagecodec

        # PNG/JPEG/WAV decode are real now; corrupt payloads are error
        # *value* paths, compressed audio/video stay stubbed
        with pytest.raises(imagecodec.ImageDecodeError):
            multimodal.decode_external_image(b"\x89PNG")
        with pytest.raises(imagecodec.ImageDecodeError):
            multimodal.decode_external_image(b"\xff\xd8\xff\xe0jpeg")
        with pytest.raises(avcodec.AudioDecodeError):
            multimodal.decode_audio(b"RIFFxxxxWAVE")  # truncated WAV
        with pytest.raises(NotImplementedError):
            multimodal.decode_audio(b"ID3\x04mp3data")
        with pytest.raises(NotImplementedError):
            multimodal.sample_video_frames(b"\x00")
        # real WAV round trip through the op-level decoder
        pcm = (np.sin(np.arange(500) / 5.0) * 20000).astype(np.int16)
        out = multimodal.decode_audio(avcodec.write_wav(pcm, 8000))
        np.testing.assert_array_equal(out, pcm)


class TestIVF:
    def test_ivf_recall_vs_brute_force(self, emb):
        from resume_ocr_spark.operators import similarity

        exact = {r["vec_id"] for r in
                 similarity.cosine_topk(emb, query_id=0, k=10).collect()}
        approx = {r["vec_id"] for r in
                  similarity.ivf_topk(emb, query_id=0, k=10, n_probe=4).collect()}
        assert len(exact & approx) >= 5  # n_probe=4 of 16 cells

    def test_ivf_deterministic(self, emb):
        from resume_ocr_spark.operators import similarity

        c1 = similarity.ivf_train(emb)
        c2 = similarity.ivf_train(emb)
        import numpy as np
        assert np.array_equal(c1, c2)

    def test_ivf_assign_no_shuffle(self, emb):
        from resume_ocr_spark.operators import similarity

        cents = similarity.ivf_train(emb)
        plan = similarity.ivf_assign(emb, cents)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan

    @staticmethod
    def _lloyd_numpy(x, init, iters, tol=1e-9):
        """Independent single-node Lloyd with the engine's update rule
        (unit inputs, cosine assignment, mean, renormalize)."""
        import numpy as np

        from resume_ocr_spark.operators.similarity import _unit

        cent = np.asarray(init, dtype=np.float64).copy()
        u = _unit(np.asarray(x, dtype=np.float64))
        for _ in range(iters):
            assign = (u @ cent.T).argmax(axis=1)
            new = cent.copy()
            for c in range(len(cent)):
                members = u[assign == c]
                if len(members):
                    new[c] = members.sum(axis=0) / len(members)
            new = _unit(new)
            moved = float(np.abs(new - cent).max())
            cent = new
            if moved < tol:
                break
        return cent

    def test_distributed_lloyd_matches_single_node(self, spark, emb):
        """VERDICT r4 #4: full-corpus Lloyd refinement agrees with the
        single-node pass from the same init (up to float-sum reordering)."""
        import numpy as np

        from resume_ocr_spark.operators import similarity

        rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
        x = np.array([r["embedding"] for r in rows], dtype=np.float64)
        init = similarity.kmeans_codebook(x[:64], k=8, iters=2)
        got = similarity.ivf_train_distributed(
            emb, k=8, iters=4, init=init)
        want = self._lloyd_numpy(x, init, iters=4)
        np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-12)
        # refined codebook must be at least as good on the data it saw:
        # mean max-cosine (spherical k-means objective) never decreases
        u = x / np.linalg.norm(x, axis=1, keepdims=True)
        assert (u @ got.T).max(axis=1).mean() >= \
               (u @ init.T).max(axis=1).mean() - 1e-12

    def test_distributed_lloyd_pass_count_bounded(self, spark, emb):
        """Accumulator-proved iteration bound: exactly one corpus pass per
        iteration, and the tol early-stop cuts the pass count."""
        from resume_ocr_spark.operators import similarity

        emb4 = emb.repartition(4)
        init = similarity.ivf_train(emb4, k=8, iters=2)

        c1 = spark.sparkContext.accumulator(0)
        similarity.ivf_train_distributed(
            emb4, k=8, iters=1, init=init, tol=0.0, batch_counter=c1)
        per_pass = c1.value
        assert per_pass >= 1

        c3 = spark.sparkContext.accumulator(0)
        similarity.ivf_train_distributed(
            emb4, k=8, iters=3, init=init, tol=0.0, batch_counter=c3)
        assert c3.value == 3 * per_pass  # tol=0 never early-stops

        # converged input: after the update stabilizes, movement < tol
        # stops the loop long before the iters budget
        c_stop = spark.sparkContext.accumulator(0)
        similarity.ivf_train_distributed(
            emb4, k=8, iters=25, init=init, tol=1e-7, batch_counter=c_stop)
        assert c_stop.value < 25 * per_pass

    def test_distributed_lloyd_feeds_semantic_dedup(self, spark, emb):
        """The refined codebook drops into SemDeDup's centroids hook."""
        from resume_ocr_spark.operators import dedup, similarity

        cents = similarity.ivf_train_distributed(emb, k=8, iters=2)
        out = dedup.semantic_dedup(
            emb, n_clusters=8, threshold=0.999, centroids=cents).collect()
        assert len(out) == emb.count()
        assert {r["cell"] for r in out} <= set(range(8))


class TestUtils:
    def test_uuid4_validation(self):
        from resume_ocr_spark import textproc

        assert textproc.is_valid_uuid4("12345678-1234-4123-8123-123456789abc")
        assert not textproc.is_valid_uuid4("12345678-1234-1123-8123-123456789abc")
        assert not textproc.is_valid_uuid4("not-a-uuid")
        assert not textproc.is_valid_uuid4("")

    def test_normalize_query(self):
        from resume_ocr_spark import textproc

        assert textproc.normalize_query("  x  ") == "x"
        assert textproc.normalize_query("   ") is None
        assert textproc.normalize_query(None) is None


class TestEmbeddingNearDup:
    def test_exact_pairs_find_planted_dup(self, spark, emb):
        d = emb.select("vec_id", "embedding").filter(F.col("vec_id") < 20)
        planted = d.select((F.col("vec_id") + 1000).alias("vec_id"), "embedding")
        pairs = {(r["id_a"], r["id_b"]): r["cosine"]
                 for r in dedup.embedding_near_dup(
                     d.unionAll(planted), threshold=0.99).collect()}
        assert len(pairs) == 20  # each vector pairs only with its copy
        for (a, b), c in pairs.items():
            assert b == a + 1000
            assert c == pytest.approx(1.0, abs=1e-6)

    def test_threshold_excludes_distant_pairs(self, emb):
        d = emb.filter(F.col("vec_id") < 30)
        # natural max cosine in this corpus is far below 0.9 (verified in
        # contract setup); nothing should survive
        assert dedup.embedding_near_dup(d, threshold=0.9).count() == 0

    def test_lsh_path_catches_planted_dups(self, spark, emb):
        dim = len(emb.select("embedding").first()["embedding"])
        d = emb.select("vec_id", "embedding").filter(F.col("vec_id") < 20)
        planted = d.select((F.col("vec_id") + 1000).alias("vec_id"), "embedding")
        both = d.unionAll(planted)
        got = {(r["id_a"], r["id_b"])
               for r in dedup.embedding_near_dup(
                   both, threshold=0.99, exact=False, dim=dim).collect()}
        # identical vectors share every LSH band ⇒ recall 1.0 on true dups
        assert got == {(i, i + 1000) for i in range(20)}

    def test_lsh_requires_dim(self, emb):
        with pytest.raises(ValueError):
            dedup.embedding_near_dup(emb, exact=False)

    def test_lsh_is_subset_of_exact(self, emb):
        dim = len(emb.select("embedding").first()["embedding"])
        d = emb.filter(F.col("vec_id") < 60)
        exact = {(r["id_a"], r["id_b"])
                 for r in similarity.cosine_pairs(d, 0.3).collect()}
        approx = {(r["id_a"], r["id_b"])
                  for r in similarity.cosine_pairs_lsh(d, dim, 0.3).collect()}
        assert approx <= exact  # pruning never invents pairs


class TestAudioVideo:
    def test_audio_metadata_roundtrip(self, spark, docs):
        media = multimodal.render_audio_column(docs.limit(5))
        rows = multimodal.audio_metadata(media).collect()
        assert len(rows) == 5
        assert all(r["error"] is None for r in rows)
        for r in rows:
            assert r["sample_rate"] == 8000
            assert r["duration_sec"] == pytest.approx(
                r["n_samples"] / r["sample_rate"], abs=1e-3)
            assert 0.0 < r["rms"] < 1.0
            assert r["zero_crossings"] > 0

    def test_corrupt_audio_is_error_row(self, spark):
        df = spark.createDataFrame(
            [(1, bytearray(b"RIFFnope"))], "doc_id long, media binary")
        rows = multimodal.audio_metadata(df).collect()
        assert rows[0]["error"] is not None

    def test_audio_frame_energy_fanout(self, spark, docs):
        media = multimodal.render_audio_column(docs.limit(3))
        meta = {r["doc_id"]: r["n_samples"]
                for r in multimodal.audio_metadata(media).collect()}
        frames = multimodal.audio_frame_energy(media, frame_len=512).collect()
        per_doc = {}
        for r in frames:
            per_doc.setdefault(r["doc_id"], []).append(r)
        for doc_id, rs in per_doc.items():
            assert len(rs) == meta[doc_id] // 512
            assert sorted(r["frame_idx"] for r in rs) == list(range(len(rs)))
            assert all(0.0 <= r["energy"] <= 1.0 for r in rs)

    def test_video_frame_sample_feeds_image_ops(self, spark, docs):
        from resume_ocr_spark.formats import avcodec

        media = multimodal.render_video_column(docs.limit(4))
        frames = multimodal.video_frame_sample(media, every_n=2)
        rows = frames.collect()
        assert all(r["error"] is None for r in rows)
        assert all(r["frame_idx"] % 2 == 0 for r in rows)
        # sampled frames are valid RIMG payloads → image operators compose
        meta = multimodal.image_metadata(frames.select("doc_id", "media")).collect()
        assert len(meta) == len(rows)
        assert all(m["error"] is None and m["height"] == 24 and m["width"] == 32
                   for m in meta)
        # determinism: frame k of a clip equals base frame rolled k columns
        payload = avcodec.render_video((docs.limit(1).collect()[0]["text"]
                                        or "")[:64])
        clip = avcodec.decode_rvid(payload)
        import numpy as np
        assert np.array_equal(clip[2], np.roll(clip[0], 2, axis=1))

    def test_corrupt_video_is_error_row(self, spark):
        df = spark.createDataFrame(
            [(7, bytearray(b"MP4?xxxxxxxxxxxxxxxxx"))],
            "doc_id long, media binary")
        rows = multimodal.video_frame_sample(df).collect()
        assert len(rows) == 1
        assert rows[0]["frame_idx"] == -1 and rows[0]["error"] is not None

    def test_codec_determinism_across_batch_sizes(self, spark, docs):
        one = multimodal.render_audio_column(docs.limit(6).repartition(1))
        many = multimodal.render_audio_column(docs.limit(6).repartition(6))
        a = {r["doc_id"]: bytes(r["media"]) for r in one.collect()}
        b = {r["doc_id"]: bytes(r["media"]) for r in many.collect()}
        assert a == b


class TestJaccardLsh:
    def test_lsh_gated_jaccard_subset_with_identical_values(self, spark, docs):
        d = docs.select("doc_id", "text").filter(F.col("doc_id") < 40)
        exact = {(r["id_a"], r["id_b"]): r["jaccard"]
                 for r in dedup.jaccard_pairs(d, threshold=0.3).collect()}
        gated = {(r["id_a"], r["id_b"]): r["jaccard"]
                 for r in dedup.jaccard_pairs_lsh(d, threshold=0.3).collect()}
        assert set(gated) <= set(exact)  # gating never invents pairs
        assert all(exact[k] == v for k, v in gated.items())

    def test_lsh_gated_jaccard_full_recall_on_exact_dups(self, spark):
        base = "spark shuffle partitions tuning guide for large clusters"
        df = spark.createDataFrame(
            [(1, base), (2, base), (3, "receita de bolo de cenoura")],
            "doc_id int, text string")
        got = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in dedup.jaccard_pairs_lsh(df, threshold=0.9).collect()}
        # identical docs share every band → always candidates → found exact
        assert got == {(1, 2): 1.0}


class TestNullPayloadPropagation:
    def test_error_rows_flow_through_image_ops(self, spark):
        """A corrupt clip's error row (media=None) must flow through
        image_metadata/resize_half as error rows, not task failures."""
        good = multimodal.render_video_column(spark.createDataFrame(
            [(1, "ok")], "doc_id long, text string"))
        poison = spark.createDataFrame([(2, bytearray(b"bad"))],
                                       "doc_id long, media binary")
        frames = multimodal.video_frame_sample(good.unionAll(poison))
        meta = multimodal.image_metadata(
            frames.select("doc_id", "media")).collect()
        by_id = {}
        for r in meta:
            by_id.setdefault(r["doc_id"], []).append(r)
        assert all(r["error"] is None for r in by_id[1])
        assert by_id[2][0]["error"] == "null payload"
        resized = multimodal.resize_half(
            frames.select("doc_id", "media")).collect()
        assert any(r["media"] is None for r in resized)  # propagated, no crash

    def test_null_audio_payload_is_error_row(self, spark):
        df = spark.createDataFrame([(1, None)], "doc_id long, media binary")
        assert multimodal.audio_metadata(df).first()["error"] == "null payload"
        assert multimodal.audio_frame_energy(df).count() == 0


class TestSaltedAggValidation:
    def test_non_mergeable_prefix_raises(self, spark, docs):
        from pyspark.sql import functions as SF

        from resume_ocr_spark.operators import skew

        with pytest.raises(ValueError, match="avg_value"):
            skew.salted_agg(docs, "lang", {"avg_value": SF.avg("n_chars")})


class TestIvfIndex:
    def test_index_one_assignment_pass_many_queries(self, spark, emb):
        """IvfIndex.build runs the assignment UDF once (accumulator-proved);
        subsequent topk() calls reuse the cached assignment and return
        exactly what the per-query ivf_topk path returns (round-2 verdict
        ask #7)."""
        from resume_ocr_spark.operators import similarity

        counter = spark.sparkContext.accumulator(0)
        idx = similarity.IvfIndex.build(emb, batch_counter=counter)
        try:
            batches_after_build = counter.value
            assert batches_after_build >= 1
            for qid in (0, 3, 11):
                got = [(r["vec_id"], r["cosine"])
                       for r in idx.topk(qid, k=10, n_probe=4).collect()]
                exp = [(r["vec_id"], r["cosine"])
                       for r in similarity.ivf_topk(
                           emb, query_id=qid, k=10, n_probe=4).collect()]
                assert got == exp, f"query {qid} diverged from one-shot path"
            # the three queries did not re-run the assignment UDF
            assert counter.value == batches_after_build
        finally:
            idx.unpersist(blocking=True)
        lvl = idx.assigned.storageLevel
        assert not (lvl.useMemory or lvl.useDisk)

    def test_index_durable_parquet_form(self, spark, emb, tmp_path):
        """path= writes the assignment as a cell-partitioned parquet table
        (the durable serving form); queries off the re-read table match the
        in-memory index."""
        from resume_ocr_spark.operators import similarity

        idx_mem = similarity.IvfIndex.build(emb)
        try:
            idx_disk = similarity.IvfIndex.build(
                emb, path=str(tmp_path / "ivf_index"))
            got = [(r["vec_id"], r["cosine"])
                   for r in idx_disk.topk(0, k=10, n_probe=4).collect()]
            exp = [(r["vec_id"], r["cosine"])
                   for r in idx_mem.topk(0, k=10, n_probe=4).collect()]
            assert got == exp
            # partition pruning is available to the probe scan
            assert (tmp_path / "ivf_index").is_dir()
            assert any(p.name.startswith("cell=")
                       for p in (tmp_path / "ivf_index").iterdir())
        finally:
            idx_mem.unpersist(blocking=True)


class TestQualityFilter:
    def test_each_reason_fires_on_a_crafted_row(self, spark):
        # 36 distinct words (top-word fraction 1/36), stopwords present
        long_ok = "the and with " + " ".join(f"word{i:02d}" for i in range(33))
        rows = [
            (1, long_ok),                                   # keep
            (2, "the short and doc with for this"),         # too_short
            (3, ("a " * 80).strip()),                       # word_length + repetition + no_stopwords + too_short? no: 80 words
            (4, long_ok + " " + "#$%@!" * 40),              # symbols
            (5, ("the quick " * 40).strip()),               # repetition (0.5 > .125)
            (6, ("zebra yak xylo wombat vulture " * 12).strip()),  # no_stopwords
            (7, long_ok + " lorem ipsum dolor"),            # boilerplate
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        out = {r["doc_id"]: r for r in
               textstats.with_quality_filter(df).collect()}
        assert out[1]["keep"] and out[1]["reasons"] == ""
        assert "too_short" in out[2]["reasons"]
        assert "word_length" in out[3]["reasons"]
        assert "repetition" in out[3]["reasons"]
        assert "symbols" in out[4]["reasons"]
        assert "repetition" in out[5]["reasons"]
        assert "no_stopwords" in out[6]["reasons"]
        assert "boilerplate" in out[7]["reasons"]
        assert all((r["reasons"] == "") == r["keep"] for r in out.values())

    def test_null_text_is_dropped_not_kept(self, spark):
        """NULL text must be judged as empty (too_short), not slip through
        because every rule condition is NULL (code-review finding)."""
        df = spark.createDataFrame([(1, None), (2, "")],
                                   "doc_id int, text string")
        out = {r["doc_id"]: r for r in
               textstats.with_quality_filter(df).collect()}
        for i in (1, 2):
            assert not out[i]["keep"]
            assert "too_short" in out[i]["reasons"]

    def test_repetition_scan_is_bounded(self, spark):
        """The repetition rule reads only the first QF_REPETITION_SCAN
        words — the per-row cost bound for multi-MB documents."""
        scan = textstats.QF_REPETITION_SCAN
        distinct_head = " ".join(f"w{i}" for i in range(scan))
        tail_spam = " spam" * 600
        df = spark.createDataFrame(
            [(1, distinct_head + tail_spam),            # spam beyond the scan
             (2, ("spam " * 600) + distinct_head)],     # spam inside the scan
            "doc_id int, text string")
        out = {r["doc_id"]: r["reasons"]
               for r in textstats.with_quality_filter(df).collect()}
        assert "repetition" not in out[1]
        assert "repetition" in out[2]

    def test_matches_python_oracle_on_corpus(self, spark, docs):
        import re
        out = {r["doc_id"]: r for r in textstats.with_quality_filter(
            docs.limit(60)).collect()}
        for r in docs.limit(60).collect():
            text = r["text"]
            words = re.split(r"\s+", text.strip())
            nw, nc = len(words), len(text)
            mwl = (nc - (nw - 1)) / nw
            sym = len(re.sub(r"[A-Za-z0-9\s]", "", text))
            head = words[:textstats.QF_REPETITION_SCAN]
            top = max(head.count(w) for w in set(head)) / min(
                nw, textstats.QF_REPETITION_SCAN)
            padded = f" {text.lower()} "
            stops = sum(padded.count(m) for m in
                        textstats.PT_MARKERS + textstats.EN_MARKERS)
            reasons = [
                n for n, fired in [
                    ("too_short", nw < textstats.QF_MIN_WORDS),
                    ("too_long", nw > textstats.QF_MAX_WORDS),
                    ("word_length",
                     mwl < textstats.QF_MWL_LO or mwl > textstats.QF_MWL_HI),
                    ("symbols", sym / max(nc, 1) > textstats.QF_MAX_SYMBOL_RATIO),
                    ("repetition", top > textstats.QF_MAX_TOP_WORD_FRAC),
                    ("no_stopwords", stops == 0),
                    ("boilerplate", textstats.QF_BOILERPLATE in text.lower()),
                ] if fired]
            got = out[r["doc_id"]]
            assert got["reasons"] == ",".join(reasons), r["doc_id"]
            assert got["keep"] == (not reasons)

    def test_corpus_has_mixed_outcomes(self, spark, docs):
        agg = (textstats.with_quality_filter(docs)
               .groupBy("keep").count().collect())
        counts = {r["keep"]: r["count"] for r in agg}
        assert counts.get(True, 0) > 0 and counts.get(False, 0) > 0


class TestPacking:
    BUDGET, SHARDS = 256, 8

    def _assign(self, docs):
        from resume_ocr_spark.operators import packing
        return packing.pack_sequences(
            docs.select("doc_id", "text"),
            budget=self.BUDGET, shards=self.SHARDS)

    def test_assignment_matches_sequential_recompute(self, spark, docs):
        import math
        got = {r["doc_id"]: r for r in self._assign(docs.limit(200)).collect()}
        texts = {r["doc_id"]: r["text"] for r in docs.limit(200).collect()}
        by_shard = {}
        for doc_id in sorted(texts):
            toks = math.ceil(len("".join(texts[doc_id].split())) / 4.0)
            shard = doc_id % self.SHARDS
            prev = by_shard.get(shard, 0)
            r = got[doc_id]
            assert r["shard"] == shard
            assert r["n_tokens"] == toks, doc_id
            assert r["seq_id"] == prev // self.BUDGET
            assert r["seq_offset"] == prev % self.BUDGET
            by_shard[shard] = prev + toks

    def test_deterministic_under_repartition(self, spark, docs):
        a = sorted(map(tuple, self._assign(docs).collect()))
        b = sorted(map(tuple, self._assign(docs.repartition(7)).collect()))
        assert a == b

    def test_sequences_fill_budget_except_last_per_shard(self, spark, docs):
        rows = self._assign(docs).collect()
        last_seq = {}
        for r in rows:
            last_seq[r["shard"]] = max(last_seq.get(r["shard"], 0), r["seq_id"])
        span_end = {}
        for r in rows:
            key = (r["shard"], r["seq_id"])
            span_end[key] = max(span_end.get(key, 0),
                                r["seq_id"] * self.BUDGET
                                + r["seq_offset"] + r["n_tokens"])
        for (shard, seq), end in span_end.items():
            if seq != last_seq[shard]:
                # a sequence only closes once its span crosses the budget
                assert end >= (seq + 1) * self.BUDGET, (shard, seq)

    def test_materialize_round_trip(self, spark, docs):
        from resume_ocr_spark.operators import packing
        d = docs.limit(50).select("doc_id", "text")
        packed = packing.materialize_packed(
            d, budget=self.BUDGET, shards=self.SHARDS, sep="\x1e").collect()
        assert sum(r["n_docs"] for r in packed) == 50
        assign = {r["doc_id"]: r for r in self._assign(d).collect()}
        texts = {r["doc_id"]: r["text"] for r in d.collect()}
        for row in packed:
            members = sorted(
                did for did, a in assign.items()
                if a["shard"] == row["shard"] and a["seq_id"] == row["seq_id"])
            assert row["text"] == "\x1e".join(texts[d] for d in members)
            assert row["total_tokens"] == sum(
                assign[d]["n_tokens"] for d in members)

    def test_plan_single_hash_exchange_no_global_sort(self, spark, docs):
        out = self._assign(docs)
        import re
        plan = spark._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted")
        # exactly one physical Exchange (the shard hash shuffle) — the
        # formatted explain names each node in the tree AND a detail header
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
        assert "hashpartitioning(shard" in plan
        assert "rangepartitioning" not in plan


class TestMixture:
    def test_bucket_matches_python_md5(self, spark, docs):
        import hashlib
        from resume_ocr_spark.operators import mixture
        rows = mixture.with_sample_bucket(
            docs.limit(30), seed="s1").select("doc_id", "bucket").collect()
        for r in rows:
            h = hashlib.md5(f"{r['doc_id']}:s1".encode()).hexdigest()
            assert r["bucket"] == int(h[28:32], 16)

    def test_weighted_mixture_rates_and_determinism(self, spark, docs):
        from resume_ocr_spark.operators import mixture
        weights = {"en": 1.0, "fr": 0.5}
        out = mixture.weighted_mixture(
            docs, weights, group_col="lang", default_weight=0.25)
        got = out.groupBy("lang").count().collect()
        base = {r["lang"]: r["count"]
                for r in docs.groupBy("lang").count().collect()}
        counts = {r["lang"]: r["count"] for r in got}
        assert counts["en"] == base["en"]            # rate 1.0 keeps all
        assert 0 < counts.get("fr", 0) < base["fr"]  # rate 0.5 keeps some
        # default rate applies to unlisted groups (es/zh/de)
        assert 0 < counts.get("es", 0) < base["es"]
        # deterministic under repartition, different under another seed
        a = sorted(r["doc_id"] for r in out.collect())
        b = sorted(r["doc_id"] for r in mixture.weighted_mixture(
            docs.repartition(5), weights, group_col="lang",
            default_weight=0.25).collect())
        assert a == b
        c = sorted(r["doc_id"] for r in mixture.weighted_mixture(
            docs, weights, group_col="lang", default_weight=0.25,
            seed="other").collect())
        assert a != c

    def test_weighted_mixture_plan_broadcasts_weights(self, spark, docs):
        from resume_ocr_spark.operators import mixture
        out = mixture.weighted_mixture(docs, {"en": 0.5}, group_col="lang")
        plan = spark._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_stratified_topk_exact_quota(self, spark, docs):
        from resume_ocr_spark.operators import mixture
        out = mixture.stratified_topk(docs, k=7, group_col="lang")
        counts = {r["lang"]: r["count"]
                  for r in out.groupBy("lang").count().collect()}
        base = {r["lang"]: r["count"]
                for r in docs.groupBy("lang").count().collect()}
        for lang, n in counts.items():
            assert n == min(7, base[lang])
        # hash order: the kept set is the k smallest buckets per group
        full = mixture.with_sample_bucket(docs).select(
            "doc_id", "lang", "bucket").collect()
        kept = {(r["lang"], r["doc_id"]) for r in out.collect()}
        by_lang = {}
        for r in full:
            by_lang.setdefault(r["lang"], []).append((r["bucket"], r["doc_id"]))
        for lang, items in by_lang.items():
            expect = {d for _, d in sorted(items)[:7]}
            assert {d for l, d in kept if l == lang} == expect

    def test_weight_validation(self, spark, docs):
        from resume_ocr_spark.operators import mixture
        with pytest.raises(ValueError):
            mixture.weighted_mixture(docs, {"en": 1.5}, group_col="lang")
        with pytest.raises(ValueError):
            mixture.stratified_topk(docs, k=0, group_col="lang")


class TestChunking:
    def test_matches_python_recompute(self, spark, docs):
        import re
        from resume_ocr_spark.operators import packing
        chunk, overlap = 32, 8
        out = {}
        rows = packing.chunk_documents(
            docs.limit(80), chunk_words=chunk, overlap=overlap).collect()
        for r in rows:
            out.setdefault(r["doc_id"], {})[r["chunk_id"]] = (
                r["chunk_words_n"], r["chunk_text"])
        step = chunk - overlap
        for r in docs.limit(80).collect():
            words = re.split(r"\s+", r["text"].strip())
            n_chunks = 1 + -(-max(len(words) - chunk, 0) // step)
            got = out[r["doc_id"]]
            assert len(got) == n_chunks, r["doc_id"]
            for i in range(n_chunks):
                w = words[i * step: i * step + chunk]
                assert got[i] == (len(w), " ".join(w)), (r["doc_id"], i)

    def test_overlap_continuity_and_full_coverage(self, spark):
        from resume_ocr_spark.operators import packing
        text = " ".join(f"w{i}" for i in range(100))
        df = spark.createDataFrame([(1, text)], "doc_id int, text string")
        rows = sorted(
            packing.chunk_documents(df, chunk_words=40, overlap=10).collect(),
            key=lambda r: r["chunk_id"])
        assert len(rows) == 3
        # consecutive chunks share exactly `overlap` words
        a, b = rows[0]["chunk_text"].split(" "), rows[1]["chunk_text"].split(" ")
        assert a[-10:] == b[:10]
        # every word appears in some chunk
        seen = {w for r in rows for w in r["chunk_text"].split(" ")}
        assert seen == {f"w{i}" for i in range(100)}
        # short doc → exactly one whole-doc chunk
        short = spark.createDataFrame([(2, "a b c")], "doc_id int, text string")
        only = packing.chunk_documents(short, chunk_words=40, overlap=10).collect()
        assert len(only) == 1 and only[0]["chunk_text"] == "a b c"

    def test_zero_exchange_plan(self, spark, docs):
        import re
        from resume_ocr_spark.operators import packing
        out = packing.chunk_documents(docs)
        plan = spark._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted")
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0

    def test_validation(self, spark, docs):
        from resume_ocr_spark.operators import packing
        with pytest.raises(ValueError):
            packing.chunk_documents(docs, chunk_words=10, overlap=10)

    def test_empty_doc_counts_zero_words(self, spark):
        # split('') yields [''] — an empty document must report
        # chunk_words_n = 0, not 1 (ADVICE r3), while still emitting its
        # one (empty) chunk so per-doc coverage invariants hold
        from resume_ocr_spark.operators import packing
        df = spark.createDataFrame(
            [(1, ""), (2, "   "), (3, "one two")],
            "doc_id int, text string")
        rows = {r["doc_id"]: r
                for r in packing.chunk_documents(df).collect()}
        assert rows[1]["chunk_words_n"] == 0 and rows[1]["chunk_text"] == ""
        assert rows[2]["chunk_words_n"] == 0 and rows[2]["chunk_text"] == ""
        assert rows[3]["chunk_words_n"] == 2


class TestCurate:
    def _mk(self, spark):
        keep_text = ("the and with " +
                     " ".join(f"word{i:02d}" for i in range(33)))
        rows = [
            (1, keep_text + " alpha", "en"),           # kept
            (2, "the short and with for doc", "en"),   # quality (too_short)
            (3, keep_text + " beta", "en"),            # kept (dup keeper)
            (4, keep_text + " beta", "en"),            # duplicate of 3
            # 5+6: same fingerprint, BOTH fail quality -> both 'quality',
            # never 'duplicate'
            (5, "tiny doc five words only", "en"),
            (6, "tiny doc five words only", "en"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string, lang string")

    def test_reason_funnel(self, spark):
        from resume_ocr_spark.operators import curate
        docs = self._mk(spark)
        bench = spark.createDataFrame(
            [("alpha " * 5,)], "text string")  # no 3-gram overlap with docs
        out = {r["doc_id"]: r["drop_reason"]
               for r in curate.curate(docs, benchmark=bench, ngram=3).collect()}
        assert out[1] is None
        assert out[2] == "quality"
        assert {out[3], out[4]} == {None, "duplicate"}
        assert out[5] == "quality" and out[6] == "quality"

    def test_contamination_and_sampling_stages(self, spark):
        from resume_ocr_spark.operators import curate
        docs = self._mk(spark)
        # bench shares a 3-gram run with doc 1 only ('word00 word01 word02')
        bench = spark.createDataFrame(
            [("quiz: word00 word01 word02 ?",)], "text string")
        out = {r["doc_id"]: r["drop_reason"]
               for r in curate.curate(docs, benchmark=bench, ngram=3).collect()}
        # docs 1,3,4 all contain the gram; 3 survives as keeper? No:
        # contamination outranks nothing here — order is quality, dup, contam
        assert out[1] == "contaminated"
        assert out[3] == "contaminated" or out[4] == "contaminated"
        # weights: rate 0 for en drops every survivor as sampled_out
        out0 = {r["doc_id"]: r["drop_reason"]
                for r in curate.curate(
                    docs, weights={"en": 0.0}, default_weight=1.0).collect()}
        assert out0[2] == "quality"            # earlier stages still win
        assert {out0[3], out0[4]} & {"duplicate"}
        survivors = [d for d, r in out0.items() if r == "sampled_out"]
        assert 1 in survivors

    def test_audit_counts_sum(self, spark, docs):
        from resume_ocr_spark.operators import curate
        d = docs.select("doc_id", "text", "lang").limit(120)
        bench = d.orderBy("doc_id").limit(2).select("text")
        cur = curate.curate(d, benchmark=bench, ngram=3,
                            weights={"en": 0.5}, default_weight=0.75)
        audit = {r["outcome"]: r["n_docs"]
                 for r in curate.curation_audit(cur).collect()}
        assert sum(audit.values()) == 120
        assert audit.get("kept", 0) > 0
        # kept docs all pass the quality filter in isolation
        kept = cur.filter(F.col("drop_reason").isNull())
        qf = textstats.with_quality_filter(kept)
        assert qf.filter(~F.col("keep")).count() == 0

    def test_input_validation(self, spark, docs):
        from resume_ocr_spark.operators import curate
        d = docs.select("doc_id", "text", "lang")
        with pytest.raises(ValueError, match="default_weight"):
            curate.curate(d, weights={"en": 0.5}, default_weight=7.5)
        with pytest.raises(ValueError, match="weight out of"):
            curate.curate(d, weights={"en": -0.1})
        with pytest.raises(ValueError, match="reserved"):
            curate.curate(d.withColumn("bucket", F.lit(1)))

    def test_plan_no_range_partitioning(self, spark, docs):
        from resume_ocr_spark.operators import curate
        d = docs.select("doc_id", "text", "lang")
        bench = d.limit(2).select("text")
        cur = curate.curate(d, benchmark=bench, ngram=3, weights={"en": 0.9})
        plan = spark._sc._jvm.PythonSQLUtils.explainString(
            cur._jdf.queryExecution(), "formatted")
        assert "rangepartitioning" not in plan
        assert "CartesianProduct" not in plan

    def _mk_near(self, spark):
        base = ("the and with " +
                " ".join(f"word{i:02d}" for i in range(40)))
        rows = [
            (1, base + " ending alpha", "en"),   # near-dup keeper
            (2, base + " ending omega", "en"),   # near-dup of 1 (1 word off)
            (3, base + " ending alpha", "en"),   # EXACT dup of 1
            (4, "the zebra and xylophone with quartz "
                + " ".join(f"other{i:02d}" for i in range(30)), "en"),
            (5, "tiny five words doc", "en"),    # quality drop
        ]
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string")

    def test_near_dup_stage_off_by_default(self, spark):
        from resume_ocr_spark.operators import curate
        out = {r["doc_id"]: r["drop_reason"]
               for r in curate.curate(self._mk_near(spark)).collect()}
        assert "near_duplicate" not in set(out.values())
        assert out[2] is None  # fuzzy twin survives without the stage

    def test_near_dup_stage_reasons_and_precedence(self, spark):
        from resume_ocr_spark.operators import curate
        out = {r["doc_id"]: r["drop_reason"]
               for r in curate.curate(
                   self._mk_near(spark), near_dup=True).collect()}
        assert out[1] is None                  # cluster minimum kept
        assert out[2] == "near_duplicate"      # fuzzy twin dropped
        assert out[3] == "duplicate"           # EXACT dup outranks near-dup
        assert out[4] is None                  # distinct doc untouched
        assert out[5] == "quality"             # earlier stage still wins

    def test_near_dup_composes_with_later_stages(self, spark):
        from resume_ocr_spark.operators import curate
        docs = self._mk_near(spark)
        # bench shares a 3-gram with every base-derived doc; near-dup is
        # decided first, so doc 2 reports near_duplicate, keeper 1 reports
        # contaminated
        bench = spark.createDataFrame(
            [("quiz: word00 word01 word02 ?",)], "text string")
        out = {r["doc_id"]: r["drop_reason"]
               for r in curate.curate(
                   docs, benchmark=bench, ngram=3, near_dup=True).collect()}
        assert out[1] == "contaminated"
        assert out[2] == "near_duplicate"
        audit = {r["outcome"]: r["n_docs"] for r in curate.curation_audit(
            curate.curate(docs, benchmark=bench, ngram=3,
                          near_dup=True)).collect()}
        assert sum(audit.values()) == 5


class TestSubstringDedup:
    def _recompute(self, texts: dict, k: int) -> set:
        """Pure-python oracle: maximal cross-doc duplicated k-gram runs."""
        import re
        from collections import defaultdict
        words = {i: [w for w in re.split(
            " ", re.sub(r"[^a-z0-9]+", " ", t.lower()).strip()) if w]
            for i, t in texts.items()}
        owners = defaultdict(set)
        sh = {}
        for i, ws in words.items():
            sh[i] = [" ".join(ws[p:p + k]) for p in range(len(ws) - k + 1)]
            for g in sh[i]:
                owners[g].add(i)
        spans = set()
        for i, grams in sh.items():
            dup = [p + 1 for p, g in enumerate(grams) if len(owners[g]) >= 2]
            run = []
            for p in dup + [None]:
                if run and (p is None or p != run[-1] + 1):
                    spans.add((i, run[0], run[-1] + k - 1, len(run)))
                    run = []
                if p is not None:
                    run.append(p)
        return spans

    def test_matches_python_recompute_on_planted_corpus(self, spark):
        shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        texts = {
            1: f"unique one {shared} closing remark here now",
            2: f"other prefix words {shared} and a different ending",
            3: "nothing in common with anybody else at all honestly",
            4: f"double {shared} middle filler words {shared} done",
            5: "short doc",
            6: "",
        }
        df = spark.createDataFrame(list(texts.items()),
                                   "doc_id int, text string")
        got = {(r["doc_id"], r["span_start"], r["span_end"],
                r["n_dup_shingles"])
               for r in dedup.substring_duplicate_spans(df, k=4).collect()}
        assert got == self._recompute(texts, 4)
        # the shared run must appear as ONE maximal island per occurrence
        assert len([s for s in got if s[0] == 4]) == 2

    def test_spans_index_real_words_and_match_across_docs(self, spark, docs):
        import re
        k = 8
        rows = dedup.substring_duplicate_spans(
            docs.select("doc_id", "text"), k=k).collect()
        assert rows, "sf corpus carries natural 8-gram dups"
        texts = {r["doc_id"]: r["text"]
                 for r in docs.select("doc_id", "text").collect()}
        span_texts = {}
        for r in rows:
            ws = [w for w in re.split(
                " ", re.sub(r"[^a-z0-9]+", " ",
                            texts[r["doc_id"]].lower()).strip()) if w]
            assert 1 <= r["span_start"] <= r["span_end"] <= len(ws)
            assert (r["span_end"] - r["span_start"] + 1
                    == r["n_dup_shingles"] + k - 1)
            span_texts.setdefault(
                " ".join(ws[r["span_start"] - 1:r["span_end"]]),
                set()).add(r["doc_id"])
        # every reported span's full text is genuinely shared: at least one
        # other doc contains its k-gram prefix
        joined = {i: " ".join([w for w in re.split(
            " ", re.sub(r"[^a-z0-9]+", " ", t.lower()).strip()) if w])
            for i, t in texts.items()}
        for stext, owners in span_texts.items():
            prefix = " ".join(stext.split(" ")[:k])
            holders = {i for i, t in joined.items() if prefix in t}
            assert len(holders) >= 2, stext[:60]

    def test_validation(self, spark, docs):
        with pytest.raises(ValueError):
            dedup.substring_duplicate_spans(docs, k=1)


class TestIncrementalDedup:
    def test_incremental_exact_drops_seen_and_batch_dupes(self, spark):
        seen_docs = spark.createDataFrame(
            [(1, "historical document alpha"), (2, "historical document beta")],
            "doc_id long, text string")
        seen = textstats.with_fingerprint(seen_docs).select("fingerprint")
        batch = spark.createDataFrame(
            [(10, "historical document alpha"),     # seen -> dropped
             (11, "brand new document gamma"),      # fresh -> kept
             (12, "brand new document gamma"),      # in-batch dup -> dropped
             (13, "Historical DOCUMENT beta!!"),    # normalizes to seen
             (14, "another fresh one delta")],
            "doc_id long, text string")
        out = dedup.incremental_exact(batch, seen)
        kept = sorted(r["doc_id"] for r in out.collect())
        assert kept == [11, 14]
        assert "fingerprint" in out.columns  # appendable to the index

    def test_incremental_exact_empty_index_keeps_batch_reps(self, spark):
        batch = spark.createDataFrame(
            [(1, "a doc"), (2, "a doc"), (3, "other")],
            "doc_id long, text string")
        empty = spark.createDataFrame([], "fingerprint string")
        kept = sorted(r["doc_id"]
                      for r in dedup.incremental_exact(batch, empty).collect())
        assert kept == [1, 3]

    def test_lsh_probe_cross_pairs_only(self, spark):
        base = "the quick brown fox jumps over the lazy dog near the river"
        index_docs = spark.createDataFrame(
            [(100, base), (101, "completely unrelated archival text here"),
             (102, base + " yesterday")],
            "doc_id long, text string")
        batch_docs = spark.createDataFrame(
            [(1, base + " today"),                  # near-dup of 100/102
             (2, "fresh unrelated batch content about spark plans"),
             (3, base + " tonight")],               # near-dup too
            "doc_id long, text string")
        isigs = dedup.minhash_signatures(index_docs, "doc_id", "text")
        bsigs = dedup.minhash_signatures(batch_docs, "doc_id", "text")
        pairs = {(r["new_id"], r["index_id"])
                 for r in dedup.minhash_lsh_probe(bsigs, isigs).collect()}
        assert (1, 100) in pairs
        assert all(n in (1, 3) and i in (100, 102) for n, i in pairs), pairs
        # within-side pairs never emitted: ids 1-3 never appear as index_id
        assert all(i >= 100 for _, i in pairs)
        # bucket cap on the index side prunes its mega-bucket
        boiler = spark.createDataFrame(
            [(200 + i, "same boilerplate text everywhere") for i in range(20)]
            + [(300, base)], "doc_id long, text string")
        bsig2 = dedup.minhash_signatures(
            spark.createDataFrame([(5, "same boilerplate text everywhere")],
                                  "doc_id long, text string"), "doc_id", "text")
        capped = dedup.minhash_lsh_probe(
            bsig2, dedup.minhash_signatures(boiler, "doc_id", "text"),
            max_bucket_size=5).collect()
        assert capped == []


class TestVocabTopK:
    def test_counts_match_python_recompute(self, spark, docs):
        import re
        from collections import Counter
        d = docs.limit(60)
        got = textstats.vocab_topk(d, k=20).collect()
        occ, dfreq = Counter(), Counter()
        for r in d.collect():
            toks = [t for t in re.split(
                r"[^a-z0-9]+", r["text"].lower()) if t]
            occ.update(toks)
            dfreq.update(set(toks))
        expect = sorted(occ.items(), key=lambda t: (-t[1], t[0]))[:20]
        assert [(r["word"], r["n_occurrences"]) for r in got] == expect
        for r in got:
            assert r["n_docs"] == dfreq[r["word"]]

    def test_k_bounds_and_validation(self, spark, docs):
        assert len(textstats.vocab_topk(docs, k=5).collect()) == 5
        with pytest.raises(ValueError):
            textstats.vocab_topk(docs, k=0)


class TestUnigramLogprob:
    def test_matches_python_model(self, spark, docs):
        import math
        import re
        from collections import Counter
        d = docs.limit(40)
        vocab = textstats.vocab_topk(d, k=100)
        got = {r["doc_id"]: r for r in
               textstats.with_unigram_logprob(d, vocab).collect()}
        counts = Counter()
        for r in d.collect():
            counts.update(t for t in re.split(
                r"[^a-z0-9]+", r["text"].lower()) if t)
        head = dict(sorted(counts.items(),
                           key=lambda t: (-t[1], t[0]))[:100])
        total, vsize = sum(head.values()), len(head)
        denom = total + 1.0 * (vsize + 1)
        for r in d.collect():
            toks = [t for t in re.split(
                r"[^a-z0-9]+", r["text"].lower()) if t]
            nll = -sum(math.log((head.get(t, 0) + 1.0) / denom)
                       for t in toks) / len(toks)
            g = got[r["doc_id"]]
            assert g["n_scored_words"] == len(toks)
            assert abs(g["unigram_nll"] - nll) < 1e-3, r["doc_id"]

    def test_zero_token_docs_survive_as_unscorable(self, spark, docs):
        """NULL/empty/punctuation-only docs stay in the output with
        unigram_nll=NULL and n_scored_words=0 (never silently vanish —
        code-review finding), and alpha<=0 is rejected."""
        vocab = textstats.vocab_topk(docs.limit(20), k=50)
        probe = spark.createDataFrame(
            [(1, None), (2, ""), (3, "!!! ... ???"), (4, "real words here")],
            "doc_id int, text string")
        out = {r["doc_id"]: r for r in
               textstats.with_unigram_logprob(probe, vocab).collect()}
        assert set(out) == {1, 2, 3, 4}
        for i in (1, 2, 3):
            assert out[i]["unigram_nll"] is None
            assert out[i]["n_scored_words"] == 0
        assert out[4]["unigram_nll"] is not None
        assert out[4]["n_scored_words"] == 3
        with pytest.raises(ValueError, match="alpha"):
            textstats.with_unigram_logprob(probe, vocab, alpha=0.0)

    def test_gibberish_scores_worse_than_common_text(self, spark, docs):
        vocab = textstats.vocab_topk(docs, k=100)
        common = docs.limit(1).select("text").collect()[0]["text"]
        probe = spark.createDataFrame(
            [(1, common), (2, "zxqvju wqplf krtbn mmzoxx yqee")],
            "doc_id int, text string")
        out = {r["doc_id"]: r["unigram_nll"] for r in
               textstats.with_unigram_logprob(probe, vocab).collect()}
        assert out[2] > out[1]


class TestSubmitCuration:
    def test_job_writes_three_tables_and_audit_sums(self, spark, docs,
                                                    tmp_path, run_job):
        src = str(tmp_path / "in.parquet")
        docs.select("doc_id", "text", "lang").limit(100).write.parquet(src)
        bench = str(tmp_path / "bench.parquet")
        docs.select("text").limit(2).write.parquet(bench)
        out = str(tmp_path / "out")
        rc = run_job(["submit_curation", "--input", src, "--output", out,
                      "--benchmark", bench, "--ngram", "3",
                      "--weights", '{"en": 0.9}',
                      "--default-weight", "0.8"])[0]
        assert rc == 0
        ann = spark.read.parquet(f"{out}/annotated")
        kept = spark.read.parquet(f"{out}/curated")
        audit = {r["outcome"]: r["n_docs"] for r in
                 spark.read.parquet(f"{out}/audit").collect()}
        assert ann.count() == 100
        assert sum(audit.values()) == 100
        assert kept.count() == audit["kept"] > 0
        assert "drop_reason" not in kept.columns
        bad = tmp_path / "bad_weights"
        rc, _, err = run_job(["submit_curation", "--input", src,
                              "--output", str(bad),
                              "--weights", '{"en": 0.9'])
        assert rc == 2 and "invalid --weights" in err
        assert not bad.exists()

    def test_redact_pii_scrubs_survivors_only(self, spark, tmp_path,
                                              run_job):
        """--redact-pii: curated/ text is scrubbed with audit counts;
        annotated/ keeps the original text as the funnel record."""
        rows = [(i, f"contact me at user{i}@example.com about the job "
                    "and more words here to pass quality " * 3)
                for i in range(30)]
        src = str(tmp_path / "inp.parquet")
        spark.createDataFrame(rows, "doc_id long, text string") \
            .write.parquet(src)
        out = str(tmp_path / "outp")
        rc = run_job(["submit_curation", "--input", src, "--output", out,
                      "--group-col", "doc_id", "--redact-pii"])[0]
        assert rc == 0
        kept = spark.read.parquet(f"{out}/curated")
        assert kept.filter(F.col("text").contains("@")).count() == 0
        assert kept.filter("n_emails_redacted = 3").count() == kept.count()
        ann = spark.read.parquet(f"{out}/annotated")
        assert ann.filter(F.col("text").contains("@")).count() == ann.count()

    def test_job_refuses_zero_keep(self, spark, docs, tmp_path, run_job):
        src = str(tmp_path / "in2.parquet")
        docs.select("doc_id", "text", "lang").limit(20).write.parquet(src)
        rc = run_job(["submit_curation", "--input", src,
                      "--output", str(tmp_path / "out2"),
                      "--weights", "{}", "--default-weight", "0.0"])[0]
        assert rc == 4
        # the refusal must happen BEFORE curated/ is written — a retry or
        # downstream consumer must not find a complete-looking empty
        # curated table (ADVICE r3); annotated/ + audit/ stay for diagnosis
        import os
        assert not os.path.exists(str(tmp_path / "out2" / "curated"))
        assert os.path.exists(str(tmp_path / "out2" / "annotated"))
        assert os.path.exists(str(tmp_path / "out2" / "audit"))


class TestSubmitTokenize:
    def test_job_trains_applies_and_packs(self, spark, docs, tmp_path,
                                          run_job):
        src = str(tmp_path / "tok_in.parquet")
        docs.select("doc_id", "text").limit(60).write.parquet(src)
        out = str(tmp_path / "tok_out")
        rc = run_job(["submit_tokenize", "--input", src, "--output", out,
                      "--num-merges", "50", "--sample-docs", "30",
                      "--budget", "128", "--shards", "4"])[0]
        assert rc == 0
        merges = spark.read.parquet(f"{out}/merges").orderBy("rank").collect()
        counts = spark.read.parquet(f"{out}/token_counts")
        packed = spark.read.parquet(f"{out}/packed")
        assert counts.count() == 60 and packed.count() == 60
        # packed totals agree with the count table
        joined = packed.join(counts, "doc_id")
        assert joined.filter(
            F.col("n_tokens") != F.col("bpe_tokens")).count() == 0
        # merges round-trip: re-running with --merges reproduces counts
        out2 = str(tmp_path / "tok_out2")
        rc2 = run_job(["submit_tokenize", "--input", src, "--output", out2,
                       "--merges", f"{out}/merges",
                       "--budget", "128", "--shards", "4"])[0]
        assert rc2 == 0
        a = sorted(map(tuple, counts.collect()))
        b = sorted(map(tuple,
                       spark.read.parquet(f"{out2}/token_counts").collect()))
        assert a == b
        assert len(merges) == 50

    def test_job_refuses_empty_corpus(self, spark, tmp_path, run_job):
        import os
        src = str(tmp_path / "tok_empty.parquet")
        spark.createDataFrame(
            [(1, "..."), (2, None)], "doc_id long, text string"
        ).write.parquet(src)
        out = str(tmp_path / "tok_empty_out")
        rc = run_job(["submit_tokenize", "--input", src,
                      "--output", out])[0]
        assert rc == 4
        assert not os.path.exists(out)  # refusal writes nothing


class TestSemanticDecontam:
    def test_matches_numpy_and_flags_planted_copy(self, spark):
        import numpy as np
        from resume_ocr_spark.operators import decontam
        rng = np.random.RandomState(11)
        bench_v = rng.randn(3, 8).astype(float)
        corpus_v = rng.randn(5, 8).astype(float)
        corpus_v[4] = bench_v[1]  # planted exact copy
        bench = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(bench_v)],
            "vec_id long, embedding array<double>")
        corpus = spark.createDataFrame(
            [(100 + i, [float(x) for x in v])
             for i, v in enumerate(corpus_v)],
            "vec_id long, embedding array<double>")
        out = {r["vec_id"]: (r["max_benchmark_cosine"], r["contaminated"])
               for r in decontam.semantic_contamination(
                   corpus, bench, threshold=0.9).collect()}
        bn = bench_v / np.linalg.norm(bench_v, axis=1, keepdims=True)
        cn = corpus_v / np.linalg.norm(corpus_v, axis=1, keepdims=True)
        expect = (cn @ bn.T).max(axis=1)
        for i in range(5):
            assert abs(out[100 + i][0] - round(float(expect[i]), 6)) < 2e-6
        assert out[104] == (1.0, True)
        assert sum(1 for v in out.values() if v[1]) == 1

    def test_empty_bench_and_cap_guard(self, spark):
        from resume_ocr_spark.operators import decontam
        corpus = spark.createDataFrame(
            [(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
        empty = spark.createDataFrame(
            [], "vec_id long, embedding array<double>")
        row = decontam.semantic_contamination(corpus, empty).collect()[0]
        assert row["max_benchmark_cosine"] is None
        assert row["contaminated"] is False
        big = spark.createDataFrame(
            [(i, [1.0, 0.0]) for i in range(5)],
            "vec_id long, embedding array<double>")
        import pytest as _pytest
        with _pytest.raises(ValueError, match="bench_cap"):
            decontam.semantic_contamination(corpus, big, bench_cap=2)
        with _pytest.raises(ValueError, match="threshold"):
            decontam.semantic_contamination(corpus, big, threshold=2.0)


class TestSemanticDedup:
    def _emb(self, spark, planted=6):
        import numpy as np
        rng = np.random.RandomState(21)
        base = rng.randn(40, 16)
        # rows 40.. are perturbed copies of rows 0..planted-1 (cos ~0.999)
        dup = base[:planted] + 0.01 * rng.randn(planted, 16)
        vecs = np.vstack([base, dup]).astype(np.float32)
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"), vecs

    def test_drops_planted_copies_keeps_min_id(self, spark):
        from resume_ocr_spark.operators import dedup
        df, vecs = self._emb(spark)
        out = {r["vec_id"]: r["keep"] for r in dedup.semantic_dedup(
            df, n_clusters=4, threshold=0.95).collect()}
        assert len(out) == 46
        import numpy as np
        vn = vecs.astype(np.float64)
        vn = vn / np.linalg.norm(vn, axis=1, keepdims=True)
        sims = vn @ vn.T
        for j in range(40, 46):
            # each planted copy has its (lower-id) original at cos > .99
            assert sims[j, j - 40] > 0.99
        # copies drop unless clustering separated them from the original
        # (recall dial); originals always keep (no lower-id neighbor)
        assert all(out[i] for i in range(40) if not any(
            sims[i, j] >= 0.95 and j < i for j in range(46)))
        dropped = [i for i, k in out.items() if not k]
        assert dropped and all(i >= 40 for i in dropped)

    def test_single_cluster_matches_brute_rule(self, spark):
        import numpy as np
        from resume_ocr_spark.operators import dedup
        df, vecs = self._emb(spark, planted=4)
        out = {r["vec_id"]: r["keep"] for r in dedup.semantic_dedup(
            df, n_clusters=1, threshold=0.95).collect()}
        vn = vecs.astype(np.float64)
        vn = vn / np.linalg.norm(vn, axis=1, keepdims=True)
        sims = vn @ vn.T
        expect = {i: not any(sims[i, j] >= 0.95 - 1e-9 for j in range(i))
                  for i in range(44)}
        # tolerance band: only pairs far from the threshold are asserted
        for i in range(44):
            near_boundary = any(abs(sims[i, j] - 0.95) < 1e-6
                                for j in range(i))
            if not near_boundary:
                assert out[i] == expect[i], i

    def test_cell_cap_skips_pairing(self, spark):
        from resume_ocr_spark.operators import dedup
        df, _ = self._emb(spark)
        out = dedup.semantic_dedup(df, n_clusters=1, threshold=0.95,
                                   max_cell_size=2).collect()
        assert all(r["keep"] for r in out)  # the one giant cell is capped

    def test_threshold_guard(self, spark):
        import pytest as _pytest
        from resume_ocr_spark.operators import dedup
        df, _ = self._emb(spark)
        with _pytest.raises(ValueError, match="threshold"):
            dedup.semantic_dedup(df, threshold=1.5)

    def test_persist_assigned_returns_explicit_handle(self, spark):
        """persist_assigned=True hands back (result, assigned) as a tuple —
        not a DataFrame attribute, which any further transform would
        silently drop (round-4 advice) — and the handle unpersists."""
        from pyspark.sql import DataFrame as SparkDF

        from resume_ocr_spark.operators import dedup
        df, _ = self._emb(spark)
        res = dedup.semantic_dedup(df, n_clusters=4, threshold=0.95,
                                   persist_assigned=True)
        assert isinstance(res, tuple) and len(res) == 2
        out, handle = res
        assert isinstance(out, SparkDF) and isinstance(handle, SparkDF)
        assert handle.storageLevel.useMemory
        rows = {r["vec_id"]: r["keep"] for r in out.collect()}
        default = {r["vec_id"]: r["keep"] for r in dedup.semantic_dedup(
            df, n_clusters=4, threshold=0.95).collect()}
        assert rows == default  # persistence never changes the answer
        handle.unpersist()
        assert not handle.storageLevel.useMemory


class TestCompressionRatio:
    def test_matches_zlib_and_orders_by_entropy(self, spark):
        import zlib
        texts = {
            1: "spam spam spam " * 200,                   # highly repetitive
            2: "the quick brown fox jumps over the lazy dog and then "
               "discusses seventeen distinct topics in varied words",
            3: "kq8Zx!mN3vR7bT1cW9yU5aE2sD4fG6hJ0pL",     # high entropy
            4: "",
            5: None,
        }
        df = spark.createDataFrame(
            sorted(((k, v) for k, v in texts.items()),
                   key=lambda t: t[0]),
            "doc_id long, text string")
        from resume_ocr_spark.operators import textstats
        out = {r["doc_id"]: r["compression_ratio"]
               for r in textstats.with_compression_ratio(df).collect()}
        for i in (1, 2, 3):
            raw = texts[i].encode("utf-8")
            assert out[i] == round(len(zlib.compress(raw, 6)) / len(raw), 4)
        assert out[1] < out[2] < out[3]    # repetitive < prose < gibberish
        assert out[4] is None and out[5] is None
        # input columns survive the projection with their types
        assert textstats.with_compression_ratio(df).schema.simpleString() == (
            "struct<doc_id:bigint,text:string,compression_ratio:double>")
        # ... also under a name that needs quoting
        quoted = textstats.with_compression_ratio(
            df.withColumnRenamed("doc_id", "doc id"))
        assert quoted.columns == ["doc id", "text", "compression_ratio"]
        assert {r["doc id"]: r["compression_ratio"]
                for r in quoted.collect()} == out


class TestRemoveDuplicateSpans:
    def _docs(self, spark):
        shared = " ".join(f"dup{i:02d}" for i in range(12))  # 12-word block
        rows = [
            (1, f"alpha beta {shared} gamma delta"),   # keeper (min id)
            (2, f"epsilon zeta {shared} eta theta"),   # loses the block
            (3, f"iota kappa {shared} lam mu"),        # loses the block
            (4, "totally unrelated words only here"),  # untouched
            (5, ""),                                   # empty doc survives
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_keeper_keeps_others_cut(self, spark):
        from resume_ocr_spark.operators import dedup
        out = {r["doc_id"]: r for r in dedup.remove_duplicate_spans(
            self._docs(spark), k=8).collect()}
        assert len(out) == 5
        # doc 1 is the min-id owner of the shared block's first 8-gram
        assert "dup00" in out[1]["text_clean"]
        assert out[1]["n_spans_removed"] == 0
        for d in (2, 3):
            assert "dup" not in out[d]["text_clean"], out[d]["text_clean"]
            assert out[d]["n_spans_removed"] == 1
            assert out[d]["n_words_removed"] == 12
            # non-duplicated flanks survive
            assert out[2]["text_clean"].startswith("epsilon zeta")
        assert out[4]["n_words_removed"] == 0
        assert out[5] ["text_clean"] == "" and out[5]["n_words_removed"] == 0

    def test_removal_consistent_with_detection(self, spark):
        # every doc's removed word count equals the total width of its
        # non-keeper spans as reported by substring_duplicate_spans
        from resume_ocr_spark.operators import dedup
        docs = self._docs(spark)
        spans = dedup.substring_duplicate_spans(docs, k=8).collect()
        removed = {r["doc_id"]: r["n_words_removed"]
                   for r in dedup.remove_duplicate_spans(docs, k=8).collect()}
        widths = {}
        for s in spans:
            widths.setdefault(s["doc_id"], 0)
            widths[s["doc_id"]] += s["span_end"] - s["span_start"] + 1
        # keeper docs keep their spans; doc 1 keeps, 2/3 lose everything
        assert removed[2] == widths[2] and removed[3] == widths[3]
        assert removed[1] == 0 and 1 in widths

    def test_at_least_one_occurrence_survives(self, spark):
        # the duplicated region's text still exists somewhere post-removal
        from resume_ocr_spark.operators import dedup
        out = dedup.remove_duplicate_spans(self._docs(spark), k=8).collect()
        survivors = " | ".join(r["text_clean"] for r in out)
        assert "dup00" in survivors and "dup11" in survivors

    def test_k_guard(self, spark):
        import pytest as _pytest
        from resume_ocr_spark.operators import dedup
        with _pytest.raises(ValueError):
            dedup.remove_duplicate_spans(self._docs(spark), k=1)


class TestRemovalOwnerChain:
    def test_overlapping_owner_chain_keeps_every_region(self, spark):
        """Round-4 review counterexample: doc1's duplicated island chains a
        gram owned by doc0 with a gram owned by doc1 itself. The naive
        span-level first-gram keeper cut the whole island in BOTH docs 1
        and 2, destroying every copy of 'b..i'. The gram-granular rule
        must keep each duplicated gram's text in its owner document."""
        from resume_ocr_spark.operators import dedup
        rows = [
            (0, "a b c d e f g h"),
            (1, "a b c d e f g h i"),
            (2, "b c d e f g h i"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in
               dedup.remove_duplicate_spans(df, k=8).collect()}
        # doc0 owns 'a..h': keeps everything
        assert out[0]["text_clean"] == "a b c d e f g h"
        # doc1 owns 'b..i', so those words keep (each is covered by the
        # owned gram); its leading 'a' is covered ONLY by the doc0-owned
        # gram and is cut
        assert out[1]["text_clean"] == "b c d e f g h i"
        # doc2's only duplicated gram is owned by doc1 -> fully cut
        assert out[2]["text_clean"] == ""
        # the invariant the naive rule broke: BOTH duplicated regions
        # survive verbatim in their owner documents
        assert "a b c d e f g h" in out[0]["text_clean"]
        assert "b c d e f g h i" in out[1]["text_clean"]

    def test_null_text_total(self, spark):
        from resume_ocr_spark.operators import dedup
        df = spark.createDataFrame(
            [(1, None), (2, "some words here")], "doc_id long, text string")
        out = {r["doc_id"]: r for r in
               dedup.remove_duplicate_spans(df, k=8).collect()}
        assert out[1]["text_clean"] == ""
        assert out[1]["n_words_removed"] == 0
        assert out[1]["n_spans_removed"] == 0


class TestSemanticDecontamPaths:
    def test_udf_path_matches_literal_path(self, spark):
        import numpy as np
        from resume_ocr_spark.operators import decontam
        rng = np.random.RandomState(5)
        bench = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(rng.randn(4, 8))],
            "vec_id long, embedding array<double>")
        corpus = spark.createDataFrame(
            [(100 + i, [float(x) for x in v])
             for i, v in enumerate(rng.randn(10, 8))],
            "vec_id long, embedding array<double>")
        a = {r["vec_id"]: (r["max_benchmark_cosine"], r["contaminated"])
             for r in decontam.semantic_contamination(
                 corpus, bench, method="literal").collect()}
        b = {r["vec_id"]: (r["max_benchmark_cosine"], r["contaminated"])
             for r in decontam.semantic_contamination(
                 corpus, bench, method="udf").collect()}
        for k in a:
            assert abs(a[k][0] - b[k][0]) <= 1e-6 and a[k][1] == b[k][1]

    def test_null_embeddings_total_and_bench_nulls_skipped(self, spark):
        from resume_ocr_spark.operators import decontam
        bench = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, None)], "vec_id long, embedding array<double>")
        corpus = spark.createDataFrame(
            [(10, [1.0, 0.0]), (11, None)],
            "vec_id long, embedding array<double>")
        for method in ("literal", "udf"):
            out = {r["vec_id"]: (r["max_benchmark_cosine"], r["contaminated"])
                   for r in decontam.semantic_contamination(
                       corpus, bench, threshold=0.9,
                       method=method).collect()}
            assert out[10] == (1.0, True), method
            assert out[11] == (None, False), method
        # the UDF path passes a column name that needs quoting through
        quoted = decontam.semantic_contamination(
            corpus.withColumnRenamed("vec_id", "vec id"), bench,
            threshold=0.9, method="udf")
        assert quoted.columns == [
            "vec id", "embedding", "max_benchmark_cosine", "contaminated"]
        assert {r["vec id"]: (r["max_benchmark_cosine"], r["contaminated"])
                for r in quoted.collect()} == {10: (1.0, True),
                                               11: (None, False)}

    def test_literal_cap_and_method_guard(self, spark):
        import pytest as _pytest
        from resume_ocr_spark.operators import decontam
        corpus = spark.createDataFrame(
            [(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
        big = spark.createDataFrame(
            [(i, [1.0, float(i)]) for i in range(
                decontam.SEMANTIC_LITERAL_CAP + 1)],
            "vec_id long, embedding array<double>")
        with _pytest.raises(ValueError, match="literal folding capped"):
            decontam.semantic_contamination(corpus, big, method="literal")
        with _pytest.raises(ValueError, match="unknown method"):
            decontam.semantic_contamination(corpus, big, method="magic")
        # auto silently takes the UDF path above the literal cap
        assert decontam.semantic_contamination(
            corpus, big).collect()[0]["contaminated"] in (True, False)


class TestCosineProbeLsh:
    def test_cross_side_only_and_finds_planted(self, spark):
        import numpy as np
        from resume_ocr_spark.operators import similarity
        rng = np.random.RandomState(9)
        idx_v = rng.randn(30, 64).astype(np.float64)
        new_v = rng.randn(5, 64).astype(np.float64)
        new_v[0] = idx_v[7]            # planted cross-side duplicate
        new_v[1] = new_v[2]            # within-batch dup: NOT the probe's job
        index = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(idx_v)],
            "vec_id long, embedding array<double>")
        new = spark.createDataFrame(
            [(100 + i, [float(x) for x in v]) for i, v in enumerate(new_v)],
            "vec_id long, embedding array<double>")
        pairs = {(r["new_id"], r["index_id"]): r["cosine"]
                 for r in similarity.cosine_probe_lsh(
                     new, index, dim=64, threshold=0.9).collect()}
        assert pairs[(100, 7)] == 1.0
        assert all(n >= 100 and i < 100 for n, i in pairs)  # cross only
        # degenerate-index cap drops everything at cap 0
        assert similarity.cosine_probe_lsh(
            new, index, dim=64, threshold=0.9,
            max_bucket_size=0).count() == 0

    def test_agrees_with_self_join_on_cross_pairs(self, spark):
        import numpy as np
        from resume_ocr_spark.operators import similarity
        rng = np.random.RandomState(13)
        idx_v = rng.randn(15, 64)
        new_v = np.vstack([idx_v[3] + 0.001 * rng.randn(64),
                           rng.randn(2, 64)])
        index = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(idx_v)],
            "vec_id long, embedding array<double>")
        new = spark.createDataFrame(
            [(100 + i, [float(x) for x in v]) for i, v in enumerate(new_v)],
            "vec_id long, embedding array<double>")
        probe = {(r["new_id"], r["index_id"]): r["cosine"]
                 for r in similarity.cosine_probe_lsh(
                     new, index, dim=64, threshold=0.5).collect()}
        # the union self-join finds the same cross pairs (it may also find
        # within-side pairs, which the probe intentionally excludes)
        union = new.unionAll(index)
        both = {(r["id_b"], r["id_a"]): r["cosine"]
                for r in similarity.cosine_pairs_lsh(
                    union, dim=64, threshold=0.5).collect()
                if r["id_b"] >= 100 and r["id_a"] < 100}
        assert probe == both


class TestTrainingOrder:
    """epoch_shuffle + pack_with_sentinels (VERDICT r4 #5)."""

    def test_epoch_shuffle_is_a_permutation(self, spark, docs):
        from resume_ocr_spark.operators import packing
        d = docs.select("doc_id").limit(300)
        out = packing.epoch_shuffle(d, epoch=0, shards=8).collect()
        ids = {r["doc_id"] for r in out}
        assert len(out) == len(ids) == d.count()
        # positions dense 0..n_s-1 within every shard
        by_shard = {}
        for r in out:
            by_shard.setdefault(r["shard"], []).append(r["pos"])
        for s, poss in by_shard.items():
            assert sorted(poss) == list(range(len(poss))), s
        assert all(r["epoch"] == 0 for r in out)

    def test_epochs_draw_different_orders_deterministically(self, spark, docs):
        from resume_ocr_spark.operators import packing
        d = docs.select("doc_id").limit(300)

        def order(epoch, frame):
            rows = packing.epoch_shuffle(frame, epoch=epoch, shards=4).collect()
            return [r["doc_id"]
                    for r in sorted(rows, key=lambda r: (r["shard"], r["pos"]))]

        e0, e1 = order(0, d), order(1, d)
        assert e0 != e1                      # epoch redraws the permutation
        assert sorted(e0) == sorted(e1)      # same membership
        assert e0 == order(0, d.repartition(7))  # partition-layout-invariant

    def test_epoch_shuffle_shards_balanced(self, spark, docs):
        """md5-hash sharding must stay near-uniform — the property that
        lets the per-shard windows replace a global sort at scale."""
        from resume_ocr_spark.operators import packing
        d = docs.select("doc_id")
        n = d.count()
        out = packing.epoch_shuffle(d, epoch=2, shards=8).groupBy("shard").count()
        sizes = [r["count"] for r in out.collect()]
        assert len(sizes) == 8
        assert max(sizes) < 2 * (n / 8)

    def test_pack_with_sentinels_loader_roundtrip(self, spark, docs):
        """Reconstruct every sequence from the loader columns: offsets
        strictly increasing, BOS/EOS slots consistent with each doc's
        content size, sentinel accounting exact, straddle only at the tail."""
        from resume_ocr_spark.operators import packing
        d = docs.select("doc_id", "text").limit(200)
        base = {r["doc_id"]: r for r in packing.pack_sequences(
            d, budget=256, shards=8).collect()}
        seqs = packing.pack_with_sentinels(d, budget=256, shards=8).collect()
        seen = []
        for r in seqs:
            ids = [int(x) for x in r["doc_ids_csv"].split(",")]
            bos = [int(x) for x in r["doc_offsets_csv"].split(",")]
            eos = [int(x) for x in r["eos_offsets_csv"].split(",")]
            seen.extend(ids)
            assert r["n_docs"] == len(ids) == len(bos) == len(eos)
            assert ids == sorted(ids)            # pack order = id order
            assert bos[0] == 0 or r["seq_id"] > 0
            total_c = total_s = 0
            for i, did in enumerate(ids):
                content = base[did]["n_tokens"]
                # EOS slot = BOS + content + 1 (BOS, content..., EOS)
                assert eos[i] == bos[i] + content + 1, did
                if i + 1 < len(ids):             # next doc starts after EOS
                    assert bos[i + 1] == eos[i] + 1
                total_c += content
                total_s += content + packing.SENTINELS_PER_DOC
            assert r["total_tokens"] == total_c
            assert r["total_with_sentinels"] == total_s
            # only the LAST doc may straddle the 256 budget
            for i in range(len(ids) - 1):
                assert bos[i] < 256
        assert sorted(seen) == sorted(base)      # every doc packed once

    def test_sentinel_budget_changes_assignment(self, spark, docs):
        """The +2/doc reservation must actually flow into seq assignment —
        identical to packing a corpus whose counts are inflated by 2."""
        from resume_ocr_spark.operators import packing
        d = docs.select("doc_id", "text").limit(120)
        counts = (packing.with_token_counts(d, "text")
                  .select("doc_id",
                          (F.col("bpe_tokens") + 2).alias("n_tokens")))
        expect = {(r["doc_id"], r["shard"], r["seq_id"], r["seq_offset"])
                  for r in packing.pack_sequences_from_counts(
                      counts, budget=256, shards=8).collect()}
        got = set()
        for r in packing.pack_with_sentinels(d, budget=256, shards=8).collect():
            ids = [int(x) for x in r["doc_ids_csv"].split(",")]
            bos = [int(x) for x in r["doc_offsets_csv"].split(",")]
            for did, b in zip(ids, bos):
                got.add((did, r["shard"], r["seq_id"], b))
        assert got == expect


class TestGroupQuota:
    """curate(group_quota=N) — the CommonCrawl-style per-group cap
    (VERDICT r4 #8)."""

    def test_quota_caps_survivors_per_group(self, spark, docs):
        from resume_ocr_spark.operators import curate, mixture
        d = docs.select("doc_id", "text", "lang").limit(120)
        ann = curate.curate(d, group_quota=5).collect()
        kept = [r for r in ann if r["drop_reason"] is None]
        over = [r for r in ann if r["drop_reason"] == "over_quota"]
        by_lang = {}
        for r in kept:
            by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + 1
        assert by_lang and all(n <= 5 for n in by_lang.values())
        assert over, "expected overflow at quota=5 on 120 docs"
        # the keepers are the hash-order head among survivors: recompute
        base = {r["doc_id"]: r["drop_reason"]
                for r in curate.curate(d).collect()}
        surv = mixture.with_sample_bucket(
            d.filter(F.col("doc_id").isin(
                [i for i, dr in base.items() if dr is None]))).collect()
        expect_keep = set()
        by_group = {}
        for r in sorted(surv, key=lambda r: (r["bucket"], r["doc_id"])):
            g = by_group.setdefault(r["lang"], [])
            if len(g) < 5:
                g.append(r["doc_id"])
                expect_keep.add(r["doc_id"])
        assert {r["doc_id"] for r in kept} == expect_keep
        # precedence: quota never reclassifies an earlier-stage drop
        for r in ann:
            if base[r["doc_id"]] is not None:
                assert r["drop_reason"] == base[r["doc_id"]]

    def test_quota_composes_with_weights(self, spark, docs):
        from resume_ocr_spark.operators import curate
        d = docs.select("doc_id", "text", "lang").limit(120)
        ann = curate.curate(d, weights={"en": 0.5}, default_weight=0.9,
                            group_quota=3).collect()
        kept = {}
        for r in ann:
            if r["drop_reason"] is None:
                kept[r["lang"]] = kept.get(r["lang"], 0) + 1
        assert kept and all(n <= 3 for n in kept.values())
        reasons = {r["drop_reason"] for r in ann}
        assert "sampled_out" in reasons  # both stages active

    def test_quota_guard(self, spark, docs):
        from resume_ocr_spark.operators import curate
        with pytest.raises(ValueError, match="group_quota"):
            curate.curate(docs.select("doc_id", "text", "lang"),
                          group_quota=0)

    def test_job_end_to_end_with_quota_audit_sums(self, spark, docs,
                                                  tmp_path, run_job):
        src = str(tmp_path / "inq.parquet")
        docs.select("doc_id", "text", "lang").limit(100).write.parquet(src)
        out = str(tmp_path / "outq")
        rc = run_job(["submit_curation", "--input", src, "--output", out,
                      "--group-quota", "4"])[0]
        assert rc == 0
        audit = {r["outcome"]: r["n_docs"] for r in
                 spark.read.parquet(f"{out}/audit").collect()}
        kept = spark.read.parquet(f"{out}/curated")
        assert sum(audit.values()) == 100          # funnel accounting exact
        assert audit.get("over_quota", 0) > 0
        assert kept.count() == audit["kept"]
        per_group = kept.groupBy("lang").count().collect()
        assert all(r["count"] <= 4 for r in per_group)


class TestLineDedup:
    """remove_duplicate_lines — CCNet paragraph dedup (round 5)."""

    def _frame(self, spark):
        return spark.createDataFrame(
            [
                (0, "alpha body one\nshared footer line\nunique zero"),
                (1, "beta body two\nshared footer line\nunique one"),
                (2, "shared footer line\ngamma body three"),
                (3, "delta\n\n  \nshared footer line"),
                (4, None),
            ],
            "doc_id long, text string")

    def test_keep_first_keeps_owner_copy_only(self, spark):
        from resume_ocr_spark.operators import dedup
        out = {r["doc_id"]: r for r in dedup.remove_duplicate_lines(
            self._frame(spark), "doc_id", "text").collect()}
        assert len(out) == 5
        # owner (min id = 0) keeps the footer, everyone else loses it
        assert out[0]["text_clean"] == (
            "alpha body one\nshared footer line\nunique zero")
        assert out[1]["text_clean"] == "beta body two\nunique one"
        assert out[2]["text_clean"] == "gamma body three"
        # blank / whitespace lines are structure: never removed
        assert out[3]["text_clean"] == "delta\n\n  "
        assert out[4]["text_clean"] == ""
        assert [out[i]["n_lines_removed"] for i in range(5)] == [0, 1, 1, 1, 0]
        assert [out[i]["n_lines_total"] for i in range(5)] == [3, 3, 2, 4, 1]

    def test_remove_all_copies(self, spark):
        from resume_ocr_spark.operators import dedup
        out = {r["doc_id"]: r["text_clean"]
               for r in dedup.remove_duplicate_lines(
                   self._frame(spark), "doc_id", "text",
                   keep_first=False).collect()}
        assert out[0] == "alpha body one\nunique zero"
        assert out[2] == "gamma body three"

    def test_min_docs_threshold(self, spark):
        from resume_ocr_spark.operators import dedup
        # footer appears in 4 docs; with min_docs=5 nothing is duplicated
        out = dedup.remove_duplicate_lines(
            self._frame(spark), "doc_id", "text", min_docs=5)
        assert out.agg(F.sum("n_lines_removed")).collect()[0][0] == 0

    def test_min_chars_shields_short_lines(self, spark):
        from resume_ocr_spark.operators import dedup
        d = spark.createDataFrame(
            [(0, "yes\nlong enough shared paragraph"),
             (1, "yes\nlong enough shared paragraph"),
             (2, "yes\nother")],
            "doc_id long, text string")
        out = {r["doc_id"]: r["text_clean"]
               for r in dedup.remove_duplicate_lines(
                   d, "doc_id", "text", min_chars=4).collect()}
        # 'yes' (3 chars) is below min_chars: kept everywhere; the long
        # shared paragraph still dedups to its owner
        assert out[0] == "yes\nlong enough shared paragraph"
        assert out[1] == "yes"
        assert out[2] == "yes\nother"

    def test_order_preserved_with_interleaved_dups(self, spark):
        from resume_ocr_spark.operators import dedup
        d = spark.createDataFrame(
            [(7, "keep a\ndup x\nkeep b\ndup y\nkeep c"),
             (9, "dup x\ndup y")],
            "doc_id long, text string")
        out = {r["doc_id"]: r for r in dedup.remove_duplicate_lines(
            d, "doc_id", "text").collect()}
        assert out[7]["text_clean"] == (
            "keep a\ndup x\nkeep b\ndup y\nkeep c")
        assert out[9]["text_clean"] == ""
        assert out[9]["n_lines_removed"] == 2

    def test_min_docs_validation(self, spark):
        from resume_ocr_spark.operators import dedup
        with pytest.raises(ValueError):
            dedup.remove_duplicate_lines(
                self._frame(spark), "doc_id", "text", min_docs=1)


class TestUrlTools:
    """with_url_parts / filter_blocked_domains / domain_stats (round 5)."""

    def _parse(self, spark, url):
        from resume_ocr_spark.operators import urltools
        d = spark.createDataFrame([(url,)], "url string")
        return urltools.with_url_parts(d).collect()[0]

    def test_parse_basic(self, spark):
        r = self._parse(spark, "https://www.example.com/a/b?q=1#frag")
        assert (r["scheme"], r["host"], r["domain"], r["path"]) == (
            "https", "www.example.com", "example.com", "/a/b")

    def test_parse_two_level_suffix(self, spark):
        r = self._parse(spark, "http://news.bbc.co.uk/stories")
        assert r["domain"] == "bbc.co.uk"
        # a bare two-level-suffix host IS its own registered domain
        r2 = self._parse(spark, "http://bbc.co.uk/x")
        assert r2["domain"] == "bbc.co.uk"

    def test_parse_userinfo_port_case(self, spark):
        r = self._parse(spark, "https://User@CDN.Example.COM:8443/p")
        assert r["host"] == "cdn.example.com"
        assert r["domain"] == "example.com"
        assert r["path"] == "/p"

    def test_parse_single_label_and_garbage(self, spark):
        r = self._parse(spark, "http://localhost:9000/health")
        assert (r["host"], r["domain"]) == ("localhost", "localhost")
        for bad in ("not a url", "", None):
            r = self._parse(spark, bad)
            assert (r["scheme"], r["host"], r["domain"], r["path"]) == (
                "", "", "", "")

    def test_parse_uppercase_scheme(self, spark):
        """RFC 3986 schemes are case-insensitive (review r5 finding):
        'HTTP://' crawl URLs must parse, not pool under domain ''."""
        r = self._parse(spark, "HTTP://Example.COM/CaseSensitive/Path")
        assert (r["scheme"], r["host"], r["domain"]) == (
            "http", "example.com", "example.com")
        # paths stay case-SENSITIVE — only scheme/host are canonicalized
        assert r["path"] == "/CaseSensitive/Path"

    def test_parse_trailing_root_dot(self, spark):
        """FQDN form 'example.com.' (review r5 finding): the empty final
        label must not shift the eTLD+1 window to 'com.'."""
        r = self._parse(spark, "https://example.com./x")
        assert (r["host"], r["domain"]) == ("example.com", "example.com")
        r2 = self._parse(spark, "https://news.bbc.co.uk./x")
        assert r2["domain"] == "bbc.co.uk"

    def test_blocklist_lowercases_probe_side(self, spark):
        """Callers may pass domains that never went through
        with_url_parts (review r5 finding): 'Ads.NET' must match a
        blocklist entry 'ads.net'."""
        from resume_ocr_spark.operators import urltools
        d = spark.createDataFrame(
            [("Ads.NET",), ("fine.org",)], "domain string")
        blocked = spark.createDataFrame([("ads.net",)], "domain string")
        kept = [r["domain"] for r in
                urltools.filter_blocked_domains(d, blocked).collect()]
        assert kept == ["fine.org"]

    def test_blocklist_anti_and_semi(self, spark):
        from resume_ocr_spark.operators import urltools
        d = spark.createDataFrame(
            [(1, "ads.net"), (2, "good.org"), (3, "ads.net")],
            "doc_id long, domain string")
        blocked = spark.createDataFrame([("ADS.net",)], "domain string")
        kept = urltools.filter_blocked_domains(d, blocked)
        assert sorted(r["doc_id"] for r in kept.collect()) == [2]
        audit = urltools.filter_blocked_domains(d, blocked,
                                                keep_blocked=True)
        assert sorted(r["doc_id"] for r in audit.collect()) == [1, 3]

    def test_domain_stats(self, spark):
        from resume_ocr_spark.operators import urltools
        d = spark.createDataFrame(
            [("a.com", "xx"), ("a.com", None), ("b.org", "yyyy")],
            "domain string, text string")
        out = {r["domain"]: (r["n_docs"], r["n_chars"])
               for r in urltools.domain_stats(d).collect()}
        assert out == {"a.com": (2, 2), "b.org": (1, 4)}

    def test_plan_shapes(self, spark):
        """Parsing stays zero-shuffle; the blocklist is a broadcast anti
        join (corpus never shuffles); stats is exactly one exchange."""
        import re
        from resume_ocr_spark.operators import urltools
        d = spark.createDataFrame(
            [(1, "https://a.example.com/x", "t")],
            "doc_id long, url string, text string")
        parts = urltools.with_url_parts(d)
        blocked = spark.createDataFrame([("ads.net",)], "domain string")

        def shape(df):
            p = df._jdf.queryExecution().executedPlan().toString()
            return (len(re.findall(r"Exchange hashpartitioning", p)),
                    p.count("SortMergeJoin"),
                    p.count("BroadcastHashJoin"))

        assert shape(parts) == (0, 0, 0)
        assert shape(urltools.filter_blocked_domains(
            parts, blocked)) == (0, 0, 1)
        assert shape(urltools.domain_stats(parts)) == (1, 0, 0)


class TestBM25:
    """retrieval.bm25_scores / bm25_topk (round 5)."""

    @pytest.fixture()
    def corpus(self, spark):
        return spark.createDataFrame(
            [(0, "spark shuffle join spark spark"),
             (1, "spark join"),
             (2, "pandas numpy"),
             (3, None),
             (4, "")],
            "doc_id long, text string")

    def test_scores_match_reference_formula(self, spark, corpus):
        import math
        from resume_ocr_spark.operators import retrieval
        out = {r["doc_id"]: r for r in retrieval.bm25_scores(
            corpus, "spark join").collect()}
        n, avgdl = 5, (5 + 2 + 2 + 0 + 0) / 5.0
        docs = {0: {"spark": 3, "join": 1}, 1: {"spark": 1, "join": 1},
                2: {}, 3: {}, 4: {}}
        dls = {0: 5, 1: 2, 2: 2, 3: 0, 4: 0}
        dfs = {"spark": 2, "join": 2}

        def ref(d):
            if dls[d] == 0:
                return 0.0
            s = 0.0
            for t in ("spark", "join"):
                tf = docs[d].get(t, 0)
                idf = math.log((n - dfs[t] + 0.5) / (dfs[t] + 0.5) + 1)
                s += idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dls[d] / avgdl))
            return round(s, 4)

        for d in range(5):
            assert out[d]["bm25"] == pytest.approx(ref(d), abs=1e-4), d
        assert [out[d]["n_terms_matched"] for d in range(5)] == [2, 2, 0, 0, 0]

    def test_rarer_term_outranks_common(self, spark):
        from resume_ocr_spark.operators import retrieval
        rows = [(i, "common filler words here") for i in range(20)]
        rows += [(100, "common rare"), (101, "common words")]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        top = retrieval.bm25_topk(d, "rare common", k=1).collect()
        assert top[0]["doc_id"] == 100

    def test_absent_term_contributes_nothing(self, spark, corpus):
        from resume_ocr_spark.operators import retrieval
        a = {r["doc_id"]: r["bm25"] for r in retrieval.bm25_scores(
            corpus, "spark join").collect()}
        b = {r["doc_id"]: r["bm25"] for r in retrieval.bm25_scores(
            corpus, "spark join xyzzy").collect()}
        assert a == b

    def test_empty_query_rejected(self, spark, corpus):
        from resume_ocr_spark.operators import retrieval
        with pytest.raises(ValueError):
            retrieval.bm25_scores(corpus, "!!! ???")

    def test_topk_plan_is_take_ordered(self, spark, corpus):
        """Global top-k must compile to TakeOrderedAndProject (heap +
        k-row merge), never a full Exchange rangepartitioning sort."""
        from resume_ocr_spark.operators import retrieval
        p = retrieval.bm25_topk(corpus, "spark", k=2)._jdf \
            .queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in p
        assert "rangepartitioning" not in p

    def test_scoring_pass_zero_shuffle(self, spark, corpus):
        """After the one stats reduction, scoring is a pure projection."""
        import re
        from resume_ocr_spark.operators import retrieval
        p = retrieval.bm25_scores(corpus, "spark")._jdf \
            .queryExecution().executedPlan().toString()
        assert len(re.findall(r"Exchange hashpartitioning", p)) == 0


class TestLeakageSafeSplit:
    def test_duplicates_never_straddle_the_boundary(self, spark, docs):
        """The operator's whole contract: every post-normalization copy of
        a document lands on the same split side."""
        from resume_ocr_spark.operators import mixture
        d = docs.select("doc_id", "text").limit(40)
        copies = d.select((F.col("doc_id") + 5000).alias("doc_id"),
                          F.upper(F.col("text")).alias("text"))
        out = mixture.leakage_safe_split(d.unionAll(copies), 0.3).collect()
        side = {r["doc_id"]: r["split"] for r in out}
        for r in out:
            if r["doc_id"] < 5000:
                assert side[r["doc_id"]] == side[r["doc_id"] + 5000]
        assert {"train", "test"} == {r["split"] for r in out}

    def test_groups_override_pins_near_dups(self, spark):
        """With a cluster assignment, fuzzy duplicates (different
        fingerprints) are pinned to one side; unassigned ids fall back to
        their fingerprint."""
        from resume_ocr_spark.operators import mixture
        d = spark.createDataFrame(
            [(i, f"document number {i} entirely unlike the others {i}")
             for i in range(200)] + [(500, "near dup A"), (501, "near dup A plus")],
            "doc_id long, text string")
        clusters = spark.createDataFrame(
            [(500, 500), (501, 500)], "doc_id long, cluster long")
        out = mixture.leakage_safe_split(
            d, 0.5, groups=clusters, group_col="cluster").collect()
        side = {r["doc_id"]: r["split"] for r in out}
        assert side[500] == side[501]
        keys = {r["doc_id"]: r["group_key"] for r in out}
        assert keys[500] == keys[501] == "500"
        assert keys[0] != keys[1]  # fallback keeps per-doc fingerprints

    def test_multi_cluster_assignment_refused(self, spark):
        """An id assigned to TWO clusters is a malformed assignment: the
        raw join would fan the doc out across the split, and any
        collapse rule still separates it from half its duplicates
        (review r5 pass 3) — so the operator refuses it outright."""
        from resume_ocr_spark.operators import mixture
        d = spark.createDataFrame(
            [(1, "some document text"), (2, "another document")],
            "doc_id long, text string")
        messy = spark.createDataFrame(
            [(1, 10), (1, 20), (2, 20)], "doc_id long, cluster long")
        with pytest.raises(ValueError, match="multiple"):
            mixture.leakage_safe_split(
                d, 0.5, groups=messy, group_col="cluster")

    def test_callers_bucket_column_survives(self, spark):
        """The internal hash bucket uses a private name — a caller's own
        'bucket' column must round-trip intact (review r5 pass 3)."""
        from resume_ocr_spark.operators import mixture
        d = spark.createDataFrame(
            [(1, "text one", 42), (2, "text two", 43)],
            "doc_id long, text string, bucket long")
        out = mixture.leakage_safe_split(d, 0.5).collect()
        assert {r["bucket"] for r in out} == {42, 43}

    def test_frac_and_determinism(self, spark, docs):
        from resume_ocr_spark.operators import mixture
        d = docs.select("doc_id", "text")
        out = mixture.leakage_safe_split(d, 0.2)
        n = d.count()
        n_test = out.filter("split = 'test'").count()
        assert 0.05 * n < n_test < 0.45 * n  # md5-uniform around 0.2
        a = sorted((r["doc_id"], r["split"]) for r in out.collect())
        b = sorted((r["doc_id"], r["split"]) for r in
                   mixture.leakage_safe_split(d.repartition(7), 0.2).collect())
        assert a == b
        with pytest.raises(ValueError, match="test_frac"):
            mixture.leakage_safe_split(d, 1.5)

    def test_default_form_zero_shuffle(self, spark, docs):
        import re
        from resume_ocr_spark.operators import mixture
        p = (mixture.leakage_safe_split(docs.select("doc_id", "text"), 0.2)
             ._jdf.queryExecution().executedPlan().toString())
        assert len(re.findall(r"Exchange hashpartitioning", p)) == 0


class TestSubmitSelection:
    def test_dsir_mode_selects_k_and_audits(self, spark, docs, tmp_path,
                                            run_job):
        src = str(tmp_path / "in.parquet")
        docs.select("doc_id", "text", "lang").limit(100).write.parquet(src)
        tgt = str(tmp_path / "target.parquet")
        docs.filter("lang = 'en'").select("text").limit(20).write.parquet(tgt)
        out = str(tmp_path / "out")
        rc = run_job(["submit_selection", "--input", src, "--output", out,
                      "--mode", "dsir", "--target", tgt, "--keep-k", "30"])[0]
        assert rc == 0
        sel = spark.read.parquet(f"{out}/selected")
        sc = spark.read.parquet(f"{out}/scores")
        assert sel.count() == 30
        assert sc.count() == 100  # full-corpus audit trail
        assert set(sel.columns) == {"doc_id", "text", "lang"}
        # the selected ids are exactly the operator's gumbel top-30
        from resume_ocr_spark.operators import selection
        want = {r["doc_id"] for r in selection.gumbel_topk(
            sc, 30).select("doc_id").collect()}
        assert {r["doc_id"] for r in sel.select("doc_id").collect()} == want

    def test_dsir_keep_frac_resolves_k(self, spark, docs, tmp_path, run_job):
        src = str(tmp_path / "inf.parquet")
        docs.select("doc_id", "text").limit(80).write.parquet(src)
        tgt = str(tmp_path / "tgtf.parquet")
        docs.select("text").limit(10).write.parquet(tgt)
        out = str(tmp_path / "outf")
        rc = run_job(["submit_selection", "--input", src, "--output", out,
                      "--mode", "dsir", "--target", tgt,
                      "--keep-frac", "0.25"])[0]
        assert rc == 0
        assert spark.read.parquet(f"{out}/selected").count() == 20

    def test_dsir_threshold_mode_filters_without_topk(self, spark, docs,
                                                      tmp_path, run_job):
        """--threshold: keep-x% via the sample-estimated Gumbel quantile;
        selected set equals the operator's own filter over the written
        scores (no global top-k anywhere)."""
        src = str(tmp_path / "int.parquet")
        docs.select("doc_id", "text").limit(100).write.parquet(src)
        tgt = str(tmp_path / "tgtt.parquet")
        docs.select("text").limit(15).write.parquet(tgt)
        out = str(tmp_path / "outt")
        rc = run_job(["submit_selection", "--input", src, "--output", out,
                      "--mode", "dsir", "--target", tgt, "--keep-frac", "0.4",
                      "--threshold", "--sample-rate", "0.5"])[0]
        assert rc == 0
        from resume_ocr_spark.operators import selection
        sc = spark.read.parquet(f"{out}/scores")
        want = {r["doc_id"] for r in selection.gumbel_threshold_filter(
            sc, 0.4, sample_rate=0.5).select("doc_id").collect()}
        got = {r["doc_id"] for r in
               spark.read.parquet(f"{out}/selected").collect()}
        assert got == want and 0 < len(got) < 100
        # --threshold without --keep-frac is invalid
        assert run_job(["submit_selection", "--input", src, "--output", out,
                        "--mode", "dsir", "--target", tgt, "--keep-k", "5",
                        "--threshold"])[0] == 2

    def test_nb_mode_thresholds_on_score(self, spark, tmp_path, run_job):
        rows = [(i, "good clean prose document " * 4) for i in range(10)]
        rows += [(100 + i, "zzspam qqqjunk xxcasino " * 4) for i in range(10)]
        src = str(tmp_path / "innb.parquet")
        spark.createDataFrame(rows, "doc_id long, text string") \
            .write.parquet(src)
        lab = str(tmp_path / "lab.parquet")
        spark.createDataFrame(
            [("good clean prose document " * 4, True),
             ("zzspam qqqjunk xxcasino " * 4, False)],
            "text string, label boolean").write.parquet(lab)
        out = str(tmp_path / "outnb")
        rc = run_job(["submit_selection", "--input", src, "--output", out,
                      "--mode", "nb", "--labeled", lab])[0]
        assert rc == 0
        kept = {r["doc_id"] for r in
                spark.read.parquet(f"{out}/selected").collect()}
        assert kept == set(range(10))

    def test_refusal_before_write_and_arg_validation(self, spark, docs,
                                                     tmp_path, run_job):
        import os
        src = str(tmp_path / "inr.parquet")
        docs.select("doc_id", "text").limit(10).write.parquet(src)
        empty_tgt = str(tmp_path / "empty.parquet")
        docs.select("text").filter("doc_id < 0").write.parquet(empty_tgt)
        out = str(tmp_path / "outr")
        rc = run_job(["submit_selection", "--input", src, "--output", out,
                      "--mode", "dsir", "--target", empty_tgt,
                      "--keep-k", "5"])[0]
        assert rc == 4
        assert not os.path.exists(out)  # refusal BEFORE any write
        # exactly one of keep-k/keep-frac
        assert run_job(["submit_selection", "--input", src, "--output", out,
                        "--mode", "dsir", "--target", empty_tgt])[0] == 2
        assert run_job(["submit_selection", "--input", src, "--output", out,
                        "--mode", "dsir", "--target", empty_tgt,
                        "--keep-k", "5", "--keep-frac", "0.5"])[0] == 2
        assert run_job(["submit_selection", "--input", src, "--output", out,
                        "--mode", "nb"])[0] == 2
        assert run_job(["submit_selection", "--input", src, "--output", out,
                        "--mode", "dsir", "--target", empty_tgt,
                        "--keep-frac", "1.5"])[0] == 2
