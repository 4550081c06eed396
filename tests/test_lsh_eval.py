"""dedup.lsh_recall_eval — the banding-parameter eval operator.

Cross-checks the one-row diagnostics against the three already-verified
operators it summarizes (jaccard_pairs = truth, jaccard_pairs_lsh =
retrieved, minhash_lsh_candidates = cost), plus the degenerate no-true-pairs
case (recall must be NULL, never a division error)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from resume_ocr_spark.operators import dedup  # noqa: E402


def _corpus(spark):
    rows = [
        # two exact duplicates (jaccard 1.0 — identical word sets share
        # every band, so banding can never miss them)
        (0, "machine learning systems for large scale data"),
        (1, "machine learning systems for large scale data"),
        # a near pair (high overlap)
        (2, "machine learning systems for large scale data processing"),
        # unrelated docs
        (3, "completely different words about cooking pasta tonight"),
        (4, "yet another unrelated document regarding gardening tips"),
        (5, "financial quarterly report revenue and operating margin"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestLshRecallEval:
    def test_counts_match_the_component_operators(self, spark):
        df = _corpus(spark)
        row = dedup.lsh_recall_eval(df, threshold=0.3).collect()[0]

        n_true = dedup.jaccard_pairs(df, threshold=0.3).count()
        n_retrieved = dedup.jaccard_pairs_lsh(df, threshold=0.3).count()
        sigs = dedup.minhash_signatures(df)
        n_cand = dedup.minhash_lsh_candidates(sigs, "doc_id").count()

        assert row["n_docs"] == 6
        assert row["n_true"] == n_true
        assert row["n_retrieved"] == n_retrieved
        assert row["n_candidates"] == n_cand
        assert 0 < row["n_retrieved"] <= row["n_true"]
        assert row["recall"] == round(n_retrieved / n_true, 4)
        assert row["candidate_frac"] == round(n_cand / (6 * 5 / 2), 4)

    def test_exact_duplicates_are_always_retrieved(self, spark):
        # identical word sets → identical signatures → same buckets: with a
        # corpus of ONLY exact-dup pairs and singletons, recall is 1.0
        rows = [(i, "alpha beta gamma delta") for i in range(4)] + [
            (10, "one unrelated doc here"),
            (11, "another distinct text entirely"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        row = dedup.lsh_recall_eval(df, threshold=0.9).collect()[0]
        assert row["n_true"] == 6  # C(4,2) identical pairs
        assert row["n_retrieved"] == 6
        assert row["recall"] == 1.0

    def test_no_true_pairs_gives_null_recall(self, spark):
        rows = [
            (0, "alpha beta gamma"),
            (1, "delta epsilon zeta"),
            (2, "eta theta iota"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        row = dedup.lsh_recall_eval(df, threshold=0.5).collect()[0]
        assert row["n_true"] == 0
        assert row["n_retrieved"] == 0
        assert row["recall"] is None
