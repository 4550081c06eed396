"""Spark pipeline vs single-node oracle: span-sequence + analysis equality.

The BASELINE.json north_rule invariant: per doc_id, exact
(kind, text, media_ref, order) equality against the oracle.
"""

import random

import pytest

from resume_ocr_spark import corpus, oracle, warehouse
from resume_ocr_spark.operators import analyze, extract


@pytest.fixture(scope="module")
def wh(spark, small_corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("wh"))
    docs, blobs = small_corpus
    warehouse.build_warehouse(spark, root, docs, blobs)
    return root


def _extracted(spark, wh, broadcast_blobs=None):
    docs_df = warehouse.read_table(spark, wh, "documents_raw")
    blobs_df = warehouse.read_table(spark, wh, "media_blobs")
    out = extract.extract_documents(docs_df, blobs_df, broadcast_blobs)
    return {r["doc_id"]: r for r in out.collect()}


@pytest.fixture(scope="module")
def spark_extracted(spark, wh):
    return _extracted(spark, wh)


@pytest.fixture(scope="module")
def oracle_result(small_corpus):
    docs, blobs = small_corpus
    query = corpus.make_job_query(random.Random(7))
    return oracle.run_pipeline(docs, blobs, query=query), query


class TestSpanEquality:
    def test_all_docs_present(self, spark_extracted, oracle_result):
        assert set(spark_extracted) == set(oracle_result[0])

    def test_span_sequence_equality(self, spark_extracted, oracle_result):
        """Exact (kind, text, media_ref, order) per doc — the north_rule."""
        mismatches = []
        for doc_id, exp in oracle_result[0].items():
            got = [
                (s["kind"], s["text"], s["media_ref"])
                for s in spark_extracted[doc_id]["spans"]
            ]
            want = [(s["kind"], s["text"], s["media_ref"]) for s in exp["spans"]]
            if got != want:
                mismatches.append((doc_id, got, want))
        assert not mismatches, f"{len(mismatches)} docs mismatch: {mismatches[:2]}"

    def test_error_columns_match(self, spark_extracted, oracle_result):
        for doc_id, exp in oracle_result[0].items():
            got = [s["error"] for s in spark_extracted[doc_id]["spans"]]
            want = [s["error"] for s in exp["spans"]]
            assert got == want, doc_id

    def test_ocr_page_counts_match(self, spark_extracted, oracle_result):
        for doc_id, exp in oracle_result[0].items():
            got = sum(s["ocr_pages"] for s in spark_extracted[doc_id]["spans"])
            want = sum(s["ocr_pages"] for s in exp["spans"])
            assert got == want, doc_id

    def test_full_text_matches_oracle_join(self, spark_extracted, oracle_result):
        for doc_id, exp in oracle_result[0].items():
            assert spark_extracted[doc_id]["full_text"] == oracle.doc_text(
                exp["spans"]), doc_id


class TestSpanEqualityShuffleJoin(TestSpanEquality):
    """The same span-for-span checks on the shuffle-join path: only media
    spans enter the blob join, html spans rejoin before the repartition."""

    @pytest.fixture(scope="class")
    def spark_extracted(self, spark, wh):
        return _extracted(spark, wh, broadcast_blobs=False)


class TestAnalysisEquality:
    @pytest.fixture(scope="class")
    def spark_analyzed(self, spark, wh, oracle_result):
        _, query = oracle_result
        docs_df = warehouse.read_table(spark, wh, "documents_raw")
        blobs_df = warehouse.read_table(spark, wh, "media_blobs")
        extracted = extract.extract_documents(docs_df, blobs_df)
        out = analyze.analyze_documents(extracted, query=query)
        return {r["doc_id"]: r for r in out.collect()}

    def test_rejected_matches(self, spark_analyzed, oracle_result):
        for doc_id, exp in oracle_result[0].items():
            assert spark_analyzed[doc_id]["rejected"] == exp["analysis"]["rejected"], doc_id

    def test_scores_match(self, spark_analyzed, oracle_result):
        for doc_id, exp in oracle_result[0].items():
            assert spark_analyzed[doc_id]["score_num"] == exp["analysis"]["score_num"], doc_id

    def test_fields_match(self, spark_analyzed, oracle_result):
        for doc_id, exp in oracle_result[0].items():
            row = spark_analyzed[doc_id]
            assert list(row["emails"]) == exp["analysis"]["emails"], doc_id
            assert list(row["phones"]) == exp["analysis"]["phones"], doc_id
            assert list(row["dates"]) == exp["analysis"]["dates"], doc_id

    def test_rank_matches(self, spark_analyzed, oracle_result):
        got = {d: r["rank"] for d, r in spark_analyzed.items() if r["rank"]}
        want = {d: r["rank"] for d, r in oracle_result[0].items() if r["rank"]}
        assert got == want

    def test_summary_mode_matches(self, spark, wh, small_corpus):
        docs, blobs = small_corpus
        exp = oracle.run_pipeline(docs, blobs, query=None)
        docs_df = warehouse.read_table(spark, wh, "documents_raw")
        blobs_df = warehouse.read_table(spark, wh, "media_blobs")
        extracted = extract.extract_documents(docs_df, blobs_df)
        got = {r["doc_id"]: r for r in
               analyze.analyze_documents(extracted, query=None).collect()}
        for doc_id, e in exp.items():
            assert got[doc_id]["score_label"] == e["analysis"]["score_label"], doc_id
            assert got[doc_id]["rank"] is None


class TestPartitionPruning:
    def test_bucket_pruning_reads_subset(self, spark, wh):
        full = warehouse.read_table(spark, wh, "documents_raw")
        pruned = warehouse.read_table(spark, wh, "documents_raw", buckets=[0, 1])
        assert 0 < pruned.count() < full.count()
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        # partition filter must reach the scan, not a post-scan Filter
        assert "bucket" in plan


def test_empty_media_table_reads_and_extracts(spark, small_corpus, tmp_path):
    """A corpus with no media spans writes an empty media_blobs table;
    read_table takes its schema from the manifest, so extraction runs and
    matches the oracle span for span."""
    docs = [{"doc_id": d["doc_id"],
             "spans": [s for s in d["spans"] if s["kind"] in ("text", "html")]}
            for d in small_corpus[0]]
    root = str(tmp_path / "wh")
    warehouse.build_warehouse(spark, root, docs, [])
    blobs_df = warehouse.read_table(spark, root, "media_blobs")
    assert blobs_df.count() == 0
    out = extract.extract_documents(
        warehouse.read_table(spark, root, "documents_raw"), blobs_df)
    got = {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in out.collect()}
    assert got == {d["doc_id"]: oracle.extract_doc(d, {}) for d in docs}


def test_analysis_columns_are_analyze_text(spark):
    """Every analysis column is oracle.analyze_text's tuple for the row,
    in both modes: error and empty docs, a culinary reject, a resume whose
    headings follow bare \\r / U+2028 line ends (and whose phone uses
    Arabic-Indic digits, which Python's \\d matches), whitespace-only text."""
    rows = [
        ("err", "", "corrupt Flate stream: x"),
        ("empty", "", "empty document"),
        ("recipe", "RESUMO\nBolo de cenoura\nINGREDIENTES\n2 xícaras de "
                   "farinha\n3 ovos\nFORMAÇÃO\nModo de preparo: forno", None),
        ("crlf", "Ana Silva\rRESUMO Engenheira de dados python\r"
                 "EXPERIÊNCIA PROFISSIONAL\nDev (Mar 2021 - Presente)\n"
                 "ana@x.com | (١١) 98765-4321", None),
        ("blank", " \n\t   ", None),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, full_text string, doc_error string")
    for query in (None, "engenheira python spark"):
        got = {r["doc_id"]: tuple(r[c] for c in oracle.ANALYSIS_FIELDS) for r in
               analyze.analyze_documents(df, query=query).collect()}
        assert got == {d: oracle.analyze_text(t, e, query)
                       for d, t, e in rows}, query


def test_rerun_operator_replaces_its_own_columns(spark):
    """map_rows: an output column replaces a kept column of the same name,
    so classify_resumes over a frame that already has ``rejected`` (as
    documents_extracted now does) yields one, recomputed ``rejected``."""
    rows = [("cv", "RESUMO\nEngenheira de dados python\nEXPERIÊNCIA\n"
                   "Dev (Mar 2021 - Presente)", None),
            ("recipe", "Bolo de cenoura\n2 xícaras de farinha", None),
            ("err", "", "empty document")]
    df = spark.createDataFrame(
        [(d, t, e, None) for d, t, e in rows],
        "doc_id string, full_text string, doc_error string, rejected boolean")
    out = analyze.classify_resumes(df)
    assert out.columns == ["doc_id", "full_text", "doc_error", "rejected"]
    got = {r["doc_id"]: r["rejected"] for r in out.collect()}
    assert got == {d: oracle.analyze_text(t, e, None)[0] for d, t, e in rows}
