"""Salted aggregation (skew defense) + JSONL/CSV document sources."""

import pytest
from pyspark.sql import functions as F

from resume_ocr_spark import sources
from resume_ocr_spark.operators import skew

SF_DIR = "/root/testdata/sf0.001"


class TestSaltedAgg:
    def test_matches_direct_groupby(self, spark):
        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        direct = {r["user_id"]: (r["count_events"], round(r["sum_value"], 2),
                                 r["min_value"], r["max_value"])
                  for r in ev.groupBy("user_id").agg(
                      F.count("*").alias("count_events"),
                      F.sum("value").alias("sum_value"),
                      F.min("value").alias("min_value"),
                      F.max("value").alias("max_value")).collect()}
        salted = {r["user_id"]: (r["count_events"], round(r["sum_value"], 2),
                                 r["min_value"], r["max_value"])
                  for r in skew.salted_agg(
                      ev, "user_id",
                      {"count_events": F.count("*"),
                       "sum_value": F.sum("value"),
                       "min_value": F.min("value"),
                       "max_value": F.max("value")},
                      salt_from="event_id").collect()}
        assert salted == direct

    def test_hot_key_splits_across_salt_groups(self, spark):
        # one key with 10k rows, others tiny — the skew scenario
        hot = spark.range(10000).select(
            F.lit("hot").alias("k"), F.col("id").alias("v"))
        cold = spark.range(20).select(
            F.concat(F.lit("c"), "id").alias("k"), F.col("id").alias("v"))
        df = hot.unionAll(cold)
        stage1 = (skew.with_salt(df, 16, deterministic_from="v")
                  .groupBy("k", "salt").agg(F.count("*").alias("n")))
        hot_groups = stage1.filter(F.col("k") == "hot").collect()
        assert len(hot_groups) == 16  # hot key split into 16 partials
        assert max(r["n"] for r in hot_groups) < 10000 * 0.2  # bounded
        out = skew.salted_agg(df, "k", {"count_rows": F.count("*")},
                              salt_from="v")
        assert out.filter(F.col("k") == "hot").first()["count_rows"] == 10000

    def test_random_salt_still_correct(self, spark):
        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        direct = ev.groupBy("event_type").count().collect()
        salted = skew.salted_agg(ev, "event_type",
                                 {"count": F.count("*")}).collect()
        assert {(r["event_type"], r["count"]) for r in salted} == \
               {(r["event_type"], r["count"]) for r in direct}


class TestSources:
    @pytest.fixture()
    def docs_df(self, spark):
        return spark.createDataFrame(
            [("d1", [("text", "hello", "", 0), ("pdf", "", "m1", 1)]),
             ("d2", []),
             ("d3", [("html", "<p>x</p>", "", 0)])],
            sources.DOCS_SCHEMA)

    def test_jsonl_roundtrip(self, spark, docs_df, tmp_path):
        path = str(tmp_path / "docs_jsonl")
        sources.write_documents_jsonl(docs_df, path)
        back = sources.read_documents_jsonl(spark, path)
        assert back.schema == sources.DOCS_SCHEMA
        a = {r["doc_id"]: r["spans"] for r in docs_df.collect()}
        b = {r["doc_id"]: r["spans"] for r in back.collect()}
        # JSON omits empty arrays → null; normalize
        assert {k: v or [] for k, v in a.items()} == \
               {k: v or [] for k, v in b.items()}

    def test_csv_manifest_source(self, spark, docs_df, tmp_path):
        path = str(tmp_path / "docs_csv")
        (docs_df.select("doc_id", F.to_json("spans").alias("spans_json"))
         .write.option("header", True).mode("overwrite").csv(path))
        back = sources.read_documents_csv(spark, path)
        assert back.schema == sources.DOCS_SCHEMA
        got = {r["doc_id"]: r["spans"] for r in back.collect()}
        assert got["d1"] == [("text", "hello", "", 0), ("pdf", "", "m1", 1)]
        assert got["d3"][0]["kind"] == "html"

    def test_jsonl_feeds_extraction(self, spark, docs_df, tmp_path):
        from resume_ocr_spark.operators import extract

        path = str(tmp_path / "docs_jsonl2")
        sources.write_documents_jsonl(docs_df, path)
        docs = sources.read_documents_jsonl(spark, path).withColumn(
            "spans", F.coalesce("spans", F.array().cast(sources.SPAN_TYPE)))
        blobs = spark.createDataFrame([], "media_ref string, payload binary")
        out = {r["doc_id"]: r for r in extract.extract_documents(
            docs, blobs).collect()}
        assert out["d1"]["spans"][0]["text"] == "hello"
        assert out["d1"]["spans"][1]["error"] is not None  # dangling media_ref
        assert out["d2"]["doc_error"] == "empty document"
