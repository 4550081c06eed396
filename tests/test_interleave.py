"""HTML → interleaved span ingest (operators/interleave.py): quote
styles, scrub decoys, drop/renumber rules, table-shape compatibility
with the extract pipeline."""

from pyspark.sql import functions as F

from resume_ocr_spark.operators import interleave


def _spans(spark, html):
    df = spark.createDataFrame([("d0", html)], "doc_id string, html string")
    row = interleave.html_to_spans(df).collect()[0]
    return [(s.offset, s.kind, s.text, s.media_ref) for s in row.spans]


class TestHtmlToSpans:
    def test_text_img_interleave_document_order(self, spark):
        got = _spans(
            spark,
            '<p>before</p><img src="https://e.com/a.jpg" alt="cap">'
            "<p>after</p>")
        assert got == [(0, "text", "before", ""),
                       (1, "image", "cap", "https://e.com/a.jpg"),
                       (2, "text", "after", "")]

    def test_all_three_attr_quote_styles(self, spark):
        got = _spans(
            spark,
            '<img src="https://q.co/dq">x'
            "<img src='https://q.co/sq'>y"
            "<img src=https://q.co/uq>z")
        assert [(k, r if k == "image" else t) for _, k, t, r in got] == [
            ("image", "https://q.co/dq"), ("text", "x"),
            ("image", "https://q.co/sq"), ("text", "y"),
            ("image", "https://q.co/uq"), ("text", "z")]

    def test_scrub_blocks_hide_img_decoys(self, spark):
        got = _spans(
            spark,
            '<script>var s = "<img src=a.png>"</script>'
            "<style>.x { background: url(b.png) }</style>"
            "<noscript><img src=c.png></noscript>"
            '<!-- <img src="d.png"> -->real<img src=e.png>')
        assert got == [(0, "text", "real", ""),
                       (1, "image", "", "e.png")]

    def test_srcless_img_dropped_offsets_gapfree(self, spark):
        got = _spans(spark, 'a<img class="noref">b<img src=k.png>')
        assert got == [(0, "text", "a", ""), (1, "text", "b", ""),
                       (2, "image", "", "k.png")]

    def test_adjacent_imgs_empty_chunk_dropped(self, spark):
        got = _spans(spark, "<img src=1.png><img src=2.png>")
        assert [(o, r) for o, _, _, r in got] == [(0, "1.png"), (1, "2.png")]

    def test_alt_entities_and_whitespace(self, spark):
        got = _spans(spark, '<img src=i.png alt="A &amp;  B &lt;x&gt;">')
        assert got == [(0, "image", "A & B <x>", "i.png")]

    def test_text_cleaning_chain(self, spark):
        got = _spans(spark, "<h1>Head &amp;\n\t tail</h1><b>bold</b>")
        assert got == [(0, "text", "Head & tail bold", "")]

    def test_null_and_empty_html(self, spark):
        df = spark.createDataFrame([("a", None), ("b", "")],
                                   "doc_id string, html string")
        rows = interleave.html_to_spans(df).collect()
        assert all(r.spans == [] for r in rows)

    def test_schema_is_the_engine_table_shape(self, spark):
        df = spark.createDataFrame([("d", "x")],
                                   "doc_id string, html string")
        out = interleave.html_to_spans(df)
        assert out.schema["spans"].dataType.simpleString() == (
            "array<struct<kind:string,text:string,media_ref:string,"
            "offset:int>>")

    def test_zero_exchanges_in_plan(self, spark):
        df = spark.createDataFrame([("d", "<p>x</p>")],
                                   "doc_id string, html string")
        plan = (interleave.html_to_spans(df)
                ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange" not in plan

    def test_feeds_extract_pipeline_directly(self, spark):
        # the produced shape IS the extract input: text spans extract
        # as-is; an image span whose media_ref has no blob becomes an
        # error ROW (error-as-data), never a crash
        from resume_ocr_spark.operators import extract

        df = spark.createDataFrame(
            [("d0", '<p>hello world</p><img src="https://e.com/x.png">')],
            "doc_id string, html string")
        docs = interleave.html_to_spans(df).withColumn(
            "source", F.lit("crawl"))
        blobs = spark.createDataFrame(
            [], "media_ref string, kind string, payload binary")
        out = extract.extract_documents(docs, blobs).collect()[0]
        assert out.full_text.startswith("hello world")
        assert out.parse_failures == 1  # the unresolved media_ref


class TestCaptionPairs:
    def _pairs(self, spark, html):
        df = spark.createDataFrame([("d0", html)],
                                   "doc_id string, html string")
        return [tuple(r)[1:] for r in
                interleave.caption_pairs(interleave.html_to_spans(df))
                .orderBy("offset").collect()]

    def test_context_both_sides(self, spark):
        got = self._pairs(
            spark, '<p>before</p><img src="a.png" alt="cap"><p>after</p>')
        assert got == [(1, "a.png", "cap", "before", "after")]

    def test_edges_and_image_neighbors(self, spark):
        # leading img: no before-context; img neighbor is not context
        got = self._pairs(
            spark, "<img src=1.png><img src=2.png>middle")
        assert got == [(0, "1.png", "", "", ""),
                       (1, "2.png", "", "", "middle")]

    def test_trailing_image_edge(self, spark):
        got = self._pairs(spark, "lead<img src=z.png>")
        assert got == [(1, "z.png", "", "lead", "")]

    def test_textonly_docs_vanish(self, spark):
        assert self._pairs(spark, "<p>just text</p>") == []

    def test_zero_exchanges_in_plan(self, spark):
        df = spark.createDataFrame([("d", "x<img src=u.png>y")],
                                   "doc_id string, html string")
        plan = (interleave.caption_pairs(interleave.html_to_spans(df))
                ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange" not in plan


class TestDropFrequentMedia:
    def test_chrome_dropped_everywhere_offsets_renumber(self, spark):
        logo = '<img src="https://cdn.site/logo.png">'
        df = spark.createDataFrame(
            [("a", f"{logo}<p>A text</p><img src=a.png>"),
             ("b", f"{logo}<p>B text</p><img src=b.png>"),
             ("c", logo)],
            "doc_id string, html string")
        out = {r.doc_id: r for r in interleave.drop_frequent_media(
            interleave.html_to_spans(df)).collect()}
        a = [(s.offset, s.kind, s.media_ref) for s in out["a"].spans]
        assert a == [(0, "text", ""), (1, "image", "a.png")]
        assert (out["a"].n_media_removed, out["a"].n_spans_total) == (1, 3)
        # doc that loses its only span survives with an empty array
        assert out["c"].spans == []
        assert (out["c"].n_media_removed, out["c"].n_spans_total) == (1, 1)

    def test_below_threshold_kept(self, spark):
        df = spark.createDataFrame(
            [("a", "x<img src=only-here.png>"), ("b", "y")],
            "doc_id string, html string")
        out = {r.doc_id: r for r in interleave.drop_frequent_media(
            interleave.html_to_spans(df)).collect()}
        assert [s.media_ref for s in out["a"].spans] == ["", "only-here.png"]
        assert out["a"].n_media_removed == 0

    def test_empty_input_array_stays_empty(self, spark):
        # regression: explode_outer emits NULL s for an empty array and
        # F.struct(NULL.field,...) is a non-null struct — an unguarded
        # collect grew one bogus all-null span for empty docs
        df = spark.createDataFrame([("a", ""), ("b", None)],
                                   "doc_id string, html string")
        out = {r.doc_id: r for r in interleave.drop_frequent_media(
            interleave.html_to_spans(df)).collect()}
        assert out["a"].spans == [] and out["b"].spans == []
        assert out["a"].n_spans_total == 0

    def test_min_docs_validated(self, spark):
        df = spark.createDataFrame([("a", "x")],
                                   "doc_id string, html string")
        import pytest
        with pytest.raises(ValueError):
            interleave.drop_frequent_media(
                interleave.html_to_spans(df), min_docs=1)

    def test_caption_pairs_compose_after_renumber(self, spark):
        # after chrome removal the offsets are positional again, so
        # caption_pairs sees the POST-removal neighbors
        logo = "<img src=logo.png>"
        df = spark.createDataFrame(
            [("a", f"hello{logo}<img src=keep.png>world"),
             ("b", logo)],
            "doc_id string, html string")
        pairs = interleave.caption_pairs(interleave.drop_frequent_media(
            interleave.html_to_spans(df))).collect()
        assert [tuple(r) for r in pairs] == [
            ("a", 1, "keep.png", "", "hello", "world")]


class TestPackInterleaved:
    SCHEMA = ("doc_id int, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>")

    def test_mixed_cost_accounting(self, spark):
        # text 'x'*8 -> ceil(8/4)=2 tokens; image -> 64; doc cost 66
        rows = [(i, [("text", "x" * 8, "", 0), ("image", "", "u.png", 1)])
                for i in range(4)]
        out = {r.doc_id: r for r in interleave.pack_interleaved(
            spark.createDataFrame(rows, self.SCHEMA),
            image_token_cost=64, budget=100, shards=2).collect()}
        assert all(out[i].n_tokens == 66 for i in range(4))
        # shard 0: docs 0,2 -> cumsum 0,66 -> seq 0 offsets 0,66
        assert (out[0].shard, out[0].seq_id, out[0].seq_offset) == (0, 0, 0)
        assert (out[2].shard, out[2].seq_id, out[2].seq_offset) == (0, 0, 66)
        # doc 2's successor would start at 132 -> seq 1 for a third doc
        rows.append((4, [("image", "", "v.png", 0)]))
        out2 = {r.doc_id: r for r in interleave.pack_interleaved(
            spark.createDataFrame(rows, self.SCHEMA),
            image_token_cost=64, budget=100, shards=2).collect()}
        assert (out2[4].shard, out2[4].seq_id, out2[4].seq_offset) == (
            0, 1, 132 % 100)

    def test_empty_spans_zero_cost(self, spark):
        out = interleave.pack_interleaved(
            spark.createDataFrame([(7, [])], self.SCHEMA),
            budget=10, shards=1).collect()
        assert (out[0].n_tokens, out[0].seq_offset) == (0, 0)

    def test_single_exchange_in_plan(self, spark):
        rows = [(i, [("text", "abc", "", 0)]) for i in range(3)]
        plan = (interleave.pack_interleaved(
                    spark.createDataFrame(rows, self.SCHEMA))
                ._jdf.queryExecution().executedPlan().toString())
        assert plan.count("Exchange") == 1


class TestInterleavedQuality:
    SCHEMA = ("doc_id string, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>")

    def _t(self, text):
        return ("text", text, "", 0)

    def _i(self, ref="u.png"):
        return ("image", "", ref, 0)

    def test_span_stats_one_pass(self, spark):
        rows = [("a", [self._t("x" * 40), self._i(), self._i(),
                       self._t("y" * 20), self._i()])]
        r = interleave.with_span_stats(
            spark.createDataFrame(rows, self.SCHEMA)).collect()[0]
        assert (r.n_spans, r.n_text, r.n_images) == (5, 2, 3)
        assert r.text_chars == 60
        assert r.image_fraction == 0.6
        assert r.chars_per_image == 20.0
        assert r.max_image_run == 2

    def test_empty_doc_stats(self, spark):
        r = interleave.with_span_stats(
            spark.createDataFrame([("e", [])], self.SCHEMA)).collect()[0]
        assert (r.n_spans, r.text_chars, r.image_fraction,
                r.chars_per_image, r.max_image_run) == (0, 0, 0.0, 0.0, 0)

    def test_first_drop_wins_ladder(self, spark):
        rows = [
            ("gallery", [self._i(), self._i()]),                 # no_text
            ("short", [self._t("tiny"), self._i()]),             # too_short
            ("wall", [self._t("x" * 60), self._i(), self._i(),
                      self._t("y" * 60), self._i(), self._i(),
                      self._i()]),                               # 5/7 images
            ("carousel", [self._t("x" * 60), self._i(), self._i(),
                          self._i(), self._i(), self._t("y" * 60),
                          self._t("z" * 60), self._t("w" * 60)]),  # run 4
            ("good", [self._t("x" * 120), self._i(),
                      self._t("y" * 120)]),
        ]
        out = {r.doc_id: r.drop_reason for r in interleave
               .interleaved_quality(
                   spark.createDataFrame(rows, self.SCHEMA),
                   min_text_chars=100, max_image_fraction=0.5,
                   max_image_run=3).collect()}
        assert out == {"gallery": "no_text", "short": "too_short",
                       "wall": "image_wall", "carousel": "image_run",
                       "good": None}

    def test_zero_exchanges_in_plan(self, spark):
        df = spark.createDataFrame(
            [("d", [self._t("x"), self._i()])], self.SCHEMA)
        plan = (interleave.interleaved_quality(df)
                ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange" not in plan


class TestSubmitInterleave:
    def test_job_writes_three_tables_consistently(self, spark, tmp_path,
                                                  run_job):
        src = str(tmp_path / "pages.parquet")
        spark.createDataFrame(
            [(i,
              "<body><img src=//cdn.site/logo.png>"
              f"<p>Intro {i}.</p>"
              f"<img src='https://s.ex/u{i}.jpg' alt='cap {i}'>"
              f"<p>After {i}.</p></body>")
             for i in range(30)],
            "doc_id int, html string").write.parquet(src)
        out = str(tmp_path / "out")
        rc = run_job(["submit_interleave", "--input", src, "--output", out,
                      "--budget", "128", "--shards", "4"])[0]
        assert rc == 0
        tbl = spark.read.parquet(f"{out}/spans")
        pairs = spark.read.parquet(f"{out}/pairs")
        packed = spark.read.parquet(f"{out}/packed")
        assert tbl.count() == 30
        # chrome logo dropped everywhere; one unique image per doc
        from pyspark.sql import functions as F2
        assert tbl.agg(F2.sum("n_media_removed")).collect()[0][0] == 30
        assert pairs.count() == 30
        p = {r.doc_id: r for r in pairs.collect()}
        assert p[7].caption == "cap 7" and p[7].context_before == "Intro 7."
        assert packed.count() == 30
        assert packed.agg(F2.max("seq_offset")).collect()[0][0] < 128

    def test_zero_span_ingest_refused(self, spark, tmp_path, run_job):
        src = str(tmp_path / "empty.parquet")
        spark.createDataFrame([(1, ""), (2, None)],
                              "doc_id int, html string").write.parquet(src)
        out = str(tmp_path / "out2")
        rc = run_job(["submit_interleave", "--input", src, "--output", out])[0]
        assert rc == 4
        import os
        assert not os.path.exists(f"{out}/spans")


class TestSpanRows:
    def test_explode_matches_nested(self, spark):
        df = spark.createDataFrame(
            [("a", "x<img src=u.png>y"), ("b", "<p>z</p>")],
            "doc_id string, html string")
        nested = interleave.html_to_spans(df)
        flat = interleave.span_rows(nested).orderBy("doc_id", "offset")
        assert [tuple(r) for r in flat.collect()] == [
            ("a", 0, "text", "x", ""), ("a", 1, "image", "", "u.png"),
            ("a", 2, "text", "y", ""), ("b", 0, "text", "z", "")]


class TestStreamInterleave:
    def test_streaming_matches_batch_and_redrain_noop(self, spark, tmp_path):
        from resume_ocr_spark import streaming as streamops

        pages = str(tmp_path / "pages")
        out = str(tmp_path / "sout")
        cp = str(tmp_path / "scp")
        wave1 = spark.createDataFrame(
            [("a", "<p>one</p><img src=a.png alt='A'>"),
             ("b", "<script>var x='<img src=no.png>'</script><p>two</p>")],
            "doc_id string, html string")
        wave2 = spark.createDataFrame(
            [("c", "<img src=c1.png><img src=c2.png>tail")],
            "doc_id string, html string")
        wave1.coalesce(1).write.mode("append").parquet(pages)
        path = streamops.stream_interleave(spark, pages, out, cp)
        assert spark.read.parquet(path).count() == 2  # one row per doc
        wave2.coalesce(1).write.mode("append").parquet(pages)
        streamops.stream_interleave(spark, pages, out, cp)
        # streaming output == batch html_to_spans over the full input,
        # span for span
        got = sorted(
            (r.doc_id, s.offset, s.kind, s.text, s.media_ref)
            for r in spark.read.parquet(path).collect() for s in r.spans)
        batch = sorted(
            (r.doc_id, s.offset, s.kind, s.text, s.media_ref)
            for r in interleave.html_to_spans(
                spark.read.parquet(pages)).collect() for s in r.spans)
        assert got == batch and len(got) == 6
        # re-drain with no new files: checkpoint makes it a no-op
        streamops.stream_interleave(spark, pages, out, cp)
        assert spark.read.parquet(path).count() == 3  # 3 docs, 6 spans
