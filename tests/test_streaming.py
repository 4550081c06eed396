"""Structured Streaming operators: session_window agg + stateful sessions."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from resume_ocr_spark import streaming as streamops

SF_DIR = "/root/testdata/sf0.001"
GAP_US = streamops.SESSION_GAP_US


def batch_sessions(events_pdf: pd.DataFrame) -> set:
    """Single-node oracle: (user_id, start_us, end_us, n_events) tuples."""
    out = set()
    for user_id, g in events_pdf.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"])
        ts_us = (g["ts"].astype("int64") // 1000).tolist()
        start = last = None
        n = 0
        for t in ts_us:
            if last is None:
                start, last, n = t, t, 1
            elif t - last > GAP_US:
                out.add((user_id, start, last, n))
                start, last, n = t, t, 1
            else:
                last, n = t, n + 1
        if last is not None:
            out.add((user_id, start, last, n))
    return out


@pytest.fixture(scope="module")
def events_pdf(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet").toPandas()


class TestStreamingSessions:
    def test_stateful_matches_batch_oracle(self, spark, events_pdf):
        stream = streamops.events_file_stream(spark, SF_DIR)
        got = streamops.run_available_now(
            streamops.stateful_sessions(stream, flush_open=True),
            "t_state_full", "append").collect()
        got_set = {(r["user_id"], r["session_start_us"], r["session_end_us"],
                    r["n_events"]) for r in got}
        assert got_set == batch_sessions(events_pdf)

    def test_session_window_agrees_with_stateful(self, spark):
        stream = streamops.events_file_stream(spark, SF_DIR)
        sw = streamops.run_available_now(
            streamops.session_window_agg(stream), "t_sw", "complete").select(
            F.unix_micros(F.col("w.start")).alias("s"),
            "user_id", "n_events", "total_value").collect()
        stream2 = streamops.events_file_stream(spark, SF_DIR)
        st = streamops.run_available_now(
            streamops.stateful_sessions(stream2, flush_open=True),
            "t_state2", "append").collect()
        # same sessions by (user, start, n, total); ends differ by contract
        # (session_window end = last event + gap, stateful end = last event)
        sw_set = {(r["user_id"], r["s"], r["n_events"], r["total_value"])
                  for r in sw}
        st_set = {(r["user_id"], r["session_start_us"], r["n_events"],
                   r["total_value"]) for r in st}
        assert sw_set == st_set

    def test_max_gap_bounded_by_gap(self, spark):
        stream = streamops.events_file_stream(spark, SF_DIR)
        rows = streamops.run_available_now(
            streamops.stateful_sessions(stream, flush_open=True),
            "t_state3", "append").collect()
        for r in rows:
            assert 0 <= r["max_gap_us"] <= GAP_US
            if r["n_events"] == 1:
                assert r["max_gap_us"] == 0
                assert r["session_start_us"] == r["session_end_us"]

    def test_stream_extract_checkpoint_exactly_once(self, spark, tmp_path):
        """Streaming ingestion twin of the batch pipeline: drain once,
        drain again with nothing new (no re-processing), land new files,
        drain the delta — output equals the oracle over the union, with
        no document extracted twice (file-source + checkpoint)."""
        from resume_ocr_spark import corpus, oracle, warehouse

        docs, blobs = corpus.gen_corpus(30, seed=77, with_edge_cases=False)
        d1, d2 = docs[:20], docs[20:]
        refs1 = {s["media_ref"] for d in d1 for s in d["spans"]
                 if s["media_ref"]}
        b1 = [b for b in blobs if b["media_ref"] in refs1]
        b2 = [b for b in blobs if b["media_ref"] not in refs1]
        root, out, cp = (str(tmp_path / p) for p in ("wh", "out", "cp"))
        warehouse.build_warehouse(spark, root, d1, b1)

        n1 = streamops.stream_extract(spark, root, out, cp)
        out_path = f"{out}/documents_extracted_stream/data"
        assert n1 >= 1
        assert spark.read.parquet(out_path).count() == len(d1)

        # nothing new → nothing re-extracted
        streamops.stream_extract(spark, root, out, cp)
        assert spark.read.parquet(out_path).count() == len(d1)

        # new files land → only the delta processes
        docs_df2 = spark.createDataFrame(
            [(d["doc_id"], [(s["kind"], s["text"], s["media_ref"],
                             s["offset"]) for s in d["spans"]])
             for d in d2], schema=warehouse.SPANS_SCHEMA)
        warehouse.write_table(docs_df2, root, "documents_raw", mode="append")
        blobs_df2 = spark.createDataFrame(
            [(b["media_ref"], b["kind"], bytearray(b["payload"]))
             for b in b2], schema=warehouse.BLOBS_SCHEMA)
        warehouse.write_table(blobs_df2, root, "media_blobs",
                              bucket_key="media_ref", mode="append")
        streamops.stream_extract(spark, root, out, cp)

        got = spark.read.parquet(out_path)
        assert got.count() == len(docs)
        assert got.select("doc_id").distinct().count() == len(docs)
        # span parity with the single-node oracle over the union
        exp = oracle.run_pipeline(docs, blobs)
        grows = {r["doc_id"]: [s.asDict() for s in r["spans"]]
                 for r in got.collect()}
        for d in docs:
            ek = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                  for s in exp[d["doc_id"]]["spans"]]
            gk = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                  for s in grows[d["doc_id"]]]
            assert gk == ek, d["doc_id"]

    def test_stream_extract_replay_is_idempotent(self, spark, tmp_path):
        """Crash-replay semantics: foreachBatch is at-least-once, so a
        batch whose output was written but whose checkpoint commit was
        lost gets REPLAYED. The sink partitions by batch_id and
        dynamically overwrites, so stale partial output from the doomed
        attempt is replaced, never duplicated — simulated here by
        pre-seeding the batch_id=0 partition with garbage rows before the
        first drain."""
        from resume_ocr_spark import corpus, warehouse

        docs, blobs = corpus.gen_corpus(12, seed=31, with_edge_cases=False)
        root, out, cp = (str(tmp_path / p) for p in ("wh", "out", "cp"))
        warehouse.build_warehouse(spark, root, docs, blobs)
        out_path = f"{out}/documents_extracted_stream/data"
        # stale output from a "crashed" earlier attempt of batch 0
        stale = spark.createDataFrame(
            [("ghost-doc", 0)], "doc_id string, parse_failures int")
        (stale.withColumn("batch_id", F.lit(0))
         .write.mode("overwrite").partitionBy("batch_id").parquet(out_path))

        streamops.stream_extract(spark, root, out, cp)
        got = spark.read.parquet(out_path)
        ids = {r["doc_id"] for r in got.select("doc_id").collect()}
        assert "ghost-doc" not in ids          # stale attempt overwritten
        assert ids == {d["doc_id"] for d in docs}
        assert got.count() == len(docs)        # no duplicates either

    def test_stream_extract_empty_media_blobs(self, spark, tmp_path):
        """A text-only warehouse has an empty media_blobs table: its files
        carry no rows to infer a schema from, so the blobs must be read
        through the table's manifest like every batch reader does."""
        from resume_ocr_spark import oracle, warehouse

        docs = [{"doc_id": f"txt-{i}",
                 "spans": [{"kind": "text", "text": f"plain resume {i}",
                            "media_ref": None, "offset": 0},
                           {"kind": "text", "text": "" if i % 2 else "more",
                            "media_ref": None, "offset": 1}]}
                for i in range(5)]
        root, out, cp = (str(tmp_path / p) for p in ("wh", "out", "cp"))
        warehouse.build_warehouse(spark, root, docs, blobs=[])

        assert streamops.stream_extract(spark, root, out, cp) >= 1
        got = {r["doc_id"]: [s.asDict() for s in r["spans"]]
               for r in spark.read.parquet(
                   f"{out}/documents_extracted_stream/data").collect()}
        assert set(got) == {d["doc_id"] for d in docs}
        for d in docs:
            assert got[d["doc_id"]] == oracle.extract_doc(d, {}), d["doc_id"]

    def test_state_carried_across_microbatches(self, spark, events_pdf,
                                               tmp_path):
        # three time-contiguous files + maxFilesPerTrigger=1 → three
        # micro-batches; open sessions must cross batch boundaries in state
        src = str(tmp_path / "src")
        os.makedirs(src)
        ordered = events_pdf.sort_values(["ts", "event_id"]).reset_index(
            drop=True)
        third = len(ordered) // 3
        chunks = [ordered.iloc[:third], ordered.iloc[third:2 * third],
                  ordered.iloc[2 * third:]]
        import pyarrow as pa
        import pyarrow.parquet as pq

        for i, chunk in enumerate(chunks):
            # single *files* (not Spark output dirs — the file-stream source
            # does not recurse), µs timestamps to match the source schema
            pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False),
                           f"{src}/b{i}.parquet", coerce_timestamps="us")
            # the file source orders batches by mtime; fast back-to-back
            # writes can share one — pin strictly increasing mtimes so the
            # three micro-batches always arrive in time order
            os.utime(f"{src}/b{i}.parquet", (1_700_000_000 + i,
                                             1_700_000_000 + i))
        schema = spark.read.parquet(f"{SF_DIR}/events.parquet").schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        closed = streamops.run_available_now(
            streamops.stateful_sessions(stream, flush_open=False),
            "t_state_mb", "append").collect()
        closed_set = {(r["user_id"], r["session_start_us"],
                       r["session_end_us"], r["n_events"]) for r in closed}
        full = batch_sessions(events_pdf)
        # every closed session is a true batch session (no session was split
        # at a micro-batch boundary — the state carried it over)
        assert closed_set <= full
        assert len(closed_set) > 0
        # exactly the per-user trailing sessions remain open in state
        last_per_user = {}
        for (u, s, e, n) in full:
            if u not in last_per_user or s > last_per_user[u][1]:
                last_per_user[u] = (u, s, e, n)
        assert closed_set == full - set(last_per_user.values())


class TestWindowedAppend:
    def test_append_emits_exactly_closed_windows(self, spark, events_pdf):
        """Append mode over the two-batch time-split source: a window row
        appears exactly once, and the output is exactly the windows whose
        end the final watermark (max ts − 2h) passed — open windows stay
        in state (bounded-state live-stream form, round-2 verdict ask #5)."""
        stream = streamops.events_two_batch_stream(spark, SF_DIR)
        agg = streamops.windowed_counts_append(stream, window="1 hour",
                                               watermark="2 hours")
        rows = streamops.run_available_now(
            agg, "t_wc_append", "append").select(
            F.col("w.start").alias("wstart"), "event_type",
            "n_events", "total_value").collect()
        got = {(r["wstart"], r["event_type"]): (r["n_events"],
                                                r["total_value"])
               for r in rows}
        assert len(got) == len(rows), "a window row was emitted twice"

        ev = events_pdf.copy()
        ev["wstart"] = ev["ts"].dt.floor("h")
        wm = ev["ts"].max() - pd.Timedelta(hours=2)
        grouped = ev.groupby(["wstart", "event_type"]).agg(
            n=("value", "size"), tot=("value", "sum"))
        exp = {
            (w.to_pydatetime(), et): (int(n), round(float(t), 2))
            for (w, et), (n, t) in grouped.iterrows()
            if w + pd.Timedelta(hours=1) <= wm
        }
        assert got == exp
        # and strictly fewer rows than the complete-mode result: the open
        # tail windows are withheld in state, not emitted
        assert 0 < len(got) < len(grouped)


class TestStreamingDedup:
    def test_replayed_events_emitted_once(self, spark, tmp_path):
        """An at-least-once source redelivers a slice of batch 1 inside
        batch 2: every event_id must be emitted exactly once, the batch-2
        fresh events must all survive, and state must be watermark-bounded
        (dropDuplicatesWithinWatermark, not an ever-growing dedup map)."""
        import time as _time

        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.read_table(f"{SF_DIR}/events.parquet")
        t = t.take(pa.compute.sort_indices(t, sort_keys=[("ts", "ascending")]))
        half = t.num_rows // 2
        b1 = t.slice(0, half)
        # batch 2 = newer half + a replay of batch 1's newest 50 rows
        b2 = pa.concat_tables([t.slice(half), b1.slice(half - 50, 50)])
        d = str(tmp_path / "replay_stream")
        os.makedirs(d)
        pq.write_table(b1, os.path.join(d, "batch-0.parquet"))
        pq.write_table(b2, os.path.join(d, "batch-1.parquet"))
        n_total, ids = t.num_rows, t.column("event_id").to_pylist()
        now = _time.time()
        os.utime(os.path.join(d, "batch-0.parquet"), (now - 120, now - 120))
        os.utime(os.path.join(d, "batch-1.parquet"), (now, now))

        schema = spark.read.parquet(f"{SF_DIR}/events.parquet").schema
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1").parquet(d)
                  .withColumn("ts", F.col("ts").cast("timestamp")))
        # generous watermark: every replay arrives within the horizon
        out = streamops.run_available_now(
            streamops.dedup_within_watermark(stream, watermark="100 days"),
            "dedup_stream", "append").toPandas()
        assert len(out) == n_total
        assert sorted(out["event_id"]) == sorted(ids)


class TestStreamCurate:
    @staticmethod
    def _keep_text(tag: str) -> str:
        # passes every quality rule; distinct per tag
        return ("the and with " +
                " ".join(f"{tag}word{i:02d}" for i in range(33)))

    def _write_file(self, path, rows):
        import pyarrow as pa
        import pyarrow.parquet as pq
        pq.write_table(pa.table({
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows]}), path)

    def test_dedups_across_microbatches(self, spark, tmp_path):
        src = str(tmp_path / "docs")
        os.makedirs(src)
        shared = self._keep_text("shared")
        batch0 = [(1, self._keep_text("a")),
                  (2, shared),
                  (3, "too short to pass quality"),
                  (4, self._keep_text("b")),
                  (5, self._keep_text("b"))]          # in-batch dup of 4
        batch1 = [(10, shared),                        # cross-batch dup of 2
                  (11, self._keep_text("c"))]
        self._write_file(f"{src}/00.parquet", batch0)
        self._write_file(f"{src}/01.parquet", batch1)
        out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
        n = streamops.stream_curate(spark, src, out, cp,
                                    max_files_per_trigger=1)
        assert n == 2
        kept = spark.read.parquet(f"{out}/curated_docs/data")
        ids = sorted(r["doc_id"] for r in kept.collect())
        assert ids == [1, 2, 4, 11]
        # index holds exactly the kept fingerprints, tagged by batch
        idx = spark.read.parquet(f"{out}/curated_index/data")
        assert idx.count() == 4
        assert {r["batch_id"] for r in idx.collect()} == {0, 1}
        # a later drain over a new file continues the same index
        self._write_file(f"{src}/02.parquet",
                         [(20, shared), (21, self._keep_text("d"))])
        n2 = streamops.stream_curate(spark, src, out, cp,
                                     max_files_per_trigger=1)
        assert n2 == 1
        ids = sorted(r["doc_id"] for r in
                     spark.read.parquet(f"{out}/curated_docs/data").collect())
        assert ids == [1, 2, 4, 11, 21]

    def test_replay_excludes_own_index_partition(self, spark, tmp_path):
        """The crash-replay hazard specific to a self-referential index:
        batch 0's fingerprints are already persisted when batch 0 replays.
        If the index read included them, the replay would flag every doc
        as seen and overwrite the kept partition with EMPTY output."""
        src = str(tmp_path / "docs")
        os.makedirs(src)
        rows = [(1, self._keep_text("x")), (2, self._keep_text("y"))]
        self._write_file(f"{src}/00.parquet", rows)
        out = str(tmp_path / "out")
        streamops.stream_curate(spark, src, out, str(tmp_path / "cp1"))
        before = sorted(r["doc_id"] for r in spark.read.parquet(
            f"{out}/curated_docs/data").collect())
        assert before == [1, 2]
        # fresh checkpoint: batch 0 replays over the already-written index
        streamops.stream_curate(spark, src, out, str(tmp_path / "cp2"))
        after = sorted(r["doc_id"] for r in spark.read.parquet(
            f"{out}/curated_docs/data").collect())
        assert after == before
        idx = spark.read.parquet(f"{out}/curated_index/data")
        assert idx.count() == 2


class TestStreamDiscovery:
    def test_cross_batch_dedup_and_redrain_noop(self, spark, tmp_path):
        from resume_ocr_spark import streaming as streamops

        feeds = str(tmp_path / "feeds")
        out = str(tmp_path / "out")
        cp = str(tmp_path / "cp")
        xml = ("<rss><item><title>a</title>"
               "<link>https://e.com/1?utm_source=x</link></item>"
               "<item><title>b</title><link>https://e.com/2</link>"
               "</item></rss>")
        xml2 = ("<rss><item><title>b2</title><link>https://e.com/2#f"
                "</link></item><item><title>c</title>"
                "<link>https://e.com/3</link></item></rss>")
        df1 = spark.createDataFrame([("f1", xml)],
                                    "feed_url string, feed_xml string")
        df2 = spark.createDataFrame([("f2", xml2)],
                                    "feed_url string, feed_xml string")
        df1.coalesce(1).write.mode("append").parquet(feeds)
        n = streamops.stream_discovery(spark, feeds, out, cp,
                                       max_files_per_trigger=1)
        assert n == 1
        df2.coalesce(1).write.mode("append").parquet(feeds)
        # second drain sees only the new file; /2 is already known
        # (canonicalization folds the #f variant onto it)
        n = streamops.stream_discovery(spark, feeds, out, cp,
                                       max_files_per_trigger=1)
        assert n == 1
        rows = spark.read.parquet(f"{out}/frontier_stream/data").collect()
        got = sorted((r.canonical_url, r.batch_id) for r in rows)
        assert got == [("https://e.com/1", 0), ("https://e.com/2", 0),
                       ("https://e.com/3", 1)]
        # re-drain with no new files: checkpoint makes it a no-op
        n = streamops.stream_discovery(spark, feeds, out, cp)
        assert n == 0
        assert spark.read.parquet(
            f"{out}/frontier_stream/data").count() == 3
