"""Executed-plan regression guard (VERDICT r3 #4): pin the flagship's
RUNTIME (AQE-final) plan so regressions can't hide behind the pre-execution
explain.

Plans are read from the executed frame itself (collect, never count():
a count()-wrapped query execution prunes columns differently and shows a
different plan). The flagship keeps no SortMergeJoin: analysis is one
Python pass per document, with no self-join back onto the corpus, and every
remaining join is dimension-shaped (the blob dictionary, the top-K rank)
and executes as broadcast. The pins: no SortMergeJoin, no cartesian, and
analysis crosses into Python once per document (plus the top-K probe)."""

import re

import pytest


@pytest.mark.usefixtures("spark")
def test_extract_pipeline_final_plan_join_strategies(spark):
    import __spark_entry__ as entrymod

    df = entrymod.extract_pipeline(spark, "/root/testdata/sf0.001")
    # collect() (not count()) — count() wraps the frame in a NEW aggregate
    # query execution with different pruning, leaving this frame's own AQE
    # plan unfinalized (and measuring the wrong plan — see module docstring)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final, "AQE did not finalize the plan"
    assert "SortMergeJoin" not in final, final
    assert "BroadcastHashJoin" in final
    # no data-sized cartesian either (the only nested-loop the engine ever
    # plans is similarity's intentional 1-row probe broadcast)
    assert "CartesianProduct" not in final


@pytest.mark.usefixtures("spark")
def test_extract_documents_final_plan_one_python_stage(spark):
    """Html, pdf and image spans cross the Python boundary in ONE
    MapInArrow over ONE scan of documents_raw; the other two scans are the
    pure-Column text branch and reassemble's doc-id sentinel."""
    import __spark_entry__ as entrymod
    from resume_ocr_spark import warehouse
    from resume_ocr_spark.operators import extract

    root = entrymod._corpus_warehouse(spark)
    df = extract.extract_documents(
        warehouse.read_table(spark, root, "documents_raw"),
        warehouse.read_table(spark, root, "media_blobs"))
    df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in s
    final = s.split("== Initial Plan ==")[0]
    assert final.count("MapInArrow") == 1, final
    scans = re.findall(r"FileScan parquet[^\n]*", final)
    tables = sorted(re.search(r"/(documents_raw|media_blobs)/", f).group(1)
                    for f in scans)
    assert tables == ["documents_raw"] * 3 + ["media_blobs"], tables


@pytest.mark.parametrize("cutoff, join, other", [
    (None, "BroadcastHashJoin", "SortMergeJoin"),
    (0, "SortMergeJoin", "BroadcastHashJoin"),
])
def test_extract_documents_blob_join_follows_blob_size(spark, monkeypatch,
                                                       cutoff, join, other):
    """extract_spans picks the blob join from the blob table's on-disk
    size: the warehouse's few hundred KB broadcast under the default
    cutoff, and a cutoff of 0 bytes makes it a sort-merge join (one bucket
    of documents keeps the run short; the choice reads only the blobs)."""
    import __spark_entry__ as entrymod
    from resume_ocr_spark import warehouse
    from resume_ocr_spark.operators import extract

    if cutoff is not None:
        monkeypatch.setattr(extract, "blob_broadcast_cutoff",
                            lambda spark: cutoff)
    root = entrymod._corpus_warehouse(spark)
    df = extract.extract_documents(
        warehouse.read_table(spark, root, "documents_raw", buckets=[0]),
        warehouse.read_table(spark, root, "media_blobs"))
    df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in s
    final = s.split("== Initial Plan ==")[0]
    assert join in final and other not in final, final


@pytest.mark.usefixtures("spark")
def test_analyze_documents_final_plan_one_python_pass(spark, tmp_path):
    """Analysis runs oracle.analyze_text in ONE MapInArrow over the scan:
    no self-join in summary mode; in ranked mode only the top-K probe
    re-runs it, and the rank is the one (broadcast) join."""
    from resume_ocr_spark.operators import analyze

    path = str(tmp_path / "extracted")
    spark.createDataFrame(
        [("a", "RESUMO\nx\nEXPERIÊNCIA\ny python", None),
         ("b", "", "empty document")],
        "doc_id string, full_text string, doc_error string",
    ).write.parquet(path)
    for query, n_python, n_bhj in ((None, (1,), 0), ("python", (1, 2), 1)):
        df = analyze.analyze_documents(spark.read.parquet(path), query=query)
        df.collect()
        s = df._jdf.queryExecution().executedPlan().toString()
        # summary mode has no exchange, so AQE leaves that plan unwrapped
        assert "isFinalPlan=false" not in s
        final = s.split("== Initial Plan ==")[0]
        assert final.count("MapInArrow") in n_python, (query, final)
        assert final.count("BroadcastHashJoin") == n_bhj, (query, final)
        assert "SortMergeJoin" not in final, (query, final)


def test_run_extraction_result_runs_no_python(spark, small_corpus, tmp_path):
    """Each chunk writes its analysis columns, so the frame run_extraction
    returns is a reduce over the written table: a scan and the broadcast
    rank join, with no MapInArrow."""
    from resume_ocr_spark import pipeline, warehouse

    wh = str(tmp_path / "wh")
    docs, blobs = small_corpus
    warehouse.build_warehouse(spark, wh, docs[:8], blobs, buckets=2)
    df = pipeline.run_extraction(spark, wh, str(tmp_path / "out"), "r1",
                                 query="python engineer")
    df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in s
    final = s.split("== Initial Plan ==")[0]
    assert final.count("MapInArrow") == 0, final
    assert final.count("BroadcastHashJoin") == 1, final


@pytest.mark.usefixtures("spark")
def test_curation_pipeline_final_plan_broadcast_and_bounded_exchanges(spark):
    import __spark_entry__ as entrymod

    df = entrymod.curation_pipeline(spark, "/root/testdata/sf0.001")
    df.collect()  # see above: collect executes THIS frame's plan
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert "SortMergeJoin" not in final
    assert "CartesianProduct" not in final
    # the funnel's contract: corpus-wide shuffles stay bounded regardless
    # of input size (curate.py docstring — two corpus exchanges + the
    # model-side exchanges, never one per stage)
    n_shuffles = len(re.findall(r"Exchange hashpartitioning", final))
    assert n_shuffles <= 6, f"curation shuffle count grew: {n_shuffles}"


@pytest.mark.usefixtures("spark")
def test_outlink_graph_final_plan_single_exchange_no_python(spark):
    """The link-extraction pass is the full-corpus scan of the graph
    family: it must be one map-side-combined hash exchange and nothing
    else — no joins, no Python, no second shuffle. AQE toString prints
    the initial plan after the final one, so assertions parse only the
    final section."""
    import __spark_entry__ as entrymod

    df = entrymod.outlink_graph(spark, "/root/testdata/sf0.001")
    df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in s
    final = s.split("== Initial Plan ==")[0]
    assert len(re.findall(r"Exchange hashpartitioning", final)) == 1
    assert "partial_count" in final  # map-side combine before the shuffle
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "CartesianProduct", "BroadcastNestedLoopJoin", "Python"):
        assert op not in final, op


@pytest.mark.usefixtures("spark")
def test_pagerank_step_final_plan_shapes(spark):
    """One power iteration's scale invariants: the per-destination
    contribution sum is partially aggregated BEFORE its exchange (in-degree
    skew absorbed map-side), the dangling scalar travels as a 1-row
    IdentityBroadcast (never a data-sized cartesian), and no Python
    appears anywhere. Join *strategies* are AQE's size-dependent choice
    (broadcast at test scale, SMJ at corpus scale) so they are not pinned
    — shapes are."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from resume_ocr_spark.operators import linkgraph

    edges = entrymod.outlink_graph(spark, "/root/testdata/sf0.001")
    e = edges.select(F.col("src_domain").alias("src"),
                     F.col("dst_domain").alias("dst"),
                     F.col("weight").cast("double").alias("w"))
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    frac = (e.join(out_w, "src")
            .select("src", "dst", (F.col("w") / F.col("out_w")).alias("frac"))
            .repartition("src").localCheckpoint(eager=True))
    nodes = (e.select(F.col("src").alias("domain"))
             .union(e.select(F.col("dst").alias("domain")))
             .distinct().localCheckpoint(eager=True))
    n = nodes.count()
    danglers = nodes.join(
        e.select(F.col("src").alias("domain")).distinct(),
        "domain", "left_anti").localCheckpoint(eager=True)
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    step = linkgraph._pagerank_step(nodes, frac, danglers, ranks, n, 0.85)
    step.collect()
    s = step._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in s
    final = s.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    assert "Python" not in final
    assert "partial_sum" in final  # map-side combine on the contrib agg
    # the only nested-loop is the intentional 1-row dangling-mass probe
    bnlj = final.count("BroadcastNestedLoopJoin")
    assert bnlj <= 1, final
    if bnlj:
        assert "IdentityBroadcastMode" in final
