"""Metric names, units and directions. BENCHMARK.json lists the same
names; perfbench/tests/test_ledger.py keeps the two in step."""

END_TO_END = {
    "docs_per_sec": ("docs/s", "higher"),
    "cpu_ms_per_doc": ("ms/doc", "lower"),
    "peak_rss_mb": ("MiB", "lower"),
    "setup_s": ("s", "lower"),
}

# name -> (unit, better, workloads whose runs execute the layer)
ALL = ("mixed", "text_html", "chunked_ranked")
RANKED = ("chunked_ranked",)
PER_LAYER = {
    "session.start_s": ("s", "lower", ALL),
    "warehouse.build_s": ("s", "lower", ALL),
    "session.scaling_eff_1to4": ("ratio", "higher", ("mixed",)),
    "warehouse.scan_ms_per_doc": ("ms/doc", "lower", ALL),
    "extract.explode_ms_per_doc": ("ms/doc", "lower", ALL),
    "extract.text_ms_per_span": ("ms/span", "lower", ALL),
    "extract.html_ms_per_span": ("ms/span", "lower", ALL),
    "extract.media_ms_per_span": ("ms/span", "lower", ALL),
    "extract.reassemble_ms_per_doc": ("ms/doc", "lower", ALL),
    "extract.write_ms_per_doc": ("ms/doc", "lower", ALL),
    "extract.media_udf_tax": ("ratio", "lower", ALL),
    "extract.html_udf_tax": ("ratio", "lower", ALL),
    "extract.media_task_skew": ("ratio", "lower", ALL),
    "spark.shuffle_bytes_per_doc": ("B/doc", "lower", ALL),
    "spark.gc_ms_per_doc": ("ms/doc", "lower", ALL),
    "spark.py_bytes_per_span": ("B/span", "lower", ALL),
    "oracle.image_ms_per_span": ("ms/span", "lower", ALL),
    "oracle.pdf_ms_per_span": ("ms/span", "lower", ALL),
    "oracle.html_ms_per_span": ("ms/span", "lower", ALL),
    "imagecodec.decompress_ms_per_span": ("ms/span", "lower", ALL),
    "imagecodec.decode_ms_per_page": ("ms/page", "lower", ALL),
    "imagecodec.deskew_ms_per_page": ("ms/page", "lower", ALL),
    "imagecodec.median3_ms_per_page": ("ms/page", "lower", ALL),
    "imagecodec.threshold_ms_per_page": ("ms/page", "lower", ALL),
    "imagecodec.match_ms_per_page": ("ms/page", "lower", ALL),
    # the grid recognizer accepts every engine-rendered page, so the
    # real-font fallback only runs on inputs these workloads do not make
    "realfont.recognize_ms_per_call": ("ms/call", "lower", ()),
    "imagecodec.grid_hit_frac": ("ratio", "higher", ALL),
    "pdfcodec.extract_text_ms_per_span": ("ms/span", "lower", ALL),
    "pdfcodec.page_images_ms_per_span": ("ms/span", "lower", ALL),
    "pdfcodec.direct_text_useful_frac": ("ratio", "higher", ALL),
    "htmlcodec.strip_ms_per_span": ("ms/span", "lower", ALL),
    "oracle.ocr_pages_per_doc": ("pages/doc", "lower", ALL),
    "oracle.error_span_frac": ("ratio", "lower", ALL),
    "pipeline.chunk_fixed_s": ("s", "lower", RANKED),
    "pipeline.completed_buckets_ms": ("ms", "lower", RANKED),
    "pipeline.resume_noop_s": ("s", "lower", RANKED),
    "pipeline.run_summary_ms": ("ms", "lower", RANKED),
    "analyze.classify_ms_per_doc": ("ms/doc", "lower", RANKED),
    "analyze.fields_ms_per_doc": ("ms/doc", "lower", RANKED),
    "analyze.summary_ms_per_doc": ("ms/doc", "lower", RANKED),
    "analyze.ranked_ms_per_doc": ("ms/doc", "lower", RANKED),
    "analyze.rank_top_k_ms": ("ms", "lower", RANKED),
    "analyze.recompute_ratio": ("ratio", "lower", RANKED),
    "textproc.score_ms_per_doc": ("ms/doc", "lower", RANKED),
    "textproc.segment_ms_per_doc": ("ms/doc", "lower", RANKED),
    "textproc.summarize_ms_per_doc": ("ms/doc", "lower", RANKED),
    "textproc.is_resume_ms_per_doc": ("ms/doc", "lower", RANKED),
    # reconciliation row: layer self times against the end-to-end wall
    "trace.layer_sum_s": ("s", "lower", ALL),
    "trace.e2e_wall_s": ("s", "lower", ALL),
    "trace.layer_sum_ratio": ("ratio", "lower", ALL),
    "trace.overhead_s": ("s", "lower", ALL),
    "check.failed_frac": ("ratio", "lower", ALL),
}


def runs_in(workload: str) -> list[str]:
    return [n for n, (_, _, wls) in PER_LAYER.items() if workload in wls]
