"""Benchmark decontamination: flag training documents that overlap a
held-out evaluation set by shared word n-grams.

The standard LLM-pipeline recipe (GPT-3 appendix C / Llama-style 13-gram
overlap): shingle the benchmark into word n-grams, shingle each candidate
training document the same way, and flag any document sharing at least
``threshold`` n-grams with the benchmark.

100 TB shape — the benchmark side is always small (an eval suite is at most
~10^6 n-grams), the corpus side is the 100 TB one:

  1. benchmark n-grams are distinct-hashed to 8-byte ``xxhash64`` keys and
     BROADCAST — the corpus never shuffles to meet them;
  2. the corpus side explodes its per-doc distinct shingles map-side and
     inner-joins the broadcast set, so everything surviving the join is
     already tiny (only contaminated grams);
  3. the only shuffle is the per-doc count of those matched grams.

``decontaminate`` then drops flagged docs with a LEFT ANTI join against the
matched-id set; AQE picks a broadcast anti-join while the contaminated set
fits, and degrades to a shuffled hash anti-join when it does not — both are
scale-safe (the corpus is never replicated).

Shingling reuses :mod:`.dedup`'s normalization (lowercase, alphanumeric
words, space-joined windows) so dedup and decontamination agree on what a
"word" is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _shingles

DECONTAM_NGRAM = 13  # GPT-3 appendix C uses 13-gram overlap


def _benchmark_gram_hashes(
    benchmark: DataFrame, text_col: str, n: int
) -> DataFrame:
    """Distinct xxhash64 keys of the benchmark's word n-grams (small side)."""
    grams = _shingles(
        benchmark.select(F.monotonically_increasing_id().alias("_bid"),
                         F.col(text_col)),
        "_bid", text_col, n,
    )
    return grams.select(F.xxhash64("word").alias("_gram_hash")).distinct()


def contamination_counts(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = DECONTAM_NGRAM,
    threshold: int = 1,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Per-document benchmark-overlap counts.

    Returns ``(id_col, contaminated_ngrams: long, contaminated: boolean)``
    for every document with at least one matching n-gram; clean documents
    are absent (callers wanting a full annotation LEFT-join this back and
    ``coalesce`` the count to 0). ``id_col`` must be unique per row: gram
    distinctness is per-row, so a duplicated id would double-count its
    matched grams.

    ``broadcast_bench`` picks the join strategy for the gram match.
    ``True`` (default) is the eval-suite shape — the bench side is at
    most ~10^6 grams and ships to every executor, the corpus never
    shuffles.  ``False`` is the oversized-"benchmark" shape: when the
    held-out side is itself corpus-scale (a full validation split, the
    union of thousands of eval sets, or decontaminating crawl N against
    crawl N-1), its distinct gram hashes no longer fit an executor and
    the match must be a SHUFFLED hash join on ``_gram_hash`` — both
    sides exchange once on an 8-byte key (the corpus side as (id, hash)
    pairs, already distinct per doc), which is the standard
    scale-out; the per-doc count shuffle after it is unchanged.  Same
    semantics, same oracle — only the physical strategy moves.  The
    shuffle path is pinned with a ``shuffle_hash`` hint rather than the
    mere absence of a broadcast hint: otherwise AQE re-broadcasts any
    bench that happens to fit the threshold (correct at test scale,
    but then the plan under test is not the plan that runs at 100 TB),
    and shuffled-hash beats sort-merge here — an 8-byte equi-key whose
    bench-side partitions fit executor memory by construction of the
    shuffle, no sort needed on the corpus side.
    """
    bench = _benchmark_gram_hashes(benchmark, bench_text_col, n)
    bench = F.broadcast(bench) if broadcast_bench else bench.hint(
        "shuffle_hash")
    doc_grams = _shingles(docs, id_col, text_col, n).select(
        F.col(id_col), F.xxhash64("word").alias("_gram_hash")
    )
    return (
        doc_grams.join(bench, "_gram_hash", "inner")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("contaminated_ngrams"))
        .withColumn(
            "contaminated",
            F.col("contaminated_ngrams") >= F.lit(threshold),
        )
    )


SEMANTIC_LITERAL_CAP = 512        # bench vectors foldable as plan literals
SEMANTIC_BENCH_CAP = 200_000      # hard cap for the Arrow-UDF path


def semantic_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_vec_col: str = "embedding",
    threshold: float = 0.9,
    bench_cap: int = SEMANTIC_BENCH_CAP,
    method: str = "auto",
) -> DataFrame:
    """Embedding-space decontamination — the semantic sibling of the
    n-gram overlap check: flag corpus documents whose embedding is within
    cosine ``threshold`` of ANY benchmark embedding (catches paraphrased /
    reformatted eval leakage that shares no 13-gram).

    Returns every corpus row plus ``max_benchmark_cosine`` (rounded to 6)
    and ``contaminated``. Totality: NULL corpus embeddings report
    ``(NULL, False)`` — unscorable, same convention as an empty benchmark;
    NULL benchmark embeddings are skipped.

    100 TB shape — zero joins, zero shuffles either way; the corpus is
    scanned exactly once:

    ``method='literal'`` (default for ≤ SEMANTIC_LITERAL_CAP = 512 bench
    vectors): the
    bench is folded into the plan as a literal array of (unit-handled)
    vectors; per-row max cosine is a transform + zip_with fold with the
    per-bench norms precomputed driver-side and the corpus norm hoisted
    to one column — the form the DuckDB gate mirrors bit-for-bit.
    Catalyst literal folding is O(bench × dim) expression NODES, so this
    path is capped hard: measured on this class of host, ~10⁵ literal
    nodes already cost a minute of driver planning.

    ``method='udf'`` (default above the literal cap, up to ``bench_cap``):
    the bench ships as a numpy matrix inside an Arrow batch UDF closure —
    one matmul per batch. Float results can differ from the fold path in
    the last ulp (BLAS summation order), so the gate entry pins the
    literal form."""
    if not -1.0 <= threshold <= 1.0:
        raise ValueError(f"threshold out of [-1, 1]: {threshold}")
    if method not in ("auto", "literal", "udf"):
        raise ValueError(f"unknown method: {method!r}")
    rows = (benchmark.select(bench_vec_col)
            .filter(F.col(bench_vec_col).isNotNull())
            .limit(bench_cap + 1).collect())
    if len(rows) > bench_cap:
        raise ValueError(
            f"benchmark side exceeds bench_cap={bench_cap} vectors; "
            "LSH-prune the corpus against a banded benchmark first")
    if not rows:
        return (corpus
                .withColumn("max_benchmark_cosine",
                            F.lit(None).cast("double"))
                .withColumn("contaminated", F.lit(False)))
    vecs = [[float(x) for x in r[bench_vec_col]] for r in rows]
    if method == "auto":
        method = "literal" if len(vecs) <= SEMANTIC_LITERAL_CAP else "udf"
    if method == "literal" and len(vecs) > SEMANTIC_LITERAL_CAP:
        raise ValueError(
            f"literal folding capped at {SEMANTIC_LITERAL_CAP} bench "
            f"vectors (got {len(vecs)}): the plan-node cost is "
            "O(bench × dim) driver-side — use method='udf'")
    if method == "udf":
        return _semantic_contamination_udf(corpus, vecs, vec_col, threshold)
    # literal fold: per-bench norms² precomputed with the same sequential
    # summation the aggregate fold uses (bit-identical), corpus norm²
    # hoisted to ONE column instead of being re-folded per bench vector
    norms2 = []
    for v in vecs:
        n = 0.0
        for x in v:
            n += x * x
        norms2.append(n)
    bench_lit = F.array(*[
        F.struct(
            F.array(*[F.lit(x) for x in v]).alias("bv"),
            F.lit(n2).alias("nr"),
        )
        for v, n2 in zip(vecs, norms2)
    ])
    vec = F.col(vec_col).cast("array<double>")
    nl = F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x)
    dot = lambda b: F.aggregate(  # noqa: E731 — mirrors _array_cosine
        F.zip_with(vec, b["bv"], lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x)
    max_cos = F.array_max(F.transform(
        bench_lit, lambda b: dot(b) / F.sqrt(F.col("_nl") * b["nr"])))
    return (
        corpus
        .withColumn("_nl", nl)
        .withColumn("max_benchmark_cosine", F.round(max_cos, 6))
        .withColumn(
            "contaminated",
            F.coalesce(F.col("max_benchmark_cosine") >= F.lit(threshold),
                       F.lit(False)))
        .drop("_nl")
    )


def _semantic_contamination_udf(
    corpus: DataFrame, vecs: list[list[float]], vec_col: str,
    threshold: float,
) -> DataFrame:
    """Large-bench path: one bench-matrix × vector product per row."""
    import numpy as np

    from .extract import map_rows

    bench = np.asarray(vecs, dtype=np.float64)
    bench_unit = bench / np.linalg.norm(bench, axis=1, keepdims=True)

    def score(v):
        if v is None:
            return None, False
        x = np.asarray(v, dtype=np.float64)
        n = np.linalg.norm(x)
        if n == 0:
            return None, False
        c = round(float((bench_unit @ (x / n)).max()), 6)
        return c, c >= threshold

    return map_rows(corpus, corpus.columns, [vec_col], score,
                    "max_benchmark_cosine double, contaminated boolean")


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = DECONTAM_NGRAM,
    threshold: int = 1,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Drop documents sharing ≥ ``threshold`` word n-grams with the
    benchmark; the surviving frame keeps the input schema unchanged.
    ``broadcast_bench`` as in :func:`contamination_counts` (False = the
    oversized-benchmark shuffled-join shape)."""
    flagged = (
        contamination_counts(
            docs, benchmark, id_col, text_col, bench_text_col, n, threshold,
            broadcast_bench=broadcast_bench,
        )
        .filter(F.col("contaminated"))
        .select(id_col)
    )
    return docs.join(flagged, id_col, "left_anti")
