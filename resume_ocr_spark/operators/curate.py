"""End-to-end training-corpus curation: the composition of this package's
pipeline operators into the flow a 100 TB data-curation job actually runs.

    quality filter  →  exact dedup  →  [MinHash near-dup]  →
    benchmark decontamination  →  mixture sampling  →  [group quota]

Each document gets a ``drop_reason`` (the FIRST stage that rejects it, in
the order above — the conventional funnel accounting, so stage counts sum
to drops) or NULL when it survives to the training set.

Plan shape at scale (see each operator's module docstring for its own
analysis): quality is a zero-shuffle projection; dedup is one window over
``fingerprint`` (hash shuffle); decontamination broadcasts the eval-set
n-gram hashes so the corpus never shuffles to meet them, and its per-doc
match count joins back by id; mixture applies per-group rate cuts as a
CASE expression over the deterministic md5 bucket (zero joins). Total:
two corpus-wide hash exchanges (fingerprint, id) regardless of input size.

The optional near-dup stage (``near_dup=True`` — the RefinedWeb/Llama
fuzzy-dedup step real recipes run between exact dedup and
decontamination) is the funnel's one deliberately heavy stage: MinHash
signatures over the exact-dedup survivors, star-edge LSH buckets (O(m)
edges even for boilerplate floods), log-round connected components, keep
the minimum id per cluster. It adds the signature shuffle and the
clustering's checkpointed rounds — costs that track near-duplicate
density, never n².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import decontam as _decontam
from . import mixture as _mixture
from .textstats import with_fingerprint, with_quality_filter

REASON_QUALITY = "quality"
REASON_DUPLICATE = "duplicate"
REASON_NEAR_DUPLICATE = "near_duplicate"
REASON_CONTAMINATED = "contaminated"
REASON_SAMPLED_OUT = "sampled_out"
REASON_OVER_QUOTA = "over_quota"


def curate(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
    bench_text_col: str = "text",
    ngram: int = _decontam.DECONTAM_NGRAM,
    default_weight: float = 1.0,
    seed: str = "mix",
    near_dup: bool = False,
    minhash_k: int = 128,
    lsh_bands: int = 16,
    shingle: int | None = 5,
    group_quota: int | None = None,
) -> DataFrame:
    """Annotate every document with its curation outcome.

    Returns the input columns plus ``drop_reason`` (string, NULL = kept).
    ``benchmark``/``weights`` stages are skipped when not provided;
    ``near_dup=True`` enables the MinHash fuzzy-dedup stage (module
    docstring) with ``minhash_k`` permutations over ``shingle``-word
    units banded into ``lsh_bands`` buckets. The defaults (128/16/5,
    8 rows per band) are the production-safe configuration: two docs
    only bucket together on 8 simultaneous minhash agreements, so
    false-positive drops are rare. Few-permutation configs (k=4/b=2)
    bucket ~Jaccard-0.3 docs with double-digit probability and the
    star-edge closure then chains unrelated docs into one cluster —
    fine for tests, unsafe as a default.
    Filter to ``drop_reason IS NULL`` for the training corpus; group by
    ``drop_reason`` for the funnel audit.

    ``group_quota`` (VERDICT r4 next-step #8, the CommonCrawl-style
    per-domain cap): keep at most N documents per ``group_col`` value
    AMONG THE SURVIVORS of every other stage, chosen by the deterministic
    md5-hash order of :func:`.mixture.stratified_topk` (engine/retry
    stable); the overflow reports ``over_quota``. Like stratified_topk,
    the quota window's parallelism is bounded by the number of groups —
    a per-DOMAIN cap at web scale wants the rate-based ``weights``
    instead; quotas are for low-cardinality strata.

    The staging columns ``keep/reasons/fingerprint/bucket/_contam/
    _neardup/_prior_drop`` are reserved: an input already carrying one
    would be silently clobbered and dropped, so that's an error here."""
    reserved = {"keep", "reasons", "fingerprint", "bucket", "_contam",
                "_neardup", "_prior_drop"}
    clash = reserved & set(docs.columns)
    if clash:
        raise ValueError(f"input carries reserved curation columns: "
                         f"{sorted(clash)}")
    if not 0.0 <= default_weight <= 1.0:
        raise ValueError(f"default_weight out of [0,1]: {default_weight}")
    if weights is not None:
        for g, w in weights.items():
            if not 0.0 <= w <= 1.0:
                raise ValueError(f"weight out of [0,1] for {g!r}: {w}")
    out = with_quality_filter(docs, text_col)
    quality_drop = ~F.col("keep")

    # funnel semantics: the kept representative is the min id AMONG
    # QUALITY SURVIVORS of the fingerprint group (a group whose every copy
    # failed quality yields no 'duplicate' rows — they all report quality)
    out = with_fingerprint(out, text_col)
    keeper = F.min(F.when(F.col("keep"), F.col(id_col))).over(
        Window.partitionBy("fingerprint"))
    dup_drop = F.col(id_col) != keeper

    if near_dup:
        from . import dedup as _dedup

        # near-dup input = survivors of quality + exact dedup (recomputed
        # zero-shuffle like the decontam survivor set below): signatures →
        # star-edge buckets → log-round components → keep min id/cluster.
        # dedup_clusters emits only ids that share a bucket, so the
        # left join leaves singleton docs NULL (= kept).
        fp = with_fingerprint(with_quality_filter(docs, text_col), text_col)
        exact_keeper = F.min(F.when(F.col("keep"), F.col(id_col))).over(
            Window.partitionBy("fingerprint"))
        nd_surv = (fp.withColumn("_k", exact_keeper)
                   .filter(F.col("keep") & (F.col(id_col) == F.col("_k")))
                   .select(id_col, text_col))
        sigs = _dedup.minhash_signatures(
            nd_surv, id_col, text_col, k=minhash_k, shingle=shingle)
        edges = _dedup.minhash_lsh_star_edges(
            sigs, id_col, k=minhash_k, bands=lsh_bands)
        # dedup_clusters' output schema is fixed (doc_id, cluster_id)
        # regardless of the input id column — rename before filtering so a
        # non-default id_col resolves
        nd_dropped = (
            _dedup.dedup_clusters(edges)
            .withColumnRenamed("doc_id", id_col)
            .filter(F.col(id_col) != F.col("cluster_id"))
            .select(F.col(id_col), F.lit(True).alias("_neardup"))
        )
        out = out.join(nd_dropped, id_col, "left")
        near_drop = F.coalesce(F.col("_neardup"), F.lit(False))
    else:
        near_drop = F.lit(False)

    if benchmark is not None:
        # only quality survivors are shingled — the flag is never read for
        # quality-dropped rows (reason precedence), and the shingle explode
        # + hash join is the funnel's heaviest map stage, so skipping the
        # dropped fraction is free and output-identical
        survivors = (with_quality_filter(docs, text_col)
                     .filter(F.col("keep")).select(id_col, text_col))
        flagged = (
            _decontam.contamination_counts(
                survivors, benchmark, id_col, text_col, bench_text_col, ngram
            )
            .filter(F.col("contaminated"))
            .select(F.col(id_col), F.lit(True).alias("_contam"))
        )
        out = out.join(flagged, id_col, "left")
        contam_drop = F.coalesce(F.col("_contam"), F.lit(False))
    else:
        contam_drop = F.lit(False)

    if weights is not None:
        out = _mixture.with_sample_bucket(out, id_col, seed)
        cut = F.lit(int(default_weight * _mixture.BUCKETS))
        for g, w in sorted(weights.items()):
            cut = F.when(F.col(group_col) == g,
                         F.lit(int(w * _mixture.BUCKETS))).otherwise(cut)
        sample_drop = F.col("bucket") >= cut
    else:
        sample_drop = F.lit(False)

    if group_quota is not None:
        if group_quota <= 0:
            raise ValueError(f"group_quota must be positive: {group_quota}")
        if "bucket" not in out.columns:
            out = _mixture.with_sample_bucket(out, id_col, seed)
        # materialize the prior-stage verdict first: dup_drop embeds a
        # window (the fingerprint keeper), and Spark rejects a window
        # expression inside another window's argument
        out = out.withColumn(
            "_prior_drop",
            quality_drop | dup_drop | near_drop | contam_drop | sample_drop)
        wq = (Window.partitionBy(group_col)
              .orderBy("bucket", id_col)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        survivor_rank = F.sum(
            (~F.col("_prior_drop")).cast("int")).over(wq)
        quota_drop = (~F.col("_prior_drop")) & \
            (survivor_rank > F.lit(group_quota))
    else:
        quota_drop = F.lit(False)

    reason = (
        F.when(quality_drop, F.lit(REASON_QUALITY))
        .when(dup_drop, F.lit(REASON_DUPLICATE))
        .when(near_drop, F.lit(REASON_NEAR_DUPLICATE))
        .when(contam_drop, F.lit(REASON_CONTAMINATED))
        .when(sample_drop, F.lit(REASON_SAMPLED_OUT))
        .when(quota_drop, F.lit(REASON_OVER_QUOTA))
    )
    drop_cols = [c for c in ("keep", "reasons", "fingerprint", "_contam",
                             "_neardup", "bucket", "_prior_drop")
                 if c in out.columns]
    return out.withColumn("drop_reason", reason).drop(*drop_cols)


def curation_audit(curated: DataFrame) -> DataFrame:
    """Funnel accounting over :func:`curate`'s output: one row per outcome
    (kept = NULL reason reported as 'kept') with document counts."""
    return (
        curated.groupBy(
            F.coalesce(F.col("drop_reason"), F.lit("kept")).alias("outcome")
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
