"""Materialized positional inverted index — postings build, index-backed
BM25, phrase queries, and minimum-cover proximity windows.

:mod:`retrieval` is the one-shot full-scan BM25 (its docstring says so:
"for repeated query workloads, build one — this operator is the one-shot
scan path").  This module is that index: the repeated-query serving side
of lexical retrieval, the structure every production corpus-search tier
(Lucene/Elasticsearch-shaped) materializes once and queries millions of
times.  Reference parity: the reference app re-reads extracted text per
query (`app/services/query_service.py` greps stored text each request);
at 10^12 documents the per-query corpus scan is the thing you must NOT
do — the index turns each query into a |query-terms| postings lookup.

Layout
------
``build_postings`` emits the classic positional postings relation::

    (term string, doc_id, tf bigint, positions array<int>)

positions are 1-based indexes into the shared ``dedup._tokens`` token
sequence (lowercase, alnum runs) — the single corpus tokenizer every
text operator in this repo shares, so postings agree bit-for-bit with
BM25/minhash/LM tokenizations.

100 TB shape
------------
- **Build** is ONE shuffle on (term, doc_id) with map-side combine
  (posexplode → groupBy), exactly the cost class of the exact-dedup
  hash agg.  ``doc_lengths`` (needed by BM25's length normalization and
  for docs the postings can't see — empty documents) is a zero-shuffle
  projection computed at index-build time, the doc-values sidecar real
  engines store.
- **Serving**: write postings ``partitionBy`` a term hash bucket (the
  :class:`PostingsIndex` materialization) so a query's scan prunes to
  its terms' buckets — same PartitionFilters discipline as
  ``similarity.IvfPqIndex``.
- **Query** cost is proportional to the query terms' postings lists,
  never the corpus: ``index_bm25`` filters term ∈ query (prunable
  predicate), aggregates candidates per doc, joins doc lengths only for
  candidate docs.  ``phrase_matches`` / ``min_window_proximity`` touch
  the same pruned postings and resolve positions with higher-order /
  window functions over candidate rows only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _tokens
from .retrieval import _query_terms

#: default BM25 constants — match retrieval.bm25_scores
K1 = 1.2
B = 0.75


def build_postings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    terms: list[str] | None = None,
) -> DataFrame:
    """(term, doc_id, tf, positions) positional postings.

    positions are 1-based indexes into the raw ``_tokens`` split array
    (empty tokens — possible only for fully-empty text — carry no
    postings row but keep their index, mirroring the oracle's parallel
    unnest).  ``terms`` restricts the build to a term subset — the
    query-shaped scan a pruned index read performs.

    One (term, doc_id) hash shuffle with map-side combine; everything
    before it is a per-row projection.  ``sort_array`` pins the
    collect_list order so output is deterministic across retries.

    ``id_col`` must be unique per input row (the dedup-family contract):
    duplicated ids would merge two documents' position lists into one
    nonsensical postings row.
    """
    tok = (
        df.select(F.col(id_col),
                  F.posexplode(_tokens(text_col)).alias("_p0", "term"))
        .filter(F.col("term") != "")
        .withColumn("pos", F.col("_p0") + F.lit(1))
        .drop("_p0")
    )
    if terms is not None:
        tok = tok.filter(F.col("term").isin(list(terms)))
    return (
        tok.groupBy("term", id_col)
        .agg(F.count("*").cast("bigint").alias("tf"),
             F.sort_array(F.collect_list("pos")).alias("positions"))
    )


def doc_lengths(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """(doc_id, dl) — token count per document, INCLUDING zero-token
    docs (which have no postings rows but still count toward N and
    avgdl in BM25).  Zero-shuffle projection; computed once at index
    build, stored beside the postings as the doc-values sidecar."""
    toks = _tokens(text_col)
    dl = F.size(F.filter(toks, lambda w: w != F.lit("")))
    # fully-NULL text → _tokens yields NULL → size() is -1; clamp to 0
    return df.select(
        F.col(id_col),
        F.greatest(dl, F.lit(0)).cast("bigint").alias("dl"))


def index_bm25(
    postings: DataFrame,
    doclens: DataFrame,
    query: str,
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """BM25 from the index — same formula, constants, and output shape
    as ``retrieval.bm25_scores`` (Lucene always-positive idf), but the
    corpus is never rescanned: the plan reads only the query terms'
    postings (term ∈ query is a partition-prunable predicate on a
    bucketed index) plus the doc-length sidecar.

    Exact cross-path equality with the full-scan BM25 is pinned by
    ``tests/test_postings.py`` — same docs, same rounded scores.

    Output: every document (matched or not, like the scan path),
    ``n_terms_matched``, ``bm25`` rounded to 4.
    """
    terms = _query_terms(query)
    if not terms:
        return doclens.select(
            F.col(id_col), F.lit(0).alias("n_terms_matched"),
            F.lit(0.0).alias("bm25"))

    hits = postings.filter(F.col("term").isin(terms))
    # df_t: tiny (≤ |query| rows), computed on the pruned postings and
    # broadcast back.  N/avgdl: one scalar agg over the doc-length
    # sidecar, folded in via the house 1-row-broadcast crossJoin.
    dfreq = hits.groupBy("term").agg(F.count("*").alias("df_t"))
    stats = doclens.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"))

    scored = (
        hits.join(F.broadcast(dfreq), "term")
        .join(doclens, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_contrib",
            F.log((F.col("n_docs") - F.col("df_t") + 0.5)
                  / (F.col("df_t") + 0.5) + 1.0)
            * F.col("tf") * (k1 + 1.0)
            / (F.col("tf")
               + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))))
        .groupBy(id_col)
        .agg(F.count("*").cast("int").alias("n_terms_matched"),
             F.sum("_contrib").alias("_score"))
    )
    # the scan path emits every doc; restore non-candidates at 0 via a
    # doc_id-keyed left join from the sidecar (candidates only shuffle)
    return (
        doclens.join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_terms_matched", F.lit(0)).alias("n_terms_matched"),
            F.round(F.coalesce("_score", F.lit(0.0)), 4).alias("bm25"))
    )


def phrase_matches(
    postings: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase query over the positional index: documents where the
    phrase's tokens occur at consecutive positions, with the match count
    and the first match position.

    Plan: prune postings to the phrase's distinct terms, pivot each
    candidate doc's positions into a term→positions map (one shuffle
    over candidate rows — ≤ |distinct terms| rows per doc), then resolve
    adjacency entirely inside the row with higher-order functions:
    ``filter(pos(t0), p -> ∀i array_contains(pos(ti), p+i))``.
    Duplicate phrase terms reuse the same map entry at each offset.
    Output: (doc_id, n_matches, first_pos), matched docs only.
    """
    words = _phrase_tokens(phrase)
    if not words:
        raise ValueError("phrase has no tokens after normalization")
    distinct = list(dict.fromkeys(words))

    cand = (
        postings.filter(F.col("term").isin(distinct))
        .groupBy(id_col)
        .agg(F.map_from_entries(
            F.collect_list(F.struct("term", "positions"))).alias("_pos"))
        .filter(F.size(F.map_keys(F.col("_pos"))) == len(distinct))
    )
    if len(words) == 1:  # degenerate phrase: every occurrence matches
        matches = F.col("_pos").getItem(words[0])
    else:
        matches = F.expr(_phrase_filter_expr(words))
    out = (
        cand.withColumn("_m", matches)
        .filter(F.size("_m") > 0)
        .select(F.col(id_col),
                F.size("_m").cast("int").alias("n_matches"),
                F.element_at("_m", 1).cast("int").alias("first_pos"))
    )
    return out


def _phrase_tokens(phrase: str) -> list[str]:
    """Tokenize the phrase with the corpus tokenizer, keeping order and
    duplicates (a phrase may legitimately repeat a word)."""
    import re

    return [w for w in re.sub(r"[^a-z0-9]+", " ",
                              (phrase or "").lower()).split() if w]


def _phrase_filter_expr(words: list[str]) -> str:
    """SQL lambda for the adjacency filter — built as a string because
    the lambda variable must appear inside array_contains at multiple
    offsets (python-lambda HOFs capture one Column, which is fine, but
    element_at on a map inside the lambda needs expr-side syntax for
    clarity and exact oracle mirroring)."""
    conds = " AND ".join(
        f"array_contains(element_at(_pos, '{w}'), p + {i})"
        for i, w in enumerate(words[1:], start=1))
    return f"filter(element_at(_pos, '{words[0]}'), p -> {conds})"


#: term-bucket count for the partitioned serving layout
N_BUCKETS = 64


def term_bucket(term: str, n_buckets: int = N_BUCKETS) -> int:
    """Driver-side twin of the index's bucket column: first 4 hex digits
    of md5(term) mod n_buckets — the house md5 recipe, so query code can
    compute the exact bucket set of its literal terms in Python and hand
    the scan a prunable ``tbucket IN (...)`` predicate."""
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:4], 16) % n_buckets


def _bucket_col(term, n_buckets: int):
    return (F.conv(F.substring(F.md5(term), 1, 4), 16, 10)
            .cast("bigint") % n_buckets).cast("int")


class PostingsIndex:
    """Materialized positional index — the persisted serving layer:
    ``build()`` runs the one (term, doc_id) shuffle ONCE and writes the
    postings parquet PARTITIONED BY an md5 term bucket (doc lengths as
    the unpartitioned sidecar), so every query's scan prunes to its own
    terms' buckets (PartitionFilters, pinned in tests) — at 10^12 docs a
    5-term query touches ≤5/64 of the index files and never the corpus.
    Without a path the postings pin in executor storage instead
    (``unpersist()`` to retire)."""

    def __init__(self, postings: DataFrame, doclens: DataFrame,
                 id_col: str, n_buckets: int):
        self.postings = postings
        self.doclens = doclens
        self.id_col = id_col
        self.n_buckets = n_buckets

    @classmethod
    def build(cls, df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text", path: str | None = None,
              n_buckets: int = N_BUCKETS) -> "PostingsIndex":
        post = build_postings(df, id_col, text_col).withColumn(
            "tbucket", _bucket_col(F.col("term"), n_buckets))
        dl = doc_lengths(df, id_col, text_col)
        if path is not None:
            post.write.mode("overwrite").partitionBy("tbucket").parquet(
                f"{path}/postings")
            dl.write.mode("overwrite").parquet(f"{path}/doclens")
            spark = df.sparkSession
            post = spark.read.parquet(f"{path}/postings")
            dl = spark.read.parquet(f"{path}/doclens")
        else:
            post = post.persist()
            dl = dl.persist()
            post.count(), dl.count()  # materialize the build pass now
        return cls(post, dl, id_col, n_buckets)

    def _pruned(self, terms: list[str]) -> DataFrame:
        buckets = sorted({term_bucket(t, self.n_buckets) for t in terms})
        return self.postings.filter(F.col("tbucket").isin(buckets))

    def bm25(self, query: str, k1: float = K1, b: float = B) -> DataFrame:
        return index_bm25(self._pruned(_query_terms(query)), self.doclens,
                          query, self.id_col, k1, b)

    def phrase(self, phrase: str) -> DataFrame:
        return phrase_matches(self._pruned(_phrase_tokens(phrase)),
                              phrase, self.id_col)

    def proximity(self, terms: list[str],
                  max_window: int | None = None) -> DataFrame:
        return min_window_proximity(self._pruned(terms), terms,
                                    self.id_col, max_window)

    def unpersist(self, blocking: bool = False) -> None:
        self.postings.unpersist(blocking=blocking)
        self.doclens.unpersist(blocking=blocking)


def min_window_proximity(
    postings: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    max_window: int | None = None,
) -> DataFrame:
    """Minimum-cover proximity: per document containing ALL ``terms``,
    the length of the shortest position window containing at least one
    occurrence of each (the IR #uw / "within-k unordered window"
    primitive, used for proximity-boosted ranking and concept
    co-occurrence mining).

    Classic single-scan construction, expressed as window functions so
    the DuckDB oracle states the identical plan: explode the pruned
    postings to (doc, term, pos) occurrence rows; per doc ordered by
    pos, track ``last_i`` = latest position of term i seen so far
    (running MAX per term); at every occurrence the best window ending
    there is ``pos - least(last_0..last_{m-1}) + 1``; take the per-doc
    MIN.  Cost: one window pass over candidate occurrence rows only —
    the corpus is never touched.
    """
    terms = list(dict.fromkeys(terms))
    if len(terms) < 2:
        raise ValueError("proximity needs at least two distinct terms")

    occ = (
        postings.filter(F.col("term").isin(terms))
        .select(F.col(id_col), "term", F.explode("positions").alias("pos"))
    )
    w = (Window.partitionBy(id_col).orderBy("pos")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    lasts = [
        F.max(F.when(F.col("term") == t, F.col("pos"))).over(w).alias(f"_l{i}")
        for i, t in enumerate(terms)
    ]
    last_cols = [F.col(f"_l{i}") for i in range(len(terms))]
    # least() SKIPS NULLs (Spark and DuckDB both), so gate explicitly:
    # a window exists only once every term has been seen at least once
    all_seen = last_cols[0].isNotNull()
    for c in last_cols[1:]:
        all_seen = all_seen & c.isNotNull()
    win = F.when(all_seen, F.col("pos") - F.least(*last_cols) + 1)
    out = (
        occ.select(F.col(id_col), "pos", *lasts)
        .withColumn("_win", win)          # NULL until every term seen
        .groupBy(id_col)
        .agg(F.min("_win").cast("int").alias("min_window"))
        .filter(F.col("min_window").isNotNull())
    )
    if max_window is not None:
        out = out.filter(F.col("min_window") <= max_window)
    return out


def phrase_snippets(
    df: DataFrame,
    postings: DataFrame,
    phrase: str,
    width: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keyword-in-context snippets for a phrase: each matching document's
    first occurrence with ±``width`` tokens of context — the serving-side
    result rendering every search tier performs after the index match.

    Plan shape: :func:`phrase_matches` resolves candidates from the
    pruned postings, joined back into ONE corpus scan; the snippet
    itself is a zero-shuffle projection (re-tokenize the matched row,
    slice around first_pos, join). No broadcast hint: a rare phrase's
    match set is tiny and AQE broadcasts it at runtime on its own, but
    a COMMON phrase matches corpus-scale rows and a forced hint would
    be the driver-OOM cliff (review finding) — the hash join is the
    safe default at every selectivity. Output: (doc_id, n_matches,
    first_pos, snippet)."""
    hits = phrase_matches(postings, phrase, id_col)
    n_words = len(_phrase_tokens(phrase))
    toks = _tokens(text_col)
    start = F.greatest(F.col("first_pos") - width, F.lit(1))
    end = F.least(F.col("first_pos") + (n_words - 1) + width, F.size(toks))
    return (
        df.join(hits, id_col)
        .select(
            F.col(id_col), "n_matches", "first_pos",
            F.array_join(
                F.filter(F.slice(toks, start, end - start + 1),
                         lambda w: w != F.lit("")),
                " ").alias("snippet"))
    )


def merge_postings(
    base: DataFrame,
    delta: DataFrame,
    id_col: str = "doc_id",
    broadcast_replaced: bool = True,
) -> DataFrame:
    """Segment merge — the index-maintenance half of the postings story
    (Lucene's segment model): documents are immutable rows, so a doc's
    postings live wholly inside one segment and merging is doc-granular.
    A doc_id present in ``delta`` REPLACES its base postings (recrawl
    semantics: the newest capture wins), all other base postings carry
    over untouched; the corpus is never re-scanned.

    Cost: one anti-join on doc_id (the replaced set is typically a tiny
    fraction — broadcast by default; pass ``broadcast_replaced=False``
    for a full-reindex-sized delta so the anti-join shuffles instead of
    shipping a giant build side) + a union — no positional work is
    redone.  Applies to the doc-length sidecar with the same call."""
    replaced = delta.select(id_col).distinct()
    if broadcast_replaced:
        replaced = F.broadcast(replaced)
    kept = base.join(replaced, id_col, "left_anti")
    return kept.unionByName(delta)


def multi_phrase_matches(
    postings: DataFrame,
    phrases: list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """All phrases against the index in ONE pass — the blocklist shape
    (UT1-style phrase lists, compliance filters): prune postings to the
    UNION of every phrase's terms, pivot each candidate doc's positions
    into the term→positions map ONCE (one shuffle over candidate rows),
    then resolve every phrase's adjacency from the same in-row map and
    explode the per-phrase results. P phrases cost one candidate pivot,
    not P passes.

    A missing term needs no explicit presence check: ``element_at`` on
    an absent map key is NULL, NULL propagates through the adjacency
    filter, and ``size(NULL) = -1`` drops the row.

    Output: (doc_id, phrase, n_matches, first_pos) — one row per
    (matching doc, phrase). Blocklist usage: ``corpus.join(
    multi_phrase_matches(...).select(id).distinct(), id, "left_anti")``.
    """
    phrases = list(dict.fromkeys(phrases))  # a repeated phrase yields one row
    toks = {p: _phrase_tokens(p) for p in phrases}
    if not phrases or any(not t for t in toks.values()):
        raise ValueError("every phrase needs ≥1 token after normalization")
    all_terms = sorted({w for t in toks.values() for w in t})

    cand = (
        postings.filter(F.col("term").isin(all_terms))
        .groupBy(id_col)
        .agg(F.map_from_entries(
            F.collect_list(F.struct("term", "positions"))).alias("_pos"))
    )
    entries = []
    for p in phrases:
        words = toks[p]
        m = (F.col("_pos").getItem(words[0]) if len(words) == 1
             else F.expr(_phrase_filter_expr(words)))
        entries.append(F.struct(F.lit(p).alias("phrase"), m.alias("m")))
    return (
        cand.select(F.col(id_col), F.explode(F.array(*entries)).alias("_e"))
        .select(F.col(id_col), F.col("_e.phrase").alias("phrase"),
                F.col("_e.m").alias("_m"))
        .filter(F.size("_m") > 0)
        .select(F.col(id_col), "phrase",
                F.size("_m").cast("int").alias("n_matches"),
                F.element_at("_m", 1).cast("int").alias("first_pos"))
    )
