"""spark-submit entry point: the corpus-search serving job over the
positional inverted index (operators/postings.py) — build the
term-bucketed index ONCE, then answer BM25 / phrase / proximity queries
from postings lookups that prune to the query terms' buckets, never
rescanning the corpus; recrawl deltas fold in with a doc-granular
segment merge.

    # build (one corpus scan + one (term, doc_id) shuffle)
    spark-submit --py-files dist/resume_ocr_spark.zip tools/submit_search.py \
        build --input <docs.parquet> --index <dir> \
        [--id-col doc_id] [--text-col text] [--n-buckets 64]

    # query (reads ≤ |terms|/n_buckets of the index files)
    ... submit_search.py query --index <dir> --output <dir> \
        (--bm25 "spark window merge" [--topk 10] |
         --phrase "big data merge" [--snippets <docs.parquet>]
                                   [--snippet-width 5] |
         --proximity spark,query,window [--max-window 20] |
         --phrases-file blocklist.txt)   # all phrases, one index pass

    # merge a recrawl delta (replaced doc_ids re-index; corpus not rescanned)
    ... submit_search.py merge --index <dir> --delta <docs.parquet> \
        --output <new index dir> [--text-col <index text_col>]

query writes the result parquet under --output/results and prints one
JSON metrics line (mode, rows, index buckets touched); a query that
matches nothing exits NOTHING_TO_DO.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import functions as F

from resume_ocr_spark.job import (INVALID, NOTHING_TO_DO, Refused, get_spark,
                                  harness, parser, require_columns, written)


def _load_index(spark, path):
    post = spark.read.parquet(f"{path}/postings")
    dl = spark.read.parquet(f"{path}/doclens")
    with open(f"{path}/manifest.json") as fh:
        man = json.load(fh)
    return post, dl, man


def _build(spark, args) -> dict:
    from resume_ocr_spark.operators import postings as P

    docs = spark.read.parquet(args.input)
    require_columns(docs, [args.id_col, args.text_col])
    idx = P.PostingsIndex.build(docs, id_col=args.id_col,
                                text_col=args.text_col, path=args.index,
                                n_buckets=args.n_buckets)
    # n_docs reads the (tiny, one-row-per-doc) sidecar just written; no
    # distinct-count shuffle over the postings for a vanity field
    n_docs = idx.doclens.count()
    with open(f"{args.index}/manifest.json", "w") as fh:
        json.dump({"layout": "postings-v1", "id_col": args.id_col,
                   "text_col": args.text_col,
                   "n_buckets": args.n_buckets, "n_docs": n_docs}, fh)
    return {"mode": "build", "n_docs": n_docs, "n_buckets": args.n_buckets}


def _query(spark, args) -> dict:
    from resume_ocr_spark.operators import postings as P

    modes = [m for m in (args.bm25, args.phrase, args.proximity,
                         args.phrases_file) if m]
    if len(modes) != 1:
        raise Refused(INVALID, "exactly one of --bm25/--phrase/--proximity/"
                               "--phrases-file")
    post, dl, man = _load_index(spark, args.index)
    idx = P.PostingsIndex(post, dl, man["id_col"], man["n_buckets"])

    if args.bm25:
        terms = P._query_terms(args.bm25)
        if not terms:
            raise Refused(INVALID,
                          "--bm25 query has no tokens after normalization")
        # only docs matching ≥1 term are results — without the filter
        # the all-docs-at-0.0 scan output pads top-k with noise and the
        # exit-4 contract is unreachable (review finding)
        out = (idx.bm25(args.bm25).filter(F.col("n_terms_matched") > 0)
               .orderBy(F.desc("bm25"), man["id_col"]).limit(args.topk))
        mode = "bm25"
    elif args.phrase:
        terms = P._phrase_tokens(args.phrase)
        if not terms:
            raise Refused(INVALID,
                          "--phrase has no tokens after normalization")
        out = idx.phrase(args.phrase)
        if args.snippets:
            docs = spark.read.parquet(args.snippets)
            out = P.phrase_snippets(docs, idx._pruned(terms), args.phrase,
                                    width=args.snippet_width,
                                    id_col=man["id_col"],
                                    text_col=man.get("text_col", "text"))
        mode = "phrase"
    elif args.phrases_file:
        with open(args.phrases_file) as fh:
            phrases = [ln.strip() for ln in fh if ln.strip()]
        if not phrases or any(not P._phrase_tokens(p) for p in phrases):
            raise Refused(INVALID, "--phrases-file is empty or holds a "
                                   "tokenless phrase")
        terms = sorted({w for p in phrases for w in P._phrase_tokens(p)})
        out = P.multi_phrase_matches(idx._pruned(terms), phrases,
                                     man["id_col"])
        mode = "blocklist"
    else:
        # normalize through the corpus tokenizer like every other mode —
        # raw comma-splits left case/padding intact, so 'Spark, Query'
        # bucket-pruned and term-matched nothing (review finding);
        # _query_terms also dedups, so 'spark,spark' fails the ≥2 check
        terms = P._query_terms(" ".join(args.proximity.split(",")))
        if len(terms) < 2:
            raise Refused(INVALID, "--proximity needs ≥2 distinct terms "
                                   "after normalization")
        out = idx.proximity(terms, max_window=args.max_window)
        mode = "proximity"

    n = written(out, f"{args.output}/results").count()
    buckets = sorted({P.term_bucket(t, man["n_buckets"]) for t in terms})
    audit = {"mode": mode, "rows": n, "terms": len(terms),
             "buckets_touched": buckets, "n_buckets": man["n_buckets"]}
    if n == 0:
        raise Refused(NOTHING_TO_DO, "the query matched nothing", audit)
    return audit


def _merge(spark, args) -> dict:
    from resume_ocr_spark.operators import postings as P

    import os.path as _p
    if _p.abspath(args.index) == _p.abspath(args.output):
        raise Refused(INVALID, "--output must differ from --index (lazy reads "
                               "would race the overwrite)")
    post, dl, man = _load_index(spark, args.index)
    delta = spark.read.parquet(args.delta)
    # the index's own text column unless --text-col overrides it
    text_col = args.text_col or man.get("text_col", "text")
    dpost = P.build_postings(delta, man["id_col"], text_col) \
        .withColumn("tbucket",
                    P._bucket_col(F.col("term"), man["n_buckets"]))
    merged = P.merge_postings(post, dpost, man["id_col"])
    merged.write.mode("overwrite").partitionBy("tbucket") \
        .parquet(f"{args.output}/postings")
    dl_m = P.merge_postings(dl, P.doc_lengths(delta, man["id_col"],
                                              text_col), man["id_col"])
    n_docs = written(dl_m, f"{args.output}/doclens").count()
    man.update({"n_docs": n_docs})
    with open(f"{args.output}/manifest.json", "w") as fh:
        json.dump(man, fh)
    return {"mode": "merge", "n_docs": n_docs}


ap = parser("submit_search")
sub = ap.add_subparsers(dest="cmd", required=True)

b = sub.add_parser("build")
b.add_argument("--input", required=True)
b.add_argument("--index", required=True)
b.add_argument("--id-col", default="doc_id")
b.add_argument("--text-col", default="text")
b.add_argument("--n-buckets", type=int, default=64)

q = sub.add_parser("query")
q.add_argument("--index", required=True)
q.add_argument("--output", required=True)
q.add_argument("--bm25", default=None)
q.add_argument("--phrase", default=None)
q.add_argument("--proximity", default=None)
q.add_argument("--phrases-file", default=None,
               help="blocklist mode: file of phrases (one per line), "
                    "all matched in one index pass")
q.add_argument("--topk", type=int, default=10)
q.add_argument("--max-window", type=int, default=None)
q.add_argument("--snippets", default=None,
               help="docs parquet to render phrase snippets from")
q.add_argument("--snippet-width", type=int, default=5)

m = sub.add_parser("merge")
m.add_argument("--index", required=True)
m.add_argument("--delta", required=True)
m.add_argument("--output", required=True)
m.add_argument("--text-col", default=None,
               help="delta text column (default: the index's text_col)")


def run(args) -> dict:
    if args.cmd == "build" and args.n_buckets <= 0:
        raise Refused(INVALID, "invalid --n-buckets")
    cmd = {"build": _build, "query": _query, "merge": _merge}[args.cmd]
    return cmd(get_spark(app_name="submit_search"), args)


main = harness(ap, run)

if __name__ == "__main__":
    sys.exit(main())
