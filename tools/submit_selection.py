"""spark-submit entry point: learned data selection as a batch job — the
select-what-to-train-on step between curation and tokenization.

    spark-submit --py-files dist/resume_ocr_spark.zip tools/submit_selection.py \
        --input <docs.parquet> --output <dir> \
        --mode dsir --target <target_docs.parquet> \
            (--keep-k 100000 | --keep-frac 0.25 [--threshold
             [--sample-rate 0.05]])
        --mode nb --labeled <labeled.parquet>   # columns (text, label bool)
            [--min-score-micro 0]
        [--id-col doc_id] [--text-col text]

Modes (operators/selection.py):
    dsir  DSIR importance resampling against the --target domain:
          per-doc log-likelihood-ratio weights + Gumbel top-k sampling
          without replacement (--keep-frac resolves k from the corpus
          count; the threshold form for 10^12-doc keep-x% is documented
          in selection.dsir_resample).
    nb    hashed Naive-Bayes quality classifier fit on --labeled, keep
          docs scoring above --min-score-micro.

Writes under --output:
    selected/   the kept documents (all input columns)
    scores/     per-doc audit scores for the WHOLE corpus
and prints one JSON audit line {n_in, n_kept, mode, ...; threshold runs
add sample_rate + the applied threshold_micro for reproducibility}.

Refusal points: an empty MODEL side refuses before any write; a
--threshold run whose quantile sample comes up empty refuses after
scores/ (the model was valid — scores/ stays as the audit artifact,
selected/ is never written, the submit_curation convention).
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from resume_ocr_spark.job import (INVALID, NOTHING_TO_DO, Refused, arg_parser,
                                  get_spark, harness, require_columns,
                                  written)


ap = arg_parser("submit_selection")
ap.add_argument("--mode", choices=("dsir", "nb"), required=True)
ap.add_argument("--target", default=None,
                help="dsir: parquet of target-domain docs")
ap.add_argument("--labeled", default=None,
                help="nb: parquet with (text, label boolean)")
ap.add_argument("--keep-k", type=int, default=None)
ap.add_argument("--keep-frac", type=float, default=None)
ap.add_argument("--threshold", action="store_true",
                help="with --keep-frac: select via a sample-estimated "
                     "Gumbel-key quantile (zero-shuffle filter, the "
                     "10^12-doc path) instead of exact global top-k")
ap.add_argument("--sample-rate", type=float, default=0.05,
                help="md5 sample rate for the --threshold quantile")
ap.add_argument("--min-score-micro", type=int, default=0)


def run(args) -> dict:
    if args.mode == "dsir":
        if not args.target:
            raise Refused(INVALID, "--mode dsir requires --target")
        if (args.keep_k is None) == (args.keep_frac is None):
            raise Refused(INVALID, "--mode dsir takes exactly one of "
                                   "--keep-k / --keep-frac")
        if args.threshold and args.keep_frac is None:
            raise Refused(INVALID, "--threshold requires --keep-frac")
        if args.threshold and not 0.0 < args.sample_rate <= 1.0:
            raise Refused(INVALID, f"--sample-rate must be in (0, 1]: "
                                   f"{args.sample_rate}")
        if args.keep_k is not None and args.keep_k <= 0:
            raise Refused(INVALID, "--keep-k must be positive")
        if args.keep_frac is not None and not 0.0 < args.keep_frac <= 1.0:
            raise Refused(INVALID, "--keep-frac must be in (0, 1]")
    elif not args.labeled:
        raise Refused(INVALID, "--mode nb requires --labeled")

    from resume_ocr_spark.operators import selection

    spark = get_spark(app_name="submit_selection")
    docs = spark.read.parquet(args.input)
    require_columns(docs, [args.id_col, args.text_col])
    n_in = docs.count()

    if args.mode == "dsir":
        target = spark.read.parquet(args.target)
        require_columns(target, [args.text_col], "--target")
        try:
            # fit ONCE; scores/ gets the full weight table for audit, the
            # sample is drawn from the same frame without re-fitting
            scores = selection.with_dsir_logweight(
                docs, target.select(args.text_col),
                id_col=args.id_col, text_col=args.text_col)
        except ValueError as e:
            raise Refused(NOTHING_TO_DO, f"refusing the run: {e}")
        if args.threshold:
            k = None
            audit = {"mode": "dsir", "keep_frac": args.keep_frac,
                     "threshold": True}
        else:
            k = (args.keep_k if args.keep_k is not None
                 else max(1, int(args.keep_frac * n_in)))
            audit = {"mode": "dsir", "k": k}
    else:
        labeled = spark.read.parquet(args.labeled)
        require_columns(labeled, [args.text_col, "label"], "--labeled")
        try:
            scores = selection.with_nb_quality_score(
                docs, labeled, id_col=args.id_col, text_col=args.text_col)
        except ValueError as e:
            raise Refused(NOTHING_TO_DO, f"refusing the run: {e}")
        audit = {"mode": "nb", "min_score_micro": args.min_score_micro}

    # derive kept_ids from the parquet just written, NOT the lazy scores
    # plan — otherwise the semi-join re-runs the whole scoring scan (and
    # the dsir top-k window) a second time over the full input
    scores_on_disk = written(scores, f"{args.output}/scores")
    if args.mode == "dsir" and args.threshold:
        try:
            sel = selection.gumbel_threshold_filter(
                scores_on_disk, args.keep_frac, id_col=args.id_col,
                sample_rate=args.sample_rate)
        except ValueError as e:
            # scores/ stays (it is the audit artifact and was valid);
            # selected/ is never written on a refused selection stage —
            # same convention as submit_curation's curated/
            raise Refused(NOTHING_TO_DO, f"refusing the run: {e}")
        kept_ids = sel.select(args.id_col)
        # record the reproducibility inputs: the applied threshold plus
        # the sample rate that derived it (the top-k path records k)
        audit["sample_rate"] = args.sample_rate
        audit["threshold_micro"] = int(
            sel.select("threshold_micro").first()["threshold_micro"])
    elif args.mode == "dsir":
        kept_ids = selection.gumbel_topk(
            scores_on_disk, k, id_col=args.id_col).select(args.id_col)
    else:
        kept_ids = (scores_on_disk
                    .filter(F.col("nb_score_micro")
                            > F.lit(args.min_score_micro))
                    .select(args.id_col))
    # AQE broadcasts the semi-join while kept_ids is small, degrades to a
    # shuffled semi-join when k is corpus-scale — both never replicate docs
    selected = docs.join(kept_ids, args.id_col, "left_semi")
    n_kept = written(selected, f"{args.output}/selected").count()
    audit.update({"n_in": int(n_in), "n_kept": int(n_kept)})
    return audit


main = harness(ap, run)

if __name__ == "__main__":
    sys.exit(main())
