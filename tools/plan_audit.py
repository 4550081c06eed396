"""Physical-plan audit: one summary line per contract query → PLANS.md.

Evidence that each query's plan is the one you'd want at scale: join
strategies chosen, exchange (shuffle/broadcast) counts, whole-stage
codegen coverage, and parquet pushdown (PushedFilters) — extracted from
``explain('formatted')`` of every `__spark_entry__.queries()` entry that
returns a batch DataFrame.

    python tools/plan_audit.py [sf_dir]   # default /root/testdata/sf0.01
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# entries that materialize side effects or drain streams eagerly — their
# "plan" is the already-materialized read, not the interesting job
SKIP = {
    "streaming_window_counts", "streaming_sessionize",
    "streaming_stateful_sessions", "streaming_extract_ingest",
    "streaming_window_counts_append", "streaming_feed_discovery",
    "streaming_sketch_profile",
}


def summarize(plan: str) -> dict:
    """Count operators from the formatted explain's per-operator detail
    headers '(n) OperatorName [codegen id : k]' — each physical operator
    appears exactly once there (the tree section would double-count)."""
    ops = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    joins: dict[str, int] = {}
    for name in ops:
        if name.endswith("Join") or name == "CartesianProduct":
            joins[name] = joins.get(name, 0) + 1
    n_shuffle = sum(1 for o in ops if o == "Exchange")
    n_bcast = sum(1 for o in ops if o == "BroadcastExchange")
    n_reused = sum(1 for o in ops if o.startswith("ReusedExchange"))
    n_codegen = len(set(re.findall(r"codegen id : (\d+)", plan)))
    pushed = [p for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
              if p.strip()]
    cartesian = "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan
    return {
        "joins": joins, "exchanges": n_shuffle, "broadcasts": n_bcast,
        "reused": n_reused, "codegen_stages": n_codegen,
        "pushed_filters": bool(pushed), "nested_loop_or_cartesian": cartesian,
    }


def main(sf_dir: str = "/root/testdata/sf0.01") -> None:
    import __spark_entry__ as entrymod
    from resume_ocr_spark.session import get_spark

    spark = get_spark(app_name="plan_audit", shuffle_partitions=16)
    jvm_utils = spark._sc._jvm.PythonSQLUtils
    lines = [
        "# PLANS — physical-plan audit of every contract query",
        "",
        f"Generated by `python tools/plan_audit.py` at sf_dir={sf_dir}.",
        "Columns: join operators chosen by Catalyst/AQE, exchange count",
        "(shuffles + broadcasts; Reused = deduplicated by the engine),",
        "whole-stage-codegen stage count, whether parquet PushedFilters is",
        "non-empty, and a flag for any cartesian/nested-loop join (none",
        "expected outside explicitly tiny broadcast probes).",
        "",
        "Notes:",
        "- codegen counts read the PRE-execution plan; queries under AQE",
        "  (anything with an exchange) report their codegen ids only after",
        "  runtime re-planning, so 0 here means 'AQE-staged', not",
        "  'interpreted'.",
        "- embedding_ann_lsh's BroadcastNestedLoopJoin is the intentional",
        "  1-row query-vector broadcast (compare every row to ONE probe row",
        "  on an OR-of-bands predicate) — constant-size build side, not a",
        "  data-sized cartesian.",
        "- dedup_cluster_ids/html_strip_gate pick SortMergeJoin because",
        "  their inputs are checkpointed/empty frames without stats; AQE",
        "  converts them to broadcast at runtime when the small side fits.",
        "- dedup_lsh_eval's three BroadcastNestedLoopJoins are its 1-row",
        "  scalar-aggregate combines (n_true × n_retrieved × n_candidates",
        "  → one diagnostics row) — constant-size build sides, pinned by",
        "  tests/test_plans.py::test_lsh_recall_eval_no_cartesian; the",
        "  data-sized joins in the same plan are equi-joins.",
        "",
        "| query | joins | exchanges | bcast | reused | codegen | pushdown | NL/cartesian |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, fn in entrymod.queries().items():
        if name in SKIP:
            lines.append(f"| {name} | (streaming/materializing — skipped) "
                         "| | | | | | |")
            continue
        try:
            df = fn(spark, sf_dir)
            plan = jvm_utils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as exc:  # pragma: no cover
            lines.append(f"| {name} | ERROR: {exc} | | | | | | |")
            continue
        s = summarize(plan)
        joins = ", ".join(f"{k}×{v}" for k, v in sorted(s["joins"].items()))
        lines.append(
            f"| {name} | {joins or '—'} | {s['exchanges']} | "
            f"{s['broadcasts']} | {s['reused']} | {s['codegen_stages']} | "
            f"{'yes' if s['pushed_filters'] else '—'} | "
            f"{'YES' if s['nested_loop_or_cartesian'] else '—'} |")
    # runtime (AQE-final) plan of the flagship: execute the real frame
    # (collect, not count — count()'s pruning measures a different plan)
    # and record the join strategies that actually ran
    lines += ["", "## extract_pipeline — AQE-final (runtime) plan", ""]
    try:
        df = entrymod.queries()["extract_pipeline"](spark, sf_dir)
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString()
        smj = re.findall(
            r"SortMergeJoin \[(\w+)#\d+L?\], \[(\w+)#\d+L?\], (\w+)", final)
        lines += [
            f"- finalized: {'isFinalPlan=true' in final}",
            f"- BroadcastHashJoin: {final.count('BroadcastHashJoin')}",
            f"- SortMergeJoin: {len(smj)}"
            + (f" ({'; '.join(f'{a}⋈{b} {t}' for a, b, t in smj)})"
               if smj else ""),
            f"- cartesian/nested-loop: "
            f"{'YES' if 'CartesianProduct' in final else 'none'}",
            "- pinned by tests/test_executed_plan.py",
        ]
    except Exception as exc:  # pragma: no cover
        lines.append(f"- ERROR: {exc}")
    out = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(lines)} lines)")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
