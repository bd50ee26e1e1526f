"""Physical-plan audit over every declared query → PLANS.md.

For each ``queries()`` entry, captures ``explain("formatted")`` and tallies
the operators that matter at 100 TB: parquet scans, shuffle exchanges,
broadcasts, cartesian products, sort nodes, and Python row-path evals.
Red-flags the shapes that do not survive scale-up (CartesianProduct /
BroadcastNestedLoopJoin on non-tiny inputs, row-at-a-time Python).

Run: python tools/plan_audit.py [--sf /root/testdata/sf0.001]
Exit code 1 if any red flag fires outside the documented allowlist.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Analyzer error MESSAGES can embed expression literals, among them the HMAC
# pads of a keyed expression: redact before anything derived from a plan or
# an exception is committed. Plan TEXT never lands in PLANS.md (only
# operator counts do).
from database_anonymiser_spark.strategies import (  # noqa: E402
    redact_pad_hex as redact_literals,
)

# queries where a nested-loop / cartesian is the *intended* plan on
# bounded inputs (documented in their docstrings)
NESTED_LOOP_OK = {
    "join_cross",        # 5×25 dims — BroadcastNestedLoopJoin by design
    "sim_topk_bruteforce",  # 1-row broadcast query vector
    "sim_topk_ann",      # 1-row broadcast query vector (filtered branch, r5)
    "sql_cte_scalar",    # 1-row scalar subquery broadcast
    "stream_windows",    # 1-row watermark broadcast join
    "tpch_q6_q14",       # single-row metric union
    "text_tfidf",        # 1-row corpus-doc-count broadcast (idf denominator)
    "agg_approx_sketch",  # 1-row × 1-row sample/exact quantile join (q branch, r5)
    # ordered-EMD t-closeness grid: |classes| × |sensitive-domain| cross
    # join (5 segments × 25 nations), both sides audit-sized aggregates —
    # documented in operators/privacy.py::t_closeness_ordered (r11)
    "mask_strategies",
}
# mapInPandas / applyInPandas surfaces — Arrow-batched Python is the point
ARROW_OK = {
    "pandas_grouped_norm",
    "mm_extract_features",
    # LSH signature stage is Arrow/BLAS-vectorized (operators/similarity.py::
    # lsh_signatures) — bit-identical to the decimal-fold construction,
    # asserted in tests/test_suite_ops.py
    "sim_cosine_pairs",
    "sim_topk_ann",
    # Arrow local-topk with exact-decimal rescore of margin candidates
    # (operators/similarity.py::brute_force_topk) — emitted scores are the
    # exact decimal values, oracle hash-checked
    "sim_topk_bruteforce",
}


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def n_ops(plan: str, op: str) -> int:
    return len(re.findall(rf"^\(\d+\) {op}", plan, flags=re.M))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    from database_anonymiser_spark.session import get_spark
    from database_anonymiser_spark.suite import all_queries

    spark = get_spark(app_name="plan_audit", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    flags: list[str] = []
    for name, spec in sorted(all_queries().items()):
        try:
            plan = plan_of(spec.spark(spark, args.sf))
        except Exception as e:  # audit must not die on one query
            rows.append((name, "-", "-", "-", "-", "-", f"ERROR {type(e).__name__}"))
            flags.append(
                f"{name}: plan capture failed: {redact_literals(e)}"
            )
            continue
        scans = n_ops(plan, "Scan parquet")
        exchanges = n_ops(plan, "Exchange")
        bcasts = n_ops(plan, "BroadcastExchange")
        sorts = n_ops(plan, "Sort")
        cartesian = n_ops(plan, "CartesianProduct") + n_ops(plan, "BroadcastNestedLoopJoin")
        py_rowpath = plan.count("BatchEvalPython")
        arrow = plan.count("ArrowEvalPython") + plan.count("MapInPandas") + plan.count(
            "FlatMapGroupsInPandas"
        )
        notes = []
        if cartesian and name not in NESTED_LOOP_OK:
            notes.append("NESTED-LOOP")
            flags.append(f"{name}: unexpected CartesianProduct/BroadcastNestedLoopJoin")
        if py_rowpath:
            notes.append("PY-ROW-PATH")
            flags.append(f"{name}: row-at-a-time Python eval in plan")
        if arrow and name not in ARROW_OK:
            notes.append("ARROW-PY")
            flags.append(f"{name}: unexpected Arrow Python stage")
        rows.append(
            (name, scans, exchanges, bcasts, sorts, cartesian, " ".join(notes) or "ok")
        )
        spark.catalog.clearCache()  # drop any per-query internal caches

    lines = [
        "# PLANS: physical-plan audit of every declared query",
        "",
        f"Captured at `{args.sf}` with `explain(\"formatted\")`. Columns count",
        "physical operators; `nested_loop` counts CartesianProduct +",
        "BroadcastNestedLoopJoin (allowed only for the documented",
        f"bounded-input queries: {', '.join(sorted(NESTED_LOOP_OK))}).",
        "Arrow-batched Python appears only in the declared pandas surfaces",
        f"({', '.join(sorted(ARROW_OK))}); row-at-a-time Python appears nowhere.",
        "",
        "| query | scans | exchanges | broadcasts | sorts | nested_loop | verdict |",
        "|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append("| `" + str(r[0]) + "` | " + " | ".join(str(x) for x in r[1:]) + " |")
    lines.append("")
    if flags:
        lines.append("## Red flags")
        lines.extend(f"- {f}" for f in flags)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"PLANS.md: {len(rows)} queries, {len(flags)} red flags")
    for f in flags:
        print(f"  FLAG {f}")
    return 1 if flags else 0


if __name__ == "__main__":
    raise SystemExit(main())
