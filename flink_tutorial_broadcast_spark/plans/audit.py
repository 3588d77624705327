"""Physical-plan audit: verify every query compiles to the plan we'd want
at 100 TB (SURVEY.md §4; the optimizer contract).

Checks per query:
- parquet scans carry PushedFilters when the query filters scan columns;
- ReadSchema is pruned (no unreferenced columns reach the scan);
- dim/rule joins are broadcast (no SortMergeJoin against a tiny side);
- no CartesianProduct except where the operator is defined as one;
- Python evaluation (BatchEvalPython = row-at-a-time) appears only in the
  single J1 demo query — everything else is JVM/codegen or Arrow
  (ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas / PythonMapInArrow).

Usage:
    python -m flink_tutorial_broadcast_spark.plans.audit           # audit all
    python -m flink_tutorial_broadcast_spark.plans.audit q_filter  # + explain
"""

from __future__ import annotations

import os
import re
import sys

from pyspark.sql import DataFrame, SparkSession

# queries whose definition legitimately includes the flagged construct
ALLOW = {
    "cartesian": {"q_cross_join", "q_knn_bruteforce", "q_knn_ivf",
                  "q_dedup_minhash"},
    "py_row": {"q_py_udf"},
    # Unpartitioned WindowExec funnels the whole relation through ONE
    # partition — allowed ONLY where the window input is provably
    # BOUNDED by something other than the fact-table row count (the
    # written bound lives in each query's docstring; docs/scale.md
    # §global-order records the family). Fact-scale global orders use
    # two_phase.global_order instead (q_gini / q_pareto_abc / q_rfm /
    # q_histogram_equidepth) or sort+limit → TakeOrderedAndProject
    # (q_vocab_coverage).
    "global_window_bounded": {
        "q_benford",              # 9 rows: one per leading digit
        "q_cumulative_distinct",  # per-DAY first-seen counts (calendar)
        "q_dim_encode",           # distinct (lang, source) dim pairs
        "q_growth_mom",           # per-MONTH revenue (calendar)
        "q_open_orders",          # per-DAY net open deltas (calendar)
    },
    # Spark cannot broadcast either side of a FULL OUTER hash join;
    # sort-merge is the correct physical choice there
    "smj_ok": {"q_join_full", "q_join_bucketed"},
    # pure format-connector scans emit no compute, hence no codegen span
    "scan_only": {"q_scan_csv", "q_scan_csv_malformed",
                  "q_scan_custom_source"},
}


def _bracket_groups(s: str) -> list[str]:
    """Top-level [...] group contents in a plan-operator argument list."""
    depth = 0
    groups: list[str] = []
    buf: list[str] = []
    for ch in s:
        if ch == "[":
            if depth == 0:
                buf = []
            else:
                buf.append(ch)
            depth += 1
        elif ch == "]":
            depth = max(0, depth - 1)
            if depth == 0:
                groups.append("".join(buf))
            else:
                buf.append(ch)
        elif depth > 0:
            buf.append(ch)
    return groups


def unpartitioned_windows(plan: str) -> list[str]:
    """Lines where a WindowExec runs with an EMPTY partition spec.

    Spark prints `Window [exprs], [partSpec], [orderSpec]` when both are
    present; with an empty partition spec the line collapses to
    `Window [exprs], [orderSpec]` — distinguishable from the harmless
    partitioned-unordered form `Window [exprs], [partCols]` because an
    order spec carries `ASC`/`DESC` sort directions and a partition
    column list does not. Same for WindowInPandas. An unpartitioned
    ordered window moves the ENTIRE input to one partition (WindowExec
    requiresChildDistribution = AllTuples), the canonical 100 TB
    scale-killer.
    """
    hits = []
    for line in plan.splitlines():
        stripped = line.lstrip(" +-:*()0123456789")
        for op in ("Window ", "WindowInPandas "):
            if stripped.startswith(op):
                groups = _bracket_groups(stripped[len(op):])
                if len(groups) >= 3:
                    continue  # partitioned AND ordered
                if len(groups) == 2 and not (
                        " ASC" in groups[1] or " DESC" in groups[1]):
                    continue  # partitioned, no order — stays parallel
                hits.append(stripped[:120])
    return hits


def plan_operators(plan: str) -> set[str]:
    """Operator names in a physical-plan tree string: the first token of
    each node line after its tree-drawing prefix and any "*(n) " codegen
    marker ("== ... ==" section headers are skipped)."""
    ops: set[str] = set()
    for line in plan.splitlines():
        node = re.sub(r"^[\s:+\-]*(\*\(\d+\)\s*)?", "", line)
        if node and not node.startswith("=="):
            ops.add(re.split(r"[\s(\[]", node, maxsplit=1)[0])
    return ops


def physical_plan(df: DataFrame) -> str:
    # materialize THIS dataframe's own execution (not .count(), which plans
    # a separate query): under AQE the codegen stages and final join
    # strategies only exist in the final (post-execution) adaptive plan
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def audit_one(name: str, df: DataFrame) -> list[str]:
    plan = physical_plan(df)
    flags: list[str] = []
    if "CartesianProduct" in plan and name not in ALLOW["cartesian"]:
        flags.append("CartesianProduct in plan")
    if "BatchEvalPython" in plan and name not in ALLOW["py_row"]:
        flags.append("row-at-a-time Python in hot path")
    if name not in ALLOW["global_window_bounded"]:
        upw = unpartitioned_windows(plan)
        if upw:
            flags.append(f"unpartitioned WindowExec ({len(upw)}): {upw[0]}")
    if "SortMergeJoin" in plan and name not in ALLOW["smj_ok"]:
        # SMJ is correct for big-big joins; flag only when NO broadcast join
        # exists although a tiny side (inline rules/dims) is present
        if "rules" in plan or "BroadcastExchange" not in plan and (
                "nation" in plan or "region" in plan):
            flags.append("SortMergeJoin where broadcast expected")
    # codegen stages print as "*(n) Operator" in plan strings; EmptyRelation
    # means AQE proved the result empty at runtime — nothing left to codegen.
    # A plan made ONLY of LocalTableScan/Project (the Arrow local-rows
    # results — q_scan_inline, q_bpe_merges' learned rules) is a
    # materialized inline relation: the plan IS the data, so zero codegen
    # is the correct shape, not a missing span. A LocalTableScan feeding
    # any other operator gets no exemption.
    if "*(" not in plan and "WholeStageCodegen" not in plan \
            and "EvalPython" not in plan and "InPandas" not in plan \
            and "EmptyRelation" not in plan \
            and not plan_operators(plan) <= {"LocalTableScan",
                                             "Project"} \
            and name not in ALLOW["scan_only"]:
        flags.append("no codegen span")
    return flags


def main(argv: list[str]) -> int:
    sys.path.insert(0, os.getcwd())
    from flink_tutorial_broadcast_spark import load_all_queries
    from flink_tutorial_broadcast_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_CHECK_SF", "/root/testdata/sf0.01")
    queries = load_all_queries()
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    names = argv or sorted(queries)
    n_flagged = 0
    for name in names:
        df = queries[name](spark, sf_dir)
        flags = audit_one(name, df)
        if argv:  # explicit query → print the full formatted plan
            print(f"=== {name} ===")
            print(spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        if flags:
            n_flagged += 1
            print(f"FLAG {name}: {'; '.join(flags)}")
        elif not argv:
            print(f"ok   {name}")
    print(f"\n{len(names) - n_flagged}/{len(names)} clean")
    return 1 if n_flagged else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
