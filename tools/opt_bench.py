"""Optimization measurement harness (guide §1), r13/r14.

For each named query at $SPARK_GRAFT_SF_DIR (default sf0.1):
  - captures ``explain("formatted")`` to plans/$OPT_ROUND/<key>_<tag>.txt
    (default r14); an existing capture is never overwritten — the run
    exits non-zero naming it before any work,
  - times the computation with the noop sink (guide §1.4 — computes
    every column of every row, no sink cost, full plan in the SQL tab)
    AND with the bench's count() action (the driver-comparable number),
  - labels each job (guide §1.5) so the UI / event log is readable.

Usage:
  python tools/opt_bench.py before [key ...]     # tag=before
  python tools/opt_bench.py after  [key ...]     # tag=after
  OPT_REPS=3 python tools/opt_bench.py before

Prints one JSON line per query: {"key", "noop_s", "count_s", "tag"}
(median of reps after one untimed warm pass) plus a trailing summary.
NEVER run concurrently with another Spark session (bench hygiene).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_tutorial_broadcast_spark import load_all_queries  # noqa: E402
from flink_tutorial_broadcast_spark.session import (  # noqa: E402
    get_spark, release_cached_blocks,
)

# headline 15 + the most expensive full-coverage keys (BENCH_FULL_r12)
DEFAULT_KEYS = [
    "q_broadcast_rule_join", "q_join_inner", "q_star_join",
    "q_agg_basic", "q_window_tumbling", "q_rank", "q_dedup_exact",
    "q_knn_bruteforce", "q_knn_vectorized", "q_token_counts",
    "q_tfidf", "q_tpch_q3", "q_tpch_q1", "q_tpch_q9",
    "q_pipeline_e2e",
    "q_setsim_join", "q_knn_ivfpq", "q_dedup_substr",
    "q_market_basket", "q_rfm", "q_tpch_q10", "q_dedup_snm",
    "q_ngram_novelty", "q_knn_ivf", "q_dedup_near",
]

PLANS_DIR = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "plans",
    os.environ.get("OPT_ROUND", "r14"))


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    keys = sys.argv[2:] or DEFAULT_KEYS
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("OPT_REPS", "3"))
    os.makedirs(PLANS_DIR, exist_ok=True)
    taken = [path for path in (os.path.join(PLANS_DIR, f"{k}_{tag}.txt")
                               for k in keys) if os.path.exists(path)]
    if taken:
        # committed captures are evidence: a rerun needs a new OPT_ROUND
        sys.exit("opt_bench: refusing to overwrite existing plan "
                 f"capture(s) {', '.join(taken)} — set OPT_ROUND to a "
                 "new directory")

    queries = load_all_queries()
    spark = get_spark("opt-bench")
    spark.sparkContext.setLogLevel("ERROR")

    totals = {"noop": 0.0, "count": 0.0}
    for key in keys:
        if key not in queries:
            print(json.dumps({"key": key, "err": "unknown key"}))
            continue
        build = queries[key]

        # plan capture (pre-execution; AQE initial plan)
        df = build(spark, sf_dir)
        plan = spark._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(PLANS_DIR, f"{key}_{tag}.txt"), "w") as fh:
            fh.write(plan)

        release_cached_blocks(spark)
        spark.sparkContext.setJobDescription(f"{key} warm ({tag})")
        build(spark, sf_dir).count()

        row = {"key": key, "tag": tag}
        for mode in ("noop", "count"):
            times = []
            for i in range(reps):
                release_cached_blocks(spark)
                spark.sparkContext.setJobDescription(
                    f"{key} {mode} rep{i} ({tag})")
                t0 = time.time()
                q = build(spark, sf_dir)
                if mode == "noop":
                    q.write.format("noop").mode("overwrite").save()
                else:
                    q.count()
                times.append(time.time() - t0)
            times.sort()
            row[f"{mode}_s"] = round(times[len(times) // 2], 3)
            row[f"{mode}_min_s"] = round(times[0], 3)
            totals[mode] += times[len(times) // 2]
        spark.sparkContext.setJobDescription(None)
        print(json.dumps(row), flush=True)

    print(json.dumps({
        "tag": tag, "sf_dir": sf_dir, "reps": reps,
        "total_noop_s": round(totals["noop"], 3),
        "total_count_s": round(totals["count"], 3),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }))


if __name__ == "__main__":
    main()
