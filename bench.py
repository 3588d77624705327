"""Per-round benchmark: run headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Protocol (BASELINE.md): warm SparkSession, each query materialized via
count-collect; value = total wall-clock across headline queries (median of
R runs per query, R=1 by default for driver speed; set BENCH_REPS).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_tutorial_broadcast_spark import load_all_queries  # noqa: E402
from flink_tutorial_broadcast_spark.session import (  # noqa: E402
    get_spark, release_cached_blocks,
)

# Headline set: the flagship + the most load-bearing operator families.
HEADLINE = [
    "q_broadcast_rule_join",
    "q_join_inner",
    "q_star_join",
    "q_agg_basic",
    "q_window_tumbling",
    "q_rank",
    "q_dedup_exact",
    "q_knn_bruteforce",
    "q_knn_vectorized",
    "q_token_counts",
    "q_tfidf",
    "q_tpch_q3",
    "q_tpch_q1",
    "q_tpch_q9",
    "q_pipeline_e2e",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("BENCH_REPS", "3"))
    queries = load_all_queries()
    names = [n for n in HEADLINE if n in queries]
    # Noise provenance (VERDICT r4 task 4): two consecutive driver-bench
    # rises were adjudicated "environment, not plans" only by forensic
    # re-measurement. Record host load at start AND end so a third rise is
    # attributable (or not) from the artifact alone.
    load_start = os.getloadavg()
    # Quiesce protocol (VERDICT r5 task 8): cross-round comparisons are
    # apples-to-apples only on a quiet host. The artifact always carries
    # a quiesce VERDICT (quiet/loaded vs the 1-min loadavg threshold);
    # with --quiesce the run additionally waits up to BENCH_QUIESCE_WAIT
    # seconds for the host to fall below the threshold and REFUSES (exit
    # 3, a one-line refusal artifact) if it never does — so a "quiet"
    # label can be trusted by construction, and a loaded-host number can
    # never silently enter a round-over-round comparison.
    threshold = float(os.environ.get("BENCH_QUIESCE_LOADAVG", "4.0"))
    if "--quiesce" in sys.argv[1:]:
        deadline = time.time() + float(
            os.environ.get("BENCH_QUIESCE_WAIT", "120"))
        while load_start[0] > threshold and time.time() < deadline:
            time.sleep(5)
            load_start = os.getloadavg()
        if load_start[0] > threshold:
            print(json.dumps({
                "metric": "headline_queries_total_wall_clock",
                "value": None, "unit": "sec", "queries": {}, "sf": None,
                "quiesce": "refused",
                "loadavg_start": [round(x, 2) for x in load_start],
                "quiesce_threshold_1min": threshold,
            }))
            sys.exit(3)
    quiesce = "quiet" if load_start[0] <= threshold else "loaded"
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm pass: JVM JIT, codegen cache, parquet footers (BASELINE.md
    # protocol — measure warm and amortized; cold startup is session-scoped
    # overhead, not per-query cost, and amortizes away at real scale)
    for name in names:
        queries[name](spark, sf_dir).count()

    per_query: dict[str, float] = {}
    per_query_min: dict[str, float] = {}
    for name in names:
        # drop the previous query's localCheckpoint/cache blocks outside
        # the timed region (each rep rebuilds its own checkpoints; the
        # cost of doing so is already inside every rep's wall-clock)
        release_cached_blocks(spark)
        times = []
        for _ in range(reps):
            t0 = time.time()
            queries[name](spark, sf_dir).count()
            times.append(time.time() - t0)
        times.sort()
        per_query[name] = round(times[len(times) // 2], 3)
        per_query_min[name] = round(times[0], 3)

    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)
    load_end = os.getloadavg()
    print(json.dumps({
        "metric": "headline_queries_total_wall_clock",
        "value": round(sum(per_query.values()), 3),
        "unit": "sec",
        "queries": per_query,
        "sf": sf,
        # provenance fields — identify a noisy host from the artifact:
        # loadavg_start is pre-JVM (ambient competition), loadavg_end
        # includes this bench's own 32 local threads (expected high)
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in load_end],
        "cpus": spark.sparkContext.defaultParallelism,  # local[N]
        "reps_per_query": reps,
        "warmup": "one untimed pass per query (warm protocol)",
        "quiesce": quiesce,
        "quiesce_threshold_1min": threshold,
        # informational noise-floor estimate — NOT the headline metric
        # (which stays median-of-reps for cross-round comparability):
        # on a host with co-tenant bursts invisible to the 1-min
        # loadavg gate, min-of-reps bounds what the code alone costs
        "value_min": round(sum(per_query_min.values()), 3),
    }))


if __name__ == "__main__":
    main()
