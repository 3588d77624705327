"""Per-key event-log attribution on a real session: every job of a key
run lies inside the key's span, and the remainder of the span is the
driver gap. Jobs of a warm-up run are not billed to the next key."""

import os
import time

import pytest

pytest.importorskip("pyspark")


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    from flink_tutorial_broadcast_spark import load_all_queries
    from flink_tutorial_broadcast_spark.io import DEFAULT_SF_DIR
    from perfbench.workloads import Run, set_group, start_session, stop_session

    sf = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")
    if not os.path.exists(os.path.join(sf, "lineitem.parquet")):
        pytest.skip(f"fixture {sf} not present")
    work = tmp_path_factory.mktemp("run")
    run = Run("headline_sf0.1", 0, 0, True, sf, 2, str(work),
              str(work / "inputs"))
    queries = load_all_queries()
    spark = start_session(run)
    spans = {}
    try:
        set_group(spark, "warm")
        queries["q_agg_basic"](spark, sf).count()
        for name in ("q_agg_basic", "q_tpch_q1"):
            set_group(spark, name)
            t0 = time.time()
            queries[name](spark, sf).count()
            spans[name] = (1e3 * t0, 1e3 * time.time())
            set_group(spark, None)
    finally:
        log = stop_session(spark, run)
    return log, spans


def test_key_jobs_reconcile_with_the_key_span(traced):
    from perfbench.eventlog import group_summary
    from perfbench.workloads import reconcile

    log, spans = traced
    for name, span in spans.items():
        rec = group_summary(log, name)
        assert rec["jobs"] >= 1 and rec["stages"] >= 1
        gap = reconcile(span, rec["job_intervals_ms"])
        assert 0 <= gap <= span[1] - span[0]
        assert gap + rec["wall_ms"] == pytest.approx(span[1] - span[0],
                                                     abs=1e-6)


def test_warm_jobs_are_not_billed_to_a_key(traced):
    from perfbench.eventlog import group_summary

    log, spans = traced
    warm = group_summary(log, "warm")
    assert warm["jobs"] >= 1
    first = min(s for s, _ in spans.values())
    assert all(end <= first for _, end in warm["job_intervals_ms"])
