"""Driver-contract tests: entry smoke, registry shape, oracle alignment."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE


def test_entry_returns_rows(spark):
    import __spark_entry__ as e
    df = e.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {
        "event_type", "severity", "window_start", "n_matches",
        "sum_value", "n_users"}


def test_oracle_keys_subset_of_queries():
    import __spark_entry__ as e
    q, o = e.queries(), e.oracle_sql()
    assert set(o) <= set(q)
    # every oracle-less query is an intentional rows-only op
    rows_only = set(q) - set(o)
    # round 3 promoted q_knn_ivf (portable cosine folds) out of this
    # set; round 4 promoted q_media_features/q_media_resize (real PPM
    # decode with closed-form oracles); the remainder are inherently
    # engine-specific (sketch internals, xxhash64 fingerprints,
    # pyspark.ml interop)
    assert rows_only == {
        "q_approx_distinct", "q_dedup_minhash", "q_simhash",
        "q_dedup_embed_lsh",
        "q_dedup_minhash_ml", "q_dedup_embed_lsh_ml",
        "q_dedup_simhash", "q_approx_quantiles", "q_hll_sketch"}


def test_query_columns_match_oracle_columns(spark, queries, duck):
    """The driver sorts columns by name before hashing — a name mismatch
    fails every value comparison. Assert alignment for every oracle pair."""
    import __spark_entry__ as e
    for name, sql in e.oracle_sql().items():
        sdf = queries[name](spark, SF_SMOKE)
        ocols = [d[0] for d in duck.execute(sql).description]
        assert sorted(sdf.columns) == sorted(ocols), name


def test_all_queries_run_at_smoke_sf(spark, queries):
    for name, fn in queries.items():
        assert fn(spark, SF_SMOKE).count() >= 0, name


def test_verification_prefix_spans_every_family_with_oracles():
    """The driver oracle-checks the first 50 keys of queries() order; the
    curated prefix must stay oracle-backed, 50-deep, and representative
    of every operator module that has an oracle-checked key."""
    import re

    import __spark_entry__ as e
    from flink_tutorial_broadcast_spark.registry import (
        _QUERY_MODULES, _VERIFICATION_PREFIX, ORACLE,
    )
    q = e.queries()
    keys = list(q)
    assert len(_VERIFICATION_PREFIX) == 50
    assert keys[:50] == list(_VERIFICATION_PREFIX)
    # r13: the 8 never-sampled rows-only sketch/LSH keys take prefix
    # slots so the registry finishes — admitted exactly because each
    # carries an in-engine tolerance witness column (r12, e523ab4);
    # the driver's weaker rows-only row still sees the bound. Every
    # other prefix key must be oracle-backed.
    witnessed_rows_only = {
        "q_approx_quantiles", "q_dedup_minhash", "q_simhash",
        "q_dedup_simhash", "q_dedup_embed_lsh", "q_dedup_minhash_ml",
        "q_dedup_embed_lsh_ml", "q_hll_sketch",
    }
    assert all(k in ORACLE or k in witnessed_rows_only
               for k in _VERIFICATION_PREFIX)
    # module → keys map from source registration
    prefix = set(_VERIFICATION_PREFIX)
    missing = []
    for mod in _QUERY_MODULES:
        src = open(mod.replace(".", "/") + ".py").read()
        mod_keys = set(re.findall(r'@query\(\s*"([^"]+)"', src))
        if mod_keys & set(ORACLE) and not (mod_keys & prefix):
            missing.append(mod)
    # ml_ops' keys are all rows-only; every oracle-bearing module must
    # land at least one key in the driver-checked prefix
    assert missing == [], missing


def test_events_ts_unit_detection_tracks_file_rewrites(tmp_path):
    """Regenerated fixtures must not be served a stale ts unit: the
    footer-unit cache is keyed on (path, mtime, size), so overwriting
    events.parquet with a different timestamp unit re-detects."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_tutorial_broadcast_spark.io import _events_ts_is_nanos

    p = str(tmp_path / "events.parquet")

    def write(unit: str, n: int) -> None:
        t = pa.table({
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array([1_700_000_000_000_000] * n).cast(
                pa.timestamp(unit)),
        })
        pq.write_table(t, p)

    write("us", 4)
    assert _events_ts_is_nanos(p) is False
    time.sleep(0.01)
    write("ns", 5)  # different unit AND size; mtime also advances
    assert _events_ts_is_nanos(p) is True
    # unchanged file keeps hitting the cache (same answer, no re-read)
    assert _events_ts_is_nanos(p) is True
    os.remove(p)


def test_events_ts_unit_detection_handles_directory_tables(tmp_path):
    """r13: multi-file table layouts (e.g. the locally generated sf1 —
    tools/scale_gen.py writes part-file directories) must pass the
    events ts-unit sniff: the first part-file's footer speaks for the
    table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_tutorial_broadcast_spark.io import _events_ts_is_nanos

    d = tmp_path / "events.parquet"
    d.mkdir()
    t = pa.table({
        "event_id": pa.array(range(3), pa.int64()),
        "ts": pa.array([1_700_000_000_000_000] * 3).cast(
            pa.timestamp("us")),
    })
    pq.write_table(t, str(d / "part-000.parquet"))
    pq.write_table(t, str(d / "part-001.parquet"))
    assert _events_ts_is_nanos(str(d)) is False


def test_scale_gen_copies_are_fk_consistent(tmp_path):
    """r13 scaling fixture invariants on a 2-copy mini run: every
    shifted foreign key still resolves (orders→customer,
    lineitem→orders), and spliced documents are NOT verbatim clones
    of their originals (the near-dup-flood guard)."""
    import os
    import subprocess
    import sys as _sys

    import duckdb

    out = str(tmp_path / "sfX")
    env = dict(os.environ)
    # run the generator with COPIES=2 via a tiny driver (module-level
    # constant; import and override rather than fork the logic)
    code = (
        "import sys; sys.path.insert(0, '/root/repo'); "
        "import tools.scale_gen as g; g.COPIES = 2; "
        f"sys.argv = ['scale_gen', {out!r}]; g.main()")
    subprocess.run([_sys.executable, "-c", code], check=True,
                   env=env, capture_output=True)
    con = duckdb.connect()
    bad_o = con.execute(
        f"SELECT COUNT(*) FROM '{out}/orders.parquet/*.parquet' o "
        f"LEFT JOIN '{out}/customer.parquet/*.parquet' c "
        "ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL"
    ).fetchone()[0]
    bad_l = con.execute(
        f"SELECT COUNT(*) FROM '{out}/lineitem.parquet/*.parquet' l "
        f"LEFT JOIN '{out}/orders.parquet/*.parquet' o "
        "ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL"
    ).fetchone()[0]
    assert (bad_o, bad_l) == (0, 0)
    # copy-1 documents are spliced, never verbatim copies
    dup = con.execute(
        f"SELECT COUNT(*) FROM '{out}/documents.parquet/*.parquet' a "
        f"JOIN '{out}/documents.parquet/*.parquet' b "
        "ON b.doc_id = a.doc_id + 1000000 AND b.text = a.text"
    ).fetchone()[0]
    assert dup == 0


def test_unpartitioned_window_detector():
    """The audit's scale-killer detector must separate the three Window
    print shapes: unpartitioned-ordered (flag), partitioned-ordered
    (ok), partitioned-unordered (ok), global-frame (flag)."""
    from flink_tutorial_broadcast_spark.plans.audit import (
        unpartitioned_windows,
    )
    flag_up = "   +- Window [row_number() windowspecdefinition(...)]," \
        " [id#0L ASC NULLS FIRST]"
    ok_part = "   +- Window [row_number() windowspecdefinition(...)]," \
        " [g#1L], [id#0L ASC NULLS FIRST]"
    ok_noord = "   +- Window [sum(x#2) windowspecdefinition(...)], [g#1L]"
    flag_glob = "   Window [count(1) windowspecdefinition(...)]"
    assert unpartitioned_windows(flag_up)
    assert unpartitioned_windows(flag_glob)
    assert not unpartitioned_windows(ok_part)
    assert not unpartitioned_windows(ok_noord)
    assert not unpartitioned_windows("WindowGroupLimit [a], [b ASC]")


def test_plan_operators_reads_node_names():
    """The no-codegen exemption keys on plan_operators(): a plan of only
    LocalTableScan/Project is inline data; a LocalTableScan under any
    other operator must still show up as that operator."""
    from flink_tutorial_broadcast_spark.plans.audit import plan_operators
    assert plan_operators(
        "Project [a#0]\n+- LocalTableScan [a#0, b#1]") \
        == {"Project", "LocalTableScan"}
    assert plan_operators(
        "AdaptiveSparkPlan isFinalPlan=true\n"
        "+- == Final Plan ==\n"
        "   *(2) HashAggregate(keys=[a#0], functions=[])\n"
        "   :  +- *(1) Filter (a#0 > 1)\n"
        "   +- Generate explode(xs#1), [a#0], false, [x#2]\n"
        "      +- LocalTableScan [a#0, xs#1]") \
        == {"AdaptiveSparkPlan", "HashAggregate", "Filter", "Generate",
            "LocalTableScan"}


def test_global_order_family_has_no_unpartitioned_window(spark, queries):
    """The two-phase rewrites (VERDICT r2 items 3/4/6 + ADVICE vocab
    top-k) must keep their scale-safe plans: no unpartitioned ordered
    WindowExec may reappear in any of them."""
    from flink_tutorial_broadcast_spark.plans.audit import (
        physical_plan, unpartitioned_windows,
    )
    for name in ["q_gini", "q_rfm", "q_pareto_abc",
                 "q_histogram_equidepth", "q_vocab_coverage",
                 "q_epoch_shuffle", "q_dedup_snm"]:
        plan = physical_plan(queries[name](spark, SF_SMOKE))
        assert not unpartitioned_windows(plan), name


def test_headline_plan_snapshots(spark, queries):
    """Plan-feature snapshots for the benchmarked set (VERDICT r3 item 4:
    the q_broadcast_rule_join BENCH drift had no plan change — pin that
    so a future drift CAN be attributed). Assertions are scale-robust
    features (hint-forced broadcasts, agg partial modes, Arrow-vs-row
    Python), not full plan text, so AQE remains free to adapt."""
    import re

    from flink_tutorial_broadcast_spark.plans.audit import physical_plan
    # name -> (min BroadcastHashJoin, max SortMergeJoin,
    #          needs partial_ agg, forbidden substrings)
    SNAP = {
        "q_broadcast_rule_join": (1, 0, True, ["BatchEvalPython"]),
        "q_tpch_q9": (1, 0, True, ["BatchEvalPython"]),
        "q_tfidf": (1, 0, True, ["BatchEvalPython"]),
        "q_agg_basic": (0, 0, True, ["BatchEvalPython"]),
        "q_tpch_q1": (0, 0, True, ["BatchEvalPython"]),
        "q_dedup_exact": (0, 0, True, ["BatchEvalPython"]),
        "q_token_counts": (0, 0, True, ["BatchEvalPython"]),
        "q_pipeline_e2e": (0, 0, True, ["BatchEvalPython"]),
        "q_knn_vectorized": (0, 0, False, ["BatchEvalPython"]),
    }
    for name, (min_bhj, max_smj, needs_partial, forbidden) in SNAP.items():
        plan = physical_plan(queries[name](spark, SF_SMOKE))
        assert plan.count("BroadcastHashJoin") >= min_bhj, name
        assert plan.count("SortMergeJoin") <= max_smj, name
        if needs_partial:
            assert re.search(r"partial_", plan), name
        for bad in forbidden:
            assert bad not in plan, f"{name}: {bad}"
    # the vectorized kNN must stay Arrow-batched Python
    plan = physical_plan(queries["q_knn_vectorized"](spark, SF_SMOKE))
    assert "MapInPandas" in plan


def test_headline_plans_stay_audit_clean(spark, queries):
    """Plan-shape regression guard for the benchmarked set: no stray
    cartesian products, no row-Python, pushdown intact — the same rules
    plans/audit.py enforces repo-wide, pinned in CI for the queries
    whose latency the driver records every round."""
    from bench import HEADLINE
    from flink_tutorial_broadcast_spark.plans.audit import audit_one
    problems = {}
    for name in HEADLINE:
        issues = audit_one(name, queries[name](spark, SF_SMOKE))
        if issues:
            problems[name] = issues
    assert problems == {}
