"""The Flink-DataStream facade must produce the SAME results (and the
same plan family) as the oracle-backed operator keys — the program-shape
migration contract for reference users."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_tutorial_broadcast_spark.datastream import (
    StreamExecutionEnvironment,
)
from flink_tutorial_broadcast_spark.io import load
from flink_tutorial_broadcast_spark.sources.rules import rules_df
from tests.conftest import SF_SMOKE


def test_facade_reproduces_the_flagship_broadcast_rule_join(spark, queries):
    """The reference's canonical program — events connected to a
    broadcast rule stream, keyed, windowed, aggregated — written in the
    facade's fluent style, must equal q_broadcast_rule_join exactly."""
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    out = (
        env.from_dataframe(load(spark, SF_SMOKE, "events"))
        .connect_broadcast(
            rules_df(spark),
            on="event_type = rule_event_type AND value > threshold")
        .key_by("event_type", "severity")
        .window_tumbling("ts", "hour")
        .aggregate(n_matches="count(*)",
                   sum_value="round(sum(value), 2)",
                   n_users="count(distinct user_id)")
        .to_df()
    )
    want = {tuple(r[k] for k in ("event_type", "severity", "window_start"))
            : (r["n_matches"], r["sum_value"], r["n_users"])
            for r in queries["q_broadcast_rule_join"](
                spark, SF_SMOKE).collect()}
    got = {tuple(r[k] for k in ("event_type", "severity", "window_start"))
           : (r["n_matches"], r["sum_value"], r["n_users"])
           for r in out.collect()}
    assert got == want
    # and it is the SAME physical strategy: broadcast join, fact side
    # never shuffles before the join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_facade_map_filter_flatmap_expression_path(spark, queries):
    """Expression-style map/filter/flat_map stay JVM-side and match the
    operator keys built directly on DataFrames."""
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    toks = (
        env.from_dataframe(load(spark, SF_SMOKE, "documents"))
        .filter("lang = 'en'")
        .flat_map("token", "split(text, ' ')")
        .key_by("token")
        .count()
        .to_df()
    )
    want = {r["token"]: r["n"] for r in
            (load(spark, SF_SMOKE, "documents")
             .filter(F.col("lang") == "en")
             .select(F.explode(F.split("text", " ")).alias("token"))
             .groupBy("token").agg(F.count("*").alias("n"))).collect()}
    got = {r["token"]: r["n"] for r in toks.collect()}
    assert got == want
    plan = toks._jdf.queryExecution().executedPlan().toString()
    assert "mapInPandas" not in plan.lower()  # pure JVM path


def test_facade_python_lambda_slow_path_works_and_is_arrow_batched(spark):
    """Callable map/filter (the ported-Flink-lambda look) must be
    correct through mapInPandas."""
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    out = (
        env.from_collection([(1, 10.0), (2, 25.0), (3, 40.0)],
                            "id long, value double")
        .filter(lambda r: r["value"] > 15)
        .map(lambda r: {"id": r["id"], "doubled": r["value"] * 2},
             output_schema="id long, doubled double")
        .to_df()
    )
    assert {(r.id, r.doubled) for r in out.collect()} \
        == {(2, 50.0), (3, 80.0)}


def test_facade_runs_unchanged_on_a_streaming_source(spark):
    """The same fluent program body works when the underlying DataFrame
    is a STREAM — the declarative-plan premise: facade code written for
    batch runs on readStream with only source/sink swapped."""
    import tempfile
    import uuid

    from flink_tutorial_broadcast_spark.sources import eventlog

    root = tempfile.mkdtemp(prefix="ds_facade_src_")
    rows = [(i, i % 4, "view" if i % 3 else "purchase", float(i))
            for i in range(90)]
    eventlog.log_write(root, rows, n_partitions=2)
    eventlog.register(spark)

    def program(stream: "DataStream"):
        return (stream
                .filter("event_type = 'purchase'")
                .key_by("user_id")
                .aggregate(n="count(*)", total="round(sum(value), 2)"))

    from flink_tutorial_broadcast_spark.datastream import (
        StreamExecutionEnvironment,
    )
    env = StreamExecutionEnvironment.get_execution_environment(spark)

    # batch run of the identical program body
    batch_src = env.from_dataframe(
        spark.read.format("ftbs_eventlog").option("path", root).load())
    want = {(r.user_id): (r.n, r.total)
            for r in program(batch_src).to_df().collect()}

    # streaming run: same body, streaming source, complete-mode sink
    name = f"ds_facade_{uuid.uuid4().hex[:8]}"
    stream_src = env.from_dataframe(
        spark.readStream.format("ftbs_eventlog").option("path", root).load())
    q = (program(stream_src).to_df()
         .writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.user_id): (r.n, r.total)
           for r in spark.table(name).collect()}
    assert got == want and got


def test_facade_keyed_process_function_per_key_fold(spark):
    """KeyedProcessFunction analogue: an order-dependent per-key fold
    (running max drawdown of value in event_id order) via process(),
    checked against an independent Python fold over the same fixture."""
    from flink_tutorial_broadcast_spark.datastream import (
        StreamExecutionEnvironment,
    )
    from flink_tutorial_broadcast_spark.io import load

    def drawdown(key, pdf):
        import pandas as pd
        pdf = pdf.sort_values("event_id")
        peak = pdf["value"].cummax()
        return pd.DataFrame({
            "user_id": [int(key[0])],
            "max_drawdown": [float((peak - pdf["value"]).max())],
        })

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    got = {r.user_id: r.max_drawdown for r in (
        env.from_dataframe(load(spark, SF_SMOKE, "events"))
        .key_by("user_id")
        .process(drawdown, "user_id long, max_drawdown double")
        .to_df().collect())}

    rows = (load(spark, SF_SMOKE, "events")
            .select("user_id", "event_id", "value").collect())
    per_key = {}
    for r in sorted(rows, key=lambda r: (r.user_id, r.event_id)):
        peak, dd = per_key.get(r.user_id, (float("-inf"), 0.0))
        peak = max(peak, r.value)
        per_key[r.user_id] = (peak, max(dd, peak - r.value))
    want = {u: dd for u, (_, dd) in per_key.items()}
    assert set(got) == set(want)
    for u in want:
        assert abs(got[u] - want[u]) < 1e-9, u


def test_facade_sliding_window_matches_registered_key(spark, queries):
    """window_sliding on an unkeyed stream must equal q_window_sliding
    (E2) exactly — the fluent verb produces the same F.window plan."""
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    out = (
        env.from_dataframe(load(spark, SF_SMOKE, "events"))
        .key_by()
        .window_sliding("ts", "1 hour", "15 minutes")
        .aggregate(n_events="count(*)",
                   sum_value="round(sum(value), 2)")
        .to_df()
    )
    want = {r["window_start"]: (r["n_events"], r["sum_value"])
            for r in queries["q_window_sliding"](spark, SF_SMOKE).collect()}
    got = {r["window_start"]: (r["n_events"], r["sum_value"])
           for r in out.collect()}
    assert got == want and got


def test_facade_session_window_matches_registered_key(spark, queries):
    """window_session must equal q_window_session (E3): same
    session_window merge semantics, keyed by user."""
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    out = (
        env.from_dataframe(load(spark, SF_SMOKE, "events"))
        .key_by("user_id")
        .window_session("ts", "30 minutes")
        .aggregate(n_events="count(*)",
                   sum_value="round(sum(value), 2)")
        .to_df()
    )
    want = {(r["user_id"], r["session_start"]): (r["n_events"],
                                                 r["sum_value"])
            for r in queries["q_window_session"](spark, SF_SMOKE).collect()}
    got = {(r["user_id"], r["session_start"]): (r["n_events"],
                                                r["sum_value"])
           for r in out.collect()}
    assert got == want and got


def test_facade_count_window_matches_registered_key(spark, queries):
    """count_window(50) must equal q_window_count (E4) — per-key buckets
    of 50 in (ts, event_id) order, via a KEY-partitioned row_number."""
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    out = (
        env.from_dataframe(load(spark, SF_SMOKE, "events"))
        .key_by("user_id")
        .count_window(50)
        .aggregate(n_events="count(*)",
                   sum_value="round(sum(value), 2)")
        .to_df()
    )
    want = {(r["user_id"], r["bucket"]): (r["n_events"], r["sum_value"])
            for r in queries["q_window_count"](spark, SF_SMOKE).collect()}
    got = {(r["user_id"], r["bucket"]): (r["n_events"], r["sum_value"])
           for r in out.collect()}
    assert got == want and got


def test_facade_side_outputs_partition_the_input(spark):
    """split() = OutputTag routing: the main and side outputs must
    PARTITION the input exactly (no loss, no duplication), each side
    honoring its predicate, first-match-wins on overlap."""
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    ev = load(spark, SF_SMOKE, "events")
    routed = (env.from_dataframe(ev)
              .split({"hot": "value > 90",
                      "purchases": "event_type = 'purchase'"}))
    hot = routed.get_side_output("hot").to_df()
    pur = routed.get_side_output("purchases").to_df()
    main = routed.main().to_df()
    n_all = ev.count()
    assert hot.count() + pur.count() + main.count() == n_all
    assert hot.filter("value <= 90").count() == 0
    # first-match-wins: hot purchases landed in "hot", not "purchases"
    assert pur.filter("value > 90").count() == 0
    assert main.filter("value > 90 OR event_type = 'purchase'").count() == 0
    assert hot.columns == ev.columns  # tag column does not leak


def test_facade_coprocess_connect_two_keyed_inputs(spark):
    """connect().key_by().process() — the CoProcessFunction analogue:
    per-user event rows meet per-user threshold rows inside one cogroup
    call; result must equal the equivalent join + aggregate."""
    import pandas as pd

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    ev = load(spark, SF_SMOKE, "events")
    thresholds = ev.groupBy("user_id").agg(
        F.expr("percentile(value, 0.9)").alias("cut"))

    def co(key, events_pdf, cuts_pdf):
        if cuts_pdf.empty:
            return pd.DataFrame(
                {"user_id": [], "n_above": []}).astype(
                    {"user_id": "int64", "n_above": "int64"})
        cut = float(cuts_pdf["cut"].iloc[0])
        return pd.DataFrame({
            "user_id": [int(key[0])],
            "n_above": [int((events_pdf["value"] > cut).sum())],
        })

    got = {r.user_id: r.n_above for r in (
        env.from_dataframe(ev).connect(env.from_dataframe(thresholds))
        .key_by("user_id", "user_id")
        .process(co, "user_id long, n_above long")
        .to_df().collect())}
    want = {r.user_id: r.n_above for r in (
        ev.join(thresholds, "user_id")
        .filter(F.col("value") > F.col("cut"))
        .groupBy("user_id").agg(F.count("*").alias("n_above"))).collect()}
    assert {u: n for u, n in got.items() if n > 0} == want and got


def test_facade_iterate_converges_min_label_propagation(spark):
    """iterate() — DataStream.iterate as a lineage-checkpointed driver
    loop: min-label propagation over a 2-component graph reaches the
    known fixpoint."""
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12)], "src int, dst int")
    both = edges.union(edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")))
    labels = both.select(F.col("src").alias("node")).distinct() \
        .withColumn("label", F.col("node"))

    def step(lbl):
        prop = (both.join(lbl, both.src == lbl.node)
                .select(F.col("dst").alias("node"),
                        F.col("label")))
        return (lbl.select("node", "label").union(prop)
                .groupBy("node").agg(F.min("label").alias("label")))

    out = env.from_dataframe(labels).iterate(step, n_rounds=4).to_df()
    got = {r.node: r.label for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_facade_process_stateful_tws_value_state(spark):
    """process_stateful on a BATCH input: a ValueState running count per
    user through the real transformWithStateInPandas (RocksDB +
    protoshim), replayed as one bounded micro-batch — converged
    emissions must equal the batch groupBy."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle,
    )

    class Counter(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._n = handle.getValueState("n", "n long")

        def handleInputRows(self, key, rows, timerValues):
            n = self._n.get()[0] if self._n.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._n.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

        def close(self) -> None:
            pass

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    got = {r.user_id: r.n_events for r in (
        env.from_dataframe(
            load(spark, SF_SMOKE, "events").select("user_id", "value"))
        .key_by("user_id")
        .process_stateful(Counter(), "user_id long, n_events long")
        .to_df().groupBy("user_id")
        .agg(F.max("n_events").alias("n_events")).collect())}
    want = {r.user_id: r.n for r in
            load(spark, SF_SMOKE, "events").groupBy("user_id")
            .agg(F.count("*").alias("n")).collect()}
    assert got == want


def _canonical_match_counter():
    """The canonical program's keyed-state step: per-user running match
    count in ValueState, plus a per-key timer WIRE ROUND-TRIP
    (register → listTimers → deleteTimer — the proven surface pattern;
    a timer left PENDING makes availableNow spin empty micro-batches
    until it fires, and actual FIRING is pinned by
    test_tws_event_time_timers_fire_exactly)."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle,
    )

    class MatchCounter(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._h = handle
            self._n = handle.getValueState("n", "n long")

        def handleInputRows(self, key, rows, timerValues):
            n = self._n.get()[0] if self._n.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._n.update((n,))
            far = timerValues.getCurrentProcessingTimeInMs() + 3_600_000
            self._h.registerTimer(far)
            n_timers = sum(1 for _ in self._h.listTimers())
            self._h.deleteTimer(far)
            yield pd.DataFrame({"user_id": [key[0]], "n_matches": [n],
                                "n_timers": [n_timers]})

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            import pandas as pd
            yield pd.DataFrame({"user_id": [], "n_matches": [],
                                "n_timers": []})

        def close(self) -> None:
            pass

    return MatchCounter()


def _canonical_program(events, rules):
    """SURVEY §0's canonical tutorial program, entirely in facade verbs:
    events → side-output error channel → broadcast rule match → (a) the
    flagship windowed aggregate, (b) per-user keyed state with timers."""
    routed = events.split({"errors": "value < 1"})
    matches = routed.main().connect_broadcast(
        rules, on="event_type = rule_event_type AND value > threshold")
    # NB: no count(distinct) here — the body must run UNCHANGED on a
    # streaming source, where Spark rejects distinct aggregates (use
    # approx_count_distinct in production); parity against the
    # registered key compares the two exact columns
    flagship = (matches
                .key_by("event_type", "severity")
                .window_tumbling("ts", "hour")
                .aggregate(n_matches="count(*)",
                           sum_value="round(sum(value), 2)"))
    return routed.get_side_output("errors"), matches, flagship


def test_facade_canonical_program_batch(spark, queries):
    """The canonical program on a BATCH source: the flagship branch must
    equal q_broadcast_rule_join restricted to the non-error rows, the
    error side must be exactly the value<1 rows, and the keyed-state
    branch (real TWS + timer registration) must equal the batch per-user
    match counts."""
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    ev = load(spark, SF_SMOKE, "events")
    errors, matches, flagship = _canonical_program(
        env.from_dataframe(ev), rules_df(spark))

    assert errors.to_df().count() == ev.filter("value < 1").count()

    # value<1 rows can never match (all thresholds >= 1), so the
    # flagship branch equals the registered key on the FULL input
    want = {(r["event_type"], r["severity"], r["window_start"]):
            (r["n_matches"], r["sum_value"])
            for r in queries["q_broadcast_rule_join"](
                spark, SF_SMOKE).collect()}
    got = {(r["event_type"], r["severity"], r["window_start"]):
           (r["n_matches"], r["sum_value"])
           for r in flagship.to_df().collect()}
    assert got == want

    counts = (matches.key_by("user_id")
              .process_stateful(
                  _canonical_match_counter(),
                  "user_id long, n_matches long, n_timers long",
                  time_mode="ProcessingTime")
              .to_df())
    got_n = {r.user_id: r.n_matches for r in
             counts.groupBy("user_id")
             .agg(F.max("n_matches").alias("n_matches")).collect()}
    want_n = {r.user_id: r.n for r in
              matches.to_df().groupBy("user_id")
              .agg(F.count("*").alias("n")).collect()}
    assert got_n == want_n and got_n
    assert counts.filter("n_timers < 1").count() == 0  # timer surface


def test_facade_canonical_program_streaming(spark, queries):
    """The IDENTICAL program body on a STREAMING source (the file-stream
    events feed): error side, flagship aggregate, and the TWS keyed-state
    branch all converge to the batch run's results — source/sink swap
    only, no program change."""
    import uuid

    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _require_tws_protobuf, _run_to_memory,
    )
    from flink_tutorial_broadcast_spark.streaming.sources import (
        stream_events,
    )
    _require_tws_protobuf(spark)

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    errors, matches, flagship = _canonical_program(
        env.from_dataframe(stream_events(spark, SF_SMOKE)), rules_df(spark))

    # error side: complete-mode count equals the batch predicate count
    name = f"canon_err_{uuid.uuid4().hex[:8]}"
    q = (errors.to_df().groupBy().count()
         .writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    ev = load(spark, SF_SMOKE, "events")
    assert (spark.table(name).collect()[0]["count"]
            == ev.filter("value < 1").count())

    # flagship branch in complete mode equals the registered key
    name2 = f"canon_flag_{uuid.uuid4().hex[:8]}"
    q2 = (flagship.to_df()
          .writeStream.format("memory").queryName(name2)
          .outputMode("complete").trigger(availableNow=True).start())
    q2.awaitTermination()
    want = {(r["event_type"], r["severity"], r["window_start"]):
            (r["n_matches"], r["sum_value"])
            for r in queries["q_broadcast_rule_join"](
                spark, SF_SMOKE).collect()}
    got = {(r["event_type"], r["severity"], r["window_start"]):
           (r["n_matches"], r["sum_value"])
           for r in spark.table(name2).collect()}
    assert got == want

    # keyed-state branch: process_stateful returns a STREAMING DS here;
    # run it and take each user's converged (max) running count
    key_conf = "spark.sql.streaming.stateStore.providerClass"
    rocks = ("org.apache.spark.sql.execution.streaming.state."
             "RocksDBStateStoreProvider")
    prev = spark.conf.get(key_conf, None)
    try:
        spark.conf.set(key_conf, rocks)
        counts = _run_to_memory(
            matches.key_by("user_id")
            .process_stateful(
                _canonical_match_counter(),
                "user_id long, n_matches long, n_timers long",
                time_mode="ProcessingTime")
            .to_df(), "update", once=True)
    finally:
        if prev is None:
            spark.conf.unset(key_conf)
        else:
            spark.conf.set(key_conf, prev)
    got_n = {r.user_id: r.n_matches for r in
             counts.groupBy("user_id")
             .agg(F.max("n_matches").alias("n_matches")).collect()}
    want_n = {r.user_id: r.n for r in
              (ev.filter("value >= 1")
               .join(F.broadcast(rules_df(spark)),
                     F.expr("event_type = rule_event_type "
                            "AND value > threshold"))
               .groupBy("user_id").agg(F.count("*").alias("n"))).collect()}
    assert got_n == want_n and got_n


def test_facade_pending_window_cannot_be_silently_dropped(spark):
    """A sliding/session window is a grouping spec consumed by
    aggregate(); any other verb after it must fail fast instead of
    running un-windowed (review finding, round 6)."""
    import pytest

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    ks = (env.from_dataframe(load(spark, SF_SMOKE, "events"))
          .key_by("user_id")
          .window_sliding("ts", "1 hour", "15 minutes"))
    with pytest.raises(ValueError, match="aggregate"):
        ks.process(lambda k, pdf: pdf, "user_id long")
    with pytest.raises(ValueError, match="aggregate"):
        ks.count_window(50)
    with pytest.raises(ValueError, match="aggregate"):
        ks.window_tumbling("ts", "hour")
    with pytest.raises(ValueError, match="aggregate"):
        ks.process_stateful(object(), "user_id long")
    # and aggregate() itself still consumes it fine
    assert ks.aggregate(n="count(*)").to_df().count() > 0


def test_facade_async_io_is_concurrent_and_order_preserving(spark):
    """map_async (Flink AsyncDataStream.orderedWait): a fake external
    service with 50 ms per-call latency over 192 rows must finish far
    under the sequential ~9.6 s (concurrency pins the speedup), return
    exactly the right enrichments, and preserve within-batch row
    order."""
    import time

    def slow_service(row):
        time.sleep(0.05)
        return {"id": row["id"], "enriched": row["id"] * 10 + 1}

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    src = env.from_dataframe(
        spark.range(192).select(F.col("id").cast("long")).coalesce(2))
    t0 = time.time()
    rows = (src.map_async(slow_service, "id long, enriched long",
                          concurrency=32)
            .to_df().collect())
    wall = time.time() - t0
    assert {(r.id, r.enriched) for r in rows} \
        == {(i, i * 10 + 1) for i in range(192)}
    # 2 partitions x 96 rows x 50ms sequential = 9.6s; 32-wide pools
    # need ~3 waves of 50ms per partition — generous bound at 5s
    assert wall < 5.0, wall


def test_facade_partitioning_and_watermark_verbs(spark):
    """rebalance/rescale map to repartition/coalesce (shuffle vs
    shuffle-free pinned from the plan); watermark assignment marks a
    streaming plan's event time and is a safe no-op on batch."""
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    src = env.from_dataframe(load(spark, SF_SMOKE, "events"))

    reb = src.rebalance(8).to_df()
    assert reb.rdd.getNumPartitions() == 8
    assert "Exchange" in reb._jdf.queryExecution().executedPlan().toString()

    res = src.rebalance(8).rescale(2).to_df()
    assert res.rdd.getNumPartitions() == 2
    # coalesce is the shuffle-free narrowing node (AQE's plan string
    # repeats the exchange section, so pin the Coalesce node itself)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "Coalesce 2" in plan

    assert (src.assign_timestamps_and_watermarks("ts", "10 minutes")
            .to_df().count() == src.to_df().count())  # batch no-op

    from flink_tutorial_broadcast_spark.streaming.sources import (
        stream_events,
    )
    wdf = (env.from_dataframe(stream_events(spark, SF_SMOKE))
           .assign_timestamps_and_watermarks("ts", "10 minutes").to_df())
    assert wdf.isStreaming
    assert "EventTimeWatermark" in wdf._jdf.queryExecution() \
        .analyzed().toString()


def test_facade_async_timeout_default_fails_the_batch(spark):
    """map_async with a finite `timeout` and no on_timeout must FAIL
    the batch when the external service hangs — Flink's
    AsyncFunction.timeout() default [FLINK-API: AsyncDataStream
    .orderedWait(stream, fn, timeout, unit)] — instead of stalling
    forever on the hung call."""
    import time

    import pytest

    def hung_service(row):
        if row["id"] == 3:
            time.sleep(8)  # far past the deadline
        return {"id": row["id"], "enriched": row["id"] * 10}

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    src = env.from_dataframe(spark.range(6).coalesce(1))
    t0 = time.time()
    with pytest.raises(Exception, match="exceeded timeout"):
        (src.map_async(hung_service, "id long, enriched long",
                       concurrency=8, timeout=0.3)
         .to_df().collect())
    # the failure must arrive at ~timeout, not after the 8s hang
    assert time.time() - t0 < 6.0


def test_facade_async_timeout_substitute_record(spark):
    """`on_timeout` (AsyncFunction.timeout() override): hung records
    resolve to the substitute record, healthy records to the real
    enrichment, and ordered mode still preserves row order."""
    import time

    HUNG = {2, 5}

    def flaky_service(row):
        if row["id"] in HUNG:
            time.sleep(5)
        return {"id": row["id"], "enriched": row["id"] * 10}

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    src = env.from_dataframe(spark.range(8).coalesce(1))
    t0 = time.time()
    rows = (src.map_async(
        flaky_service, "id long, enriched long", concurrency=8,
        timeout=0.4,
        on_timeout=lambda row: {"id": row["id"], "enriched": -1})
        .to_df().collect())
    wall = time.time() - t0
    assert [r.id for r in rows] == list(range(8))  # orderedWait
    assert {r.id for r in rows if r.enriched == -1} == HUNG
    assert all(r.enriched == r.id * 10 for r in rows
               if r.id not in HUNG)
    assert wall < 4.5, wall  # did not wait out the 5s hangs


def test_facade_async_unordered_emits_in_completion_order(spark):
    """unorderedWait [FLINK-API: AsyncDataStream.unorderedWait]: with
    per-record latency DECREASING in row order and all rows in flight
    at once, emission order is completion order (reversed), while the
    row multiset is identical to ordered mode."""
    import time

    def inverse_latency(row):
        time.sleep((8 - row["id"]) * 0.12)
        return {"id": row["id"], "enriched": row["id"] * 10}

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    src = env.from_dataframe(spark.range(8).coalesce(1))
    rows = (src.map_async(inverse_latency, "id long, enriched long",
                          concurrency=8, ordered=False, capacity=8)
            .to_df().collect())
    assert {(r.id, r.enriched) for r in rows} \
        == {(i, i * 10) for i in range(8)}
    assert [r.id for r in rows] == list(reversed(range(8)))


def test_facade_async_capacity_is_backpressure(spark):
    """`capacity` caps in-flight requests per partition [FLINK-API:
    AsyncDataStream.orderedWait(..., capacity)]: 8 rows of 0.2s each
    through capacity=2 need >=4 waves (~0.8s); through capacity=8 one
    wave (~0.2s). Results identical either way."""
    import time

    def service(row):
        time.sleep(0.2)
        return {"id": row["id"], "enriched": row["id"] * 10}

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    src = env.from_dataframe(spark.range(8).coalesce(1))

    t0 = time.time()
    narrow = (src.map_async(service, "id long, enriched long",
                            concurrency=32, capacity=2)
              .to_df().collect())
    wall_narrow = time.time() - t0

    t0 = time.time()
    wide = (src.map_async(service, "id long, enriched long",
                          concurrency=32, capacity=8)
            .to_df().collect())
    wall_wide = time.time() - t0

    expect = {(i, i * 10) for i in range(8)}
    assert {(r.id, r.enriched) for r in narrow} == expect
    assert {(r.id, r.enriched) for r in wide} == expect
    assert wall_narrow >= 0.75, wall_narrow   # 4 sequential waves
    assert wall_narrow > wall_wide, (wall_narrow, wall_wide)


def test_facade_split_refuses_tag_collision(spark):
    """split() routes through a materialized __tag column; an input
    already carrying __tag must be rejected, not silently clobbered."""
    import pytest

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    src = env.from_dataframe(
        spark.range(4).withColumn("__tag", F.lit("keep")))
    with pytest.raises(ValueError, match="__tag"):
        src.split({"low": "id < 2"})


def test_facade_sliding_session_windows_guard_stacking(spark):
    """window_sliding/window_session now fail fast when a window spec
    is already pending, like every other guarded verb (ADVICE r6)."""
    import pytest

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    ks = (env.from_dataframe(load(spark, SF_SMOKE, "events"))
          .key_by("user_id")
          .window_sliding("ts", "1 hour", "15 minutes"))
    with pytest.raises(ValueError, match="aggregate"):
        ks.window_sliding("ts", "2 hours", "30 minutes")
    with pytest.raises(ValueError, match="aggregate"):
        ks.window_session("ts", "30 minutes")


def test_facade_windowed_stream_join_matches_reference(spark):
    """join().where().equal_to().window_tumbling() [FLINK-API:
    JoinedStreams]: click/error row pairs sharing (user_id, hour) must
    equal a hand-written bucketed equi-join exactly."""
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    ev = load(spark, SF_SMOKE, "events")
    clicks = env.from_dataframe(
        ev.filter(F.col("event_type") == "click")
        .select("user_id", "ts", "event_id", "value"))
    errors = env.from_dataframe(
        ev.filter(F.col("event_type") == "error")
        .select("user_id", "ts", "event_id", "value"))
    got = (clicks.join(errors).where("user_id").equal_to("user_id")
           .window_tumbling("ts", "hour").to_df())
    # colliding right columns suffixed _r; window_start added
    assert {"user_id", "ts", "event_id", "value", "ts_r", "event_id_r",
            "value_r", "window_start"} <= set(got.columns)

    hr = lambda c: F.date_trunc("hour", F.col(c))
    l = (ev.filter(F.col("event_type") == "click")
         .select("user_id", F.col("event_id").alias("l_id"),
                 hr("ts").alias("w")))
    r = (ev.filter(F.col("event_type") == "error")
         .select(F.col("user_id").alias("u2"),
                 F.col("event_id").alias("r_id"), hr("ts").alias("w2")))
    want = l.join(r, (l.user_id == r.u2) & (l.w == r.w2))
    assert {(x.event_id, x.event_id_r) for x in got.collect()} \
        == {(x.l_id, x.r_id) for x in want.collect()}
    assert got.count() > 0

    import pytest
    with pytest.raises(ValueError, match="where"):
        clicks.join(errors).window_tumbling("ts", "hour")


def test_facade_keyed_reduce_matches_aggregate_twins(spark):
    """KeyedStream.reduce(fn): an arbitrary Python ReduceFunction's
    final record per key must equal the relational twin — max-by-value
    (keep the richer row) and additive merge both checked."""
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    ev = load(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "value")
    ks = env.from_dataframe(ev).key_by("user_id")

    keep_max = ks.reduce(
        lambda a, b: b if (b["value"], -b["event_id"])
        > (a["value"], -a["event_id"]) else a).to_df()
    want_max = (ev.groupBy("user_id")
                .agg(F.expr("max_by(value, struct(value, -event_id))")
                     .alias("value")))
    assert {(r.user_id, r.value) for r in keep_max.collect()} \
        == {(r.user_id, r.value) for r in want_max.collect()}

    def add(a, b):
        out = dict(b)  # Flink reduce: same row shape out
        out["value"] = a["value"] + b["value"]
        return out
    summed = ks.reduce(add).to_df()
    want_sum = ev.groupBy("user_id").agg(F.sum("value").alias("s"))
    got = {r.user_id: round(r.value, 6) for r in summed.collect()}
    want = {r.user_id: round(r.s, 6) for r in want_sum.collect()}
    assert got == want


def test_facade_keyed_reduce_keeps_null_key_groups(spark):
    """Spark groups null keys like any other value, so reduce() must
    too — pandas' groupby default (dropna=True) would silently delete
    every null-keyed row, and a bucket holding ONLY null-key rows would
    return a column-less frame that breaks the Arrow schema."""
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    rows = [(None, 1, 10.0), (None, 2, 5.0), ("u1", 3, 7.0),
            (None, 4, 2.0), ("u2", 5, 1.0)]
    df = spark.createDataFrame(
        rows, "user_id string, event_id long, value double")
    summed = (env.from_dataframe(df).key_by("user_id")
              .reduce(lambda a, b: {**b, "value": a["value"] + b["value"]},
                      order_cols=("event_id",))
              .to_df())
    got = {r.user_id: r.value for r in summed.collect()}
    assert got == {None: 17.0, "u1": 7.0, "u2": 1.0}

    # bucket containing only null-key rows: force it by keying a frame
    # whose every key is null
    all_null = spark.createDataFrame(
        [(None, 1, 3.0), (None, 2, 4.0)],
        "user_id string, event_id long, value double")
    only = (env.from_dataframe(all_null).key_by("user_id")
            .reduce(lambda a, b: {**b, "value": a["value"] + b["value"]},
                    order_cols=("event_id",))
            .to_df().collect())
    assert len(only) == 1 and only[0].value == 7.0 \
        and only[0].user_id is None


def test_facade_interval_join_matches_oracle_key(spark, queries):
    """key_by(u).interval_join(other, "-5 minutes", "5 minutes")
    [FLINK-API: KeyedStream.intervalJoin.between] == the oracle-backed
    q_interval_join pairs exactly."""
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    ev = load(spark, SF_SMOKE, "events")
    purchases = (env.from_dataframe(
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id"))
        .key_by("user_id"))
    errors = (env.from_dataframe(
        ev.filter(F.col("event_type") == "error")
        .select("user_id", "ts", "event_id"))
        .key_by("user_id"))
    got = purchases.interval_join(
        errors, "-5 minutes", "5 minutes").to_df()
    assert {"user_id", "ts", "event_id", "ts_r", "event_id_r"} \
        <= set(got.columns)
    want = queries["q_interval_join"](spark, SF_SMOKE)
    assert {(r.user_id, r.event_id, r.event_id_r)
            for r in got.collect()} \
        == {(r.user_id, r.purchase_id, r.error_id)
            for r in want.collect()}
    assert got.count() > 0


def test_facade_async_io_runs_on_streaming_input(spark):
    """map_async on a TRUE streaming input (VERDICT_r7 item 7): async
    enrichment is a streaming-first feature in Flink, so the
    mapInPandas path must run unchanged under readStream. The events
    fixture split into two timed files streams through the SAME
    deterministic service as the oracle-backed q_async_enrich key; the
    accumulated append output must equal the batch key exactly (no row
    lost, duplicated, or mis-joined across micro-batches), and the
    ordered + on_timeout path must emit substitute records in-stream."""
    import time as _time

    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        _run_to_memory,
    )
    from flink_tutorial_broadcast_spark.streaming.sources import (
        two_file_stream,
    )
    from tests.conftest import SF_SMOKE

    def service(row):
        return {"event_id": row["event_id"],
                "enriched": row["event_id"] * 31 + len(row["event_type"])}

    ev = (load(spark, SF_SMOKE, "events")
          .filter(F.col("event_id") < 2000)
          .select("ts", "event_id", "event_type"))
    sdf, d = two_file_stream(spark, ev, "async_stream_")
    sdf = sdf.select("event_id", "event_type")

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    out = (env.from_dataframe(sdf)
           .map_async(service, "event_id long, enriched long",
                      concurrency=16, timeout=30.0, capacity=64)
           .to_df())
    assert out.isStreaming
    got = _run_to_memory(out, "append").collect()
    want = (env.from_dataframe(
        ev.select("event_id", "event_type"))
        .map_async(service, "event_id long, enriched long",
                   concurrency=16, timeout=30.0, capacity=64)
        .to_df().collect())
    assert {(r.event_id, r.enriched) for r in got} \
        == {(r.event_id, r.enriched) for r in want}
    assert len(got) == len(want)  # multiset equality (no dupes either)
    assert got

    # timeout path on a stream: a service that hangs on one marked row
    # resolves through on_timeout without failing the micro-batch
    marked = sorted(r.event_id for r in got)[0]

    def flaky(row):
        if row["event_id"] == marked:
            _time.sleep(30)
        return {"event_id": row["event_id"], "enriched": 1}

    sdf2 = (spark.readStream
            .schema("ts timestamp, event_id long, event_type string")
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(d)
            .select("event_id", "event_type"))
    out2 = (env.from_dataframe(sdf2)
            .map_async(flaky, "event_id long, enriched long",
                       concurrency=16, timeout=0.5,
                       on_timeout=lambda row: {
                           "event_id": row["event_id"], "enriched": -1})
            .to_df())
    got2 = _run_to_memory(out2, "append").collect()
    by_id = {r.event_id: r.enriched for r in got2}
    assert by_id[marked] == -1          # substituted, not failed
    assert len(got2) == len(want)       # every other row enriched
    assert sum(1 for v in by_id.values() if v == -1) == 1


def test_facade_window_all_verbs(spark):
    """windowAll parity [FLINK-API: DataStream.windowAll]: the
    non-keyed tumbling form equals the relational groupBy(date_trunc),
    sliding assigns epoch-aligned windows, session merges one global
    timeline — all with the window bucket as the ONLY grouping key
    (Flink runs these at parallelism 1; here the scan stays parallel)."""
    from flink_tutorial_broadcast_spark.io import load
    from tests.conftest import SF_SMOKE

    ev = load(spark, SF_SMOKE, "events")
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    got = (env.from_dataframe(ev)
           .window_all_tumbling("ts", "hour")
           .aggregate(n="count(*)").to_df().collect())
    want = (ev.groupBy(F.date_trunc("hour", "ts").alias("window_start"))
            .agg(F.count("*").alias("n")).collect())
    assert {(r.window_start, r.n) for r in got} \
        == {(r.window_start, r.n) for r in want}
    assert got

    slid = (env.from_dataframe(ev)
            .window_all_sliding("ts", "2 hours", "1 hour")
            .aggregate(n="count(*)").to_df())
    assert {"window_start", "n"} == set(slid.columns)
    # every row lands in exactly 2 sliding windows of size 2h/slide 1h
    assert sum(r.n for r in slid.collect()) == 2 * ev.count()

    sess = (env.from_dataframe(ev)
            .window_all_session("ts", "30 minutes")
            .aggregate(n="count(*)").to_df())
    assert sum(r.n for r in sess.collect()) == ev.count()


def test_facade_iterate_bounded_loop(spark):
    """iterate() [FLINK-API: DataStream.iterate/closeWith, mapped to
    the bounded batch driver]: n applications of step compose; the
    periodic localCheckpoint truncates lineage so the final plan does
    not contain one Project per round; n=0 is identity; n<0 raises."""
    import pytest as _pytest

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    src = env.from_dataframe(
        spark.range(100).select(F.col("id").cast("long"),
                                F.lit(0).cast("long").alias("v")))

    def step(df):
        return df.withColumn("v", F.col("v") + 1)

    out = src.iterate(step, 10, checkpoint_every=3).to_df()  # noqa
    rows = out.collect()
    assert len(rows) == 100 and all(r.v == 10 for r in rows)
    # lineage truncated: the optimized plan hangs off a checkpoint
    # scan, not 10 chained projections over the range source
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan or "ExistingRDD" in plan, plan

    assert (src.iterate(step, 0).to_df().collect()
            == src.to_df().collect())
    with _pytest.raises(ValueError, match="n >= 0"):
        src.iterate(step, -1)


def test_facade_async_retry_strategies(spark):
    """Fixed-delay retry [FLINK-API: AsyncDataStream
    .orderedWaitWithRetry + AsyncRetryStrategies]: (a) a service that
    fails twice per record succeeds under retries=3 with every record
    enriched exactly once; (b) exhausted retries re-raise and fail the
    batch; (c) retry_on filters exception types (non-retryable raises
    immediately); (d) retry_on_result retries retryable RESULTS and
    emits the last one when exhausted."""
    import pytest as _pytest

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    # one partition => one Python worker => the closure dict is shared
    # across that worker's threads (attempt counting works)
    src = env.from_dataframe(
        spark.range(24).select(F.col("id").cast("long")).coalesce(1))

    def flaky_twice():
        attempts = {}

        def svc(row):
            k = row["id"]
            attempts[k] = attempts.get(k, 0) + 1
            if attempts[k] <= 2:
                raise IOError(f"transient #{attempts[k]}")
            return {"id": k, "enriched": k * 10 + attempts[k]}
        return svc

    rows = (src.map_async(flaky_twice(), "id long, enriched long",
                          concurrency=8, retries=3)
            .to_df().collect())
    # third attempt wins for every record, exactly once each
    assert {(r.id, r.enriched) for r in rows} \
        == {(i, i * 10 + 3) for i in range(24)}

    def always_fail(row):
        raise IOError("down")

    with _pytest.raises(Exception, match="down"):
        (src.map_async(always_fail, "id long, enriched long",
                       concurrency=8, retries=2)
         .to_df().collect())

    def value_error(row):
        raise ValueError("not retryable")

    with _pytest.raises(Exception, match="not retryable"):
        (src.map_async(value_error, "id long, enriched long",
                       concurrency=8, retries=5,
                       retry_on=lambda e: isinstance(e, IOError))
         .to_df().collect())

    def empty_then_full():
        attempts = {}

        def svc(row):
            k = row["id"]
            attempts[k] = attempts.get(k, 0) + 1
            if attempts[k] == 1:
                return {"id": k, "enriched": -1}  # "empty" lookup
            return {"id": k, "enriched": k}
        return svc

    rows = (src.map_async(empty_then_full(), "id long, enriched long",
                          concurrency=8, retries=2,
                          retry_on_result=lambda r: r["enriched"] < 0)
            .to_df().collect())
    assert {(r.id, r.enriched) for r in rows} \
        == {(i, i) for i in range(24)}

    def always_empty(row):
        return {"id": row["id"], "enriched": -1}

    rows = (src.map_async(always_empty, "id long, enriched long",
                          concurrency=8, retries=2,
                          retry_on_result=lambda r: r["enriched"] < 0)
            .to_df().collect())
    # exhausted result-retries EMIT the last result (Flink's behavior)
    assert all(r.enriched == -1 for r in rows) and len(rows) == 24
