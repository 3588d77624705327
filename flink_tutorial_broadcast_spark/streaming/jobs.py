"""Streaming jobs — the reference's dataflow shapes on micro-batch execution.

Each job runs a bounded demo (``trigger(availableNow=True)`` over the
fixture stream) and returns the materialized result so tests can assert
streaming ≡ batch. The same code runs unbounded by dropping the trigger.

Reference anchors (SURVEY.md §0 canonical program):
- tumbling/sliding/session window aggs  ← TumblingEventTimeWindows et al.
- watermarking                          ← WatermarkStrategy.forBoundedOutOfOrderness
- stateful dedup                        ← KeyedProcessFunction + ValueState
- broadcast rule refresh per batch      ← KeyedBroadcastProcessFunction
                                          .processBroadcastElement (§7 hard part 1:
                                          per-micro-batch consistency, documented
                                          divergence from per-record)
- keyed state + timers                  ← transformWithStateInPandas (E7)
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_tutorial_broadcast_spark.cep import compile_pattern_stream
from flink_tutorial_broadcast_spark.sources.rules import rules_df
from flink_tutorial_broadcast_spark.streaming.sources import (
    checkpoint_dir,
    stream_events,
    two_file_stream,
)


def _run_to_memory(sdf: DataFrame, output_mode: str = "append",
                   once: bool = False) -> DataFrame:
    """Execute a bounded streaming query into a memory sink; return result.

    ``once=True`` swaps availableNow for the one-batch Trigger.Once:
    needed for transformWithState in ProcessingTime mode, where
    availableNow keeps scheduling empty batches indefinitely even with
    no pending timers (observed on Spark 4.1.2)."""
    name = f"mem_{uuid.uuid4().hex[:8]}"
    w = (
        sdf.writeStream.format("memory").queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir())
    )
    w = w.trigger(once=True) if once else w.trigger(availableNow=True)
    q = w.start()
    q.awaitTermination()
    return sdf.sparkSession.sql(f"SELECT * FROM {name}")


def tumbling_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1+E5: watermarked tumbling 1h window counts (streaming form of
    q_window_tumbling; append mode emits only watermark-finalized windows)."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "sum_value")
    )
    return _run_to_memory(agg, "append")


def sliding_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2+E5: watermarked sliding 1h/15min window counts (streaming form
    of q_window_sliding; each event lands in 4 overlapping windows)."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"),
                   "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events")
    )
    return _run_to_memory(agg, "append")


def sliding_window_stream_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 in UPDATE output mode: every micro-batch emits the CURRENT
    value of each changed (window, event_type) row instead of waiting
    for the watermark to finalize the window (append's behavior). Late
    rows inside the watermark horizon re-emit their window with the
    corrected count — the Flink early-fire/ContinuousEventTimeTrigger
    analogue, and the mode a live dashboard sink wants. The memory sink
    then holds one row per (key, emission); the FINAL state per key is
    the last emission, which for monotone counts is the max —
    tests/test_streaming.py pins that this final state equals the batch
    q_window_sliding oracle for every non-empty window, late or not."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"),
                   "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events")
    )
    return _run_to_memory(agg, "update")


def session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 streaming session windows (30min gap) per user."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"),
                "n_events")
    )
    return _run_to_memory(agg, "append")


def session_window_stream_snapshots(spark: SparkSession, sf_dir: str,
                                    gap_minutes: int = 30) -> DataFrame:
    """E3 early-fire visibility for MERGING session windows (the L78
    sliding-window treatment, round-4 completion): Spark refuses
    outputMode("update") for session aggregations (windows merge, so a
    changed-rows contract is ill-defined — AnalysisException
    STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION, pinned in tests), so
    the Flink accumulating-early-fire analogue is complete mode +
    foreachBatch: every micro-batch snapshots the ENTIRE current session
    state, batch_id-stamped — a session alive at the batch boundary is
    visible small in snapshot 0 and grown in snapshot 1.

    The fixture streams as TWO time-ordered files (median split,
    strictly increasing mtimes). Returns (batch_id, user_id,
    session_start, n_events) across all snapshots; the last batch's
    snapshot is the converged state, which tests pin against the batch
    session aggregate exactly. The per-snapshot collect is bounded by
    the session-aggregate size (never raw fact rows) — demo/test
    surface, same caveat as the other bounded sinks.
    """
    from flink_tutorial_broadcast_spark.io import load

    sdf, _ = two_file_stream(
        spark, load(spark, sf_dir, "events").select("user_id", "ts"),
        "sess_update_")
    sdf = sdf.withWatermark("ts", "10 minutes")
    agg = (
        sdf.groupBy(
            F.session_window("ts", f"{gap_minutes} minutes").alias("w"),
            "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"),
                "n_events")
    )

    snapshots: list[tuple] = []

    def snap(batch_df: DataFrame, batch_id: int) -> None:
        for r in batch_df.collect():  # bounded: the session aggregate
            snapshots.append((int(batch_id), r["user_id"],
                              r["session_start"], r["n_events"]))

    q = (agg.writeStream.outputMode("complete")
         .foreachBatch(snap)
         .option("checkpointLocation", checkpoint_dir())
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.createDataFrame(
        snapshots,
        "batch_id long, user_id long, session_start timestamp, "
        "n_events long")


def _count_window_roll(size: int):
    """Keyed-state count-window processor (module-level so the streaming
    twin AND the restart job run the identical fold): state =
    (current bucket, events in bucket, running sum); events folded in
    (ts, event_id) order, bucket rolls every `size` events, every
    touched bucket emitted with end-of-batch totals."""
    import pandas as pd

    def roll(key, pdf_iter, state):
        bucket, n, s = state.get if state.exists else (0, 0, 0.0)
        rows = []
        for pdf in pdf_iter:
            rows.extend(zip(pdf["ts"].tolist(), pdf["event_id"].tolist(),
                            pdf["value"].tolist()))
        touched: dict[int, tuple[int, float]] = {}
        for _, _, v in sorted(rows):
            if n == size:
                bucket, n, s = bucket + 1, 0, 0.0
            n += 1
            s += float(v)
            touched[bucket] = (n, s)
        state.update((bucket, n, s))
        yield pd.DataFrame({
            "user_id": [key[0]] * len(touched),
            "bucket": list(touched),
            "n_events": [t[0] for t in touched.values()],
            "sum_value": [round(t[1], 2) for t in touched.values()],
        })

    return roll


def count_window_stream(spark: SparkSession, sf_dir: str,
                        size: int = 50) -> DataFrame:
    """E4 STREAMING count windows (Flink ``keyBy(...).countWindow(50)``)
    — the form SURVEY §2.E4 previously scoped to batch-only, now carried
    by keyed state: per user the state is (current bucket index, events
    in bucket, running sum); each micro-batch folds its events in
    (ts, event_id) order, rolls the bucket every ``size`` events, and
    emits every bucket it touched with its end-of-batch totals (update
    mode). A bucket that straddles the batch boundary is emitted twice —
    partial then final — and the LAST emission per (user, bucket) equals
    the deterministic batch q_window_count exactly (test-pinned).

    Same two-time-ordered-file source as the other keyed-state twins, so
    in-order per-key arrival (Flink's keyed-stream guarantee) holds
    across batches.
    """
    from flink_tutorial_broadcast_spark.io import load

    from pyspark.sql.streaming.state import GroupStateTimeout

    sdf, _ = two_file_stream(
        spark, load(spark, sf_dir, "events").select(
            "user_id", "ts", "event_id", "value"),
        "cntwin_stream_")
    out = sdf.groupBy("user_id").applyInPandasWithState(
        _count_window_roll(size),
        outputStructType=("user_id long, bucket long, n_events long, "
                          "sum_value double"),
        stateStructType="bucket long, n long, s double",
        outputMode="Update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(out, "update")


def side_output_stream(
        spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Flink side outputs ([FLINK-API `OutputTag` +
    `ctx.output(tag, value)`]): ONE pass over each micro-batch routed to
    THREE sinks — operational `error` events to a telemetry channel,
    rule-matched events to the main output, the rest to an unmatched
    side channel. The Flink point is N outputs without N passes; here
    the batch is persisted once inside foreachBatch and the three
    filtered writes share that scan (Spark has no multi-sink streaming
    query, so foreachBatch IS the side-output surface — same as the DLQ
    in late_data_dlq_stream, generalized to arbitrary tags).

    Each sink writes per-batch directories (idempotent overwrite keyed
    by batch_id — the exactly-once-on-replay discipline of the other
    file sinks). Returns the three sinks read back; the test pins that
    they PARTITION the input exactly.
    """
    from flink_tutorial_broadcast_spark.io import load  # noqa: F401

    rules = rules_df(spark)
    root = tempfile.mkdtemp(prefix="side_out_")
    sinks = {t: os.path.join(root, t)
             for t in ("main", "errors", "unmatched")}

    def route(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.persist()
        try:
            errors = b.filter(F.col("event_type") == "error")
            rest = b.filter(F.col("event_type") != "error")
            cond = ((rest.event_type == rules.rule_event_type)
                    & (rest.value > rules.threshold))
            matched = rest.join(F.broadcast(rules), cond, "left_semi")
            unmatched = rest.join(F.broadcast(rules), cond, "left_anti")
            for tag, df in (("main", matched), ("errors", errors),
                            ("unmatched", unmatched)):
                (df.select("event_id", "user_id", "event_type", "value")
                 .write.mode("overwrite")
                 .parquet(os.path.join(sinks[tag], f"batch={batch_id}")))
        finally:
            b.unpersist()

    q = (stream_events(spark, sf_dir)
         .writeStream.foreachBatch(route)
         .option("checkpointLocation", checkpoint_dir())
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return tuple(
        spark.read.option("recursiveFileLookup", "true").parquet(sinks[t])
        for t in ("main", "errors", "unmatched"))


def cep_followed_by_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_cep_followed_by's STREAMING twin — CEP where Flink actually runs
    it: the SAME relaxed-contiguity view…click…purchase `Pattern`
    (sequence_ops.CEP_FOLLOWED_BY) compiled by cep.compile_pattern_stream
    to its keyed-state stepper. Per user the state is the NFA's O(1)
    register (match count, stage); each micro-batch folds its events in
    (ts, event_id) order on top of the carried state and emits the
    running count (update mode) — the early-fire view of matches as
    they complete, converging to the batch answer once the stream drains
    (test-pinned equality with the oracle-checked q_cep_followed_by).

    The fixture streams as two time-ordered files (median split), so a
    partial match open at the split must complete in micro-batch 1 —
    the continuity a per-batch recomputation would lose.
    """
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.operators.sequence_ops import (
        CEP_EVENTS, CEP_FOLLOWED_BY,
    )

    sdf, _ = two_file_stream(
        spark, load(spark, sf_dir, "events").select(
            "user_id", "ts", "event_id", "event_type"),
        "cep_stream_")
    out = compile_pattern_stream(CEP_FOLLOWED_BY, sdf, *CEP_EVENTS)
    return _run_to_memory(out.select("user_id", "n_matches"), "update")


def cep_followed_by_all_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_cep_followed_by_all's STREAMING twin — the FORKING NFA as keyed
    state (Flink's default multi-anchor semantics where it actually
    runs): the SAME `Pattern` (sequence_ops.CEP_FOLLOWED_BY_ALL)
    compiled by cep.compile_pattern_stream, whose state carries the
    open-anchor timestamp ARRAYS per stage (in microseconds, like the
    batch fold) plus the completed count. Same two-time-ordered-file
    source as the single-anchor twin, so pending anchors must survive
    the micro-batch boundary (test-pinned convergence to the
    oracle-checked batch key)."""
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.operators.sequence_ops import (
        CEP_EVENTS, CEP_FOLLOWED_BY_ALL,
    )

    sdf, _ = two_file_stream(
        spark, load(spark, sf_dir, "events").select(
            "user_id", "ts", "event_id", "event_type"),
        "cepfork_stream_")
    out = compile_pattern_stream(CEP_FOLLOWED_BY_ALL, sdf, *CEP_EVENTS)
    return _run_to_memory(out.select("user_id", "n_matches"), "update")


def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8: keyed stateful dedup — keep the first (user_id, event_type) event
    within the watermark horizon (``dropDuplicatesWithinWatermark``), the
    engine-native form of Flink's ValueState keep-first ProcessFunction."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    dedup = ev.dropDuplicatesWithinWatermark(["user_id", "event_type"])
    return _run_to_memory(dedup.select("event_id", "user_id", "event_type"))


def broadcast_rules_stream(
    spark: SparkSession, sf_dir: str, rules_source=None, events_stream=None
) -> DataFrame:
    """E9 — THE reference pattern: keyed event stream ⋈ mutable broadcast
    rule set.

    Flink replicates a rule stream into per-subtask broadcast state and
    mutates it per record (``processBroadcastElement``). Spark has no
    writable broadcast state; the idiomatic emulation is ``foreachBatch``:
    every micro-batch re-evaluates ``rules_source()`` (a table read in
    production — here any callable returning the current rules DataFrame)
    and broadcast-joins it. Consistency is per-micro-batch, not per-record
    — the documented divergence (SURVEY.md §7 hard part 1).
    """
    if rules_source is None:
        rules_source = lambda: rules_df(spark)  # noqa: E731
    ev = events_stream if events_stream is not None \
        else stream_events(spark, sf_dir)
    name = f"mem_{uuid.uuid4().hex[:8]}"
    spark.createDataFrame(
        [], "event_id long, event_type string, value double, severity string"
    ).createOrReplaceTempView(name)
    sink: list = []

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        rules = rules_source()  # re-read → picks up rule mutations
        matched = batch_df.join(
            F.broadcast(rules),
            (batch_df.event_type == rules.rule_event_type)
            & (batch_df.value > rules.threshold),
        ).select("event_id", "event_type", "value", "severity")
        sink.extend(matched.collect())

    q = (
        ev.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.createDataFrame(
        sink, "event_id long, event_type string, value double, severity string"
    )


def late_data_dlq_stream(spark: SparkSession, sf_dir: str,
                         watermark: str = "10 minutes") -> tuple[DataFrame, DataFrame]:
    """E6 late-data side output emulation: Spark silently drops rows later
    than the watermark; the DLQ pattern splits each micro-batch against the
    current watermark bound inside foreachBatch (Flink's
    ``sideOutputLateData`` analogue; demo-grade)."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", watermark)
    on_time: list = []
    late: list = []

    horizon: list = [None]  # watermark bound as of the PREVIOUS batch

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Spark semantics: a row is late when it arrives BELOW the watermark
        # established by earlier batches — the first batch is never late.
        bound = horizon[0]
        if bound is None:
            on_time.extend(batch_df.select("event_id").collect())
        else:
            on_time.extend(
                batch_df.filter(F.col("ts") >= bound)
                .select("event_id").collect())
            late.extend(
                batch_df.filter(F.col("ts") < bound)
                .select("event_id").collect())
        new_max = batch_df.agg(
            F.max("ts") - F.expr(f"INTERVAL {watermark}")).collect()[0][0]
        if new_max is not None and (bound is None or new_max > bound):
            horizon[0] = new_max

    q = (
        ev.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    mk = lambda rows: spark.createDataFrame(rows, "event_id long")  # noqa: E731
    return mk(on_time or []), mk(late or [])


def keyed_state_totals(ev: DataFrame) -> DataFrame:
    """The E7/E8 keyed-state dataflow, SOURCE-AGNOSTIC (r13): takes
    any unbounded DataFrame with (user_id, value) — the file-source
    stream, the Kafka-shaped ftbs_eventlog, or a real Kafka reader in
    production — and returns the per-user running (count, sum, max)
    update stream. docs/kafka.md's swap claim ('nothing in any job's
    dataflow changes when the source swaps') is pinned by running
    THIS function over the eventlog mock with offset-resume
    (test_keyed_state_job_through_eventlog_resumes).

    The state is a mergeable aggregate, so it runs as Spark's native
    streaming aggregation: partial aggregation before the exchange,
    per-user buffers kept by the JVM StateStoreRestore/StateStoreSave
    operators, no Python worker. NULL values follow the batch
    ``groupBy``: counted by ``count(*)``, skipped by sum and max.
    Consumers must write it in ``update`` (or ``complete``) mode."""
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.max("value").alias("max_value"))


def keyed_state_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7/E8 keyed state: a per-user running (count, sum, max) updated
    each micro-batch — the ``KeyedProcessFunction`` + ``ValueState``
    analogue, run as the native stateful aggregate of
    ``keyed_state_totals``.

    Python state is kept for logic SQL cannot express: the CEP twins
    (``applyInPandasWithState``) and the timers of
    ``keyed_state_stream_tws`` (``transformWithStateInPandas``).
    """
    out = keyed_state_totals(stream_events(spark, sf_dir))
    return _run_to_memory(out, "update")


def keyed_state_restart_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 on the RocksDB state store, surviving a RESTART: the per-user
    running-count state is built in run 1 (first half of the events),
    the query stops, and run 2 (second half only) resumes over the SAME
    checkpoint — its emissions carry the full-corpus counts, which is
    only possible if run 1's state was durably persisted and reloaded.

    ``spark.sql.streaming.stateStore.providerClass`` is set to
    ``RocksDBStateStoreProvider`` for both runs (ships in-box with
    Spark 4): state lives in RocksDB SST files under the checkpoint,
    the provider docs/scale.md prescribes once keyed state outgrows the
    default HDFS-backed in-memory map. Returns run 2's final emission
    per user (update mode: last row per user wins).
    """
    from flink_tutorial_broadcast_spark.io import load

    key_conf = "spark.sql.streaming.stateStore.providerClass"
    rocks = ("org.apache.spark.sql.execution.streaming.state."
             "RocksDBStateStoreProvider")

    root = tempfile.mkdtemp(prefix="rocks_restart_")
    src = os.path.join(root, "src")
    os.makedirs(src)
    ckpt = checkpoint_dir()
    ev = load(spark, sf_dir, "events").select("event_id", "user_id")
    half1 = ev.filter(F.col("event_id") % 2 == 0)
    half2 = ev.filter(F.col("event_id") % 2 == 1)

    def run_once(sink: str) -> None:
        sdf = (
            spark.readStream.schema("event_id long, user_id long")
            .parquet(src)
            .groupBy("user_id")
            .agg(F.count("*").alias("n_events"))
        )
        # foreachBatch, not the memory sink: checkpoint RECOVERY is the
        # point of this job, and the memory sink refuses to resume one
        q = (
            sdf.writeStream.foreachBatch(
                lambda bdf, bid: bdf.write.mode("append").parquet(sink))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    out1 = os.path.join(root, "out1")
    out2 = os.path.join(root, "out2")
    prev = spark.conf.get(key_conf)
    try:
        spark.conf.set(key_conf, rocks)
        half1.coalesce(1).write.mode("append").parquet(src)
        run_once(out1)
        # the restart: new files land, a NEW query resumes the checkpoint
        half2.coalesce(1).write.mode("append").parquet(src)
        run_once(out2)
    finally:
        spark.conf.set(key_conf, prev)
    # last (max — counts are monotone) emission per user in run 2 = the
    # resumed count; cache before the temp dirs are torn down
    out = (
        spark.read.parquet(out2)
        .groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    )
    out = out.cache()
    out.count()
    shutil.rmtree(root, ignore_errors=True)
    return out


def _restart_two_halves_rocksdb(spark, src_schema: str, half1, half2,
                                make_stream):
    """Shared restart harness (the keyed_state_restart_rocksdb pattern):
    write half 1 → run a query to drain it → write half 2 → a NEW query
    resumes the SAME checkpoint on the RocksDB provider. Returns the two
    runs' emissions as cached DataFrames (run 1, run 2)."""
    key_conf = "spark.sql.streaming.stateStore.providerClass"
    rocks = ("org.apache.spark.sql.execution.streaming.state."
             "RocksDBStateStoreProvider")
    root = tempfile.mkdtemp(prefix="restart2_")
    src = os.path.join(root, "src")
    os.makedirs(src)
    ckpt = checkpoint_dir()

    def run_once(sink: str) -> None:
        sdf = spark.readStream.schema(src_schema).parquet(src)
        q = (
            make_stream(sdf)
            .writeStream.foreachBatch(
                lambda bdf, bid: bdf.write.mode("append").parquet(sink))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    out1 = os.path.join(root, "out1")
    out2 = os.path.join(root, "out2")
    prev = spark.conf.get(key_conf)
    try:
        spark.conf.set(key_conf, rocks)
        half1.coalesce(1).write.mode("append").parquet(src)
        run_once(out1)
        half2.coalesce(1).write.mode("append").parquet(src)
        run_once(out2)
    finally:
        spark.conf.set(key_conf, prev)
    r1 = spark.read.parquet(out1).cache()
    r1.count()
    r2 = spark.read.parquet(out2).cache()
    r2.count()
    shutil.rmtree(root, ignore_errors=True)
    return r1, r2


def count_window_restart_rocksdb(spark: SparkSession, sf_dir: str,
                                 size: int = 50):
    """E4 count windows surviving a RESTART (the round-4 twin's missing
    durability pin): run 1 folds the first time-ordered half of the
    events, the query STOPS, run 2 — a brand-new query — resumes the
    same checkpoint on RocksDB with the second half. A bucket straddling
    the restart must complete with its run-1 events included, which is
    only possible if the (bucket, n, sum) register was durably persisted
    and reloaded. Returns (run-1 emissions, run-2 emissions)."""
    from flink_tutorial_broadcast_spark.io import load
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value")
    split_ts = ev.agg(
        F.percentile_approx("ts", 0.5).alias("m")).collect()[0]["m"]

    def make(sdf):
        return sdf.groupBy("user_id").applyInPandasWithState(
            _count_window_roll(size),
            outputStructType=("user_id long, bucket long, n_events long, "
                              "sum_value double"),
            stateStructType="bucket long, n long, s double",
            outputMode="Update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    return _restart_two_halves_rocksdb(
        spark, "user_id long, ts timestamp, event_id long, value double",
        ev.filter(F.col("ts") <= F.lit(split_ts)),
        ev.filter(F.col("ts") > F.lit(split_ts)),
        make)


def cep_fork_restart_rocksdb(spark: SparkSession, sf_dir: str):
    """Forking-NFA ANCHOR SETS surviving a RESTART on RocksDB: the
    array-typed state columns (open anchors per stage) built in run 1
    must reload in run 2's brand-new query and complete their matches —
    the partial-match-SET durability on top of L119's scalar-register
    pins. Returns (run-1 emissions, run-2 emissions)."""
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.operators.sequence_ops import (
        CEP_EVENTS, CEP_FOLLOWED_BY_ALL,
    )

    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type")
    split_ts = ev.agg(
        F.percentile_approx("ts", 0.5).alias("m")).collect()[0]["m"]

    def make(sdf):
        return compile_pattern_stream(
            CEP_FOLLOWED_BY_ALL, sdf, *CEP_EVENTS
        ).select("user_id", "n_matches")

    return _restart_two_halves_rocksdb(
        spark, "user_id long, ts timestamp, event_id long, "
               "event_type string",
        ev.filter(F.col("ts") <= F.lit(split_ts)),
        ev.filter(F.col("ts") > F.lit(split_ts)),
        make)


def cep_followed_by_restart_rocksdb(spark: SparkSession, sf_dir: str):
    """Streaming CEP surviving a RESTART (the round-4 twin's missing
    durability pin): run 1 advances the per-user NFA register over the
    first time-ordered half, run 2 resumes the same checkpoint on
    RocksDB with the second half — a partial match open at the restart
    must complete in run 2, which a recomputation-per-query would lose.
    Returns (run-1 emissions, run-2 emissions)."""
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.operators.sequence_ops import (
        CEP_EVENTS, CEP_FOLLOWED_BY,
    )

    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type")
    split_ts = ev.agg(
        F.percentile_approx("ts", 0.5).alias("m")).collect()[0]["m"]

    def make(sdf):
        return compile_pattern_stream(
            CEP_FOLLOWED_BY, sdf, *CEP_EVENTS
        ).select("user_id", "n_matches")

    return _restart_two_halves_rocksdb(
        spark, "user_id long, ts timestamp, event_id long, "
               "event_type string",
        ev.filter(F.col("ts") <= F.lit(split_ts)),
        ev.filter(F.col("ts") > F.lit(split_ts)),
        make)


def keyed_state_stream_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 keyed state + timers via ``transformWithStateInPandas``
    (Spark ≥4.0 typed-state API; the closest ``KeyedProcessFunction``
    analogue). The state protocol needs google.protobuf inside the
    Python WORKER; when the real wheel is absent the vendored
    wire-compatible mini runtime (protoshim.ensure_protoshim) is put on
    the worker PYTHONPATH, so this branch executes for real in this
    container (round-5 completion of the round-4 gate-contract task).
    Only if neither the wheel nor the vendor tree is usable does the
    gate fall back to naming keyed_state_stream, which keeps the same
    running totals as a native stateful aggregate."""
    from flink_tutorial_broadcast_spark.protoshim import ensure_protoshim
    ensure_protoshim(spark)
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "transformWithStateInPandas needs google.protobuf; use "
            "keyed_state_stream (native stateful aggregate) instead") from exc

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    state_schema = StructType([
        StructField("n", LongType()),
        StructField("total", DoubleType()),
        StructField("vmax", DoubleType()),
    ])

    class RunningAgg(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("agg", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, total, vmax = 0, 0.0, float("-inf")
            if self._state.exists():
                n, total, vmax = self._state.get()
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                vmax = max(vmax, float(pdf["value"].max()))
            self._state.update((n, total, vmax))
            yield pd.DataFrame({
                "user_id": [key[0]], "n_events": [n],
                "total_value": [round(total, 2)], "max_value": [vmax],
            })

        def close(self) -> None:
            pass

    ev = stream_events(spark, sf_dir).select("user_id", "value")
    out = (
        ev.groupBy("user_id")
        .transformWithStateInPandas(
            RunningAgg(),
            outputStructType=(
                "user_id long, n_events long, total_value double, "
                "max_value double"),
            outputMode="Update",
            timeMode="None",
        )
    )
    # transformWithState keeps each state variable in its own column
    # family — only the RocksDB provider supports that (the HDFS-backed
    # map refuses); scope the provider to this query's start
    key_conf = "spark.sql.streaming.stateStore.providerClass"
    rocks = ("org.apache.spark.sql.execution.streaming.state."
             "RocksDBStateStoreProvider")
    prev = spark.conf.get(key_conf, None)
    try:
        spark.conf.set(key_conf, rocks)
        return _run_to_memory(out, "update")
    finally:
        if prev is None:
            spark.conf.unset(key_conf)
        else:
            spark.conf.set(key_conf, prev)


_RULE_UNION_SCHEMA = ("kind string, seq long, event_id long, "
                      "event_type string, value double, rule_id string, "
                      "threshold double, severity string")


def _rule_union_df(spark: SparkSession, sf_dir: str):
    """The tagged union (events ∪ rule waves) on one total order.

    Events sit at odd seq 2*event_id+1; rule upserts at even seqs (wave
    1 before every event, the doubled-threshold "v2-" wave at the
    median) — the exact fixture `operators/flagship.rule_mutation_matches`
    evaluates in batch. Returns (union_df, med)."""
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.sources.rules import rule_waves_df

    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value",
        (F.col("event_id") * 2 + 1).alias("seq"))
    med = int(ev.agg(
        F.floor(F.expr("percentile(event_id, 0.5)")).cast("long")
        .alias("m")).collect()[0]["m"])  # bounded: ONE row
    evs = ev.select(
        F.lit("event").alias("kind"), "seq", "event_id", "event_type",
        "value",
        F.lit(None).cast("string").alias("rule_id"),
        F.lit(None).cast("double").alias("threshold"),
        F.lit(None).cast("string").alias("severity"))
    rls = rule_waves_df(spark, med).select(
        F.lit("rule").alias("kind"), "seq",
        F.lit(None).cast("long").alias("event_id"),
        F.col("rule_event_type").alias("event_type"),
        F.lit(None).cast("double").alias("value"),
        "rule_id", "threshold", "severity")
    return evs.unionByName(rls), med


def _make_rule_matcher_tws(sdf: DataFrame) -> DataFrame:
    """Key the tagged union by event_type and run the
    KeyedBroadcastProcessFunction analogue: ONE StatefulProcessor whose
    handleInputRows folds the batch's rows in seq order — rule rows take
    the `processBroadcastElement` path (MapState upsert), event rows the
    `processElement` path (match against the rules CURRENTLY in the
    map). A rule update therefore lands BETWEEN two events of the same
    micro-batch — the per-record interleaving foreachBatch rebroadcast
    cannot express.

    The rule map is read from MapState once per (key, batch) into a
    local dict and written back only on rule rows, so state-protocol
    round-trips are O(rules), not O(events). Keying by event_type is
    semantics-preserving for the tutorial's type→rule map (matching only
    ever consults the event's own type); a genuinely global rule would
    instead be exploded across key partitions at the source."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RuleMatcher(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._rules = handle.getMapState(
                "rules", "rule_id string", "threshold double, severity string")

        def handleInputRows(self, key, rows, timerValues):
            pdf = pd.concat(list(rows), ignore_index=True)
            pdf = pdf.sort_values("seq", kind="mergesort")
            cur = ({k[0]: (float(v[0]), str(v[1]))
                    for k, v in self._rules.iterator()}
                   if self._rules.exists() else {})
            out: dict = {"event_id": [], "event_type": [], "value": [],
                         "threshold": [], "severity": []}
            for r in pdf.itertuples(index=False):
                if r.kind == "rule":
                    cur[r.rule_id] = (float(r.threshold), str(r.severity))
                    self._rules.updateValue((r.rule_id,), cur[r.rule_id])
                else:
                    for th, sev in cur.values():
                        if r.value > th:
                            out["event_id"].append(int(r.event_id))
                            out["event_type"].append(str(r.event_type))
                            out["value"].append(float(r.value))
                            out["threshold"].append(th)
                            out["severity"].append(sev)
            yield pd.DataFrame(out)

        def close(self) -> None:
            pass

    return sdf.groupBy("event_type").transformWithStateInPandas(
        RuleMatcher(),
        outputStructType=("event_id long, event_type string, value double, "
                          "threshold double, severity string"),
        outputMode="Update",
        timeMode="None",
    )


def _require_tws_protobuf(spark: SparkSession) -> None:
    from flink_tutorial_broadcast_spark.protoshim import ensure_protoshim
    ensure_protoshim(spark)
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "transformWithStateInPandas needs google.protobuf; use "
            "broadcast_rules_stream (foreachBatch rebroadcast) "
            "instead") from exc


def broadcast_rules_union_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9 / SURVEY §7 hard part 1 with the reference's ACTUAL semantics:
    broadcast-state MUTATION at per-record granularity. The rule stream
    is unioned into the event stream with a side tag and the merged
    stream runs through ONE transformWithStateInPandas processor holding
    the rules in MapState (`_make_rule_matcher_tws`) — rule upserts
    interleave with event matches INSIDE a micro-batch, unlike the
    foreachBatch rebroadcast (broadcast_rules_stream), whose rule set is
    frozen per batch. Converges to the oracle-checked batch twin
    q_broadcast_rule_mutation (test-pinned, including a mid-batch flip).

    The stream arrives as two seq-ordered files (maxFilesPerTrigger=1 →
    two micro-batches) split ABOVE the mutation point, so the v1→v2 rule
    flip provably happens inside micro-batch 0 AND the v2 map survives
    into micro-batch 1 via MapState."""
    _require_tws_protobuf(spark)

    un, med = _rule_union_df(spark, sf_dir)
    cut = un.filter(F.col("kind") == "event").agg(
        F.expr("percentile(seq, 0.75)").cast("long").alias("c")
    ).collect()[0]["c"]  # bounded: ONE row
    sdf, d = two_file_stream(spark, un, "rule_union_", col="seq", cut=cut)
    out = _make_rule_matcher_tws(sdf)
    key_conf = "spark.sql.streaming.stateStore.providerClass"
    rocks = ("org.apache.spark.sql.execution.streaming.state."
             "RocksDBStateStoreProvider")
    prev = spark.conf.get(key_conf, None)
    try:
        spark.conf.set(key_conf, rocks)
        res = _run_to_memory(out, "update")
        res = res.cache()
        res.count()
        return res
    finally:
        if prev is None:
            spark.conf.unset(key_conf)
        else:
            spark.conf.set(key_conf, prev)
        shutil.rmtree(d, ignore_errors=True)


def broadcast_rules_union_tws_restart(spark: SparkSession, sf_dir: str):
    """The union-of-streams rule matcher surviving a RESTART: half 1
    carries BOTH rule waves plus the early events; half 2 is pure
    events. Run 2 (new query, same RocksDB checkpoint) can only match
    correctly if the v2 rule MAP was durably persisted and reloaded —
    there is no rule row left to rebuild it from. Returns (run-1
    emissions, run-2 emissions)."""
    _require_tws_protobuf(spark)

    from flink_tutorial_broadcast_spark.sources.rules import RULES

    un, med = _rule_union_df(spark, sf_dir)
    cut = 2 * (med + len(RULES))  # just above the last wave-2 upsert
    return _restart_two_halves_rocksdb(
        spark, _RULE_UNION_SCHEMA,
        un.filter(F.col("seq") <= F.lit(cut)),
        un.filter(F.col("seq") > F.lit(cut)),
        _make_rule_matcher_tws)


def state_bootstrap_stream_tws(spark: SparkSession, sf_dir: str):
    """State-Processor-API WRITE parity (Flink builds savepoints
    offline; Spark 4's equivalent is the `initialState` argument of
    `transformWithStateInPandas` + the `handleInitialState` callback):
    keyed state is built OFFLINE from a batch aggregate over the
    settled half of the events (event_id ≤ median) and LOADED into a
    brand-new streaming query at start; the query then folds only the
    LIVE half (event_id > median). Its converged per-user (n, total)
    must equal the batch aggregate over ALL events — possible only if
    the bootstrap rows actually landed in ValueState before the first
    input row. Returns (result_df, seed_df, live_user_ids).

    Scale shape: the seed is a normal batch DataFrame (any size —
    Spark co-partitions it with the stream on the grouping key), so
    bootstrapping 10^9 keys is one shuffle, not a driver loop."""
    _require_tws_protobuf(spark)

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from flink_tutorial_broadcast_spark.io import load

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    med = int(ev.agg(
        F.floor(F.expr("percentile(event_id, 0.5)")).cast("long")
        .alias("m")).collect()[0]["m"])  # bounded: ONE row
    # seed the UNROUNDED running sum: rounding belongs at emission only
    # (round(seed,2)+live then round again can diverge from the batch
    # round(sum(all),2) when values are not exact 2-decimal)
    seed = (ev.filter(F.col("event_id") <= med)
            .groupBy("user_id")
            .agg(F.count("*").alias("n"),
                 F.sum("value").alias("total")))
    live = ev.filter(F.col("event_id") > med)

    class BootstrappedAgg(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._s = handle.getValueState("agg", "n long, total double")

        def handleInitialState(self, key, initialState, timerValues):
            # one row per key from the OFFLINE seed DataFrame
            self._s.update((int(initialState["n"]),
                            float(initialState["total"])))

        def handleInputRows(self, key, rows, timerValues):
            n, total = (self._s.get() if self._s.exists() else (0, 0.0))
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._s.update((n, total))
            yield pd.DataFrame({
                "user_id": [key[0]], "n_events": [n],
                "total_value": [round(total, 2)],
            })

        def close(self) -> None:
            pass

    d = tempfile.mkdtemp(prefix="bootstrap_live_")
    key_conf = "spark.sql.streaming.stateStore.providerClass"
    rocks = ("org.apache.spark.sql.execution.streaming.state."
             "RocksDBStateStoreProvider")
    prev = spark.conf.get(key_conf, None)
    try:
        live.write.parquet(os.path.join(d, "live"))
        sdf = (spark.readStream
               .schema("event_id long, user_id long, value double")
               .parquet(os.path.join(d, "live")))
        out = sdf.groupBy("user_id").transformWithStateInPandas(
            BootstrappedAgg(),
            outputStructType=("user_id long, n_events long, "
                              "total_value double"),
            outputMode="Update",
            timeMode="None",
            initialState=seed.groupBy("user_id"),
        )
        spark.conf.set(key_conf, rocks)
        res = _run_to_memory(out, "update").cache()
        res.count()
        live_users = {r["user_id"] for r in
                      live.select("user_id").distinct().collect()}
        return res, seed, live_users
    finally:
        if prev is None:
            spark.conf.unset(key_conf)
        else:
            spark.conf.set(key_conf, prev)
        shutil.rmtree(d, ignore_errors=True)


def metrics_listener_stream(spark: SparkSession, sf_dir: str):
    """Flink metrics-reporter parity [FLINK-API: MetricGroup /
    JobListener]: a `StreamingQueryListener` captures every
    micro-batch's progress (batch id, input rows, processed-rows/sec,
    per-operator state rows) DURING a bounded keyed-aggregate run —
    the push-based observability surface operators wire into real
    monitoring. Returns (result_df, progress_rows) where progress_rows
    are dicts taken from the engine's own QueryProgressEvents; the test
    pins that the listener's numInputRows accounting matches the
    fixture exactly (observability must not lie)."""
    import json as _json

    from pyspark.sql.streaming import StreamingQueryListener

    from flink_tutorial_broadcast_spark.io import load

    progress: list[dict] = []

    class Capture(StreamingQueryListener):
        """Accounting is scoped to ONE query name (known BEFORE start,
        so no started-before-filter race): the listener is
        session-global, so without the filter a concurrently running
        query would pollute the numbers."""

        query_name: str | None = None

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = _json.loads(event.progress.json)
            if p.get("name") != self.query_name:
                return
            progress.append({
                "batch_id": p.get("batchId"),
                "num_input_rows": p.get("numInputRows"),
                "sink": p.get("sink", {}).get("description", ""),
                "state_rows_total": sum(
                    op.get("numRowsTotal", 0)
                    for op in p.get("stateOperators", [])),
            })

        def onQueryTerminated(self, event) -> None:
            pass

        def onQueryIdle(self, event) -> None:
            pass

    listener = Capture()
    spark.streams.addListener(listener)
    try:
        ev = load(spark, sf_dir, "events").select("user_id", "value")
        total = ev.count()  # ONE job, not one per 0.2s poll
        root = tempfile.mkdtemp(prefix="metrics_")
        src = os.path.join(root, "src")
        os.makedirs(src)
        # two files, one micro-batch each -> two progress events
        half = ev.filter(F.col("user_id") % 2 == 0)
        other = ev.filter(F.col("user_id") % 2 == 1)
        half.coalesce(1).write.parquet(os.path.join(src, "f0"))
        other.coalesce(1).write.parquet(os.path.join(src, "f1"))
        sdf = (spark.readStream.schema("user_id long, value double")
               .option("recursiveFileLookup", "true")
               .option("maxFilesPerTrigger", 1)
               .parquet(src))
        agg = sdf.groupBy("user_id").agg(F.count("*").alias("n"))
        name = f"mem_{uuid.uuid4().hex[:8]}"
        listener.query_name = name
        q = (agg.writeStream.format("memory").queryName(name)
             .outputMode("complete")
             .option("checkpointLocation", checkpoint_dir())
             .trigger(availableNow=True).start())
        q.awaitTermination()
        res = spark.sql(f"SELECT * FROM {name}").cache()
        res.count()
        # listener callbacks are asynchronous; wait for both batches
        deadline = time.time() + 30
        while (sum(p["num_input_rows"] for p in progress
                   if p["num_input_rows"]) < total
               and time.time() < deadline):
            time.sleep(0.2)
        observed = sum(p["num_input_rows"] for p in progress
                       if p["num_input_rows"])
        if observed < total:
            raise TimeoutError(
                f"metrics listener observed only {observed}/{total} input "
                "rows before the 30s deadline — progress events missing, "
                "refusing to return incomplete accounting")
        shutil.rmtree(root, ignore_errors=True)
        return res, list(progress)
    finally:
        spark.streams.removeListener(listener)


def state_ttl_stream(spark: SparkSession, sf_dir: str,
                     ttl_ms: int | None, sleep_s: float):
    """Flink StateTtlConfig parity: ValueState created with
    `ttlDurationMs` expires between two runs over the same RocksDB
    checkpoint. Run 1 folds the first half of the events; after
    `sleep_s` of wall-clock (processing-time TTL — timeMode must be
    ProcessingTime), run 2 folds the second half: with a TTL shorter
    than the sleep the run-1 registers have EXPIRED and counts restart
    from the live half; with `ttl_ms=None` the identical flow is the
    control — state persists and counts accumulate. Returns (run-1
    emissions, run-2 emissions, split event id)."""
    _require_tws_protobuf(spark)

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from flink_tutorial_broadcast_spark.io import load

    class TtlCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._s = handle.getValueState("agg", "n long",
                                           ttlDurationMs=ttl_ms)

        def handleInputRows(self, key, rows, timerValues):
            n = self._s.get()[0] if self._s.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._s.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

        def close(self) -> None:
            pass

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    med = int(ev.agg(
        F.floor(F.expr("percentile(event_id, 0.5)")).cast("long")
        .alias("m")).collect()[0]["m"])  # bounded: ONE row

    root = tempfile.mkdtemp(prefix="ttl_")
    src = os.path.join(root, "src")
    os.makedirs(src)
    ckpt = checkpoint_dir()
    out1, out2 = os.path.join(root, "o1"), os.path.join(root, "o2")

    def run_once(sink: str) -> None:
        sdf = (spark.readStream
               .schema("event_id long, user_id long, value double")
               .parquet(src))
        q = (sdf.groupBy("user_id").transformWithStateInPandas(
                TtlCount(),
                outputStructType="user_id long, n_events long",
                outputMode="Update",
                timeMode="ProcessingTime",  # TTL clock
             )
             .writeStream.foreachBatch(
                 lambda bdf, bid: bdf.write.mode("append").parquet(sink))
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(once=True)  # ProcessingTime mode: availableNow spins
             .start())
        q.awaitTermination()

    key_conf = "spark.sql.streaming.stateStore.providerClass"
    rocks = ("org.apache.spark.sql.execution.streaming.state."
             "RocksDBStateStoreProvider")
    prev = spark.conf.get(key_conf, None)
    try:
        spark.conf.set(key_conf, rocks)
        ev.filter(F.col("event_id") <= med) \
            .coalesce(1).write.mode("append").parquet(src)
        run_once(out1)
        time.sleep(sleep_s)
        ev.filter(F.col("event_id") > med) \
            .coalesce(1).write.mode("append").parquet(src)
        run_once(out2)
        r1 = spark.read.parquet(out1).cache()
        r1.count()
        r2 = spark.read.parquet(out2).cache()
        r2.count()
        return r1, r2, med
    finally:
        if prev is None:
            spark.conf.unset(key_conf)
        else:
            spark.conf.set(key_conf, prev)
        shutil.rmtree(root, ignore_errors=True)


def state_repair_pipeline(spark: SparkSession, sf_dir: str):
    """The FULL State-Processor-API story composed end to end — read →
    transform → write: (1) a keyed count folds the settled half of the
    events into checkpoint A; (2) that checkpoint's state is read back
    OFFLINE via `format("statestore")` (no query running); (3) the
    state is REPAIRED relationally — the heaviest user's row is dropped
    (the "poisoned key" surgery real state tooling performs); (4) a NEW
    query on a FRESH checkpoint is BOOTSTRAPPED from the repaired state
    (`transformWithStateInPandas(initialState=...)`) and folds the live
    half. Converged counts must equal all-events counts for every user
    EXCEPT the repaired one, whose count restarts from the live half —
    provable only if every stage (offline read, relational transform,
    bootstrap write) preserved exactly the intended rows.

    Scale: the offline read is one task per store shard, the repair is
    ordinary DataFrame code, and the bootstrap co-partitions with the
    stream key — the whole surgery is shuffle-bounded, never a driver
    loop. Returns (result_df, repaired_user_id, split event ids)."""
    _require_tws_protobuf(spark)

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from flink_tutorial_broadcast_spark.io import load

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    med = int(ev.agg(
        F.floor(F.expr("percentile(event_id, 0.5)")).cast("long")
        .alias("m")).collect()[0]["m"])  # bounded: ONE row

    # (1) fold the settled half into checkpoint A
    root = tempfile.mkdtemp(prefix="repair_")
    src_a = os.path.join(root, "a")
    os.makedirs(src_a)
    ckpt_a = checkpoint_dir()
    ev.filter(F.col("event_id") <= med) \
        .coalesce(1).write.mode("append").parquet(src_a)
    name = f"repair_{uuid.uuid4().hex[:8]}"
    q = (spark.readStream
         .schema("event_id long, user_id long, value double")
         .parquet(src_a)
         .groupBy("user_id").agg(F.count("*").alias("n"))
         .writeStream.format("memory").queryName(name)
         .outputMode("complete").option("checkpointLocation", ckpt_a)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    # (2) offline state read + (3) relational repair: drop the heaviest
    # key (ties on user_id for determinism)
    state = (spark.read.format("statestore").load(ckpt_a)
             .select(F.col("key.user_id").alias("user_id"),
                     F.col("value.count").alias("n")))
    heavy = (state.orderBy(F.desc("n"), "user_id").limit(1)
             .collect()[0]["user_id"])  # bounded: ONE row
    repaired = state.filter(F.col("user_id") != heavy)

    # (4) bootstrap a NEW query from the repaired state
    class Carry(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._s = handle.getValueState("agg", "n long")

        def handleInitialState(self, key, initialState, timerValues):
            self._s.update((int(initialState["n"]),))

        def handleInputRows(self, key, rows, timerValues):
            n = self._s.get()[0] if self._s.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._s.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

        def close(self) -> None:
            pass

    src_b = os.path.join(root, "b")
    key_conf = "spark.sql.streaming.stateStore.providerClass"
    rocks = ("org.apache.spark.sql.execution.streaming.state."
             "RocksDBStateStoreProvider")
    prev = spark.conf.get(key_conf, None)
    try:
        ev.filter(F.col("event_id") > med).write.parquet(src_b)
        sdf = (spark.readStream
               .schema("event_id long, user_id long, value double")
               .parquet(src_b))
        out = sdf.groupBy("user_id").transformWithStateInPandas(
            Carry(),
            outputStructType="user_id long, n_events long",
            outputMode="Update",
            timeMode="None",
            initialState=repaired.groupBy("user_id"),
        )
        spark.conf.set(key_conf, rocks)
        res = _run_to_memory(out, "update").cache()
        res.count()
        return res, heavy, med
    finally:
        if prev is None:
            spark.conf.unset(key_conf)
        else:
            spark.conf.set(key_conf, prev)
        shutil.rmtree(root, ignore_errors=True)


def state_schema_evolution_stream(spark: SparkSession, sf_dir: str,
                                  encoding: str = "avro"):
    """Flink state-MIGRATION parity (serializer evolution on restart):
    run 1 folds the first half of the events with a ValueState of
    `n long`; run 2 — a NEW query on the SAME RocksDB checkpoint —
    redefines the state as `n long, total double` and folds the second
    half. With the Avro state encoding (the supported evolution path;
    `spark.sql.streaming.stateStore.encodingFormat=avro`) the old rows
    reload with the added field as None, so counts CARRY ACROSS the
    schema change and the new field accumulates from the live half
    only. With the default UnsafeRow encoding the same restart fails
    fast with STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE — both behaviors
    are pinned. Returns (run-1 emissions, run-2 emissions, split_ts)."""
    _require_tws_protobuf(spark)

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from flink_tutorial_broadcast_spark.io import load

    class CountV1(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._s = handle.getValueState("agg", "n long")

        def handleInputRows(self, key, rows, timerValues):
            n = self._s.get()[0] if self._s.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._s.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

        def close(self) -> None:
            pass

    class CountSumV2(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            # EVOLVED schema: one appended nullable field
            self._s = handle.getValueState("agg", "n long, total double")

        def handleInputRows(self, key, rows, timerValues):
            if self._s.exists():
                n, total = self._s.get()
                total = 0.0 if total is None else total  # evolved-in rows
            else:
                n, total = 0, 0.0
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._s.update((n, total))
            yield pd.DataFrame({
                "user_id": [key[0]], "n_events": [n],
                "live_total": [round(total, 2)],
            })

        def close(self) -> None:
            pass

    ev = load(spark, sf_dir, "events").select("user_id", "ts", "value")
    split_ts = ev.agg(
        F.percentile_approx("ts", 0.5).alias("m")).collect()[0]["m"]

    key_conf = "spark.sql.streaming.stateStore.providerClass"
    rocks = ("org.apache.spark.sql.execution.streaming.state."
             "RocksDBStateStoreProvider")
    enc_conf = "spark.sql.streaming.stateStore.encodingFormat"
    prev_enc = spark.conf.get(enc_conf, None)

    root = tempfile.mkdtemp(prefix="evolve_")
    src = os.path.join(root, "src")
    os.makedirs(src)
    ckpt = checkpoint_dir()
    out1, out2 = os.path.join(root, "o1"), os.path.join(root, "o2")
    src_schema = "user_id long, ts timestamp, value double"

    def run_once(proc, out_schema, sink):
        sdf = spark.readStream.schema(src_schema).parquet(src)
        q = (sdf.groupBy("user_id")
             .transformWithStateInPandas(
                 proc, outputStructType=out_schema,
                 outputMode="Update", timeMode="None")
             .writeStream.foreachBatch(
                 lambda bdf, bid: bdf.write.mode("append").parquet(sink))
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    prev = spark.conf.get(key_conf, None)
    try:
        spark.conf.set(key_conf, rocks)
        spark.conf.set(enc_conf, encoding)
        ev.filter(F.col("ts") <= F.lit(split_ts)) \
            .coalesce(1).write.mode("append").parquet(src)
        run_once(CountV1(), "user_id long, n_events long", out1)
        ev.filter(F.col("ts") > F.lit(split_ts)) \
            .coalesce(1).write.mode("append").parquet(src)
        run_once(CountSumV2(),
                 "user_id long, n_events long, live_total double", out2)
        r1 = spark.read.parquet(out1).cache()
        r1.count()
        r2 = spark.read.parquet(out2).cache()
        r2.count()
        return r1, r2, split_ts
    finally:
        if prev is None:
            spark.conf.unset(key_conf)
        else:
            spark.conf.set(key_conf, prev)
        if prev_enc is None:
            spark.conf.unset(enc_conf)
        else:
            spark.conf.set(enc_conf, prev_enc)
        shutil.rmtree(root, ignore_errors=True)


def tws_typed_state_surface_stream(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """E7, full typed-state surface on the REAL
    ``transformWithStateInPandas``: ListState (appendList + iterator
    get), MapState (updateValue / getValue / keys iterator) and the
    timer registration surface (registerTimer → listTimers →
    deleteTimer round-trip, processing-time mode) in one processor —
    together with keyed_state_stream_tws this drives every
    state-protocol message family of the mini protobuf runtime
    (vendor/google/protobuf/_mini.py) through the JVM's real parser.
    Per user the final emission must equal the batch
    (count, countDistinct(event_type), round(sum(value),2))."""
    from flink_tutorial_broadcast_spark.protoshim import ensure_protoshim
    ensure_protoshim(spark)
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "transformWithStateInPandas needs google.protobuf; use "
            "keyed_state_stream (native stateful aggregate) instead") from exc

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class TypedSurface(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._vals = handle.getListState("vals", "v double")
            self._by_type = handle.getMapState(
                "by_type", "event_type string", "cnt long")
            self._handle = handle

        def handleInputRows(self, key, rows, timerValues):
            new = []
            for pdf in rows:
                for et, v in zip(pdf["event_type"], pdf["value"]):
                    new.append((float(v),))
                    prev = self._by_type.getValue((str(et),))
                    cnt = (int(prev[0]) if prev is not None else 0) + 1
                    self._by_type.updateValue((str(et),), (cnt,))
            if new:
                self._vals.appendList(new)
            # timer wire round-trip (no expiry needed): register a
            # far-future processing-time timer, observe it, delete it
            far = timerValues.getCurrentProcessingTimeInMs() + 3_600_000
            self._handle.registerTimer(far)
            if far not in list(self._handle.listTimers()):
                raise ValueError("registered timer missing from listTimers")
            self._handle.deleteTimer(far)
            total, n = 0.0, 0
            for (v,) in self._vals.get():
                total += float(v)
                n += 1
            n_types = sum(1 for _ in self._by_type.keys())
            yield pd.DataFrame({
                "user_id": [key[0]], "n_events": [n],
                "n_types": [n_types], "total_value": [round(total, 2)],
            })

        def close(self) -> None:
            pass

    ev = stream_events(spark, sf_dir).select("user_id", "event_type",
                                             "value")
    out = (
        ev.groupBy("user_id")
        .transformWithStateInPandas(
            TypedSurface(),
            outputStructType=(
                "user_id long, n_events long, n_types long, "
                "total_value double"),
            outputMode="Update",
            timeMode="ProcessingTime",
        )
    )
    key_conf = "spark.sql.streaming.stateStore.providerClass"
    rocks = ("org.apache.spark.sql.execution.streaming.state."
             "RocksDBStateStoreProvider")
    prev = spark.conf.get(key_conf, None)
    try:
        spark.conf.set(key_conf, rocks)
        # Trigger.Once, not availableNow: in ProcessingTime mode
        # availableNow schedules empty batches forever (no pending
        # timers required — observed on Spark 4.1.2)
        return _run_to_memory(out, "update", once=True)
    finally:
        if prev is None:
            spark.conf.unset(key_conf)
        else:
            spark.conf.set(key_conf, prev)


def tws_restart_rocksdb(spark: SparkSession, sf_dir: str):
    """Typed-state (transformWithStateInPandas) VALUE STATE surviving a
    RESTART: run 1 counts the even-event half per user, the query
    stops, run 2 — a new query resuming the same RocksDB checkpoint —
    processes the odd half and must emit FULL-corpus counts, which
    requires the worker to reload persisted state through the state
    protocol (Exists/Get over the mini protobuf runtime when the real
    wheel is absent). Returns (run-1 emissions, run-2 emissions)."""
    import pandas as pd

    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.protoshim import ensure_protoshim
    ensure_protoshim(spark)
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "transformWithStateInPandas needs google.protobuf; use "
            "keyed_state_restart_rocksdb (native stateful aggregate) "
            "instead") from exc

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class Counter(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._s = handle.getValueState("n", "n long")

        def handleInputRows(self, key, rows, timerValues):
            n = self._s.get()[0] if self._s.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._s.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

        def close(self) -> None:
            pass

    ev = load(spark, sf_dir, "events").select("event_id", "user_id")

    def make(sdf):
        return sdf.groupBy("user_id").transformWithStateInPandas(
            Counter(),
            outputStructType="user_id long, n_events long",
            outputMode="Update",
            timeMode="None",
        )

    return _restart_two_halves_rocksdb(
        spark, "event_id long, user_id long",
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1),
        make)


def tws_event_time_timer_stream(spark: SparkSession, sf_dir: str,
                                gap_minutes: int = 30) -> DataFrame:
    """E7 event-time TIMERS actually FIRING through the real
    ``transformWithStateInPandas`` (``handleExpiredTimer`` — Flink's
    ``KeyedProcessFunction.onTimer`` on the typed-state API, runnable
    here via the mini protobuf runtime): per-user session tracking where
    every event extends the session and re-arms a timer at
    ``last_ts + gap``; when the watermark passes an armed timer with no
    re-arm, ``handleExpiredTimer`` emits the closed session and clears
    state.

    Exact semantics pinned by the test (Spark processes a batch's input
    BEFORE its timers, so an armed timer deleted/re-armed by new input
    never fires mid-stream for users active in every batch): with the
    two-file time-split source, a user's single merged session fires iff
    ``last_ts + gap <= terminal watermark`` (the fixture's max ts at 0 s
    delay), with ``fired_at = last_ts + gap`` and ``n_events`` = the
    user's total — and the argmax-ts user(s) never fire. EventTime mode
    terminates cleanly under availableNow (unlike ProcessingTime)."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.protoshim import ensure_protoshim
    ensure_protoshim(spark)
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "transformWithStateInPandas needs google.protobuf; use "
            "session_close_timer_stream (applyInPandasWithState) "
            "instead") from exc

    gap_ms = gap_minutes * 60_000

    sdf, _ = two_file_stream(
        spark, load(spark, sf_dir, "events").select(
            "user_id", "ts", "event_id"),
        "tws_timer_")
    sdf = sdf.withWatermark("ts", "0 seconds")

    class SessionTimer(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._h = handle
            self._s = handle.getValueState(
                "sess", "start long, last long, n long")

        def handleInputRows(self, key, rows, timerValues):
            start, last, n = (self._s.get() if self._s.exists()
                              else (None, None, 0))
            ts_list = []
            for pdf in rows:
                ts_list += [int(t.timestamp() * 1000)
                            for t in pdf["ts"]]
            for t in sorted(ts_list):
                if start is None:
                    start = t
                last = t if last is None else max(last, t)
                n += 1
            if last is not None:
                for old in list(self._h.listTimers()):
                    self._h.deleteTimer(old)
                self._h.registerTimer(last + gap_ms)
            self._s.update((start, last, n))
            return iter([])

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if self._s.exists():
                _start, _last, n = self._s.get()
                self._s.clear()
                yield pd.DataFrame({
                    "user_id": [key[0]], "n_events": [n],
                    "fired_at": [expiredTimerInfo.getExpiryTimeInMs()],
                })

        def close(self) -> None:
            pass

    out = sdf.groupBy("user_id").transformWithStateInPandas(
        SessionTimer(),
        outputStructType="user_id long, n_events long, fired_at long",
        outputMode="Append",
        timeMode="EventTime",
    )
    key_conf = "spark.sql.streaming.stateStore.providerClass"
    rocks = ("org.apache.spark.sql.execution.streaming.state."
             "RocksDBStateStoreProvider")
    prev = spark.conf.get(key_conf, None)
    try:
        spark.conf.set(key_conf, rocks)
        return _run_to_memory(out, "append")
    finally:
        if prev is None:
            spark.conf.unset(key_conf)
        else:
            spark.conf.set(key_conf, prev)


def interval_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 streaming form: stream-stream interval join with watermarks —
    errors within ±5 minutes of a purchase by the same user (matches
    q_interval_join's batch semantics for fully-arrived data)."""
    ev = stream_events(spark, sf_dir)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"),
                F.col("user_id"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "10 minutes")
    )
    e = (
        ev.filter(F.col("event_type") == "error")
        .select(F.col("event_id").alias("error_id"),
                F.col("user_id").alias("e_user_id"),
                F.col("ts").alias("e_ts"))
        .withWatermark("e_ts", "10 minutes")
    )
    joined = p.join(
        e,
        (p.user_id == e.e_user_id)
        & (e.e_ts >= p.p_ts - F.expr("INTERVAL 5 MINUTES"))
        & (e.e_ts <= p.p_ts + F.expr("INTERVAL 5 MINUTES")),
    ).select("purchase_id", "error_id", "user_id")
    return _run_to_memory(joined)


def session_close_timer_stream(spark: SparkSession, sf_dir: str,
                               gap_minutes: int = 30) -> DataFrame:
    """E7 event-time TIMERS — the ``KeyedProcessFunction.onTimer`` analogue,
    runnable on this container via ``applyInPandasWithState`` +
    ``GroupStateTimeout.EventTimeTimeout``.

    Per-user session tracking: every event extends the session and re-arms
    an event-time timeout at ``last_ts + gap``; when the watermark passes
    the armed timestamp with no new events, the timeout FIRES (exactly
    Flink's timer callback) and the closed session is emitted, state
    cleared. To make timers observable in a bounded demo the fixture is
    split into two time-ordered files and streamed one file per
    micro-batch — the watermark advances between batches, firing timers
    for users idle across the split.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from flink_tutorial_broadcast_spark.io import load

    # two time-ordered files => two micro-batches => watermark movement
    # (f=0 strictly older, so the watermark advances f0 -> f1)
    sdf, _ = two_file_stream(
        spark, load(spark, sf_dir, "events").select("user_id", "ts"),
        "timer_demo_")
    sdf = sdf.withWatermark("ts", "1 minute")

    gap_ms = gap_minutes * 60 * 1000

    def track(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:  # the onTimer() path
            n, first_ms, last_ms = state.get
            state.remove()
            yield pd.DataFrame({
                "user_id": [key[0]], "n_events": [n],
                "session_ms": [last_ms - first_ms],
            })
            return
        n, first_ms, last_ms = (state.get if state.exists
                                else (0, None, None))
        for pdf in pdf_iter:
            ms = (pdf["ts"].astype("int64") // 1_000_000)
            n += len(pdf)
            first_ms = min(first_ms, int(ms.min())) if first_ms else int(ms.min())
            last_ms = max(last_ms, int(ms.max())) if last_ms else int(ms.max())
        state.update((n, first_ms, last_ms))
        state.setTimeoutTimestamp(last_ms + gap_ms)  # arm the timer
        return
        yield  # noqa: unreachable - marks this branch a generator

    closed = sdf.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType="user_id long, n_events long, session_ms long",
        stateStructType="n long, first_ms long, last_ms long",
        outputMode="Append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return _run_to_memory(closed, "append")


def file_sink_exactly_once(spark: SparkSession, sf_dir: str,
                           replay_runs: int = 0) -> DataFrame:
    """A7 file sink + checkpoint-recovery proof (StreamingFileSink
    analogue): the same (checkpoint, output) pair is driven by TWO
    sequential bounded runs — the second run starts from the first's
    offset log, reads only the file added in between, and the committed
    output holds every input row exactly once. This is the micro-batch
    equivalent of Flink's checkpoint-based exactly-once file sink.

    ``replay_runs`` drives N ADDITIONAL restarts with no new input after
    the two ingest runs: each must replay from the committed offset log
    and append nothing — the offset-replay semantics a Kafka-class
    replayable log gives (docs/kafka.md maps the options 1:1); the file
    source's offset is its listed-files log, Kafka's is (topic,
    partition, offset). Exactly-once across crash/restart holds
    identically for both.
    """
    import os
    import tempfile

    from flink_tutorial_broadcast_spark.io import load

    src = tempfile.mkdtemp(prefix="eo_src_")
    out = tempfile.mkdtemp(prefix="eo_out_")
    ckpt = checkpoint_dir()

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    half = ev.agg(F.percentile_approx("event_id", 0.5).alias("m")) \
             .collect()[0]["m"]

    def run_once() -> None:
        q = (
            spark.readStream
            .schema("event_id long, user_id long, value double")
            .option("recursiveFileLookup", "true")
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: first half committed; run 2: resumes from the offset log and
    # must pick up ONLY the second file
    ev.filter(F.col("event_id") <= half).coalesce(1) \
      .write.mode("append").parquet(os.path.join(src, "f0"))
    run_once()
    ev.filter(F.col("event_id") > half).coalesce(1) \
      .write.mode("append").parquet(os.path.join(src, "f1"))
    run_once()
    for _ in range(replay_runs):
        run_once()  # no new input: must commit zero rows
    return spark.read.parquet(out)


def outer_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/C7 streaming form: stream-stream LEFT OUTER interval join with
    watermark-driven state eviction — every purchase emits, paired with
    same-user errors within ±5 minutes or null-extended once the
    watermark proves no match can still arrive.

    This is the Flink outer window join / ``coGroup`` shape: Flink emits
    the unmatched side when the window closes; Structured Streaming
    emits it when BOTH watermarks pass the join-condition bound, at
    which point the buffered row's state is evicted. The fixture is
    split into two time-ordered files (one per micro-batch) so the
    watermark actually advances mid-query and null-extension fires for
    batch-1 purchases; rows near the end-of-stream frontier legitimately
    stay buffered (asserted ⊆ batch oracle in tests).
    """
    import os
    import tempfile

    from flink_tutorial_broadcast_spark.io import load

    ev_batch = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts")
    split_ts = ev_batch.agg(
        F.percentile_approx("ts", 0.5).alias("m")).collect()[0]["m"]
    d = tempfile.mkdtemp(prefix="outer_join_")
    (ev_batch.filter(F.col("ts") <= F.lit(split_ts))
     .coalesce(1).write.parquet(os.path.join(d, "f=0")))
    (ev_batch.filter(F.col("ts") > F.lit(split_ts))
     .coalesce(1).write.parquet(os.path.join(d, "f=1")))

    sdf = (
        spark.readStream
        .schema("event_id long, user_id long, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(d)
    )
    p = (
        sdf.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"),
                F.col("user_id"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 minute")
    )
    e = (
        sdf.filter(F.col("event_type") == "error")
        .select(F.col("event_id").alias("error_id"),
                F.col("user_id").alias("e_user_id"),
                F.col("ts").alias("e_ts"))
        .withWatermark("e_ts", "1 minute")
    )
    joined = p.join(
        e,
        (p.user_id == e.e_user_id)
        & (e.e_ts >= p.p_ts - F.expr("INTERVAL 5 MINUTES"))
        & (e.e_ts <= p.p_ts + F.expr("INTERVAL 5 MINUTES")),
        "leftOuter",
    ).select("purchase_id", "user_id", "error_id")
    return _run_to_memory(joined)


def enrich_stream_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static broadcast enrichment: the streaming event feed
    joined directly to a STATIC dimension DataFrame inside the streaming
    plan — no foreachBatch, no re-read. This is the fixed-rules half of
    the reference pattern ([FLINK-API broadcast state], rules known at
    job start): Catalyst plans a BroadcastHashJoin per micro-batch
    against the same broadcast table.

    Contrast with broadcast_rules_stream (E9), which re-reads the rules
    every micro-batch to emulate MUTABLE broadcast state. Static join =
    cheaper and exactly-once trivially; rebroadcast = fresh rules at
    batch granularity. Both are production shapes.
    """
    ev = stream_events(spark, sf_dir)
    rules = rules_df(spark)  # static: evaluated once, broadcast per batch
    matched = ev.join(
        F.broadcast(rules),
        (ev.event_type == rules.rule_event_type)
        & (ev.value > rules.threshold),
    ).select("event_id", "event_type", "value", "severity")
    return _run_to_memory(matched)


def rollup_sink_stream(spark: SparkSession, sf_dir: str,
                       inject_replay: bool = False) -> DataFrame:
    """Streaming incremental-view maintenance: each micro-batch appends
    its PARTIAL aggregate (per event_type count/sum) to a parquet partials
    table; reading the table back and merging partials reproduces the
    exact batch aggregate. This is q_incremental_agg's streaming twin and
    the production shape for 100 TB rollups: the stream only ever writes
    bounded partials (|groups| rows per batch), never updates in place,
    and the merge is associative so ANY subset of partials is a valid
    partial view.

    Delivery: foreachBatch is AT-LEAST-ONCE — a micro-batch retried after
    its append succeeded but before the checkpoint committed lands twice.
    The sink is made effectively exactly-once at READ time: partials are
    keyed by (batch_id, event_type) and a batch's partial is deterministic
    (same input rows → identical row), so the merge first deduplicates on
    that key and duplicated appends collapse before summation. That is the
    standard idempotent-consumer shape for append-only partial stores.
    """
    out_dir = os.path.join(
        tempfile.mkdtemp(prefix="rollup_sink_"), "partials")
    ev = stream_events(spark, sf_dir)

    def write_partial(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            .agg(F.count("*").alias("pn"), F.sum("value").alias("psum"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append").parquet(out_dir)
        )

    q = (
        ev.writeStream.foreachBatch(write_partial)
        .option("checkpointLocation", checkpoint_dir())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if inject_replay:
        # simulate the at-least-once failure mode: one micro-batch's
        # partial lands a SECOND time (append succeeded, checkpoint
        # commit lost, batch retried). A batch's partial is
        # deterministic, so the duplicate rows are byte-identical and
        # the (batch_id, event_type) dedupe below must absorb them.
        partials = spark.read.parquet(out_dir)
        first_batch = partials.agg(F.min("batch_id")).collect()[0][0]
        (partials.filter(F.col("batch_id") == first_batch)
         .write.mode("append").parquet(out_dir))
    return (
        spark.read.parquet(out_dir)
        # collapse replayed micro-batches: one partial per (batch, group)
        .dropDuplicates(["batch_id", "event_type"])
        .groupBy("event_type")
        .agg(
            F.sum("pn").alias("n"),
            F.round(F.sum("psum"), 2).alias("sum_value"),
        )
    )


def cdc_merge_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC materializer — q_cdc_apply's streaming twin and the
    Delta-Lake `MERGE`-per-micro-batch production shape: a changelog
    stream (op ∈ I/U/D rows) is folded into a base snapshot by a
    foreachBatch delete-aware merge, each batch writing a NEW immutable
    table version (copy-on-write; the poor-man's table format —
    versioned parquet dirs with the highest version as current). The
    merge itself is the same full-outer PK join + coalesce + anti-filter
    as q_cdc_apply, so batch and streaming share one semantics
    definition; `maxFilesPerTrigger=1` forces each changelog file
    through its own micro-batch, proving multi-batch convergence.
    Final state ≡ one-shot q_cdc_apply (pinned in
    tests/test_streaming.py) because the U-family (pk%10, excluding
    deletes) and the D/I families touch disjoint-or-delete-dominated
    keys — per-key changes commute here; a real pipeline orders by
    changelog offset within key, which micro-batch sequencing provides.

    At 100 TB: copy-on-write rewrites only touched files in a real table
    format (Delta/Iceberg data-skipping on PK ranges); the changelog
    side of each merge is small by nature → broadcast, the base never
    shuffles.
    """
    import shutil

    from flink_tutorial_broadcast_spark.io import load

    base = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    k = F.col("c_custkey")

    root = tempfile.mkdtemp(prefix="cdc_stream_")
    src = os.path.join(root, "changelog")
    os.makedirs(src)
    state = os.path.join(root, "state")
    base.write.parquet(os.path.join(state, "v0"))

    # changelog file 1: updates; file 2: deletes + inserts (same %13/%10/
    # %17 families as q_cdc_apply, so the converged state must match it)
    (base.filter((k % 13 != 0) & (k % 10 == 0))
     .select(k.alias("k"), F.lit("U").alias("op"),
             (F.col("c_acctbal") + 100.0).alias("bal"))
     .coalesce(1).write.parquet(os.path.join(src, "c0")))
    (base.filter(k % 13 == 0)
     .select(k.alias("k"), F.lit("D").alias("op"),
             F.lit(None).cast("double").alias("bal"))
     .unionByName(
         base.filter(k % 17 == 0)
         .select((k + 10000000).alias("k"), F.lit("I").alias("op"),
                 F.col("c_acctbal").alias("bal")))
     .coalesce(1).write.parquet(os.path.join(src, "c1")))

    def current_version() -> str:
        vs = sorted(int(d[1:]) for d in os.listdir(state))
        return os.path.join(state, f"v{vs[-1]}")

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        # Read the version KEYED TO THIS BATCH (v{batch_id}), never the
        # max: under at-least-once replay (write succeeded, checkpoint
        # commit didn't) the max is already v{batch_id+1} — the write
        # target itself — and reading it would self-overwrite ("Cannot
        # overwrite a path that is also being read from"). Reading
        # v{batch_id} makes a replay deterministically recompute
        # v{batch_id+1} from unchanged input instead.
        cur = spark.read.parquet(os.path.join(state, f"v{batch_id}"))
        log = batch_df
        j = cur.join(log, cur.c_custkey == log.k, "full")
        nxt = (
            j.filter(F.col("op").isNull() | (F.col("op") != "D"))
            .select(
                F.coalesce(cur.c_custkey, log.k).alias("c_custkey"),
                F.coalesce(log.bal, cur.c_acctbal).alias("c_acctbal"),
            )
        )
        # copy-on-write: land the new version, never touch the old one
        tgt = os.path.join(state, f"v{batch_id + 1}")
        nxt.write.mode("overwrite").parquet(tgt)

    q = (
        spark.readStream
        .schema("k long, op string, bal double")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(current_version())
    result = out.select("c_custkey", F.round("c_acctbal", 2).alias("c_acctbal"))
    result = result.cache()
    result.count()  # materialize before the temp state is torn down
    shutil.rmtree(root, ignore_errors=True)
    return result


def custom_source_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 streaming: the custom Python Data Source's UNBOUNDED half —
    sources/custom_source.py's EventStreamReader drives a real
    readStream with checkpointed integer offsets; the bounded demo
    horizon (2000 rows) lets the run terminate. Exactly-once falls out
    of deterministic regeneration (readBetweenOffsets) + the offset log,
    the same argument as the file source and Kafka (docs/kafka.md);
    tests pin row-exactness against the generator formula."""
    from flink_tutorial_broadcast_spark.sources.custom_source import (
        _STREAM_MAX, register_streaming,
    )
    register_streaming(spark)
    out = tempfile.mkdtemp(prefix="synth_out_")
    ckpt = checkpoint_dir()

    def run_once() -> None:
        q = (
            spark.readStream.format("synthetic_events").load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # a timed-out run must not fall through: the next run_once()
        # would start a SECOND query on the same checkpoint/sink
        # (concurrent-stream failure / double-write). Stop and raise.
        if not q.awaitTermination(120):
            q.stop()
            raise RuntimeError(
                "synthetic_events availableNow run exceeded 120s; "
                "stopped before starting a concurrent query")

    # availableNow consumes one prefetched slice per run; restarting over
    # the SAME checkpoint resumes from the committed offset — the loop IS
    # the restart-recovery demonstration. Terminates when the bounded
    # horizon stops the offset advancing (one extra no-op run).
    n_prev = -1
    while True:
        run_once()
        n_now = spark.read.parquet(out).count()
        if n_now == n_prev or n_now >= _STREAM_MAX:
            break
        n_prev = n_now
    return spark.read.parquet(out)


def incremental_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_incremental's STREAMING twin — the production crawl-round
    dedup loop: each micro-batch of incoming documents is admitted only
    if its content hash is absent from the persistent digest index,
    which the batch then extends (copy-on-write, version keyed to the
    batch id exactly like cdc_merge_stream so an at-least-once replay
    recomputes v{batch_id+1} from unchanged input instead of
    self-overwriting). Within-batch duplicates collapse first
    (dropDuplicates on the hash); accepted docs land in a per-batch
    output dir with mode=overwrite, so a replayed batch rewrites the
    identical file set — admission is exactly-once end to end.
    `maxFilesPerTrigger=1` forces each crawl file through its own
    micro-batch, proving CROSS-batch dedup: batch 1 re-sends batch 0's
    texts under fresh doc_ids and every one is rejected against the
    index batch 0 just built. At 100 TB the digest index is a bucketed
    table (or the RocksDB state store via dropDuplicates on the stream)
    and the anti-join broadcasts the batch digest, never the corpus.
    """
    from flink_tutorial_broadcast_spark.io import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="incr_dedup_")
    src = os.path.join(root, "crawl")
    os.makedirs(src)
    state = os.path.join(root, "digests")
    accepted_root = os.path.join(root, "accepted")

    # digest index v0 = the settled corpus (doc_id < 400)
    corpus = docs.filter(F.col("doc_id") < 400)
    corpus.select(F.md5("text").alias("h")).distinct() \
        .write.parquet(os.path.join(state, "v0"))

    # crawl file 0: genuinely-new docs [400, 450) + re-crawls of 10
    # corpus texts under fresh ids (must be rejected against v0)
    fresh0 = docs.filter((F.col("doc_id") >= 400) & (F.col("doc_id") < 450))
    recrawl_corpus = (corpus.filter(F.col("doc_id") < 10)
                      .select((F.col("doc_id") + 10000).alias("doc_id"),
                              "text"))
    fresh0.unionByName(recrawl_corpus).coalesce(1) \
        .write.parquet(os.path.join(src, "c0"))
    # crawl file 1: new docs [450, 500) + re-sends of 5 of file 0's
    # texts under fresh ids (must be rejected against v1 — the index
    # file 0's batch just built)
    fresh1 = docs.filter((F.col("doc_id") >= 450) & (F.col("doc_id") < 500))
    resend_batch0 = (docs.filter((F.col("doc_id") >= 400)
                                 & (F.col("doc_id") < 405))
                     .select((F.col("doc_id") + 20000).alias("doc_id"),
                             "text"))
    fresh1.unionByName(resend_batch0).coalesce(1) \
        .write.parquet(os.path.join(src, "c1"))

    # FileStreamSource orders pending files by modification time; equal
    # mtimes could let c1 beat c0 into batch 0 (reading index v0 and
    # wrongly admitting the re-sends). Force strictly increasing mtimes
    # so c0 is always batch 0 and c1 batch 1.
    stamp = int(time.time())
    for i, crawl_dir in enumerate(("c0", "c1")):
        for fname in os.listdir(os.path.join(src, crawl_dir)):
            fpath = os.path.join(src, crawl_dir, fname)
            os.utime(fpath, (stamp + 10 * i, stamp + 10 * i))

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        index = spark.read.parquet(os.path.join(state, f"v{batch_id}"))
        cand = (batch_df.withColumn("h", F.md5("text"))
                # within-batch dups collapse deterministically (min id)
                .withColumn("rn", F.row_number().over(
                    Window.partitionBy("h").orderBy("doc_id")))
                .filter(F.col("rn") == 1).drop("rn"))
        new = cand.join(index, "h", "left_anti")
        new = new.localCheckpoint()  # two consumers: output + index
        new.select("doc_id", "text", "h").write.mode("overwrite") \
            .parquet(os.path.join(accepted_root, f"b{batch_id}"))
        index.unionByName(new.select("h")).distinct() \
            .write.mode("overwrite") \
            .parquet(os.path.join(state, f"v{batch_id + 1}"))

    q = (
        spark.readStream
        .schema("doc_id long, text string")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(admit)
        .option("checkpointLocation", checkpoint_dir())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.option("recursiveFileLookup", "true") \
        .parquet(accepted_root).select("doc_id", "text", "h")
    out = out.cache()
    out.count()  # materialize before the temp state is torn down
    shutil.rmtree(root, ignore_errors=True)
    return out


def continuous_map_stream(spark: SparkSession, sf_dir: str,
                          runtime_s: float = 6.0) -> DataFrame:
    """SURVEY §3.4's accepted divergence, partially lifted: Spark's
    CONTINUOUS trigger runs this stateless map/filter pipeline per-record
    (epoch-based checkpointing, millisecond-floor latency), not in
    micro-batches — the same execution shape as the reference's push-based
    per-record pipeline [FLINK-API: DataStream map/filter task chain].

    The contract mirrors Flink's slot model exactly: continuous mode
    launches ONE long-running task per source partition that never
    returns — a standing topology, so source parallelism = reserved cores
    for the lifetime of the query (numPartitions=2 here; on a cluster,
    size partitions to the cores you dedicate). Only stateless
    projections/filters are supported — Spark's per-record pipeline stops
    at shuffle boundaries, where the reference's continues; aggregations
    under this trigger raise at analysis time (test-pinned), which keeps
    the micro-batch jobs above the right home for stateful shapes.

    Polls up to `runtime_s` (plus a loaded-host grace) until rows land,
    then returns the memory-sink table (readable WHILE the query runs —
    checked before stop so the rows observably arrived mid-flight, not on
    query teardown). `sf_dir` is accepted for the uniform job signature
    only; the rate source reads no input tables.
    """
    name = f"cont_map_{uuid.uuid4().hex[:8]}"
    sdf = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 200)
        .option("numPartitions", 2)  # 2 standing tasks; leave slots free
        .load()
        .withColumn("doubled", F.col("value") * 2)
        .filter(F.col("value") % 2 == 0)
        .select("timestamp", "value", "doubled")
    )
    q = (sdf.writeStream.format("memory").queryName(name)
         .trigger(continuous="1 second").start())
    try:
        # Poll until rows observably arrive mid-flight (bounded by
        # runtime_s plus a loaded-host grace) instead of a fixed sleep:
        # on a busy box the rate source may emit nothing for seconds.
        deadline = time.monotonic() + max(runtime_s, 2.0) + 24.0
        while time.monotonic() < deadline:
            if spark.table(name).where(F.col("value") >= 0).count() > 0:
                break
            time.sleep(0.5)
        else:
            raise RuntimeError(
                "continuous query produced no rows before deadline")
        if not q.isActive:
            raise RuntimeError(
                "continuous query died while rows were being read")
    finally:
        q.stop()
    return spark.table(name)


def eventlog_pipeline_exactly_once(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """The full Kafka-shape pipeline, end-to-end across a restart:
    partitioned replayable log (sources/eventlog.py — per-partition
    offset map in the checkpoint) → keyed aggregation → idempotent
    partial-store sink (the rollup_sink_stream consumer shape). Run 1
    drains the initial segments and stops; more records are produced;
    run 2 RESUMES from the committed offset map and must process only
    the delta. Because each run's micro-batches get fresh batch_ids from
    the same checkpoint, any re-read of the committed range would land
    as NEW (batch_id, user_id) partials and inflate the merged counts —
    so the test's exact-aggregate assertion proves exactly-once through
    source offsets, state, and sink together, which is the property a
    user migrating a checkpointed Flink→Kafka pipeline actually needs.
    """
    from flink_tutorial_broadcast_spark.sources import eventlog

    root = tempfile.mkdtemp(prefix="evpipe_src_")
    out = os.path.join(tempfile.mkdtemp(prefix="evpipe_sink_"), "partials")
    ckpt = tempfile.mkdtemp(prefix="evpipe_ckpt_")
    eventlog.register(spark)

    def run_once() -> None:
        sdf = (spark.readStream.format("ftbs_eventlog")
               .option("path", root).load())

        def write_partial(batch_df: DataFrame, batch_id: int) -> None:
            (batch_df.groupBy("user_id")
             .agg(F.count("*").alias("pn"), F.sum("value").alias("psum"))
             .withColumn("batch_id", F.lit(batch_id))
             .write.mode("append").parquet(out))

        q = (sdf.writeStream.foreachBatch(write_partial)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    rows1 = [(i, i % 5, "view", float(i)) for i in range(120)]
    eventlog.log_write(root, rows1, n_partitions=3)
    run_once()
    rows2 = [(i, i % 5, "purchase", float(i)) for i in range(120, 200)]
    eventlog.log_write(root, rows2, n_partitions=3)
    run_once()
    return (spark.read.parquet(out)
            .dropDuplicates(["batch_id", "user_id"])
            .groupBy("user_id")
            .agg(F.sum("pn").alias("n"),
                 F.round(F.sum("psum"), 2).alias("sum_value")))


def vector_ingest_stream(spark: SparkSession, sf_dir: str,
                         n_chunks: int = 3) -> DataFrame:
    """Streaming ANN index ingest — the online half of the K3 ladder:
    embedding vectors arrive as a stream (chunked file source,
    maxFilesPerTrigger=1 forces one micro-batch per chunk), each batch is
    routed to its nearest of 8 pretrained centroids (broadcast dim; the
    q_knn_ivf assignment rule with the same deterministic tie on cell
    id), and the routed vectors land APPEND-ONLY in a cell-PARTITIONED
    parquet index — exactly the layout the IVF queries prune on
    (`cell=` partition directories → partition pruning at probe time).

    Per-cell writes are tiny per batch and the routing is stateless, so
    the job scales as pure map + broadcast; the index grows without ever
    rewriting committed cells — the standard streaming-ingest IVF design.
    """
    from flink_tutorial_broadcast_spark.io import SCHEMAS, load
    from flink_tutorial_broadcast_spark.operators.llm_knn import _dot

    emb = (load(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") < 2000))
    src = tempfile.mkdtemp(prefix="vecing_src_")
    out = os.path.join(tempfile.mkdtemp(prefix="vecing_idx_"), "index")
    for k in range(n_chunks):
        (emb.filter(F.col("vec_id") % n_chunks == k).coalesce(1)
         .write.mode("append").parquet(os.path.join(src, f"chunk{k}")))
    cents = (emb.filter(F.col("vec_id") < 8)
             .select(F.col("vec_id").alias("c_id"),
                     F.col("embedding").alias("c_emb"),
                     F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
                     .alias("c_norm"))
             .localCheckpoint())

    def route(batch_df: DataFrame, batch_id: int) -> None:
        scored = (
            batch_df
            .withColumn("norm",
                        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))))
            # zero-norm vectors have no cosine direction — drop them here
            # rather than NaN-routing them to an arbitrary cell
            .filter(F.col("norm") > 0)
            .crossJoin(F.broadcast(cents))
            .withColumn("cc", _dot(F.col("embedding"), F.col("c_emb"))
                        / (F.col("norm") * F.col("c_norm")))
        )
        best = (scored.groupBy("vec_id")
                .agg(F.min(F.struct((-F.col("cc")).alias("nc"),
                                    F.col("c_id").alias("cid"))).alias("b"))
                .select("vec_id", F.col("b.cid").alias("cell")))
        (batch_df.join(best, "vec_id")
         .write.mode("append").partitionBy("cell").parquet(out))

    sdf = (spark.readStream.schema(SCHEMAS["embeddings"])
           .option("recursiveFileLookup", "true")
           .option("maxFilesPerTrigger", 1)
           .parquet(src))
    q = (sdf.writeStream.foreachBatch(route)
         .option("checkpointLocation", checkpoint_dir())
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.read.parquet(out)


def queryable_state_read(spark: SparkSession, sf_dir: str):
    """Flink queryable-state / State-Processor-API parity: a keyed
    streaming aggregate runs against a checkpoint, then the CHECKPOINTED
    STATE ITSELF is read back offline as a DataFrame through Spark 4's
    state data source (`spark.read.format("statestore")`) — no query
    running, no sink involved; the store is the source of truth. Returns
    (sink_df, state_df, metadata_df): the memory-sink result, the
    per-key state rows read from the store, and the checkpoint's
    state-metadata self-description. At scale the state read is one task per
    store shard — the same parallelism the job ran with — which is how
    state inspection, repair, and bootstrap tooling (Flink's state
    processor) operate on Spark."""
    import os

    from flink_tutorial_broadcast_spark.io import load

    ckpt = checkpoint_dir()
    src = tempfile.mkdtemp(prefix="qstate_src_")
    ev = (load(spark, sf_dir, "events")
          .select("event_id", "user_id", "value"))
    ev.coalesce(1).write.mode("append").parquet(os.path.join(src, "f0"))
    name = f"qstate_{uuid.uuid4().hex[:8]}"
    sdf = (spark.readStream
           .schema("event_id long, user_id long, value double")
           .option("recursiveFileLookup", "true").parquet(src)
           .groupBy("user_id").agg(F.count("*").alias("n")))
    q = (sdf.writeStream.format("memory").queryName(name)
         .outputMode("complete").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    state = (spark.read.format("statestore").load(ckpt)
             .select(F.col("key.user_id").alias("user_id"),
                     F.col("value.count").alias("n_state")))
    # checkpoint self-description: which operators hold which stores over
    # which batch range — the discovery half of state tooling
    meta = spark.read.format("state-metadata").load(ckpt)
    return spark.table(name), state, meta
