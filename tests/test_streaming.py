"""Streaming ≡ batch equivalence tests (SURVEY.md §5.3 streaming strategy).

Bounded streams (availableNow) over the same fixture must reproduce the
batch operators' results — the micro-batch model's window/watermark
semantics match the batch formulations for fully-arrived data.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_tutorial_broadcast_spark.streaming import jobs
from tests.conftest import SF_SMOKE


def _kv(df, keys, val):
    return {tuple(r[k] for k in keys): r[val] for r in df.collect()}


def _half_split_counts(spark, pat):
    """Per-user batch match counts of `pat`, computed on each half of
    the median-ts split the two-file and restart CEP jobs stream, and
    summed. A converged streaming count ABOVE this sum can only come
    from matches that span the split — state carried across it."""
    from flink_tutorial_broadcast_spark.cep import compile_pattern
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.operators.sequence_ops import (
        CEP_EVENTS,
    )

    ev = load(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "event_type")
    split_ts = ev.agg(
        F.percentile_approx("ts", 0.5).alias("m")).collect()[0]["m"]
    total: dict[int, int] = {}
    for half in (ev.filter(F.col("ts") <= F.lit(split_ts)),
                 ev.filter(F.col("ts") > F.lit(split_ts))):
        for r in compile_pattern(pat, half, *CEP_EVENTS).collect():
            total[r["user_id"]] = total.get(r["user_id"], 0) \
                + r["n_matches"]
    return total


def test_streaming_tumbling_equals_batch(spark, queries):
    batch = queries["q_window_tumbling"](spark, SF_SMOKE)
    stream = jobs.tumbling_window_stream(spark, SF_SMOKE)
    bk = _kv(batch, ("window_start", "event_type"), "n_events")
    sk = _kv(stream, ("window_start", "event_type"), "n_events")
    # append mode emits only watermark-finalized windows; every emitted
    # window must match the batch result exactly, and nearly all must emit
    assert sk
    for k, v in sk.items():
        assert bk[k] == v, k
    assert len(sk) >= len(bk) - 10  # tail windows may stay open


def test_streaming_session_equals_batch(spark, queries):
    batch = queries["q_window_session"](spark, SF_SMOKE)
    stream = jobs.session_window_stream(spark, SF_SMOKE)
    bk = _kv(batch, ("user_id", "session_start"), "n_events")
    sk = _kv(stream, ("user_id", "session_start"), "n_events")
    assert sk
    for k, v in sk.items():
        assert bk[k] == v, k


def test_streaming_dedup_matches_batch_keyspace(spark, queries):
    stream = jobs.streaming_dedup(spark, SF_SMOKE)
    batch = queries["q_dedup_first_event"](spark, SF_SMOKE)
    # one survivor per (user, type); same key set as the batch form
    skeys = {(r["user_id"], r["event_type"]) for r in stream.collect()}
    bkeys = {(r["user_id"], r["event_type"]) for r in batch.collect()}
    assert skeys == bkeys


def test_broadcast_rules_stream_equals_batch_join(spark):
    from flink_tutorial_broadcast_spark.operators.flagship import (
        broadcast_rule_matches,
    )
    stream = jobs.broadcast_rules_stream(spark, SF_SMOKE)
    batch = broadcast_rule_matches(spark, SF_SMOKE)
    assert stream.count() == batch.count()
    s_ids = {r["event_id"] for r in stream.select("event_id").collect()}
    b_ids = {r["event_id"] for r in batch.select("event_id").collect()}
    assert s_ids == b_ids


def test_broadcast_rules_stream_sees_mutated_rules(spark):
    """E9: mutating the rule source changes matching — the foreachBatch
    re-read picks up the new rule set (per-micro-batch consistency)."""
    from flink_tutorial_broadcast_spark.sources.rules import RULES_SCHEMA
    strict = spark.createDataFrame(
        [(t, 1e9, s) for t, _th, s in
         [("click", 0, "low"), ("view", 0, "low"), ("purchase", 0, "high"),
          ("signup", 0, "medium"), ("error", 0, "high")]], RULES_SCHEMA)
    out = jobs.broadcast_rules_stream(spark, SF_SMOKE,
                                      rules_source=lambda: strict)
    assert out.count() == 0  # thresholds of 1e9 → nothing fires


def _batch_totals(df):
    return (df.groupBy("user_id")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("total_value"),
                 F.max("value").alias("max_value")))


def test_keyed_state_stream_totals_match_batch(spark, monkeypatch):
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from flink_tutorial_broadcast_spark.io import load

    started = []
    start = DataStreamWriter.start

    def spy(self, *args, **kwargs):
        started.append(start(self, *args, **kwargs))
        return started[-1]

    monkeypatch.setattr(DataStreamWriter, "start", spy)
    stream = jobs.keyed_state_stream(spark, SF_SMOKE)
    [q] = started
    # the running totals are a native stateful aggregate: the JVM state
    # store writes the per-user buffers, no Python worker runs
    plan = (q._jsq.streamingQuery().lastExecution()
            .executedPlan().toString())
    assert "FlatMapGroupsInPandasWithState" not in plan
    assert "StateStoreSave" in plan

    events = load(spark, SF_SMOKE, "events")
    batch = _batch_totals(events)
    n_users = events.select("user_id").distinct().count()
    [state_op] = q.lastProgress["stateOperators"]
    assert state_op["numRowsTotal"] == n_users
    sk = _kv(stream, ("user_id",), "n_events")
    bk = _kv(batch, ("user_id",), "n_events")
    assert sk == bk
    st = _kv(stream, ("user_id",), "total_value")
    bt = _kv(batch, ("user_id",), "total_value")
    for k in bt:
        assert abs(st[k] - bt[k]) < 0.01 + 1e-9, k


def test_keyed_state_totals_null_values_match_batch(spark, tmp_path):
    """NULL values: count(*) counts them, sum and max skip them, and a
    user with only NULL values has NULL total and max, as in the batch
    groupBy."""
    rows = [(1, 5.0), (1, None), (2, None), (2, None), (3, 7.25)]
    schema = "user_id long, value double"
    spark.createDataFrame(rows, schema).write.parquet(str(tmp_path / "src"))
    sdf = spark.readStream.schema(schema).parquet(str(tmp_path / "src"))
    stream = jobs._run_to_memory(jobs.keyed_state_totals(sdf), "update")
    batch = _batch_totals(spark.createDataFrame(rows, schema))
    assert sorted(map(tuple, stream.collect())) \
        == sorted(map(tuple, batch.collect())) \
        == [(1, 2, 5.0, 5.0), (2, 2, None, None), (3, 1, 7.25, 7.25)]


def test_interval_join_stream_matches_batch(spark, queries):
    stream = jobs.interval_join_stream(spark, SF_SMOKE)
    batch = queries["q_interval_join"](spark, SF_SMOKE)
    spairs = {(r["purchase_id"], r["error_id"]) for r in stream.collect()}
    bpairs = {(r["purchase_id"], r["error_id"]) for r in batch.collect()}
    # stream-stream join may hold back rows near the watermark frontier;
    # everything emitted must be a true batch pair
    assert spairs <= bpairs
    assert len(spairs) >= len(bpairs) - 2


def test_late_data_dlq_single_batch_all_on_time(spark):
    on_time, late = jobs.late_data_dlq_stream(spark, SF_SMOKE)
    assert on_time.count() == 1000
    assert late.count() == 0


def test_event_time_timer_closes_sessions(spark):
    """E7 timers: the EventTimeTimeout path (Flink onTimer analogue) must
    fire for users idle across the watermark advance, emit exactly one
    closed session per user, and clear state."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        session_close_timer_stream,
    )
    df = session_close_timer_stream(spark, SF_SMOKE)
    rows = df.collect()
    assert len(rows) > 0
    users = [r["user_id"] for r in rows]
    assert len(users) == len(set(users))  # one close per user (state cleared)
    assert all(r["n_events"] > 0 and r["session_ms"] >= 0 for r in rows)


def test_count_window_stream_converges_to_batch(spark, queries):
    """E4 streaming count windows: the last emission per (user, bucket)
    must equal the oracle-checked batch q_window_count — counts exactly,
    sums to float tolerance (addition order differs) — and a bucket
    straddling the batch split must have been emitted partial-then-final
    (the keyed-state continuity evidence)."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        count_window_stream,
    )
    rows = count_window_stream(spark, SF_SMOKE).collect()
    # a bucket's n is monotone across its emissions, so its final state
    # is the max-n emission (no reliance on sink row order)
    final: dict[tuple, tuple] = {}
    emissions: dict[tuple, int] = {}
    for r in rows:
        key = (r["user_id"], r["bucket"])
        emissions[key] = emissions.get(key, 0) + 1
        if key not in final or r["n_events"] > final[key][0]:
            final[key] = (r["n_events"], r["sum_value"])
    batch = {(r["user_id"], r["bucket"]): (r["n_events"], r["sum_value"])
             for r in queries["q_window_count"](spark, SF_SMOKE).collect()}
    assert final.keys() == batch.keys()
    for k, (n, s) in final.items():
        assert n == batch[k][0], k
        assert abs(s - batch[k][1]) < 1e-6, k
    assert any(c > 1 for c in emissions.values())  # straddling bucket


def test_side_outputs_partition_the_stream_exactly(spark):
    """Flink OutputTag analogue: the three sinks (main / errors /
    unmatched) must partition the input exactly — pairwise disjoint,
    union = every event — and each sink's membership must satisfy its
    routing predicate recomputed batch-side."""
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.sources.rules import rules_df
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        side_output_stream,
    )
    main, errors, unmatched = side_output_stream(spark, SF_SMOKE)
    m = {r["event_id"] for r in main.collect()}
    e = {r["event_id"] for r in errors.collect()}
    u = {r["event_id"] for r in unmatched.collect()}
    assert m and e and u
    assert not (m & e) and not (m & u) and not (e & u)

    ev = load(spark, SF_SMOKE, "events")
    all_ids = {r["event_id"] for r in ev.select("event_id").collect()}
    assert m | e | u == all_ids

    rules = rules_df(spark)
    rest = ev.filter(F.col("event_type") != "error")
    cond = ((rest.event_type == rules.rule_event_type)
            & (rest.value > rules.threshold))
    want_m = {r["event_id"] for r in
              rest.join(F.broadcast(rules), cond, "left_semi")
              .select("event_id").collect()}
    want_e = {r["event_id"] for r in
              ev.filter(F.col("event_type") == "error")
              .select("event_id").collect()}
    assert m == want_m
    assert e == want_e


def test_cep_stream_converges_to_batch_and_survives_split(spark, queries):
    """Streaming CEP (keyed-state automaton): the last emission per user
    must equal the oracle-checked batch q_cep_followed_by, and at least
    one user's converged count must EXCEED the sum of the batch counts
    on the two halves of the split — a match completed across the
    micro-batch boundary, proving the NFA register really is carried in
    state, not recomputed per batch."""
    from flink_tutorial_broadcast_spark.operators.sequence_ops import (
        CEP_FOLLOWED_BY,
    )
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        cep_followed_by_stream,
    )
    rows = cep_followed_by_stream(spark, SF_SMOKE).collect()
    # memory-sink rows arrive per batch; the LAST emission per user is
    # the converged automaton (counts are monotone -> max)
    final: dict[int, int] = {}
    for r in rows:
        uid = r["user_id"]
        final[uid] = max(final.get(uid, 0), r["n_matches"])
    batch = {r["user_id"]: r["n_matches"] for r in
             queries["q_cep_followed_by"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == batch
    halves = _half_split_counts(spark, CEP_FOLLOWED_BY)
    crossed = [u for u, n in final.items() if n > halves.get(u, 0)]
    assert crossed  # some partial match completed across the boundary


def test_cep_fork_stream_converges_and_carries_anchor_sets(spark, queries):
    """Streaming forking NFA (anchor-set keyed state): the last emission
    per user must equal the oracle-checked batch q_cep_followed_by_all,
    and at least one user's converged count must EXCEED the sum of the
    batch counts on the two halves of the split — open anchors that
    completed matches across the boundary, proving the partial-match
    SET is carried in state."""
    from flink_tutorial_broadcast_spark.operators.sequence_ops import (
        CEP_FOLLOWED_BY_ALL,
    )
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        cep_followed_by_all_stream,
    )

    rows = cep_followed_by_all_stream(spark, SF_SMOKE).collect()
    final: dict[int, int] = {}
    for r in rows:
        uid = r["user_id"]
        final[uid] = max(final.get(uid, 0), r["n_matches"])
    batch = {r["user_id"]: r["n_matches"] for r in
             queries["q_cep_followed_by_all"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == batch
    halves = _half_split_counts(spark, CEP_FOLLOWED_BY_ALL)
    crossed = [u for u, n in final.items() if n > halves.get(u, 0)]
    assert crossed  # open anchors completed matches across the boundary


def test_cep_fork_stream_compares_horizon_in_microseconds(spark, tmp_path):
    """The streaming forking NFA tests its 48 h horizon in MICROSECONDS,
    like the batch q_cep_followed_by_all: a view at +900 us and a
    purchase at +48 h +950 us are 48 h + 50 us apart — outside the
    horizon — although both floor to the same millisecond offset, 48 h
    exactly. Neither the stream nor the batch key may count a match."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_tutorial_broadcast_spark.operators.sequence_ops import (
        q_cep_followed_by_all,
    )
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        cep_followed_by_all_stream,
    )

    base = datetime.datetime(2024, 1, 1)  # a whole second
    us = datetime.timedelta(microseconds=1)
    offsets = [900 * us, datetime.timedelta(hours=1),
               datetime.timedelta(hours=48) + 950 * us]
    pq.write_table(pa.table({
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "user_id": pa.array([7, 7, 7], pa.int64()),
        "ts": pa.array([base + o for o in offsets],
                       pa.timestamp("us")),
        "event_type": pa.array(["view", "click", "purchase"]),
        "value": pa.array([1.0, 1.0, 1.0]),
        "props": pa.array(["{}"] * 3),
    }), str(tmp_path / "events.parquet"))

    rows = cep_followed_by_all_stream(spark, str(tmp_path)).collect()
    assert max((r["n_matches"] for r in rows), default=0) == 0
    assert q_cep_followed_by_all(spark, str(tmp_path)).count() == 0


def test_eventlog_stream_per_partition_offsets_and_resume(spark):
    """Kafka-shape streaming contract on the file-backed partitioned log
    (sources/eventlog.py): run 1 drains the initial segments, more
    records are produced, run 2 resumes from the SAME checkpoint and
    must read only the new range — exactly-once across the restart —
    and the committed offset file must carry the per-partition map
    {"0": n0, "1": n1} (the Kafka offset shape), advancing between
    runs."""
    import glob
    import json as _json
    import os
    import tempfile

    from flink_tutorial_broadcast_spark.sources import eventlog

    root = tempfile.mkdtemp(prefix="evlog_src_")
    out = tempfile.mkdtemp(prefix="evlog_out_")
    ckpt = tempfile.mkdtemp(prefix="evlog_ckpt_")

    rows1 = [(i, i % 3, "view", float(i)) for i in range(100)]
    eventlog.log_write(root, rows1, n_partitions=3)
    eventlog.register(spark)

    def run_once():
        sdf = (spark.readStream.format("ftbs_eventlog")
               .option("path", root).load())
        q = (sdf.writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run_once()
    got1 = {r["event_id"] for r in spark.read.parquet(out).collect()}
    assert got1 == set(range(100))

    offset_files = sorted(glob.glob(os.path.join(ckpt, "offsets", "*")))
    with open(offset_files[-1]) as fh:
        last = fh.read().strip().splitlines()[-1]
    off1 = _json.loads(_json.loads(last)["offset"]) \
        if "offset" in last else _json.loads(last)
    # per-partition map, keyed by partition id, counting that run's rows
    assert {k: int(v) for k, v in off1.items()} \
        == {"0": 34, "1": 33, "2": 33}

    rows2 = [(i, i % 3, "purchase", float(i)) for i in range(100, 150)]
    eventlog.log_write(root, rows2, n_partitions=3)
    run_once()
    got2 = [r["event_id"] for r in spark.read.parquet(out).collect()]
    assert len(got2) == 150          # no re-read of the committed range
    assert set(got2) == set(range(150))

    offset_files = sorted(glob.glob(os.path.join(ckpt, "offsets", "*")))
    with open(offset_files[-1]) as fh:
        last = fh.read().strip().splitlines()[-1]
    off2 = _json.loads(_json.loads(last)["offset"]) \
        if "offset" in last else _json.loads(last)
    assert {k: int(v) for k, v in off2.items()} \
        == {"0": 50, "1": 50, "2": 50}


def test_eventlog_preserves_per_key_order(spark):
    """Keyed partitioning: a key's records must come back in append
    order within its partition (the Kafka producer-key guarantee)."""
    import tempfile

    from flink_tutorial_broadcast_spark.sources import eventlog

    root = tempfile.mkdtemp(prefix="evlog_ord_")
    rows = [(i, i % 2, "view", float(i)) for i in range(40)]
    eventlog.log_write(root, rows, n_partitions=2)
    eventlog.register(spark)
    # partition-local read order is offset order; verify per partition
    for p in (0, 1):
        ids = [r[0] for r in eventlog._read_range(root, p, 0, 10**6)]
        assert ids == sorted(ids)
        assert all(i % 2 == p for i in ids)


def test_eventlog_seek_starting_offsets(spark):
    """Kafka seek parity (startingOffsets): an explicit per-partition JSON
    map positions a FRESH stream mid-log (with -2/-1 sentinels for
    earliest/latest), "latest" skips the whole backlog, and an existing
    checkpoint always wins over the seek option (Kafka's resume rule)."""
    import tempfile

    from flink_tutorial_broadcast_spark.sources import eventlog

    root = tempfile.mkdtemp(prefix="evlog_seek_")
    rows = [(i, i % 2, "view", float(i)) for i in range(60)]
    eventlog.log_write(root, rows, n_partitions=2)  # p0: evens, p1: odds
    eventlog.register(spark)

    def drain(starting, ckpt, out):
        sdf = (spark.readStream.format("ftbs_eventlog")
               .option("path", root).option("startingOffsets", starting)
               .load())
        q = (sdf.writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return {r["event_id"] for r in spark.read.parquet(out).collect()}

    # explicit map: skip p0's first 10 records, take p1 from earliest
    got = drain('{"0": 10, "1": -2}',
                tempfile.mkdtemp(prefix="evlog_seek_ck1_"),
                tempfile.mkdtemp(prefix="evlog_seek_o1_"))
    evens, odds = sorted(i for i in range(60) if i % 2 == 0), \
        sorted(i for i in range(60) if i % 2 == 1)
    assert got == set(evens[10:]) | set(odds)

    # "latest" on a fresh checkpoint: backlog skipped, later appends read
    ck2 = tempfile.mkdtemp(prefix="evlog_seek_ck2_")
    o2 = tempfile.mkdtemp(prefix="evlog_seek_o2_")
    sdf = (spark.readStream.format("ftbs_eventlog")
           .option("path", root).option("startingOffsets", "latest").load())
    q = (sdf.writeStream.format("parquet")
         .option("path", o2).option("checkpointLocation", ck2)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    eventlog.log_write(root, [(100 + i, i % 2, "late", 0.0)
                              for i in range(6)], n_partitions=2)
    got2 = drain("latest", ck2, o2)  # resumes ck2 → only the new rows
    assert got2 == {100 + i for i in range(6)}


def test_eventlog_seek_resume_beats_seek(spark):
    """A checkpoint resume ignores startingOffsets entirely — rerunning
    with "earliest" after a seeked first run must NOT re-deliver the
    records the seek skipped."""
    import tempfile

    from flink_tutorial_broadcast_spark.sources import eventlog

    root = tempfile.mkdtemp(prefix="evlog_rs_")
    eventlog.log_write(root, [(i, i % 2, "view", float(i))
                              for i in range(40)], n_partitions=2)
    eventlog.register(spark)
    ckpt = tempfile.mkdtemp(prefix="evlog_rs_ck_")
    out = tempfile.mkdtemp(prefix="evlog_rs_out_")

    def run(starting):
        sdf = (spark.readStream.format("ftbs_eventlog")
               .option("path", root).option("startingOffsets", starting)
               .load())
        q = (sdf.writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return [r["event_id"] for r in spark.read.parquet(out).collect()]

    run('{"0": 15, "1": 15}')          # seeked first run: 5 + 5 records
    got = run("earliest")              # resume: seek option must be inert
    assert len(got) == 10              # nothing re-read, nothing added
    assert set(got) == set(range(30, 40))  # evens[15:] ∪ odds[15:]


def test_eventlog_batch_offset_range_and_oor(spark):
    """Batch seek parity (startingOffsets/endingOffsets on read): an
    explicit [start, end) range reads exactly that slice per partition;
    an out-of-range offset raises (failOnDataLoss=true behavior)."""
    import tempfile

    import pytest as _pytest

    from flink_tutorial_broadcast_spark.sources import eventlog

    root = tempfile.mkdtemp(prefix="evlog_bseek_")
    eventlog.log_write(root, [(i, i % 2, "view", float(i))
                              for i in range(40)], n_partitions=2)
    eventlog.register(spark)

    df = (spark.read.format("ftbs_eventlog").option("path", root)
          .option("startingOffsets", '{"0": 5, "1": 5}')
          .option("endingOffsets", '{"0": 10, "1": -1}').load())
    got = {r["event_id"] for r in df.collect()}
    evens = [i for i in range(40) if i % 2 == 0]
    odds = [i for i in range(40) if i % 2 == 1]
    assert got == set(evens[5:10]) | set(odds[5:])

    bad = (spark.read.format("ftbs_eventlog").option("path", root)
           .option("startingOffsets", '{"0": 999}').load())
    with _pytest.raises(Exception, match="out of range"):
        bad.collect()


def test_eventlog_max_records_per_trigger_rate_limit(spark):
    """maxOffsetsPerTrigger parity for steady-state ingestion: after the
    (documented, uncapped) first batch of a run, every micro-batch
    admits at most maxRecordsPerTrigger records, distributed across
    partitions proportionally to backlog — verified from the committed
    offset log — and every record still arrives exactly once."""
    import glob
    import json as _json
    import os
    import tempfile
    import time

    from flink_tutorial_broadcast_spark.sources import eventlog

    root = tempfile.mkdtemp(prefix="evlog_rate_")
    out = tempfile.mkdtemp(prefix="evlog_rate_out_")
    ckpt = tempfile.mkdtemp(prefix="evlog_rate_ck_")
    eventlog.log_write(root, [(i, i % 3, "view", float(i))
                              for i in range(30)], n_partitions=3)
    eventlog.register(spark)

    sdf = (spark.readStream.format("ftbs_eventlog")
           .option("path", root)
           .option("maxRecordsPerTrigger", "40").load())
    q = (sdf.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .trigger(processingTime="1 second").start())
    try:
        # batch 1 (uncapped by design) drains the 30-record seed;
        # then a 120-record append must spread over >= 3 capped batches
        deadline = time.time() + 90
        while time.time() < deadline:
            if q.lastProgress and q.lastProgress["batchId"] >= 1:
                break
            time.sleep(0.5)
        eventlog.log_write(root, [(100 + i, i % 3, "burst", 0.0)
                                  for i in range(120)], n_partitions=3)
        while time.time() < deadline:
            got_n = (spark.read.parquet(out).count()
                     if os.listdir(out) else 0)
            if got_n >= 150:
                break
            time.sleep(0.5)
    finally:
        q.stop()

    got = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert got == list(range(30)) + [100 + i for i in range(120)]

    def committed(path):
        with open(path) as fh:
            last = fh.read().strip().splitlines()[-1]
        off = _json.loads(last)
        return {k: int(v)
                for k, v in (_json.loads(off["offset"]) if "offset" in off
                             else off).items()}

    ends = [committed(p) for p in
            sorted(glob.glob(os.path.join(ckpt, "offsets", "*")),
                   key=lambda s: int(os.path.basename(s)))
            if os.path.basename(p).isdigit()]
    # first batch uncapped; every later batch admits <= 40, and the
    # 120-record burst needs at least 3 capped batches
    prev = ends[0]
    capped_batches = 0
    for e in ends[1:]:
        admitted = sum(e[k] - prev.get(k, 0) for k in e)
        assert admitted <= 40, (prev, e)
        if admitted > 0:
            capped_batches += 1
        prev = e
    assert capped_batches >= 3
    assert prev == {"0": 50, "1": 50, "2": 50}  # fully drained


def test_eventlog_compaction_preserves_offsets_and_checkpoints(spark):
    """Kafka compaction contract: log_compact keeps the highest-offset
    record per key with offsets PRESERVED (gaps, not renumbering), the
    high watermark is unchanged, and a streaming checkpoint committed
    BEFORE compaction resumes cleanly AFTER it — reading only newly
    appended records, never re-reading or shifting."""
    import tempfile

    from flink_tutorial_broadcast_spark.sources import eventlog

    root = tempfile.mkdtemp(prefix="evlog_cmp_")
    out = tempfile.mkdtemp(prefix="evlog_cmp_out_")
    ckpt = tempfile.mkdtemp(prefix="evlog_cmp_ck_")
    # 90 rows, 30 users, 3 log partitions -> 3 records per user
    rows = [(i, i % 30, "view", float(i)) for i in range(90)]
    eventlog.log_write(root, rows, n_partitions=3)
    eventlog.register(spark)

    def drain():
        sdf = (spark.readStream.format("ftbs_eventlog")
               .option("path", root).load())
        q = (sdf.writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return sorted(r["event_id"]
                      for r in spark.read.parquet(out).collect())

    assert drain() == list(range(90))
    hw_before = {p: eventlog._latest(root, p) for p in (0, 1, 2)}

    removed = eventlog.log_compact(root)
    assert sum(removed.values()) == 60  # 2 of each user's 3 records
    # high watermark unchanged; survivors = the highest event per user
    # (offset order == event_id order) with ORIGINAL offsets
    assert {p: eventlog._latest(root, p) for p in (0, 1, 2)} == hw_before
    surviving = [r[0] for p in (0, 1, 2)
                 for r in eventlog._read_range(root, p, 0, 10**6)]
    assert sorted(surviving) == list(range(60, 90))  # last third wins

    # checkpoint committed pre-compaction resumes post-compaction:
    # append new records, drain — ONLY the new ones arrive
    eventlog.log_write(root, [(200 + i, i % 30, "late", 0.0)
                              for i in range(12)], n_partitions=3)
    got = drain()
    assert got == list(range(90)) + [200 + i for i in range(12)]


def test_keyed_state_job_through_eventlog_resumes(spark):
    """r13 (VERDICT_r12 item 7): one real streaming JOB round-trips
    through the Kafka-shaped mock with offset-resume — docs/kafka.md's
    swap claim executed, not just mapped. The keyed-state totals
    dataflow (keyed_state_totals, unchanged from its file-source use)
    consumes ftbs_eventlog; run 1 drains the initial segments, the
    query stops, more records are produced WHILE it is down, run 2
    resumes over the same checkpoint reading only the new offsets.
    Final per-user state must equal the batch aggregate over the FULL
    log (exactly-once across the restart: a re-read would double
    n_events), and the committed per-partition offset map must advance
    by exactly the delta."""
    import glob
    import json as _json
    import os
    import tempfile

    from flink_tutorial_broadcast_spark.sources import eventlog
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        keyed_state_totals,
    )

    root = tempfile.mkdtemp(prefix="evlog_job_src_")
    out_dir = tempfile.mkdtemp(prefix="evlog_job_out_")
    ckpt = tempfile.mkdtemp(prefix="evlog_job_ckpt_")

    rows1 = [(i, i % 5, "view", float(i % 7)) for i in range(120)]
    eventlog.log_write(root, rows1, n_partitions=3)
    eventlog.register(spark)

    def run_once():
        sdf = (spark.readStream.format("ftbs_eventlog")
               .option("path", root).load())
        job = keyed_state_totals(sdf)  # the UNCHANGED dataflow

        def body(batch_df, batch_id):
            (batch_df.write.mode("overwrite")
             .parquet(os.path.join(out_dir, f"batch={batch_id}")))

        q = (job.writeStream.foreachBatch(body)
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run_once()
    rows2 = [(i, i % 5, "purchase", float(i % 7))
             for i in range(120, 200)]
    eventlog.log_write(root, rows2, n_partitions=3)
    run_once()

    final: dict[int, tuple] = {}
    for p in sorted(glob.glob(os.path.join(out_dir, "batch=*"))):
        for r in spark.read.parquet(p).collect():
            final[r.user_id] = (r.n_events, r.total_value, r.max_value)
    allrows = rows1 + rows2
    want = {}
    for _, u, _, v in allrows:
        n, tot, vmax = want.get(u, (0, 0.0, float("-inf")))
        want[u] = (n + 1, tot + v, max(vmax, v))
    want = {u: (n, round(tot, 2), vmax)
            for u, (n, tot, vmax) in want.items()}
    assert final == want

    offset_files = sorted(glob.glob(os.path.join(ckpt, "offsets", "*")))
    with open(offset_files[-1]) as fh:
        last = fh.read().strip().splitlines()[-1]
    off = _json.loads(_json.loads(last)["offset"]) \
        if "offset" in last else _json.loads(last)
    per_part = [0, 0, 0]
    for _, u, _, _ in allrows:
        per_part[u % 3] += 1  # partition = user_id (the message key)
    assert {k: int(v) for k, v in off.items()} \
        == {str(p): per_part[p] for p in range(3)}


def test_eventlog_executor_side_producer(spark):
    """The q_scan_eventlog demo producer runs on executors
    (foreachPartition after repartitioning on the log-partition key) —
    the produced log must be record-identical in content AND per-key
    order to the driver-side log_write reference."""
    import functools
    import tempfile

    from pyspark.sql import functions as F

    from flink_tutorial_broadcast_spark.sources import eventlog

    n_parts = 3
    root = tempfile.mkdtemp(prefix="evlog_exec_")
    df = (spark.range(90)
          .select(F.col("id").alias("event_id"),
                  (F.col("id") % 7).alias("user_id"),
                  F.lit("view").alias("event_type"),
                  (F.col("id") * 1.5).alias("value")))
    (df.repartition(n_parts, F.col("user_id") % n_parts)
       .foreachPartition(
           functools.partial(eventlog.producer_task, root, n_parts)))

    eventlog.register(spark)
    back = (spark.read.format("ftbs_eventlog").option("path", root).load())
    assert {r["event_id"] for r in back.collect()} == set(range(90))
    # per-key order within each log partition (producer-key guarantee)
    for p in range(n_parts):
        seen: dict[int, list[int]] = {}
        for r in eventlog._read_range(root, p, 0, 10**6):
            assert int(r[1]) % n_parts == p
            seen.setdefault(int(r[1]), []).append(int(r[0]))
        for ids in seen.values():
            assert ids == sorted(ids)


def test_count_window_restart_rocksdb(spark, queries):
    """Count-window keyed state survives a query RESTART on RocksDB:
    run 2 (second half only, same checkpoint, new query) must finish
    every bucket with the batch-exact totals — including at least one
    bucket left PARTIAL at the restart, whose completion needs run-1
    events reloaded from the checkpoint."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        count_window_restart_rocksdb,
    )

    r1, r2 = count_window_restart_rocksdb(spark, SF_SMOKE)
    batch = {(r["user_id"], r["bucket"]): (r["n_events"], r["sum_value"])
             for r in queries["q_window_count"](spark, SF_SMOKE).collect()}
    # final emission per (user, bucket): run 2 overrides run 1
    final = {(r["user_id"], r["bucket"]): (r["n_events"], r["sum_value"])
             for r in r1.collect()}
    final.update({(r["user_id"], r["bucket"]):
                  (r["n_events"], r["sum_value"]) for r in r2.collect()})
    assert final == batch
    # a bucket partial at the restart must have been completed in run 2
    # from carried state (its run-2 totals include run-1 events)
    r1_last = {}
    for r in r1.collect():
        k = r["user_id"]
        if k not in r1_last or r["bucket"] > r1_last[k][0]:
            r1_last[k] = (r["bucket"], r["n_events"], r["sum_value"])
    r2_rows = {(r["user_id"], r["bucket"]): (r["n_events"], r["sum_value"])
               for r in r2.collect()}
    carried = [
        u for u, (b, n, s) in r1_last.items()
        if 0 < n < 50 and (u, b) in r2_rows
        and r2_rows[(u, b)][0] > n]
    assert carried, "no bucket straddled the restart"


def test_cep_restart_rocksdb_completes_partial_match(spark, queries):
    """The CEP NFA register survives a query RESTART on RocksDB: run-2
    final counts equal the oracle-checked batch q_cep_followed_by, and
    at least one user's final count EXCEEDS the sum of the batch counts
    on the two halves — a match open at the restart completed in run 2,
    continuity a per-query recomputation would lose."""
    from flink_tutorial_broadcast_spark.operators.sequence_ops import (
        CEP_FOLLOWED_BY,
    )
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        cep_followed_by_restart_rocksdb,
    )

    r1, r2 = cep_followed_by_restart_rocksdb(spark, SF_SMOKE)
    final = {r["user_id"]: r["n_matches"] for r in r1.collect()}
    final.update({r["user_id"]: r["n_matches"] for r in r2.collect()})
    batch = {r["user_id"]: r["n_matches"] for r in
             queries["q_cep_followed_by"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == batch
    halves = _half_split_counts(spark, CEP_FOLLOWED_BY)
    carried = [u for u, n in final.items() if n > halves.get(u, 0)]
    assert carried, "no partial match crossed the restart"


def test_cep_fork_restart_rocksdb_reloads_anchor_sets(spark, queries):
    """The forking NFA's ARRAY-typed anchor-set state survives a query
    restart on RocksDB: run-2 final counts equal the batch oracle, and
    at least one user's final count EXCEEDS the sum of the batch counts
    on the two halves — anchors open at the restart completed matches
    in run 2, set-valued state reloaded, not recomputed."""
    from flink_tutorial_broadcast_spark.operators.sequence_ops import (
        CEP_FOLLOWED_BY_ALL,
    )
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        cep_fork_restart_rocksdb,
    )

    r1, r2 = cep_fork_restart_rocksdb(spark, SF_SMOKE)
    final = {r["user_id"]: r["n_matches"] for r in r1.collect()}
    final.update({r["user_id"]: r["n_matches"] for r in r2.collect()})
    batch = {r["user_id"]: r["n_matches"] for r in
             queries["q_cep_followed_by_all"](spark, SF_SMOKE).collect()}
    assert {u: n for u, n in final.items() if n > 0} == batch
    halves = _half_split_counts(spark, CEP_FOLLOWED_BY_ALL)
    carried = [u for u, n in final.items() if n > halves.get(u, 0)]
    assert carried, "no anchor set crossed the restart"


def test_tws_runs_for_real_via_protoshim(spark):
    """E7 typed-state path: transformWithStateInPandas must EXECUTE in
    this container — the vendored mini protobuf runtime
    (protoshim.ensure_protoshim) supplies the worker-side state
    protocol when the real wheel is absent — and its converged per-user
    aggregates must equal the batch groupBy. This is a true JVM
    differential for the mini runtime's wire format: every state
    request the worker sends is parsed by the JVM's real protobuf."""
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        keyed_state_stream_tws,
    )

    got = {r["user_id"]: (r["n_events"], r["total_value"])
           for r in keyed_state_stream_tws(spark, SF_SMOKE)
           .groupBy("user_id")
           .agg(F.max("n_events").alias("n_events"),
                F.max("total_value").alias("total_value")).collect()}
    want = {r["user_id"]: (r["n"], r["t"])
            for r in load(spark, SF_SMOKE, "events")
            .groupBy("user_id")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("t")).collect()}
    assert got == want


def test_tws_typed_state_surface_list_map_timers(spark):
    """ListState + MapState + timer registration over the real
    transformWithStateInPandas: final per-user emissions must equal the
    batch (count, countDistinct(event_type), sum(value)) — and the
    processor itself asserts the registerTimer→listTimers→deleteTimer
    round-trip inside the worker (a wire failure fails the query)."""
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        tws_typed_state_surface_stream,
    )

    res = tws_typed_state_surface_stream(spark, SF_SMOKE)
    got = {r["user_id"]: (r["n_events"], r["n_types"], r["total_value"])
           for r in res.groupBy("user_id")
           .agg(F.max("n_events").alias("n_events"),
                F.max("n_types").alias("n_types"),
                F.max("total_value").alias("total_value")).collect()}
    want = {r["user_id"]: (r["n"], r["d"], r["t"])
            for r in load(spark, SF_SMOKE, "events")
            .groupBy("user_id")
            .agg(F.count("*").alias("n"),
                 F.countDistinct("event_type").alias("d"),
                 F.round(F.sum("value"), 2).alias("t")).collect()}
    assert got == want


def test_tws_restart_rocksdb_reloads_typed_state(spark):
    """transformWithStateInPandas value state survives a query restart:
    run 2 (odd-event half, same checkpoint, new query) must emit
    FULL-corpus per-user counts — the worker reloaded run-1 state via
    the state protocol (Exists/Get through the mini protobuf runtime)
    — while run 1 alone shows only the even half."""
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        tws_restart_rocksdb,
    )

    r1, r2 = tws_restart_rocksdb(spark, SF_SMOKE)
    run1 = {r["user_id"]: r["n_events"] for r in r1.collect()}
    run2 = {r["user_id"]: r["n_events"] for r in r2.collect()}
    ev = load(spark, SF_SMOKE, "events")
    total = {r["user_id"]: r["n"] for r in
             ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    even = {r["user_id"]: r["n"] for r in
            ev.filter(F.col("event_id") % 2 == 0)
            .groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    assert run1 == even            # run 1 saw only the even half
    assert run2 == total           # run 2 = even (reloaded) + odd
    assert any(run2[u] > run1.get(u, 0) for u in run2)


def test_tws_event_time_timers_fire_exactly(spark):
    """handleExpiredTimer on the REAL transformWithStateInPandas: the
    fire set, payloads, and fire timestamps are re-derived from the
    fixture — a user's merged session fires iff last_ts + gap <= the
    terminal watermark (max ts, 0s delay), with fired_at exactly
    last_ts + gap and n_events = the user's total; the argmax-ts
    user(s) must never fire."""
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        tws_event_time_timer_stream,
    )

    gap_ms = 30 * 60_000
    rows = tws_event_time_timer_stream(spark, SF_SMOKE).collect()
    got = {r["user_id"]: (r["n_events"], r["fired_at"]) for r in rows}
    assert len(got) == len(rows)  # one closed session per fired user

    per_user = {}
    for r in load(spark, SF_SMOKE, "events") \
            .select("user_id", "ts").collect():
        ms = int(r["ts"].timestamp() * 1000)
        n, last = per_user.get(r["user_id"], (0, 0))
        per_user[r["user_id"]] = (n + 1, max(last, ms))
    terminal_wm = max(last for _n, last in per_user.values())
    want = {u: (n, last + gap_ms) for u, (n, last) in per_user.items()
            if last + gap_ms <= terminal_wm}
    assert got == want
    unfired = set(per_user) - set(want)
    assert unfired  # the argmax-ts user's timer sits past the watermark
    assert all(per_user[u][1] + gap_ms > terminal_wm for u in unfired)


def test_tws_gate_contract_without_any_protobuf(spark, monkeypatch):
    """When NEITHER the real protobuf nor the vendor tree is usable, the
    branch must still fail FAST with a NotImplementedError naming the
    applyInPandasWithState fallback (the original gate contract)."""
    import sys

    import pytest

    from flink_tutorial_broadcast_spark import protoshim
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        keyed_state_stream_tws,
    )

    # simulate "no protobuf anywhere": the shim reports mini but places
    # nothing on sys.path, and any previously imported google modules
    # are hidden from this process
    monkeypatch.setattr(protoshim, "ensure_protoshim",
                        lambda spark=None: "mini")
    for mod in list(sys.modules):
        if mod == "google" or mod.startswith("google."):
            monkeypatch.delitem(sys.modules, mod)
    monkeypatch.setattr(
        sys, "path",
        [p for p in sys.path if protoshim.VENDOR_DIR not in p])

    with pytest.raises(NotImplementedError, match="keyed_state_stream"):
        keyed_state_stream_tws(spark, SF_SMOKE)


def test_event_time_timer_exact_fire_set_and_payloads(spark):
    """E7 timers, exact semantics: re-derive from the fixture WHICH keys
    must time out (armed timestamp < the batch-1 watermark AND no new
    data in batch 1 — Spark invokes hasTimedOut only for keys without
    input) and WHAT they must emit (count + span of their batch-0
    events). The stream must produce exactly that set — this pins
    event-time fire eligibility and state content, not just 'some
    timers fired'."""
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        session_close_timer_stream,
    )
    gap_min = 30
    gap_ms = gap_min * 60_000
    ev = load(spark, SF_SMOKE, "events").select("user_id", "ts")
    split_ts = ev.agg(
        F.percentile_approx("ts", 0.5).alias("m")).collect()[0]["m"]
    rows = [(r["user_id"], r["ts"], r["ts"] <= split_ts)
            for r in ev.collect()]
    to_ms = lambda t: int(t.timestamp() * 1000)  # noqa: E731
    f0: dict[int, list[int]] = {}
    allev: dict[int, list[int]] = {}
    for uid, ts, in_f0 in rows:
        ms = to_ms(ts)
        allev.setdefault(uid, []).append(ms)
        if in_f0:
            f0.setdefault(uid, []).append(ms)
    # watermark after batch 0 (file f=0) and after the last batch
    wm0 = max(ms for uid in f0 for ms in f0[uid]) - 60_000
    wm_final = max(ms for uid in allev for ms in allev[uid]) - 60_000
    f1_users = {uid for uid, msl in allev.items()
                if max(msl) > max(f0.get(uid, [-1]))}
    expect = {}
    for uid, msl in allev.items():
        if uid not in f1_users and max(msl) + gap_ms < wm0:
            # timer armed in batch 0 fires during batch 1 (no new data
            # for this key); payload is the batch-0 state
            expect[uid] = (len(f0[uid]), max(f0[uid]) - min(f0[uid]))
        elif max(msl) + gap_ms < wm_final:
            # fires in the terminal timeout-only batch, full state
            expect[uid] = (len(msl), max(msl) - min(msl))
    got = {r["user_id"]: (r["n_events"], r["session_ms"])
           for r in session_close_timer_stream(
               spark, SF_SMOKE, gap_minutes=gap_min).collect()}
    assert got == expect
    assert len(got) > 0  # the fixture genuinely exercises the fire path


def test_file_sink_exactly_once_across_restart(spark):
    """A7: two sequential runs over one checkpoint — the committed parquet
    output contains every source row exactly once (no loss on restart,
    no reprocessing of batch-1 files)."""
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        file_sink_exactly_once,
    )
    got = file_sink_exactly_once(spark, SF_SMOKE)
    want = load(spark, SF_SMOKE, "events")
    assert got.count() == want.count()
    assert got.select("event_id").distinct().count() == want.count()


def test_file_source_replay_is_idempotent(spark):
    """Offset-replay parity with a replayable log (Kafka-class source,
    docs/kafka.md): restarting the SAME (checkpoint, sink) pair with NO
    new input must replay from the committed offset and append NOTHING —
    no duplicates, no loss. Four runs total: two ingest runs + two
    no-new-data restarts."""
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        file_sink_exactly_once,
    )
    got = file_sink_exactly_once(spark, SF_SMOKE, replay_runs=2)
    want = load(spark, SF_SMOKE, "events").count()
    assert got.count() == want
    assert got.select("event_id").distinct().count() == want


def test_stateful_job_on_rocksdb_state_store(spark):
    """The state-store provider swap docs/scale.md prescribes for 100 TB
    state is a config change only: the same stateful job produces the
    same result on RocksDB as on the default HDFS-backed store."""
    from flink_tutorial_broadcast_spark.streaming.jobs import streaming_dedup
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = ("org.apache.spark.sql.execution.streaming.state."
             "RocksDBStateStoreProvider")
    default_rows = {r["user_id"]: r["event_id"]
                    for r in streaming_dedup(spark, SF_SMOKE).collect()}
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, rocks)
        rocks_rows = {r["user_id"]: r["event_id"]
                      for r in streaming_dedup(spark, SF_SMOKE).collect()}
    finally:
        spark.conf.set(key, prev)
    assert rocks_rows == default_rows


def test_rocksdb_state_survives_restart(spark):
    """E7 durability on RocksDB: run 1 builds per-user counts from half
    the events, the query stops, run 2 resumes the SAME checkpoint with
    only the other half — run 2's emissions must equal the FULL-corpus
    batch counts for every user it touches, which requires run 1's
    state to have been persisted in RocksDB and reloaded on restart."""
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        keyed_state_restart_rocksdb,
    )
    got = {r["user_id"]: r["n_events"]
           for r in keyed_state_restart_rocksdb(spark, SF_SMOKE).collect()}
    ev = load(spark, SF_SMOKE, "events")
    want_full = {r["user_id"]: r["n"]
                 for r in ev.groupBy("user_id").agg(
                     F.count("*").alias("n")).collect()}
    half2_users = {r["user_id"] for r in ev.filter(
        F.col("event_id") % 2 == 1).select("user_id").distinct().collect()}
    assert got  # run 2 saw data
    assert set(got) == half2_users
    for uid, n in got.items():
        assert n == want_full[uid], uid
    # and at least one user must have history ONLY visible via restored
    # state (count > their half-2-only count) for the test to be probative
    half2_counts = {r["user_id"]: r["n"] for r in ev.filter(
        F.col("event_id") % 2 == 1).groupBy("user_id").agg(
        F.count("*").alias("n")).collect()}
    assert any(got[u] > half2_counts[u] for u in got)


def test_socket_source_parses_lines(spark):
    """A2: a real TCP server feeds the socket source; the parsed stream
    must deliver typed rows (at-most-once demo semantics)."""
    import socket
    import threading
    import time as _time

    from flink_tutorial_broadcast_spark.streaming.sources import (
        checkpoint_dir, socket_events,
    )

    lines = [f"{i},{i % 3},click,{i * 1.5}" for i in range(20)]
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def serve():
        conn, _ = srv.accept()
        with conn:
            conn.sendall(("\n".join(lines) + "\n").encode())
            _time.sleep(3)  # keep the pipe open while batches drain

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    sdf = socket_events(spark, port=port)
    q = (sdf.writeStream.format("memory").queryName("socket_demo")
         .outputMode("append")
         .option("checkpointLocation", checkpoint_dir())
         .start())
    try:
        deadline = _time.time() + 30
        while _time.time() < deadline:
            got = spark.sql("SELECT * FROM socket_demo").count()
            if got >= len(lines):
                break
            _time.sleep(0.5)
        rows = {r["event_id"]: (r["user_id"], r["event_type"], r["value"])
                for r in spark.sql("SELECT * FROM socket_demo").collect()}
    finally:
        q.stop()
        srv.close()
    assert len(rows) == len(lines)
    assert rows[7] == (1, "click", 10.5)


def test_broadcast_rules_mutate_between_micro_batches(spark):
    """E9 full semantics: the rule set CHANGES between micro-batches and
    each batch matches against its own rule snapshot (Flink's
    processBroadcastElement at per-batch granularity). Two time-ordered
    files stream one per trigger; the rule source disables all rules
    after its first read, so only batch-1 events may match."""
    import os
    import tempfile

    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.sources.rules import (
        RULES_SCHEMA, rules_df,
    )

    ev = load(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "event_type", "value")
    split = ev.agg(F.percentile_approx("ts", 0.5).alias("m")) \
              .collect()[0]["m"]
    d = tempfile.mkdtemp(prefix="rule_mut_")
    ev.filter(F.col("ts") <= F.lit(split)).coalesce(1) \
      .write.parquet(os.path.join(d, "f0"))
    ev.filter(F.col("ts") > F.lit(split)).coalesce(1) \
      .write.parquet(os.path.join(d, "f1"))
    stream = (
        spark.readStream
        .schema("event_id long, ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(d)
    )

    calls = {"n": 0}
    off = spark.createDataFrame(
        [(t, 1e9, "off") for t in
         ("click", "view", "purchase", "signup", "error")], RULES_SCHEMA)

    def mutating_rules():
        calls["n"] += 1
        return rules_df(spark) if calls["n"] == 1 else off

    out = jobs.broadcast_rules_stream(
        spark, SF_SMOKE, rules_source=mutating_rules, events_stream=stream)

    assert calls["n"] >= 2  # the rule source was re-read per batch
    batch1_ids = {r["event_id"] for r in
                  ev.filter(F.col("ts") <= F.lit(split))
                  .select("event_id").collect()}
    matched = {r["event_id"] for r in out.select("event_id").collect()}
    assert matched, "batch 1 must match under the initial rules"
    assert matched <= batch1_ids  # batch 2 saw only disabled rules


def test_text_file_source_token_counts_match_batch(spark):
    """A3 + B2 streaming: text-file source → tokenize (flatMap) → counts
    must equal the batch q_token_counts totals."""
    from flink_tutorial_broadcast_spark.streaming.jobs import _run_to_memory
    from flink_tutorial_broadcast_spark.streaming.sources import (
        stream_document_text,
    )

    lines = stream_document_text(spark, SF_SMOKE)
    toks = (lines.select(F.explode(F.split("value", " ")).alias("token"))
            .groupBy("token").agg(F.count("*").alias("n_total")))
    got = {r["token"]: r["n_total"]
           for r in _run_to_memory(toks, "complete").collect()}

    from flink_tutorial_broadcast_spark.io import load
    want = {r["token"]: r["n_total"] for r in
            load(spark, SF_SMOKE, "documents")
            .select(F.explode(F.split("text", " ")).alias("token"))
            .groupBy("token").agg(F.count("*").alias("n_total")).collect()}
    assert got == want


def test_sliding_window_stream_matches_batch(spark, queries):
    """E2 streaming ≡ batch: sliding-window streaming counts equal the
    oracle-checked batch formulation for fully-arrived data."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        sliding_window_stream,
    )
    import datetime as dt
    from collections import Counter

    from flink_tutorial_broadcast_spark.io import load

    per_window = Counter()
    for r in sliding_window_stream(spark, SF_SMOKE).collect():
        per_window[r["window_start"]] += r["n_events"]
    # append mode finalizes a window only once the watermark passes its
    # end: windows still open at end-of-stream are correctly withheld
    max_ts = load(spark, SF_SMOKE, "events").agg(
        F.max("ts")).collect()[0][0]
    horizon = max_ts - dt.timedelta(minutes=10)
    batch = {r["window_start"]: r["n_events"]
             for r in queries["q_window_sliding"](spark, SF_SMOKE)
             .select("window_start", "n_events").collect()
             if r["window_start"] + dt.timedelta(hours=1) <= horizon
             and r["n_events"] > 0}
    assert dict(per_window) == batch


def test_sliding_window_stream_update_mode_final_state_matches_batch(
        spark, queries):
    """E2 in update mode: unlike append, EVERY window emits (early fires
    included); the final emission per (window, event_type) key must equal
    the oracle-checked batch aggregate for all non-empty windows — late
    rows inside the watermark horizon may re-fire a window, but its last
    emitted count is the true total."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        sliding_window_stream_update,
    )
    final = {}
    for r in sliding_window_stream_update(spark, SF_SMOKE).collect():
        key = (r["window_start"], r["event_type"])
        # counts are monotone across re-fires: max == last emission
        final[key] = max(final.get(key, 0), r["n_events"])
    per_window = {}
    for (ws, _), n in final.items():
        per_window[ws] = per_window.get(ws, 0) + n
    batch = {r["window_start"]: r["n_events"]
             for r in queries["q_window_sliding"](spark, SF_SMOKE)
             .select("window_start", "n_events").collect()
             if r["n_events"] > 0}
    assert per_window == batch


def test_session_window_snapshots_converge_to_batch(spark, queries):
    """E3 early-fire snapshots (VERDICT r3 item 7 — the L78 treatment
    for session windows): the LAST complete-mode snapshot must equal the
    oracle-checked batch q_window_session exactly, and Spark's rejection
    of update mode for merging windows is pinned as the documented
    reason for the complete+foreachBatch formulation."""
    import pytest
    from pyspark.sql.utils import AnalysisException

    from flink_tutorial_broadcast_spark.streaming import jobs as J
    from flink_tutorial_broadcast_spark.streaming.sources import (
        stream_events,
    )

    snaps = J.session_window_stream_snapshots(spark, SF_SMOKE).collect()
    last = max(r["batch_id"] for r in snaps)
    final = {(r["user_id"], r["session_start"]): r["n_events"]
             for r in snaps if r["batch_id"] == last}
    batch = _kv(queries["q_window_session"](spark, SF_SMOKE),
                ("user_id", "session_start"), "n_events")
    assert final == batch

    # the documented Spark limitation that motivates the snapshot form
    ev = stream_events(spark, SF_SMOKE).withWatermark("ts", "10 minutes")
    agg = (ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
           .agg(F.count("*").alias("n")))
    with pytest.raises(AnalysisException, match="STREAMING_OUTPUT_MODE"):
        (agg.writeStream.outputMode("update").format("memory")
         .queryName("sess_update_reject")
         .trigger(availableNow=True).start())


def test_session_window_snapshots_show_growth(spark):
    """With a 12h gap, sessions straddle the median split: some session
    must be visible SMALLER in snapshot 0 than in the final snapshot
    (accumulating early fire), and the final snapshot must equal a batch
    session aggregate with the same gap."""
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        session_window_stream_snapshots,
    )
    snaps = session_window_stream_snapshots(
        spark, SF_SMOKE, gap_minutes=720).collect()
    last = max(r["batch_id"] for r in snaps)
    first = {(r["user_id"], r["session_start"]): r["n_events"]
             for r in snaps if r["batch_id"] == 0}
    final = {(r["user_id"], r["session_start"]): r["n_events"]
             for r in snaps if r["batch_id"] == last}
    assert last >= 1
    grown = [k for k, n in first.items() if final.get(k, 0) > n]
    assert grown  # at least one session grew across the boundary
    batch = {(r["user_id"], r["session_start"]): r["n_events"]
             for r in load(spark, SF_SMOKE, "events")
             .groupBy(F.session_window("ts", "720 minutes").alias("w"),
                      "user_id")
             .agg(F.count("*").alias("n_events"))
             .select("user_id", F.col("w.start").alias("session_start"),
                     "n_events").collect()}
    assert final == batch


def test_outer_join_stream_null_extends_correctly(spark, queries):
    stream = jobs.outer_join_stream(spark, SF_SMOKE)
    batch = queries["q_interval_join"](spark, SF_SMOKE)
    bpairs = {(r["purchase_id"], r["error_id"]) for r in batch.collect()}
    matched_purchases = {p for p, _ in bpairs}
    rows = stream.collect()
    assert len(rows) > 0
    for r in rows:
        if r["error_id"] is not None:
            # matched rows must be true batch-join pairs
            assert (r["purchase_id"], r["error_id"]) in bpairs
        else:
            # null-extension only for purchases the batch join cannot match
            assert r["purchase_id"] not in matched_purchases
    # watermark-driven null extension actually fired for early purchases
    assert any(r["error_id"] is None for r in rows)


def test_enrich_stream_static_equals_batch_join(spark):
    from flink_tutorial_broadcast_spark.operators.flagship import (
        broadcast_rule_matches,
    )
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        enrich_stream_static,
    )
    got = enrich_stream_static(spark, SF_SMOKE).select(
        "event_id", "severity")
    want = broadcast_rule_matches(spark, SF_SMOKE).select(
        "event_id", "severity")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_rollup_sink_stream_merges_to_batch_aggregate(spark):
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        rollup_sink_stream,
    )
    got = {r.event_type: r for r in
           rollup_sink_stream(spark, SF_SMOKE).collect()}
    want = {
        r.event_type: r for r in (
            load(spark, SF_SMOKE, "events")
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .collect()
        )
    }
    assert set(got) == set(want)
    for t, w in want.items():
        assert got[t].n == w.n
        assert abs(got[t].sum_value - w.sum_value) < 0.02


def test_cdc_merge_stream_converges_to_batch_apply(spark, queries):
    """Streaming foreachBatch MERGE over a two-file changelog must
    converge to exactly the one-shot batch CDC apply."""
    from flink_tutorial_broadcast_spark.streaming.jobs import cdc_merge_stream
    got = sorted(map(tuple, cdc_merge_stream(spark, SF_SMOKE).collect()))
    want = sorted(map(tuple, queries["q_cdc_apply"](spark, SF_SMOKE).collect()))
    assert got == want


def test_custom_streaming_source_exactly_once_rows(spark):
    """A4 streaming half: the Python Data Source stream must deliver the
    full deterministic horizon exactly once, matching the generator."""
    from flink_tutorial_broadcast_spark.sources.custom_source import (
        _STREAM_MAX, _synth_row,
    )
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        custom_source_stream,
    )
    rows = custom_source_stream(spark, SF_SMOKE).collect()
    assert len(rows) == _STREAM_MAX
    got = {(r.event_id, r.user_id, r.event_type, round(r.value, 3))
           for r in rows}
    want = {(i, i % 100, _synth_row(i)[2], round(_synth_row(i)[3], 3))
            for i in range(_STREAM_MAX)}
    assert got == want


def test_rollup_sink_absorbs_replayed_micro_batch(spark):
    """The at-least-once failure mode made harmless: a partial appended
    twice (retry after sink write, before checkpoint commit) must not
    double-count — (batch_id, group) dedupe collapses the replica."""
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        rollup_sink_stream,
    )
    got = {r.event_type: r for r in
           rollup_sink_stream(spark, SF_SMOKE, inject_replay=True).collect()}
    want = {r.event_type: r for r in (
        load(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .collect())}
    assert set(got) == set(want)
    for t, w in want.items():
        assert got[t].n == w.n, t
        assert abs(got[t].sum_value - w.sum_value) < 0.02, t


def test_incremental_dedup_stream_rejects_cross_batch_resends(spark):
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        incremental_dedup_stream,
    )
    from tests.conftest import SF_SMOKE

    out = incremental_dedup_stream(spark, SF_SMOKE).collect()
    admitted = {r.doc_id for r in out}
    # every genuinely-new doc admitted exactly once
    assert {i for i in range(400, 500)} <= admitted
    # corpus re-crawls (ids 10000+) and batch-0 re-sends (ids 20000+)
    # all rejected — the second family proves the index grew batch-over-batch
    assert not {i for i in admitted if i >= 10000}
    # no content hash admitted twice
    hashes = [r.h for r in out]
    assert len(hashes) == len(set(hashes))


def test_continuous_trigger_runs_per_record_pipeline(spark):
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        continuous_map_stream,
    )
    out = continuous_map_stream(spark, SF_SMOKE, runtime_s=6.0).cache()
    rows = out.collect()
    assert len(rows) > 0  # records flowed through the continuous epochs
    assert all(r.value % 2 == 0 for r in rows)          # filter applied
    assert all(r.doubled == 2 * r.value for r in rows)  # map applied
    out.unpersist()


def test_continuous_trigger_rejects_stateful_shapes(spark):
    import uuid as _uuid
    from pyspark.errors.exceptions.captured import AnalysisException
    import pytest as _pytest
    sdf = (spark.readStream.format("rate")
           .option("rowsPerSecond", 10).option("numPartitions", 2).load()
           .groupBy().count())
    with _pytest.raises(AnalysisException):
        (sdf.writeStream.format("memory")
         .queryName(f"cont_bad_{_uuid.uuid4().hex[:8]}")
         .outputMode("complete")
         .trigger(continuous="1 second").start())


def test_eventlog_pipeline_exactly_once_across_restart(spark):
    """Source offsets + aggregation + sink, exactly-once as a WHOLE:
    the merged partial store must equal the batch aggregate over all
    200 produced records — any replay of the committed range in run 2
    would inflate the per-user counts (fresh batch_ids defeat the
    dedupe on purpose)."""
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        eventlog_pipeline_exactly_once,
    )
    got = {r.user_id: (r.n, r.sum_value)
           for r in eventlog_pipeline_exactly_once(spark, SF_SMOKE)
           .collect()}
    want = {}
    for u in range(5):
        vals = [float(i) for i in range(200) if i % 5 == u]
        want[u] = (len(vals), round(sum(vals), 2))
    assert got == want


def test_vector_ingest_stream_builds_partitioned_ivf_index(spark):
    """The streamed index must (a) hold every vector exactly once,
    (b) route identically to the batch assignment rule, and (c) land in
    cell= partition directories that probe-time scans prune on."""
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.operators.llm_knn import _dot
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        vector_ingest_stream,
    )
    idx_raw = vector_ingest_stream(spark, SF_SMOKE)
    idx_files = idx_raw.inputFiles()
    idx = idx_raw.cache()
    emb = load(spark, SF_SMOKE, "embeddings").filter(F.col("vec_id") < 2000)
    n = emb.count()
    assert idx.count() == n
    assert idx.select("vec_id").distinct().count() == n  # exactly once
    # batch reference: same rule, straight over the batch table
    cents = (emb.filter(F.col("vec_id") < 8)
             .select(F.col("vec_id").alias("c_id"),
                     F.col("embedding").alias("c_emb"),
                     F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
                     .alias("c_norm")))
    scored = (emb.withColumn(
        "norm", F.sqrt(_dot(F.col("embedding"), F.col("embedding"))))
        .crossJoin(F.broadcast(cents))
        .withColumn("cc", _dot(F.col("embedding"), F.col("c_emb"))
                    / (F.col("norm") * F.col("c_norm"))))
    want = {r.vec_id: r.cell for r in
            (scored.groupBy("vec_id")
             .agg(F.min(F.struct((-F.col("cc")).alias("nc"),
                                 F.col("c_id").alias("cid"))).alias("b"))
             .select("vec_id", F.col("b.cid").alias("cell"))).collect()}
    got = {r.vec_id: r.cell for r in idx.select("vec_id", "cell").collect()}
    assert got == want
    # partition pruning: a single-cell probe reads only that directory
    some_cell = next(iter(got.values()))
    plan = (idx.sparkSession.read.parquet(idx_files[0]
            .rsplit("/cell=", 1)[0])
            .filter(F.col("cell") == int(some_cell))
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters" in plan and "cell" in plan
    idx.unpersist()


def test_state_store_reads_back_as_the_batch_aggregate(spark):
    """Queryable-state parity: the per-key rows read OFFLINE from the
    checkpointed state store must equal both the sink result and the
    batch groupBy over the same fixture — state is a first-class,
    independently readable artifact, not a black box."""
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        queryable_state_read,
    )
    sink, state, meta = queryable_state_read(spark, SF_SMOKE)
    md = meta.collect()
    assert len(md) == 1 and md[0].operatorName == "stateStoreSave"
    assert md[0].numPartitions > 0 and md[0].maxBatchId >= 0
    want = {r.user_id: r.n for r in
            (load(spark, SF_SMOKE, "events")
             .groupBy("user_id").agg(F.count("*").alias("n"))).collect()}
    assert {r.user_id: r.n for r in sink.collect()} == want
    assert {r.user_id: r.n_state for r in state.collect()} == want


def _mutation_batch_key(spark, queries, sf_dir):
    """(event_id, severity) -> (value, threshold) for the batch twin."""
    return {(r["event_id"], r["severity"]): (r["value"], r["threshold"])
            for r in queries["q_broadcast_rule_mutation"](
                spark, sf_dir).collect()}


def test_rules_union_tws_equals_batch_and_flips_mid_batch(spark, queries):
    """E9 with the reference's PER-RECORD broadcast-state-mutation
    semantics (SURVEY §7 hard part 1): the tagged (events ∪ rule-waves)
    union through ONE transformWithStateInPandas processor with the
    rules in MapState must (a) converge exactly to the oracle-checked
    batch twin q_broadcast_rule_mutation, and (b) flip the rule version
    INSIDE micro-batch 0 — the stream is split at the 75th-percentile
    event seq, strictly ABOVE the median-seq mutation point, so batch 0
    provably contains v1 matches, the v2 upserts, and v2 matches in one
    partition pass. foreachBatch rebroadcast (broadcast_rules_stream)
    cannot express (b): its rule set is frozen per micro-batch."""
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        broadcast_rules_union_tws,
    )

    got = {(r["event_id"], r["severity"]): (round(r["value"], 2),
                                            r["threshold"])
           for r in broadcast_rules_union_tws(spark, SF_SMOKE).collect()}
    want = _mutation_batch_key(spark, queries, SF_SMOKE)
    assert got == want

    # recompute the job's deterministic cut points from the fixture
    ev = load(spark, SF_SMOKE, "events")
    med = int(ev.agg(
        F.floor(F.expr("percentile(event_id, 0.5)")).cast("long")
        .alias("m")).collect()[0]["m"])
    cut = int(ev.select((F.col("event_id") * 2 + 1).alias("seq")).agg(
        F.expr("percentile(seq, 0.75)").cast("long").alias("c"))
        .collect()[0]["c"])
    assert 2 * med < cut  # the flip point sits inside micro-batch 0
    in_b0 = {k for k in got if 2 * k[0] + 1 <= cut}
    v1_b0 = {k for k in in_b0 if not k[1].startswith("v2-")}
    v2_b0 = {k for k in in_b0 if k[1].startswith("v2-")}
    assert v1_b0 and v2_b0, (
        "rule flip did not land between two events of micro-batch 0")
    # and every batch-1 event (no rule rows left) matched under v2 only
    in_b1 = {k for k in got if 2 * k[0] + 1 > cut}
    assert in_b1 and all(k[1].startswith("v2-") for k in in_b1)


def test_rules_union_tws_restart_reloads_rule_map(spark, queries):
    """Durability of the MUTATED rule map: half 1 carries BOTH rule
    waves + early events; half 2 is pure events. Run 2 (a NEW query on
    the same RocksDB checkpoint) has no rule row to rebuild from, so its
    matches are correct only if the v2 MapState was persisted and
    reloaded. Union of the two runs must equal the batch twin."""
    from flink_tutorial_broadcast_spark.sources.rules import RULES
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        broadcast_rules_union_tws_restart,
    )

    r1, r2 = broadcast_rules_union_tws_restart(spark, SF_SMOKE)
    k1 = {(r["event_id"], r["severity"]): (round(r["value"], 2),
                                           r["threshold"])
          for r in r1.collect()}
    k2 = {(r["event_id"], r["severity"]): (round(r["value"], 2),
                                           r["threshold"])
          for r in r2.collect()}
    assert k2, "run 2 emitted nothing — state did not survive"
    assert all(k[1].startswith("v2-") for k in k2)
    med = int(load(spark, SF_SMOKE, "events").agg(
        F.floor(F.expr("percentile(event_id, 0.5)")).cast("long")
        .alias("m")).collect()[0]["m"])
    cut = 2 * (med + len(RULES))
    want = _mutation_batch_key(spark, queries, SF_SMOKE)
    assert {**k1, **k2} == want
    assert k2 == {k: v for k, v in want.items() if 2 * k[0] + 1 > cut}


def test_state_bootstrap_initial_state_equals_batch_seeded_oracle(spark):
    """State-Processor-API write parity (VERDICT r5 task 5): a NEW
    streaming query starts with keyed state built OFFLINE from a batch
    aggregate (transformWithStateInPandas initialState +
    handleInitialState), folds only the live half of the events, and
    must converge to the batch aggregate over ALL events — provable
    only if the bootstrap rows landed in ValueState before the first
    input row. Also pins that the bootstrap MATTERED: some user's final
    count strictly exceeds its live-only count."""
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        state_bootstrap_stream_tws,
    )

    res, seed, live_users = state_bootstrap_stream_tws(spark, SF_SMOKE)
    got = {r["user_id"]: (r["n_events"], r["total_value"])
           for r in res.groupBy("user_id")
           .agg(F.max("n_events").alias("n_events"),
                F.max(F.struct("n_events", "total_value"))
                .getField("total_value").alias("total_value")).collect()}
    want = {r["user_id"]: (r["n"], r["t"])
            for r in load(spark, SF_SMOKE, "events")
            .groupBy("user_id")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("t")).collect()}
    # every live user converged to the ALL-events aggregate
    assert got == {u: want[u] for u in live_users} and got
    # the seed contributed: at least one user's converged count mixes a
    # nonzero OFFLINE seed with nonzero live rows
    seeded = {r["user_id"]: r["n"] for r in seed.collect()}
    assert any(seeded.get(u, 0) > 0 and got[u][0] > seeded.get(u, 0)
               for u in got)


def test_state_schema_evolution_carries_counts_across_restart(spark):
    """Flink state-migration parity: a NEW query on the same RocksDB
    checkpoint redefines ValueState from (n) to (n, total) under the
    Avro state encoding; per-user counts must CARRY ACROSS the schema
    change (n = all events) while the appended field accumulates from
    the live half only."""
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        state_schema_evolution_stream,
    )

    r1, r2, split_ts = state_schema_evolution_stream(spark, SF_SMOKE)
    got = {r["user_id"]: (r["n_events"], r["live_total"])
           for r in r2.groupBy("user_id")
           .agg(F.max("n_events").alias("n_events"),
                F.max(F.struct("n_events", "live_total"))
                .getField("live_total").alias("live_total")).collect()}
    ev = load(spark, SF_SMOKE, "events")
    want_n = {r["user_id"]: r["n"] for r in
              ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    want_live = {r["user_id"]: r["t"] for r in
                 ev.filter(F.col("ts") > F.lit(split_ts))
                 .groupBy("user_id")
                 .agg(F.round(F.sum("value"), 2).alias("t")).collect()}
    live_users = set(want_live)
    assert {u: n for u, (n, _) in got.items()} \
        == {u: want_n[u] for u in live_users}
    assert {u: t for u, (_, t) in got.items()} == want_live
    # the carry-across is load-bearing: run 2 saw only the live half,
    # so n == the ALL-events count is possible only if run-1 state was
    # reloaded through the evolved schema; assert run 1 really held the
    # other half (counts strictly below the all-events totals)
    r1_n = {r["user_id"]: r["n_events"] for r in
            r1.groupBy("user_id")
            .agg(F.max("n_events").alias("n_events")).collect()}
    assert any(0 < r1_n.get(u, 0) < want_n[u] for u in got)


def test_state_schema_evolution_requires_avro_encoding(spark):
    """The failure contract: under the default UnsafeRow state encoding
    the same evolved restart must fail fast with
    STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE (not corrupt state)."""
    import pytest

    from flink_tutorial_broadcast_spark.streaming.jobs import (
        state_schema_evolution_stream,
    )

    with pytest.raises(Exception,
                       match="STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"):
        state_schema_evolution_stream(spark, SF_SMOKE,
                                      encoding="unsaferow")


def test_state_repair_read_transform_bootstrap(spark):
    """The composed State-Processor story (read a checkpoint's state
    offline → drop the heaviest key relationally → bootstrap a NEW
    query from the repaired state): every untouched user converges to
    the all-events count; the repaired user restarts from the live half
    only."""
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        state_repair_pipeline,
    )

    res, heavy, med = state_repair_pipeline(spark, SF_SMOKE)
    got = {r["user_id"]: r["n_events"] for r in
           res.groupBy("user_id")
           .agg(F.max("n_events").alias("n_events")).collect()}
    ev = load(spark, SF_SMOKE, "events")
    want_all = {r["user_id"]: r["n"] for r in
                ev.groupBy("user_id").agg(F.count("*").alias("n"))
                .collect()}
    want_live = {r["user_id"]: r["n"] for r in
                 ev.filter(F.col("event_id") > med)
                 .groupBy("user_id").agg(F.count("*").alias("n"))
                 .collect()}
    assert heavy in got and got[heavy] == want_live[heavy]
    assert got[heavy] < want_all[heavy]  # the surgery removed history
    for u, n in got.items():
        if u != heavy:
            assert n == want_all[u], u
    assert len(got) == len(want_live)


def test_state_ttl_expires_and_control_persists(spark):
    """Flink StateTtlConfig parity: with ttl=2s and an 8s gap between
    runs over the same checkpoint, run-2 counts RESTART from the live
    half (the run-1 registers expired); the identical flow with no TTL
    is the control — counts accumulate across the gap. Generous margins
    keep the wall-clock dependence safe."""
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        state_ttl_stream,
    )

    ev = load(spark, SF_SMOKE, "events")

    def converged(df):
        return {r["user_id"]: r["n_events"] for r in
                df.groupBy("user_id")
                .agg(F.max("n_events").alias("n_events")).collect()}

    _, r2_ttl, med = state_ttl_stream(spark, SF_SMOKE,
                                      ttl_ms=2_000, sleep_s=8.0)
    want_live = {r["user_id"]: r["n"] for r in
                 ev.filter(F.col("event_id") > med)
                 .groupBy("user_id").agg(F.count("*").alias("n"))
                 .collect()}
    assert converged(r2_ttl) == want_live  # expired: live-only counts

    _, r2_ctl, med2 = state_ttl_stream(spark, SF_SMOKE,
                                       ttl_ms=None, sleep_s=0.0)
    want_all = {r["user_id"]: r["n"] for r in
                ev.groupBy("user_id").agg(F.count("*").alias("n"))
                .collect()}
    live_users = set({r["user_id"] for r in
                      ev.filter(F.col("event_id") > med2)
                      .select("user_id").distinct().collect()})
    assert converged(r2_ctl) == {u: want_all[u] for u in live_users}


def test_metrics_listener_accounting_matches_fixture(spark):
    """Observability parity: the StreamingQueryListener's progress
    events must account for EVERY input row (sum of numInputRows ==
    fixture rows), report the memory sink, and show nonzero keyed-state
    rows — the monitoring surface must not lie about the job it
    watched."""
    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        metrics_listener_stream,
    )

    res, progress = metrics_listener_stream(spark, SF_SMOKE)
    n_fixture = load(spark, SF_SMOKE, "events").count()
    assert sum(p["num_input_rows"] for p in progress
               if p["num_input_rows"]) == n_fixture
    data_batches = [p for p in progress if p["num_input_rows"]]
    assert len(data_batches) >= 2  # maxFilesPerTrigger=1, two files
    assert any("Memory" in p["sink"] for p in data_batches)
    assert any(p["state_rows_total"] > 0 for p in data_batches)
    # and the watched query's own result is right
    want = {r["user_id"]: r["n"] for r in
            load(spark, SF_SMOKE, "events")
            .groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    assert {r["user_id"]: r["n"] for r in res.collect()} == want
