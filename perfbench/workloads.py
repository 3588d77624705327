"""The benchmark's workloads.

Each workload starts one engine session and runs an untimed warm pass;
set-up (``setup_s``) runs from the session start to the end of that
pass. Then come timed passes in a closed loop (the next operation starts
when the previous one has finished) for at least ``--seconds``, and at
least as many as the reported tail percentile needs. End-to-end timings
are taken with tracing and the event log off. A traced run interleaves
untraced and traced passes in one session with the event log on; the
per-layer metrics come from its traced passes, and the difference
between the two kinds of pass is the tracing overhead.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import sys
import threading
import time
import uuid
from dataclasses import dataclass, field

from perfbench import eventlog, inputs, oracle
from perfbench.spans import Tracer, totals_by_name
from perfbench.stats import interval_union, median, min_samples_for

# bench.py's HEADLINE keys, copied here so the yardstick does not
# move when that list is edited.
HEADLINE = (
    "q_broadcast_rule_join", "q_join_inner", "q_star_join", "q_agg_basic",
    "q_window_tumbling", "q_rank", "q_dedup_exact", "q_knn_bruteforce",
    "q_knn_vectorized", "q_token_counts", "q_tfidf", "q_tpch_q3",
    "q_tpch_q1", "q_tpch_q9", "q_pipeline_e2e",
)

# The tail percentile every workload reports, and the samples a run
# needs so that at least ten lie beyond it: two headline passes (30 key
# runs) support p66, and more passes do not fit the time a run may take.
TAIL_PERCENTILE = 66
MIN_SAMPLES = min_samples_for(TAIL_PERCENTILE)
MIN_PASSES = 2

# Stream replay: the events table as this many part-files. The rules
# query reads one file per micro-batch. The keyed-totals query reads them
# all in one micro-batch: on the engine's 32 shuffle partitions a
# stateful micro-batch costs 2.5-4 s on 4 cores, nearly all of it fixed
# per-partition state-store and Python-worker work, so more of them do
# not fit a run. STREAM_PASSES timed passes make the pass median robust
# to one pass slowed by the host.
REPLAY_PARTS = 15
STREAM_PASSES = 3

# Keyed totals are float sums accumulated chunk by chunk; rounded to
# cents they may differ from the batch sum by one cent.
TOTAL_TOLERANCE = 0.01 + 1e-9

STREAM_PHASES = ("addBatch", "getBatch", "queryPlanning", "walCommit",
                 "commitOffsets")


@dataclass
class Run:
    """What one benchmark invocation needs: options, dirs, tracer."""
    workload: str
    seed: int
    seconds: float
    trace: bool
    sf_dir: str
    cpus: int
    work_dir: str      # per-run directory, removed at exit
    inputs_dir: str    # cached generated inputs
    tracer: Tracer = field(init=False)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    detail: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.tracer = Tracer(False)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)


# --- session --------------------------------------------------------------

def start_session(run: Run):
    """The engine's session, with only the benchmark's own settings (UI
    off, directories, and in a traced run the event log) added."""
    from flink_tutorial_broadcast_spark.session import get_spark

    tmp = os.path.join(run.work_dir, "tmp")
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run.work_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if run.trace:
        log_dir = os.path.join(run.work_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(f"perfbench-{run.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    run.detail["spark"] = spark.version
    run.detail["java"] = spark._jvm.System.getProperty("java.version")
    return spark


def stop_session(spark, run: Run):
    """Stop the session; in a traced run, parse its event log."""
    spark.stop()
    if not run.trace:
        return None
    log_dir = os.path.join(run.work_dir, "eventlog")
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log, found {files}")
    return eventlog.parse(files[0])


def set_group(spark, group: str | None) -> None:
    """Set (or with None, clear) the job group and description. Both are
    thread-local properties that persist, so every key run and pass sets
    its own and clears it after, or later jobs are billed to it."""
    sc = spark.sparkContext
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(group, group)


@contextlib.contextmanager
def instrument(spark, tracer: Tracer):
    """Count py4j commands and span ``io.load`` calls while traced.

    The py4j client's ``send_command`` is shadowed on the instance that
    every JVM object proxy calls through. ``io.load`` is rebound in every
    engine module that imported it by name."""
    from flink_tutorial_broadcast_spark import io as engine_io

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command

    def send_command(*args, **kwargs):
        tracer.on_py4j_command()
        return send(*args, **kwargs)

    load = engine_io.load

    def traced_load(*args, **kwargs):
        with tracer.span("io.load"):
            return load(*args, **kwargs)

    modules = [m for m in list(sys.modules.values())
               if getattr(m, "load", None) is load]
    client.send_command = send_command
    for m in modules:
        m.load = traced_load
    tracer.enabled = True
    try:
        yield
    finally:
        tracer.enabled = False
        for m in modules:
            m.load = load
        del client.send_command


def release(spark, run: Run, trace: str | None) -> int:
    from flink_tutorial_broadcast_spark.session import release_cached_blocks

    with run.tracer.span("session.release", trace) as rec:
        freed = release_cached_blocks(spark)
        if rec is not None:
            rec["rdds_freed"] = freed
    return freed


def timed_passes(run: Run, one_pass, samples_of,
                 min_passes: int = MIN_PASSES) -> list:
    """Run passes until ``run.seconds`` have elapsed, there are
    ``min_passes`` untraced passes and the tail percentile is supported;
    in a traced run, passes go untraced, traced, traced, untraced, ... so
    that both kinds sit equally far into the warm-up, and the traced kind
    needs MIN_PASSES. Returns the pass results; ``one_pass(i, traced)``
    runs pass ``i``."""
    results = []
    t0 = time.time()
    cap = max(3 * run.seconds, 90)

    def enough() -> bool:
        untraced = [r for r in results if not r["traced"]]
        traced = [r for r in results if r["traced"]]
        if run.trace and len(traced) < MIN_PASSES:
            return False
        return (time.time() - t0 >= run.seconds
                and len(untraced) >= min_passes
                and len(samples_of(untraced)) >= MIN_SAMPLES)

    while not enough():
        if results and time.time() - t0 > cap:
            break
        i = len(results)
        results.append(one_pass(i, run.trace and i % 4 in (1, 2)))
    return results


# --- headline_sf0.1 -------------------------------------------------------

def headline(run: Run) -> dict:
    t_setup = time.time()
    from flink_tutorial_broadcast_spark import ORACLE, load_all_queries

    queries = load_all_queries()
    spark = start_session(run)
    try:
        # Set-up is the untimed warm pass: each key's rows, collected once
        # and checked after set-up is timed, then the count the timed
        # passes run, so its plan is compiled before timing starts.
        results = {}
        for name in HEADLINE:
            release(spark, run, None)
            set_group(spark, f"first:{name}")
            run.attempted += 1
            try:
                df = queries[name](spark, run.sf_dir)
                results[name] = df.toPandas()
                df.groupBy().count().collect()
            except Exception as e:  # counted, and the key is not checked
                run.fail(f"{name}: first run raised {type(e).__name__}: {e}")
            finally:
                set_group(spark, None)
        setup_s = time.time() - t_setup

        # Correctness, outside every timed region.
        t_check = time.time()
        con = oracle.duckdb_con(run.sf_dir)
        for name, got in results.items():
            problem = oracle.compare(got, con.execute(ORACLE[name]).df())
            if problem:
                run.fail(f"{name}: {problem}")
        con.close()
        del results

        def key_run(name: str, trace: str, traced: bool) -> float | None:
            release(spark, run, trace)
            tracer = run.tracer
            set_group(spark, trace)
            run.attempted += 1
            t0 = time.time()
            try:
                with tracer.span("key", trace):
                    with tracer.span("operators.build"):
                        df = queries[name](spark, run.sf_dir)
                    q = df.groupBy().count()
                    if traced:
                        # the plan collect() runs: it reuses this one
                        with tracer.span("catalyst.plan"):
                            q._jdf.queryExecution().executedPlan()
                    with tracer.span("exec"):
                        q.collect()
            except Exception as e:  # a failing key is counted, not fatal
                run.fail(f"{name}: {type(e).__name__}: {e}")
                return None
            finally:
                set_group(spark, None)
            return time.time() - t0

        def one_pass(i: int, traced: bool) -> dict:
            order = list(HEADLINE)
            random.Random(run.seed * 1000 + i).shuffle(order)
            walls: dict[str, float] = {}
            ctx = instrument(spark, run.tracer) if traced \
                else contextlib.nullcontext()
            with ctx:
                for name in order:
                    wall = key_run(name, f"p{i}:{name}", traced)
                    if wall is not None:
                        walls[name] = wall
            return {"traced": traced, "walls": walls}

        t_timed = time.time()
        passes = timed_passes(
            run, one_pass,
            lambda ps: [w for p in ps for w in p["walls"].values()])
        run.detail["phase_s"] = {"setup": setup_s,
                                 "check": t_timed - t_check,
                                 "timed": time.time() - t_timed}
    finally:
        log = stop_session(spark, run)

    untraced = [p for p in passes if not p["traced"]]
    samples = [w for p in untraced for w in p["walls"].values()]
    out = {
        "setup_s": setup_s,
        "pass_s": pass_seconds(untraced),
        "pass_walls_s": [sum(p["walls"].values()) for p in passes],
        "samples_s": samples,
        "passes": len(passes),
    }
    if run.trace:
        traced = [p for p in passes if p["traced"]]
        out["layers"] = headline_layers(run, traced, log)
        out["layers"]["trace.overhead_s"] = \
            pass_seconds(traced) - out["pass_s"]
    return out


def pass_seconds(passes: list[dict]) -> float:
    """Sum over keys of each key's median wall time across passes."""
    keys = {k for p in passes for k in p["walls"]}
    return sum(median(p["walls"][k] for p in passes if k in p["walls"])
               for k in keys)


def span_layers(run: Run, spans: list[dict], n: int) -> dict:
    """The layer metrics every workload takes from its traced spans, per
    traced pass; the others start at zero."""
    t = totals_by_name(spans)
    run.detail["span_totals"] = t
    layers = {name: 0.0 for name in LAYER_METRICS}
    layers.update({
        "operators.build_ms": 1e3 * t["operators.build"]["total_s"] / n,
        "operators.build_self_ms": 1e3 * t["operators.build"]["self_s"] / n,
        "operators.py4j_calls": t["operators.build"]["py4j"] / n,
        "io.load_calls": t["io.load"]["count"] / n,
        "io.load_ms": 1e3 * t["io.load"]["total_s"] / n,
        "session.release_ms": 1e3 * t["session.release"]["total_s"] / n,
        "session.rdds_freed": sum(s.get("rdds_freed", 0) for s in spans
                                  if s["name"] == "session.release") / n,
    })
    return layers


def headline_layers(run: Run, traced: list[dict], log) -> dict:
    """Per-layer metrics, per traced pass (totals divided by the number
    of traced passes; task skew is the worst stage seen)."""
    n = max(len(traced), 1)
    spans = [s for s in run.tracer.spans if s["trace"]]
    layers = span_layers(run, spans, n)
    layers["catalyst.plan_ms"] = sum(
        s["end"] - s["start"] for s in spans
        if s["name"] == "catalyst.plan") * 1e3 / n
    keys = [s for s in spans if s["name"] == "key"]
    gaps = []
    for k in keys:
        rec = eventlog.group_summary(log, k["trace"])
        add_exec(layers, rec, n)
        jobs = rec["job_intervals_ms"]
        span_ms = (1e3 * k["start"], 1e3 * k["end"])
        gaps.append(reconcile(span_ms, jobs))
    layers["exec.driver_gap_ms"] = sum(gaps) / n
    traced_pass = pass_seconds(traced)
    layers["operators.driver_share"] = (
        (layers["operators.build_ms"] + layers["catalyst.plan_ms"])
        / (1e3 * traced_pass) if traced_pass else 0.0)
    return layers


# Tolerance for comparing Python wall-clock spans with the event log's
# millisecond stamps.
CLOCK_SLACK_MS = 5


def reconcile(span_ms: tuple[float, float], jobs: list[tuple[int, int]],
              strict: bool = True) -> float:
    """Driver gap of one key run: its span's wall time minus the union of
    its jobs' intervals, clipped to the span. With ``strict`` every job
    must lie inside the span."""
    s, e = span_ms
    for js, je in jobs:
        if strict and (js < s - CLOCK_SLACK_MS or je > e + CLOCK_SLACK_MS):
            raise RuntimeError(
                f"job [{js}, {je}] lies outside its key span [{s}, {e}]")
    clipped = [(max(js, s), min(je, e)) for js, je in jobs]
    return (e - s) - interval_union(clipped)


def add_exec(layers: dict, rec: dict, n: int) -> None:
    layers["exec.wall_ms"] += rec["wall_ms"] / n
    for k in ("stages", "tasks", "run_ms", "cpu_ms", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes"):
        layers[f"exec.{k}"] += rec[k] / n
    layers["exec.task_skew"] = max(layers["exec.task_skew"], rec["task_skew"])
    layers["pyboundary.to_python_bytes"] += rec["py_sent_bytes"] / n
    layers["pyboundary.from_python_bytes"] += rec["py_received_bytes"] / n
    layers["pyboundary.stage_run_ms"] += rec["py_stage_run_ms"] / n


# --- stream_rules_sf0.1 ---------------------------------------------------

class ProgressLog:
    """StreamingQueryListener sink: progress events per query run id.

    Events arrive asynchronously; ``wait_terminated`` blocks until the
    listener has seen the end of a given number of queries, after which
    every progress event of those queries has been delivered."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.progress: dict[str, list[dict]] = {}
        self._cond = threading.Condition()
        log = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                with log._cond:
                    log.started.append(str(event.runId))
                    log.progress.setdefault(str(event.runId), [])

            def onQueryProgress(self, event) -> None:
                p = json.loads(event.progress.json)
                with log._cond:
                    log.progress.setdefault(p["runId"], []).append(p)

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                with log._cond:
                    log.terminated.add(str(event.runId))
                    log._cond.notify_all()

        self.listener = Listener()

    def wait_terminated(self, count: int, timeout: float = 60) -> None:
        with self._cond:
            ok = self._cond.wait_for(
                lambda: len(self.started) >= count
                and all(r in self.terminated for r in self.started[:count]),
                timeout)
        if not ok:
            raise TimeoutError(
                f"listener saw {len(self.terminated)} of {count} queries end")


def _ms(iso: str) -> float:
    from datetime import datetime
    return 1e3 * datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def query_window_ms(progress: list[dict]) -> tuple[float, float]:
    """First trigger start to last commit of one query, epoch ms."""
    first = min(_ms(p["timestamp"]) for p in progress)
    last = max(_ms(p["timestamp"]) + p["durationMs"]["triggerExecution"]
               for p in progress)
    return first, last


def stream(run: Run) -> dict:
    replay_dir, n_events = inputs.event_replay(
        os.path.join(run.sf_dir, "events.parquet"), run.inputs_dir,
        REPLAY_PARTS, run.seed)
    run.detail["replay"] = {
        "dir": os.path.basename(os.path.dirname(replay_dir)),
        "parts": REPLAY_PARTS, "events": n_events}

    t_setup = time.time()
    from flink_tutorial_broadcast_spark.io import SCHEMAS
    from flink_tutorial_broadcast_spark.sources.rules import rules_df
    from flink_tutorial_broadcast_spark.streaming.jobs import (
        broadcast_rules_stream,
        keyed_state_totals,
    )

    spark = start_session(run)
    plog = ProgressLog()
    spark.streams.addListener(plog.listener)
    tracer = run.tracer

    def source(files_per_trigger: int):
        return (spark.readStream.schema(SCHEMAS["events"])
                .option("maxFilesPerTrigger", files_per_trigger)
                .parquet(replay_dir))

    previous: list[dict] = []

    def one_pass(i: int, traced: bool) -> dict:
        trace = f"p{i}:stream"
        # only the last pass's outputs are checked; free the one before
        for p in previous:
            spark.catalog.dropTempView(p.pop("sink"))
            p.pop("matches")
        previous.clear()
        before = len(plog.started)

        def timed_rules():
            with tracer.span("sources.rules.refresh", trace):
                return rules_df(spark)

        ctx = instrument(spark, tracer) if traced \
            else contextlib.nullcontext()
        sink = f"totals_{uuid.uuid4().hex[:8]}"
        with ctx, tracer.span("stream.pass", trace):
            release(spark, run, trace)
            with tracer.span("stream.rules_query"):
                with tracer.span("operators.build"):
                    events = source(1)
                matches = broadcast_rules_stream(
                    spark, run.sf_dir, rules_source=timed_rules,
                    events_stream=events)
            with tracer.span("stream.totals_query"):
                with tracer.span("operators.build"):
                    writer = (
                        keyed_state_totals(
                            source(REPLAY_PARTS))
                        .writeStream
                        .format("memory").queryName(sink)
                        .outputMode("update")
                        .option("checkpointLocation", os.path.join(
                            run.work_dir, "ckpt", sink))
                        .trigger(availableNow=True))
                writer.start().awaitTermination()
        plog.wait_terminated(before + 2)
        run_ids = plog.started[before:before + 2]
        progress = {r: plog.progress[r] for r in run_ids}
        windows = [query_window_ms(progress[r]) for r in run_ids]
        batches = [p for r in run_ids for p in progress[r]]
        run.attempted += len(batches)
        result = {
            "traced": traced, "trace": trace, "run_ids": run_ids,
            "windows_ms": windows,
            "wall_s": sum(e - s for s, e in windows) / 1e3,
            "batches": batches, "progress": progress,
            "matches": matches, "sink": sink,
        }
        previous.append(result)
        return result

    try:
        one_pass(-1, False)
        setup_s = time.time() - t_setup
        t_timed = time.time()
        passes = timed_passes(run, one_pass, rules_batch_seconds,
                              STREAM_PASSES)
        t_check = time.time()
        check_stream(spark, run, passes[-1])
        run.detail["phase_s"] = {"setup": setup_s,
                                 "timed": t_check - t_timed,
                                 "check": time.time() - t_check}
        spark.streams.removeListener(plog.listener)
    finally:
        log = stop_session(spark, run)

    untraced = [p for p in passes if not p["traced"]]
    out = {
        "setup_s": setup_s,
        "pass_s": median(p["wall_s"] for p in untraced),
        "pass_walls_s": [p["wall_s"] for p in passes],
        "samples_s": rules_batch_seconds(untraced),
        "passes": len(passes),
        "events_per_pass": 2 * n_events,
    }
    out["events_per_s"] = out["events_per_pass"] / out["pass_s"]
    if run.trace:
        traced = [p for p in passes if p["traced"]]
        out["layers"] = stream_layers(run, traced, log)
        out["layers"]["trace.overhead_s"] = (
            median(p["wall_s"] for p in traced) - out["pass_s"])
    return out


def rules_batch_seconds(passes: list[dict]) -> list[float]:
    """triggerExecution of every rules-query micro-batch: the stream
    workload's operation samples."""
    return [b["durationMs"]["triggerExecution"] / 1e3
            for p in passes for b in p["progress"][p["run_ids"][0]]]


def check_stream(spark, run: Run, result: dict) -> None:
    """Streamed rule matches must equal the batch broadcast join, and the
    final keyed totals the batch groupBy."""
    from pyspark.sql import functions as F

    from flink_tutorial_broadcast_spark.io import load
    from flink_tutorial_broadcast_spark.operators.flagship import (
        broadcast_rule_matches,
    )

    cols = ["event_id", "event_type", "value", "severity"]
    run.attempted += 2
    got = result["matches"].select(*cols).toPandas()
    want = broadcast_rule_matches(spark, run.sf_dir).select(*cols).toPandas()
    problem = oracle.compare(got, want)
    if problem:
        run.fail(f"stream rule matches: {problem}")

    final = spark.sql(
        f"SELECT user_id, max(n_events) AS n_events, "
        f"max_by(total_value, n_events) AS total_value, "
        f"max(max_value) AS max_value FROM {result['sink']} "
        f"GROUP BY user_id").toPandas().set_index("user_id").sort_index()
    batch = (load(spark, run.sf_dir, "events").groupBy("user_id")
             .agg(F.count("*").alias("n_events"),
                  F.round(F.sum("value"), 2).alias("total_value"),
                  F.max("value").alias("max_value"))
             .toPandas().set_index("user_id").sort_index())
    if not final.index.equals(batch.index):
        run.fail("keyed totals: user sets differ")
    elif not (final["n_events"].equals(batch["n_events"])
              and final["max_value"].equals(batch["max_value"])
              and ((final["total_value"] - batch["total_value"]).abs()
                   <= TOTAL_TOLERANCE).all()):
        run.fail("keyed totals differ from the batch groupBy")


def stream_layers(run: Run, traced: list[dict], log) -> dict:
    n = max(len(traced), 1)
    traces = {p["trace"] for p in traced}
    spans = [s for s in run.tracer.spans if s["trace"] in traces]
    layers = span_layers(run, spans, n)
    layers["sources.rules.refresh_ms"] = 1e3 * sum(
        s["end"] - s["start"] for s in spans
        if s["name"] == "sources.rules.refresh") / n
    gaps = []
    for p in traced:
        for b in p["batches"]:
            d = b["durationMs"]
            for phase in STREAM_PHASES:
                layers[f"streaming.mb.{phase}_ms"] += d.get(phase, 0) / n
            layers["streaming.mb.rows"] += b["numInputRows"] / n
            layers["streaming.mb.count"] += 1 / n
            for op in b.get("stateOperators", []):
                layers["streaming.state.commit_ms"] += \
                    op.get("commitTimeMs", 0) / n
                layers["streaming.state.memory_bytes"] = max(
                    layers["streaming.state.memory_bytes"],
                    op.get("memoryUsedBytes", 0))
        totals = p["batches"][-1] if p["batches"] else {}
        layers["streaming.state.rows_total"] = max(
            layers["streaming.state.rows_total"],
            sum(op.get("numRowsTotal", 0)
                for op in totals.get("stateOperators", [])))
        for rid, window in zip(p["run_ids"], p["windows_ms"]):
            rec = eventlog.group_summary(log, rid)
            add_exec(layers, rec, n)
            gaps.append(reconcile(window, rec["job_intervals_ms"],
                                  strict=False))
    # queryPlanning covers the incremental plan up to the sink. The rules
    # query's broadcast join is built and planned inside its foreachBatch
    # function, so that planning is in addBatch, not here.
    layers["catalyst.plan_ms"] = layers["streaming.mb.queryPlanning_ms"]
    layers["exec.driver_gap_ms"] = sum(gaps) / n
    return layers


LAYER_METRICS = (
    "operators.build_ms", "operators.build_self_ms", "operators.py4j_calls",
    "operators.driver_share", "io.load_calls", "io.load_ms",
    "catalyst.plan_ms",
    "exec.wall_ms", "exec.stages", "exec.tasks", "exec.run_ms", "exec.cpu_ms",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.task_skew", "exec.driver_gap_ms",
    "pyboundary.to_python_bytes", "pyboundary.from_python_bytes",
    "pyboundary.stage_run_ms",
    *(f"streaming.mb.{p}_ms" for p in STREAM_PHASES),
    "streaming.mb.rows", "streaming.mb.count",
    "streaming.state.rows_total", "streaming.state.memory_bytes",
    "streaming.state.commit_ms", "sources.rules.refresh_ms",
    "session.release_ms", "session.rdds_freed", "session.peak_rss_mb",
    f"op_p{TAIL_PERCENTILE}_ms", "trace.overhead_s",
)

WORKLOADS = {
    "headline_sf0.1": headline,
    "stream_rules_sf0.1": stream,
}
