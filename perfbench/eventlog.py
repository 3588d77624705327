"""Offline reader for Spark's JSON event log.

The benchmark enables ``spark.eventLog.enabled`` (uncompressed, rolling
off) in its traced run and reads the file after the session stops. Jobs
are attributed to key runs through ``spark.jobGroup.id``, which the
benchmark sets to the run's trace id before every key run. Stage and
task records give run time, CPU, shuffle bytes and spill; the SQL plan
metrics of Python exec nodes give the bytes crossing the Python boundary.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

from perfbench.stats import interval_union

# Python exec nodes (ArrowEvalPython, MapInPandas,
# FlatMapGroupsInPandasWithState, ...) carry these SQL metrics.
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_NODE_WORDS = ("Python", "Pandas", "Arrow")

# Stages whose median task is shorter than this carry no meaningful skew.
SKEW_MIN_MEDIAN_MS = 5


@dataclass
class Job:
    group: str | None
    start_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Stage:
    job: int | None = None
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    task_ms: list[int] = field(default_factory=list)
    accums: dict[int, int] = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    # accumulator id -> metric name, for metrics of Python exec nodes
    py_accums: dict[int, str] = field(default_factory=dict)


def _python_metrics(plan: dict, out: dict[int, str]) -> None:
    if any(w in plan.get("nodeName", "") for w in PY_NODE_WORDS):
        for m in plan.get("metrics", []):
            out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _python_metrics(child, out)


def _as_int(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def parse_events(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = Job(props.get("spark.jobGroup.id"), e["Submission Time"],
                      stage_ids=list(e.get("Stage IDs", [])))
            log.jobs[e["Job ID"]] = job
            for sid in job.stage_ids:
                st = log.stages.setdefault(sid, Stage())
                if st.job is None:
                    st.job = e["Job ID"]
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(e["Job ID"])
            if job is not None:
                job.end_ms = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            st = log.stages.setdefault(e["Stage ID"], Stage())
            info, m = e.get("Task Info") or {}, e.get("Task Metrics") or {}
            st.tasks += 1
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read += (sr.get("Remote Bytes Read", 0)
                                + sr.get("Local Bytes Read", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
            st.spill += m.get("Disk Bytes Spilled", 0)
            if info.get("Finish Time") and info.get("Launch Time"):
                st.task_ms.append(info["Finish Time"] - info["Launch Time"])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = log.stages.setdefault(info["Stage ID"], Stage())
            for a in info.get("Accumulables", []):
                st.accums[a["ID"]] = _as_int(a.get("Value"))
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _python_metrics(e.get("sparkPlanInfo") or {}, log.py_accums)
    return log


def parse(path: str) -> EventLog:
    with open(path) as f:
        return parse_events(f)


def stage_skew(task_ms: list[int]) -> float:
    """max/median task time of one stage; 1.0 when not meaningful."""
    if len(task_ms) < 2:
        return 1.0
    med = statistics.median(task_ms)
    if med < SKEW_MIN_MEDIAN_MS:
        return 1.0
    return max(task_ms) / med


def group_summary(log: EventLog, group: str) -> dict:
    """Execution record of every job run under one job group."""
    jobs = [j for j in log.jobs.values() if j.group == group]
    job_ids = {jid for jid, j in log.jobs.items() if j.group == group}
    stages = [s for s in log.stages.values()
              if s.job in job_ids and s.tasks]
    intervals = [(j.start_ms, j.end_ms) for j in jobs if j.end_ms is not None]
    py_ids = log.py_accums
    out = {
        "jobs": len(jobs),
        "job_intervals_ms": intervals,
        "wall_ms": interval_union(intervals),
        "stages": len(stages),
        "tasks": sum(s.tasks for s in stages),
        "run_ms": sum(s.run_ms for s in stages),
        "cpu_ms": sum(s.cpu_ns for s in stages) / 1e6,
        "shuffle_read_bytes": sum(s.shuffle_read for s in stages),
        "shuffle_write_bytes": sum(s.shuffle_write for s in stages),
        "spill_bytes": sum(s.spill for s in stages),
        "task_skew": max((stage_skew(s.task_ms) for s in stages),
                         default=1.0),
        "py_sent_bytes": 0, "py_received_bytes": 0, "py_stage_run_ms": 0,
    }
    for s in stages:
        touched = [a for a in s.accums if a in py_ids]
        if not touched:
            continue
        out["py_stage_run_ms"] += s.run_ms
        for a in touched:
            if py_ids[a] == PY_SENT:
                out["py_sent_bytes"] += s.accums[a]
            elif py_ids[a] == PY_RECEIVED:
                out["py_received_bytes"] += s.accums[a]
    return out
