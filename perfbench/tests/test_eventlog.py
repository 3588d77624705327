import json

import pytest

from perfbench.eventlog import PY_RECEIVED, PY_SENT, group_summary, parse_events
from perfbench.workloads import reconcile


def job_start(job, group, t, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": job,
            "Submission Time": t, "Stage IDs": stages,
            "Properties": {"spark.jobGroup.id": group}}


def task_end(stage, launch, finish, run_ms, shuffle_write=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                         "Local Bytes Read": 5},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
                "Disk Bytes Spilled": 0}}


def events():
    plan = {"nodeName": "WholeStageCodegen", "metrics": [], "children": [
        {"nodeName": "MapInPandas", "children": [], "metrics": [
            {"name": PY_SENT, "accumulatorId": 900, "metricType": "size"},
            {"name": PY_RECEIVED, "accumulatorId": 901, "metricType": "size"},
        ]}]}
    return [
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
        job_start(0, "warm:k", 900, [0]),
        task_end(0, 900, 950, 40),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 960},
        job_start(1, "p0:k", 1010, [1, 2]),
        task_end(1, 1010, 1030, 20, shuffle_write=100),
        task_end(1, 1010, 1110, 90, shuffle_write=100),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Accumulables": [
                {"ID": 900, "Value": "4096"}, {"ID": 901, "Value": "64"},
                {"ID": 5, "Value": "1"}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1120},
        job_start(2, "p0:k", 1150, [3]),
        task_end(3, 1150, 1170, 15),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1180},
    ]


def test_group_summary_bills_only_the_group_jobs():
    log = parse_events(json.dumps(e) for e in events())
    rec = group_summary(log, "p0:k")
    assert rec["jobs"] == 2
    assert rec["stages"] == 2          # stage 2 was listed but never ran
    assert rec["tasks"] == 3
    assert rec["run_ms"] == 125
    assert rec["cpu_ms"] == 125
    assert rec["shuffle_write_bytes"] == 200
    assert rec["shuffle_read_bytes"] == 15
    assert rec["wall_ms"] == (1120 - 1010) + (1180 - 1150)
    assert rec["py_sent_bytes"] == 4096
    assert rec["py_received_bytes"] == 64
    assert rec["py_stage_run_ms"] == 110
    # stage 1: tasks of 20 and 100 ms -> max/median = 100/60
    assert rec["task_skew"] == pytest.approx(100 / 60)
    assert group_summary(log, "warm:k")["run_ms"] == 40


def test_reconcile_reports_the_driver_gap():
    log = parse_events(json.dumps(e) for e in events())
    jobs = group_summary(log, "p0:k")["job_intervals_ms"]
    assert reconcile((1000, 1200), jobs) == 200 - 140


def test_reconcile_rejects_a_job_outside_the_key_span():
    with pytest.raises(RuntimeError):
        reconcile((1000, 1100), [(900, 960)])
    assert reconcile((1000, 1100), [(900, 1050)], strict=False) == 50
