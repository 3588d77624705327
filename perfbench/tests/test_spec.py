"""BENCHMARK.json declares every workload and metric the benchmark
prints, and nothing it does not print."""

import json
import os
import re

from perfbench import run as bench_run
from perfbench.workloads import LAYER_METRICS, WORKLOADS

SPEC = json.load(open(os.path.join(bench_run.ROOT, "BENCHMARK.json")))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_spec_has_exactly_the_contract_keys():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert SPEC["paths"] == ["perfbench"]
    assert isinstance(SPEC["run_seconds"], int)
    assert 1 <= SPEC["run_seconds"] <= 60


def test_names_units_and_bounds_are_well_formed():
    names = [w["name"] for w in SPEC["workloads"]]
    names += [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"}
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_every_workload_is_declared_and_implemented():
    assert sorted(WORKLOADS) == sorted(w["name"] for w in SPEC["workloads"])


def test_printed_end_to_end_metrics_are_the_declared_ones():
    res = {"setup_s": 1.0, "pass_s": 2.0, "samples_s": [0.1 * i for i in
                                                       range(1, 41)]}
    printed = bench_run.end_to_end(res)
    declared = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: u for k, (_, u) in printed.items()} == declared


def test_printed_per_layer_metrics_are_the_declared_ones():
    assert sorted(LAYER_METRICS) == sorted(m["name"] for m in SPEC["per_layer"])


def test_steal_share_is_the_steal_delta_over_all_cpu_time():
    start = [100, 0, 50, 800, 0, 0, 0, 50]
    end = [160, 0, 70, 900, 0, 0, 0, 70]
    assert bench_run.steal_share(start, end) == 20 / 200
    assert bench_run.steal_share(None, end) is None
    assert bench_run.steal_share(start, start) is None
