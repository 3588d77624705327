"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload headline_sf0.1 --seed 1 \\
        --seconds 20 --trace 0

The workloads and metric names are declared in BENCHMARK.json at the
repository root. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
The line before it, ``{"detail": ...}``, carries host provenance, sample
counts and the problems behind any failure.

Everything the run writes stays under ``perfbench/_work``: cached
generated inputs, and a per-run directory (Spark local dirs, checkpoints,
event log, temp files) that is removed at exit. Trace spans are written
to ``perfbench/_work/traces``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "flink_tutorial_broadcast_spark"
WORK = os.path.join(HERE, "_work")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_args(argv, spec: dict) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def make_run_dir() -> str:
    """A fresh per-run directory; directories of runs that died without
    cleaning up are removed first."""
    os.makedirs(WORK, exist_ok=True)
    for name in os.listdir(WORK):
        if name.startswith("run-"):
            pid = name.split("-")[1]
            if pid.isdigit() and not _pid_alive(int(pid)):
                shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=WORK)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    return run_dir


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM it launched to exit
    (it exits when its stdin closes; its Python workers go with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # TimeoutExpired: the JVM ignored its stdin
            proc.kill()
            proc.wait(timeout=30)


def cpu_times() -> list[int] | None:
    """The machine's aggregate CPU times from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...), or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(v) for v in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(start: list[int] | None, end: list[int] | None):
    """Share of CPU time the hypervisor took from this machine between
    two ``cpu_times`` readings: on a shared host, timings rise with it."""
    if not start or not end or len(start) < 8:
        return None
    total = sum(end) - sum(start)
    return (end[7] - start[7]) / total if total > 0 else None


def end_to_end(res: dict) -> dict:
    from perfbench.stats import median

    return {
        "setup_s": (res["setup_s"], "s"),
        "pass_s": (res["pass_s"], "s"),
        "op_p50_ms": (1e3 * median(res["samples_s"]), "ms"),
    }


def tail_ms(res: dict) -> float:
    """The tail percentile of the operation times. Reported unbounded
    (per layer, and in the detail line): on the stream workload its
    run-to-run spread exceeds any bound the benchmark may set."""
    from perfbench.stats import percentile
    from perfbench.workloads import TAIL_PERCENTILE

    return 1e3 * percentile(res["samples_s"], TAIL_PERCENTILE)


def main(argv=None) -> int:
    spec = load_spec()
    args = parse_args(argv, spec)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE}/ not found next to "
              "BENCHMARK.json; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    run_dir = make_run_dir()
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # pandas deprecation notices from every Python worker bury the log
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    nproc = len(os.sched_getaffinity(0))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or nproc)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)

    from perfbench.procmem import PeakRss
    from perfbench.stats import highest_supported_percentile
    from perfbench.workloads import (
        LAYER_METRICS,
        TAIL_PERCENTILE,
        WORKLOADS,
        Run,
    )

    from flink_tutorial_broadcast_spark.io import DEFAULT_SF_DIR

    if not os.path.exists(os.path.join(DEFAULT_SF_DIR, "events.parquet")):
        print(f"perfbench: fixture {DEFAULT_SF_DIR} not found",
              file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace),
              DEFAULT_SF_DIR, cpus, run_dir, os.path.join(WORK, "inputs"))
    load_start, cpu_start = os.getloadavg(), cpu_times()
    try:
        with PeakRss() as mem:
            res = WORKLOADS[args.workload](run)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
        if run.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            run.tracer.write(os.path.join(
                WORK, "traces", f"{args.workload}-seed{args.seed}.json"))

    if args.trace:
        res["layers"]["session.peak_rss_mb"] = mem.peak_mb
        res["layers"][f"op_p{TAIL_PERCENTILE}_ms"] = tail_ms(res)
        declared = [m["name"] for m in spec["per_layer"]]
        metrics = {name: (res["layers"][name],
                          next(m["unit"] for m in spec["per_layer"]
                               if m["name"] == name))
                   for name in declared}
        missing = set(declared) ^ set(LAYER_METRICS)
    else:
        metrics = end_to_end(res)
        declared = [m["name"] for m in spec["end_to_end"]]
        missing = set(declared) ^ set(metrics)
    if missing:
        print(f"perfbench: metrics not matching BENCHMARK.json: "
              f"{sorted(missing)}", file=sys.stderr)
        return 1

    n = len(res["samples_s"])
    run.detail.update({
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "sf_dir": DEFAULT_SF_DIR, "nproc": nproc, "local_n": cpus,
        "python": sys.version.split()[0],
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "cpu_steal_share": steal_share(cpu_start, cpu_times()),
        "passes": res["passes"], "op_samples": n,
        "highest_supported_percentile": highest_supported_percentile(n),
        "peak_rss_mb": mem.peak_mb,
        f"op_p{TAIL_PERCENTILE}_ms": tail_ms(res),
        "problems": run.problems[:20],
        "at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    })
    for k in ("pass_walls_s", "events_per_s", "events_per_pass"):
        if k in res:
            run.detail[k] = res[k]
    print(json.dumps({"detail": run.detail}, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
