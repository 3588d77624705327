"""The repository benchmark: one command, named workloads, end-to-end and
per-layer metrics. Run ``python3 perfbench/run.py --help``."""
