"""In-memory spans recorded around the benchmark's calls into the engine.

A span has a name, start and end (epoch seconds, comparable with the
Spark event log's millisecond stamps), its parent span and a trace id —
one trace per key run or stream pass. Spans nest per thread. Each open
span also counts the py4j commands sent while it is open, so a layer's
JVM round trips are measured where they happen. Nothing is recorded
when the tracer is disabled.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict

from perfbench.stats import interval_union


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids), "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace or (parent["trace"] if parent else None),
            "start": time.time(), "end": None, "py4j": 0,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self.spans.append(rec)

    def on_py4j_command(self) -> None:
        for rec in self._stack():
            rec["py4j"] += 1

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time: duration minus the part of the span's
    interval that its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None:
            children[p["id"]].append(
                (max(s["start"], p["start"]), min(s["end"], p["end"])))
    return {
        s["id"]: (s["end"] - s["start"]) - interval_union(children[s["id"]])
        for s in spans
    }


def totals_by_name(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: count, total seconds, self seconds, py4j commands
    (all zero for a name with no spans)."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"count": 0, "total_s": 0.0, "self_s": 0.0, "py4j": 0})
    for s in spans:
        t = out[s["name"]]
        t["count"] += 1
        t["total_s"] += s["end"] - s["start"]
        t["self_s"] += selfs[s["id"]]
        t["py4j"] += s["py4j"]
    return out
