"""Peak resident memory of this process and all its descendants (the
Python process, the Spark JVM it launches and the JVM's Python workers),
sampled from /proc on a background thread."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_rss_bytes(root: int) -> int:
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while being read
        pid = int(name)
        # the command name may hold spaces; fields resume after ')'
        parent[pid] = int(stat.rsplit(")", 1)[1].split()[1])
        rss[pid] = pages * _PAGE
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for child, ppid in parent.items():
            if ppid == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    return sum(rss.get(p, 0) for p in tree)


class PeakRss:
    """Context manager sampling the process tree's RSS every ``interval``
    seconds; ``peak_mb`` holds the highest sum seen."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(root))
            if self._stop.wait(self.interval):
                return

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
