"""Summary statistics shared by the workloads."""

from __future__ import annotations

import math
import statistics

# A percentile is reported only when at least this many samples lie
# strictly beyond it; fewer make the tail a single outlier.
MIN_BEYOND = 10


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100) of a non-empty sample."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of an empty sample")
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie beyond the nearest-rank ``p``."""
    return n - max(1, math.ceil(p / 100.0 * n))


def highest_supported_percentile(n: int, ceiling: int = 99) -> int:
    """The highest whole percentile (at most ``ceiling``) that has at
    least MIN_BEYOND of ``n`` samples beyond it; 0 when none has."""
    for p in range(ceiling, 0, -1):
        if samples_beyond(n, p) >= MIN_BEYOND:
            return p
    return 0


def min_samples_for(p: int) -> int:
    """Smallest sample count for which percentile ``p`` is supported."""
    n = 1
    while samples_beyond(n, p) < MIN_BEYOND:
        n += 1
    return n


def interval_union(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
