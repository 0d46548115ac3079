"""Summary statistics for latency samples."""

from __future__ import annotations

import math
import statistics

#: A tail percentile is reported only with at least this many samples above it.
TAIL_BEYOND = 10


def tail(values: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile (50–99) that has at least
    ``TAIL_BEYOND`` samples beyond it, as ``(percentile, value)`` by the
    nearest-rank rule; None when the sample is too small for any."""
    n = len(values)
    ordered = sorted(values)
    for p in range(99, 49, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= TAIL_BEYOND:
            return p, ordered[rank - 1]
    return None


def median(values: list[float]) -> float:
    return statistics.median(values)


def busy_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals: the time during
    which at least one request was in flight."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end > reach:
            total += end - max(start, reach)
            reach = end
    return total
