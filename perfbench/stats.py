"""Pure helpers shared by the benchmark and its tests: percentiles and
span self time."""

from __future__ import annotations

import math


def highest_percentile(n: int, beyond: int = 10) -> int:
    """Highest whole percentile of ``n`` samples that leaves at least
    ``beyond`` samples above it (nearest rank), or 0 when ``n`` is too
    small for any."""
    if n <= beyond:
        return 0
    return math.floor(100 * (n - beyond) / n)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ys = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(ys)))
    return ys[rank - 1]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``, so
    overlapping intervals count once."""
    total = 0.0
    cur_lo = cur_hi = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_hi is None or s > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = s, e
        else:
            cur_hi = max(cur_hi, e)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - covered(children, start, end)
