"""Summary statistics shared by the benchmark and its tests."""

from __future__ import annotations

import math


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]."""
    if not values:
        raise ValueError("quantile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


def tail(values: list[float]) -> tuple[float, float]:
    """The highest whole percentile with at least ten samples beyond it.

    Returns ``(percentile, value)``. With fewer than twenty samples no
    percentile at or above the median has ten beyond it; the median is
    returned then, so the tail never reads below it.
    """
    n = len(values)
    pct = max(50, math.floor(100 * (1 - 10 / n))) if n >= 10 else 50
    return float(pct), quantile(values, pct / 100)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= max(a, end):
            continue
        total += b - max(a, end)
        end = b
    return total


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    import statistics

    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
