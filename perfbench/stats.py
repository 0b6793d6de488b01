"""Summary statistics shared by the benchmark and its repeat tool."""

from __future__ import annotations

import math
import statistics

# Percentiles a tail metric may report, highest first.
TAIL_LEVELS = (90, 75, 50)
MIN_BEYOND = 10  # samples that must lie above a reported percentile


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def supported_level(n: int) -> int | None:
    """The highest level of ``TAIL_LEVELS`` that leaves at least
    ``MIN_BEYOND`` of ``n`` samples beyond it; None when even the median
    leaves fewer (n < 20)."""
    for p in TAIL_LEVELS:
        if n - math.ceil(p / 100 * n) >= MIN_BEYOND:
            return p
    return None


def tail(values: list[float]) -> tuple[int | None, float | None]:
    """(level, value) of the highest supported percentile."""
    level = supported_level(len(values))
    return level, (percentile(values, level) if level is not None else None)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3) as ``statistics.quantiles(n=4)`` computes them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def relative_spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else math.inf
