"""Percentiles and spreads used by the benchmark's reports."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND_TAIL = 10   # samples a tail percentile must leave above it


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not xs:
        raise ValueError("no samples")
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def samples_beyond(n: int, p: float) -> int:
    """How many of n samples lie strictly above the nearest-rank p-th."""
    return n - max(1, math.ceil(p / 100.0 * n))


def iqr_spread(xs: list[float]) -> float:
    """(Q3 - Q1) / median, with Python's default quantile method."""
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    med = statistics.median(xs)
    return (q3 - q1) / med if med else 0.0
