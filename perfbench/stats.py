"""Order statistics and interval arithmetic for the benchmark.

Kept free of Spark so the tests can exercise it directly.
"""

from __future__ import annotations

import statistics

# percentiles considered for a tail figure, highest first
TAIL_PERCENTILES = (99, 95, 90, 75, 50)
# a percentile is reported only with at least this many samples beyond it
MIN_SAMPLES_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' method)."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    if len(s) == 1:
        return float(s[0])
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (k - lo))


def supported_percentile(n: int) -> int | None:
    """Highest percentile in TAIL_PERCENTILES that leaves at least
    MIN_SAMPLES_BEYOND of ``n`` samples above it, or None when even the
    median does not (fewer than 20 samples)."""
    for p in TAIL_PERCENTILES:
        if n * (100 - p) / 100.0 >= MIN_SAMPLES_BEYOND:
            return p
    return None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    end = float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by ``intervals``."""
    clipped = [(max(a, lo), min(b, hi)) for a, b in intervals]
    return union_length([(a, b) for a, b in clipped if b > a])
