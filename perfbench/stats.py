"""Percentile and spread rules every reported timing follows."""

from __future__ import annotations

import bisect
import math
import statistics

# a tail percentile is reported only with this many samples above it
TAIL_SAMPLES = 10


def nearest_rank(sorted_vals: list[float], p: float) -> float:
    """Nearest-rank p-quantile (0 < p <= 1) of an ascending list."""
    k = max(1, math.ceil(round(p * len(sorted_vals), 9)))
    return sorted_vals[k - 1]


def tail_percentile(values, want: float = 0.99) -> tuple[float, float]:
    """``(p, value)`` for the highest percentile ``p <= want``, in steps
    of 0.1 point, with at least ``TAIL_SAMPLES`` samples strictly above
    its nearest-rank value.  When not even the median has that many,
    the median is returned with ``p = 0.5``."""
    vals = sorted(values)
    n = len(vals)
    if n == 0:
        raise ValueError("no samples")
    p = min(want, math.floor(1000 * (n - TAIL_SAMPLES) / n) / 1000)
    while p >= 0.5:
        v = nearest_rank(vals, p)
        if n - bisect.bisect_right(vals, v) >= TAIL_SAMPLES:
            return p, v
        p = round(p - 0.001, 3)
    return 0.5, statistics.median(vals)


def median(values) -> float:
    return statistics.median(values)


def iqr_share(values) -> float:
    """(Q3 - Q1) / median, Q1 and Q3 as ``statistics.quantiles(n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
