"""Percentiles as the benchmark reports them."""

from __future__ import annotations

import math

#: tail percentiles tried, highest first
TAILS = (99.0, 95.0, 90.0, 75.0)


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least q%
    of the samples at or below it. ``percentile(v, 50)`` of an even
    count is the lower middle sample, a value that was measured."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def median(values) -> float:
    """Middle sample; the mean of the two middle ones for an even
    count (``statistics.median``)."""
    s = sorted(values)
    if not s:
        raise ValueError("median of no samples")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def beyond(values, q: float) -> int:
    """Number of samples strictly above the q-th percentile."""
    p = percentile(values, q)
    return sum(1 for v in values if v > p)


def tail(values, min_beyond: int = 10):
    """(q, value) for the highest percentile in TAILS that has at least
    ``min_beyond`` samples above it, or None when even p75 has fewer:
    a tail with fewer samples beyond it is one or two outliers."""
    for q in TAILS:
        if values and beyond(values, q) >= min_beyond:
            return q, percentile(values, q)
    return None
