"""Summary statistics with the benchmark's sample rule.

A percentile above the median is reported only when the run leaves at least
``MIN_BEYOND`` samples beyond it, so a tail figure is never just the maximum
of a short run. The median itself is always reported, with its sample count.
"""

from __future__ import annotations

import math

MIN_BEYOND = 10
TAIL_PERCENTILES = (75, 90, 99)


def percentile(values, p: float) -> float:
    """Linear-interpolated ``p``-th percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values) -> float:
    return percentile(values, 50)


def supported(n: int, p: float) -> bool:
    """True when ``n`` samples leave at least MIN_BEYOND beyond the
    ``p``-th percentile. The median is always supported."""
    if p <= 50:
        return n >= 1
    return n * (100 - p) / 100.0 >= MIN_BEYOND


def highest_tail(values) -> tuple[int, float] | None:
    """(p, value) for the highest tail percentile the sample supports,
    or None when it supports none."""
    best = None
    for p in TAIL_PERCENTILES:
        if supported(len(values), p):
            best = (p, percentile(values, p))
    return best


def geomean(values) -> float:
    """Geometric mean: every sample weighs the same in log space, so a mix
    of fast and slow request kinds has no gap for the summary to jump
    across (the TPC-H power metric summarizes its queries the same way)."""
    xs = list(values)
    if not xs:
        raise ValueError("geometric mean of an empty sample")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def median_or_zero(values) -> float:
    """Median for per-layer metrics, 0 for a layer that did no work."""
    return median(values) if values else 0.0
