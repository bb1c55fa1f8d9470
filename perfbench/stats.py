"""Order statistics for the benchmark's summaries."""

from __future__ import annotations

import math
import statistics

# Percentiles reported when the sample is big enough: a percentile is only
# reported with at least MIN_TAIL samples beyond it.
PERCENTILES = (50, 90, 99)
MIN_TAIL = 10


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100) of a non-empty
    sample, the same rule as ``numpy.percentile``'s default."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_count(n: int, q: float) -> int:
    """Samples strictly beyond the ``q``-th percentile of ``n`` samples."""
    return math.floor(n * (100.0 - q) / 100.0 + 1e-9)


def summary(values) -> dict:
    """Sample count, median, and every percentile of :data:`PERCENTILES`
    that has at least :data:`MIN_TAIL` samples beyond it (the median is
    always given; it is the centre, not a tail)."""
    xs = list(values)
    out = {"n": len(xs)}
    if not xs:
        return out
    out["p50"] = percentile(xs, 50)
    for q in PERCENTILES[1:]:
        if tail_count(len(xs), q) >= MIN_TAIL:
            out[f"p{q}"] = percentile(xs, q)
    return out


def iqr_share(values) -> float:
    """Interquartile distance over the median — the spread a run-to-run
    comparison of this benchmark is judged by."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
