"""Summary statistics used by every workload.

Percentiles use the nearest-rank rule: the p-th percentile of n sorted
samples is the value at 1-based rank ceil(p/100 * n). It always returns an
observed sample, so a latency percentile is a latency that happened.
"""

from __future__ import annotations

import math
import statistics


def percentile(values, p: float) -> float:
    """Nearest-rank percentile, 0 < p <= 100."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile p must be in (0, 100], got {p}")
    ordered = sorted(values)
    rank = math.ceil(p / 100.0 * len(ordered))
    return ordered[max(rank, 1) - 1]


def median(values) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def highest_supported_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest of p50/p90/p99/p99.9 that leaves at least ``beyond``
    samples above it, or None when even the median does not."""
    best = None
    for p in (50.0, 90.0, 99.0, 99.9):
        if n - math.ceil(p / 100.0 * n) >= beyond:
            best = p
    return best


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``
    gives them: the run-to-run spread measure the bounds are set against."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
