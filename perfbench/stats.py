"""Summary statistics the benchmark reports.

Timings are reported as a median plus the highest percentile that still
has at least ten samples beyond it; spreads are the interquartile
distance of ``statistics.quantiles(values, n=4)`` as a share of the
median — the rule the bounds in BENCHMARK.json are checked with.
"""

from __future__ import annotations

import math
import statistics

TAIL_SAMPLES = 10  # samples a reported percentile must have beyond it


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def geomean(values, floor: float = 0.0) -> float:
    """Geometric mean, each value raised to at least ``floor`` (a clock's
    resolution, so that a zero reading does not zero the mean)."""
    values = [max(float(v), floor) for v in values]
    if not values:
        raise ValueError("geometric mean of no samples")
    return float(statistics.geometric_mean(values))


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    ordered = sorted(values)
    if not ordered:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return float(ordered[rank - 1])


def highest_reportable_percentile(n: int, candidates=(99, 95, 90, 75, 50)):
    """The highest candidate percentile with at least TAIL_SAMPLES samples
    strictly beyond its nearest rank, or None when even the median has
    fewer than that many samples above it."""
    for q in candidates:
        rank = max(1, math.ceil(q / 100.0 * n))
        if n - rank >= TAIL_SAMPLES:
            return q
    return None


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median over ``statistics.quantiles(values, n=4)``."""
    values = list(values)
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    mid = statistics.median(values)
    if mid == 0:
        raise ValueError("spread of a zero median is undefined")
    return (q3 - q1) / mid
