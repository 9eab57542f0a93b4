"""Order statistics used by the benchmark: medians, tails and spreads.

Pure Python, no Spark, so the rules can be unit-tested on their own
(``perfbench/tests/test_stats.py``).
"""

from __future__ import annotations

import statistics

#: percentiles a tail may be reported at, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

#: a tail percentile must leave at least this many operations beyond it
TAIL_MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default 'linear' rule)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, min_beyond: int = TAIL_MIN_BEYOND) -> float | None:
    """Highest ladder percentile that still has ``min_beyond`` of ``n``
    operations beyond it, or None when the sample is too small for any."""
    for p in TAIL_LADDER:
        if round(n * (100.0 - p), 6) >= 100 * min_beyond:
            return p
    return None


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile used, value) for the operation-latency tail.

    When fewer than ``2 * TAIL_MIN_BEYOND`` operations ran, no ladder
    percentile qualifies and the maximum is returned with percentile 100;
    the caller reports the percentile and the count next to the value.
    """
    p = tail_percentile(len(values))
    if p is None:
        return 100.0, max(values)
    return p, percentile(values, p)


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")
