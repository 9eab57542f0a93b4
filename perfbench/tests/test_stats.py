"""Tail-percentile selection and spread arithmetic (no Spark needed)."""

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench.stats import (  # noqa: E402
    percentile,
    quartile_spread,
    tail,
    tail_percentile,
)


@pytest.mark.parametrize("n,want", [
    (10, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
    (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0),
    (1000, 99.0), (9999, 99.0), (10000, 99.9),
])
def test_tail_percentile_leaves_ten_beyond(n, want):
    p = tail_percentile(n)
    assert p == want
    if p is not None:
        assert n * (100 - p) / 100 >= 10 - 1e-9


def test_tail_falls_back_to_max_on_small_samples():
    assert tail([3.0, 1.0, 2.0]) == (100.0, 3.0)


def test_tail_uses_ladder_percentile():
    values = [float(v) for v in range(1, 41)]  # 40 ops -> p75
    p, v = tail(values)
    assert p == 75.0
    assert v == pytest.approx(percentile(values, 75.0))
    assert sum(x > v for x in values) >= 10


def test_percentile_matches_linear_rule():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 25) == 2.0
    assert percentile([1.0, 2.0], 50) == 1.5
    with pytest.raises(ValueError):
        percentile([], 50)


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.0, 10.6]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    assert quartile_spread(vals) == pytest.approx((q3 - q1) / med)
    assert quartile_spread([2.0] * 10) == 0.0
