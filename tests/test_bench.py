"""bench.py's per-query sample count, driven without Spark."""

from __future__ import annotations

import itertools

import bench


def _samples(*times: float) -> list[float]:
    it = itertools.chain(times, itertools.repeat(times[-1]))
    return bench.take_samples(lambda: next(it))


def test_fast_stable_query_takes_three_samples():
    assert _samples(0.50, 0.52, 0.55) == [0.50, 0.52, 0.55]


def test_slow_median_takes_five_samples():
    assert len(_samples(2.4, 2.5, 2.6)) == 5


def test_large_spread_impact_takes_five_samples():
    # median 1.0 s, (2.0 / 0.5 - 1) * 1.0 = 3.0 s of excess spread
    assert len(_samples(0.5, 1.0, 2.0)) == 5
