import statistics

import pytest

from perfbench.summary import percentile, samples_beyond


def test_p90_needs_100_samples_for_ten_beyond():
    assert samples_beyond(100, 0.9) == 10
    assert samples_beyond(99, 0.9) == 9
    assert samples_beyond(14, 0.9) == 1
    assert samples_beyond(20, 0.5) == 10
    assert samples_beyond(1000, 0.99) == 10


def test_percentile_matches_inclusive_interpolation():
    xs = [0.31, 0.07, 0.9, 0.12, 0.55, 0.2, 0.44]
    qs = statistics.quantiles(xs, n=10, method="inclusive")
    assert percentile(xs, 0.9) == pytest.approx(qs[8])
    assert percentile(xs, 0.5) == pytest.approx(statistics.median(xs))
    assert percentile([3.0], 0.9) == 3.0


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        percentile([], 0.5)
