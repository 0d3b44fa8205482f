import statistics

import pytest

from pb.stats import highest_supported_percentile, median, percentile, quartile_spread


def test_nearest_rank_percentile():
    vals = list(range(1, 101))  # 1..100
    assert percentile(vals, 50) == 50
    assert percentile(vals, 90) == 90
    assert percentile(vals, 100) == 100
    assert percentile([5.0], 90) == 5.0
    assert percentile([3, 1, 2], 50) == 2          # rank ceil(1.5) = 2
    assert percentile([4, 1, 3, 2], 90) == 4       # rank ceil(3.6) = 4
    assert percentile([10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110], 90) == 100
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1], 0)


def test_percentile_returns_an_observed_sample():
    vals = [0.3, 1.7, 2.2, 9.1, 4.4]
    for p in (1, 25, 50, 75, 90, 99, 100):
        assert percentile(vals, p) in vals


def test_median_and_spread():
    assert median([1, 3, 2]) == 2
    assert median([1, 2, 3, 4]) == 2.5
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert quartile_spread(vals) == pytest.approx((q3 - q1) / statistics.median(vals))


def test_highest_supported_percentile():
    assert highest_supported_percentile(19) is None   # median leaves 9 above
    assert highest_supported_percentile(20) == 50
    assert highest_supported_percentile(100) == 90
    assert highest_supported_percentile(1000) == 99
