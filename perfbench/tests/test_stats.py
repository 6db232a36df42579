import statistics

import pytest

import stats


def test_percentile_nearest_rank():
    values = list(range(1, 101))
    assert stats.percentile(values, 50) == 50
    assert stats.percentile(values, 90) == 90
    assert stats.percentile(values, 100) == 100
    assert stats.percentile([7.0], 90) == 7.0


def test_highest_reportable_percentile_needs_ten_beyond():
    # p90 of 100 samples has exactly 10 beyond it; p95 only 5
    assert stats.highest_reportable_percentile(100) == 90
    assert stats.highest_reportable_percentile(99) == 75
    assert stats.highest_reportable_percentile(1000) == 99
    assert stats.highest_reportable_percentile(20) == 50
    assert stats.highest_reportable_percentile(19) is None


def test_quartile_spread_matches_statistics_quantiles():
    values = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.0]
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    assert stats.quartile_spread(values) == pytest.approx(
        (q3 - q1) / statistics.median(values))


def test_quartile_spread_rejects_zero_median():
    with pytest.raises(ValueError):
        stats.quartile_spread([0.0, 0.0, 0.0, 1.0, -1.0])


def test_geomean_weighs_every_call_alike_and_floors_zero_readings():
    assert stats.geomean([1.0, 100.0]) == pytest.approx(10.0)
    # halving any one of n calls moves the mean by the same factor
    assert stats.geomean([0.5, 100.0]) == pytest.approx(stats.geomean([1.0, 50.0]))
    assert stats.geomean([0.0, 4.0], floor=0.01) == pytest.approx(0.2)
