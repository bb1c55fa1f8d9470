import statistics

import pytest

from perfbench.stats import iqr_share, percentile, summary, tail_count


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 90) == pytest.approx(3.7)


def test_percentile_of_empty_sample_raises():
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_count():
    assert tail_count(100, 90) == 10
    assert tail_count(99, 90) == 9
    assert tail_count(1000, 99) == 10


def test_summary_reports_a_percentile_only_with_ten_samples_beyond_it():
    small = summary(range(99))
    assert small == {"n": 99, "p50": 49}
    big = summary(range(100))
    assert big["n"] == 100 and big["p50"] == 49.5
    assert big["p90"] == pytest.approx(89.1)
    assert "p99" not in big
    assert "p99" in summary(range(1000))


def test_summary_of_no_samples_is_just_the_count():
    assert summary([]) == {"n": 0}


def test_iqr_share_matches_statistics_quantiles():
    xs = [10.0, 11.0, 9.5, 10.5, 12.0, 10.2, 9.9, 10.1, 10.8, 11.5]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert iqr_share(xs) == pytest.approx((q3 - q1) / statistics.median(xs))
