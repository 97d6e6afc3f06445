"""The percentile reporting rule."""

import pytest

import stats


def test_p90_needs_ten_samples_beyond_it():
    assert stats.percentile([float(i) for i in range(99)], 90) is None
    xs = [float(i) for i in range(100)]
    # nearest rank 90 -> the 90th smallest value, with exactly 10 above it
    assert stats.percentile(xs, 90) == 89.0
    assert stats.percentile(xs, 50) == 49.0


def test_percentile_rejects_out_of_range():
    with pytest.raises(ValueError):
        stats.percentile([1.0] * 200, 100)


def test_describe_prints_the_sample_count():
    line = stats.describe("request", [0.1] * 12)
    assert "n=12" in line and "p50=0.1000s" in line and "p90=n/a" in line
    assert "p90=0.1000s" in stats.describe("request", [0.1] * 200)


def test_quartile_spread():
    assert stats.quartile_spread([1.0] * 10) == 0.0
    assert stats.quartile_spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(5.5 / 5.5)
