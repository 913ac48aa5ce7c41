import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stats import MIN_SAMPLES_P90, latency_summary, percentile  # noqa: E402


def test_percentile_interpolates_between_ranks():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == pytest.approx(2.5)
    assert percentile(list(range(11)), 90) == pytest.approx(9.0)
    assert percentile([7.0], 90) == 7.0


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_p90_needs_the_minimum_sample_count():
    few = [float(i) for i in range(MIN_SAMPLES_P90 - 1)]
    assert set(latency_summary(few)) == {"latency_p50_s"}
    enough = [float(i) for i in range(MIN_SAMPLES_P90)]
    got = latency_summary(enough)
    assert set(got) == {"latency_p50_s", "latency_p90_s"}
    assert got["latency_p90_s"] == pytest.approx(percentile(enough, 90))
