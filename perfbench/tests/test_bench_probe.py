import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import probe  # noqa: E402


def test_read_skips_a_line_cut_short(tmp_path):
    path = tmp_path / "probe.txt"
    path.write_text("10.0 0.010\n10.1 0.012\n10.2")
    assert probe.read(str(path)) == [(10.0, 0.010), (10.1, 0.012)]


def test_speed_is_the_median_inside_the_window():
    samples = [(float(t), 0.005 if t < 10 else 0.010) for t in range(20)]
    assert probe.speed(samples, 0, 9) == pytest.approx(0.005)
    assert probe.speed(samples, 10, 19) == pytest.approx(0.010)


def test_a_thin_window_falls_back_to_the_whole_run():
    samples = [(float(t), 0.004) for t in range(9)] + [(100.0, 0.050)]
    assert probe.speed(samples, 99, 101) == pytest.approx(0.004)
    with pytest.raises(ValueError):
        probe.speed([], 0, 1)


def test_rescale_to_the_reference_host():
    # a host twice as fast as the reference reads half the seconds
    samples = [(float(t), probe.REF_S / 2) for t in range(10)]
    assert probe.rescale(3.0, samples, 0, 9) == pytest.approx(6.0)


def test_sample_reads_cpu_time():
    assert 0.0 < probe.sample(20_000) < 1.0
