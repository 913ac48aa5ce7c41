"""BENCHMARK.json names exactly what run.py prints."""

import json
import os
import sys

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH_DIR)

import run  # noqa: E402
from workloads import LAYER_UNITS, WORKLOADS  # noqa: E402


def _bench():
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_end_to_end_metrics_match_what_run_prints():
    e2e = _bench()["end_to_end"]
    assert [m["name"] for m in e2e] == list(run.GATED)
    assert all(m["unit"] == run.UNITS[m["name"]] for m in e2e)
    assert all(0 < m["bound"] <= 0.25 for m in e2e)


def test_per_layer_metrics_match_the_traced_run():
    per_layer = _bench()["per_layer"]
    assert {m["name"]: m["unit"] for m in per_layer} == LAYER_UNITS


def test_workloads_exist():
    assert {w["name"] for w in _bench()["workloads"]} <= set(WORKLOADS)
