"""BENCHMARK.json is the file metrics.benchmark_json() describes."""

import json
import os

from perfbench import metrics

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_benchmark_json_matches_the_metric_lists():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        assert json.load(fh) == metrics.benchmark_json()


def test_every_span_has_a_self_time_metric():
    assert all(f"self_s.{s}" in metrics.PER_LAYER for s in metrics.SPANS)
