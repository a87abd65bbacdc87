"""Metric names and units agree with BENCHMARK.json and the contract."""

import json
import os

import pytest

from perfbench import metrics

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_every_metric_name_is_plain():
    for units in (metrics.END_TO_END, metrics.PER_LAYER):
        for name in units:
            assert metrics.NAME_RE.fullmatch(name), name
            assert len(name) <= 64, name


def test_benchmark_json_lists_the_reported_metrics():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == metrics.PER_LAYER
    assert len(b["per_layer"]) <= 128
    assert [w["name"] for w in b["workloads"]] == ["kg_entail", "corpus_queries"]
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["better"] == "lower" and setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_result_line_refuses_a_partial_metric_set():
    values = {k: 1.0 for k in metrics.END_TO_END}
    line = metrics.result_line(True, 3, 0, values, metrics.END_TO_END)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"]["setup_s"] == {"value": 1.0, "unit": "s"}
    values.pop("total_cpu_s")
    with pytest.raises(ValueError):
        metrics.result_line(True, 3, 0, values, metrics.END_TO_END)
