"""The printed metric names and units match BENCHMARK.json."""

import json
import os

import pytest

import metrics
from workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_names_and_units(spec):
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END


def test_per_layer_names_and_units(spec):
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER


def test_declared_workloads_exist(spec):
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_layer_groups_cover_every_per_layer_metric():
    groups = metrics.EXTRACTION_LAYERS + metrics.DEDUP_LAYERS + metrics.TRACE_OVERHEAD
    assert sorted(groups) == sorted(metrics.PER_LAYER)


@pytest.mark.parametrize("trace", [False, True])
def test_result_line_prints_every_metric_with_its_unit(trace):
    spec = metrics.PER_LAYER if trace else metrics.END_TO_END
    out = json.loads(metrics.result_line(dict.fromkeys(spec, 1.5), trace, 10, 0))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True
    assert {n: m["unit"] for n, m in out["metrics"].items()} == spec


def test_result_line_refuses_a_missing_metric():
    values = dict.fromkeys(metrics.END_TO_END, 1.0)
    values.pop("setup_s")
    with pytest.raises(ValueError):
        metrics.result_line(values, False, 1, 0)
