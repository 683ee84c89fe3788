"""BENCHMARK.json names exactly what the runner prints."""

import json
import os

import run
import workloads as W

SPEC = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


def test_benchmark_json_matches_runner():
    with open(SPEC) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        assert w["why"] == W.WORKLOADS[w["name"]].why
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert spec["paths"] == ["olapbench"]
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    assert next(m for m in spec["end_to_end"] if m["name"] == "setup_s")["bound"] == max(
        m["bound"] for m in spec["end_to_end"]
    )
