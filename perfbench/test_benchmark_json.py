"""BENCHMARK.json names exactly the metrics and workloads the benchmark
reports."""

from __future__ import annotations

import json
import os

from perfbench import layers, run, workloads

SPEC = os.path.join(os.path.dirname(os.path.dirname(__file__)), "BENCHMARK.json")


def test_benchmark_json_matches_the_benchmark():
    with open(SPEC) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == [
        (n, layers.unit_of(n)) for n in layers.PER_LAYER
    ]
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
