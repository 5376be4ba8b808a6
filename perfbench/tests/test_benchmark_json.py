"""BENCHMARK.json, workloads.json and the code that prints the metrics
must name the same workloads and metrics."""

import json
import os

import layers
import run

BENCH = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")
META = os.path.join(os.path.dirname(__file__), "..", "workloads.json")


def load(path):
    with open(path) as f:
        return json.load(f)


def test_metric_lists_match_what_the_run_prints():
    b = load(BENCH)
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == layers.PER_LAYER
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_workloads_are_documented_and_runnable():
    from workloads import WORKLOADS

    b, meta = load(BENCH), load(META)["workloads"]
    assert {w["name"] for w in b["workloads"]} == set(meta) == set(WORKLOADS)
    for name, cls in WORKLOADS.items():
        assert cls(None, 0).inputs() == {
            k: v for k, v in meta[name]["input"].items() if k != "feed"}


def test_layer_map_names_known_metrics():
    meta = load(META)
    for row in meta["per_layer_to_end_to_end"]:
        assert set(row["per_layer"]) <= set(layers.PER_LAYER)
        assert set(row["moves"]) <= set(run.END_TO_END)
        assert set(row["on"]) <= set(meta["workloads"])
