"""BENCHMARK.json names exactly the workloads and metrics the harness
prints, with the same units."""

from __future__ import annotations

import json
import os

from conftest import ROOT

import harness
from workloads import WORKLOADS


def test_benchmark_json_matches_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} \
        == harness.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} \
        == harness.PER_LAYER
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
