"""BENCHMARK.json names exactly the metrics and workloads the runner prints."""

from __future__ import annotations

import json
import os

from perfbench import runner
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_manifest_matches_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        manifest = json.load(f)
    assert [w["name"] for w in manifest["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in manifest["end_to_end"]} == runner.END_TO_END
    assert {m["name"]: m["unit"] for m in manifest["per_layer"]} == runner.PER_LAYER
    assert max(m["bound"] for m in manifest["end_to_end"]) == next(
        m["bound"] for m in manifest["end_to_end"] if m["name"] == "setup_s"
    )
