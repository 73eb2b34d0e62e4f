"""BENCHMARK.json must list exactly the metrics run.py reports, and only
workloads run.py knows.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import run
from workloads import WORKLOADS

SPEC = os.path.join(run.ROOT, "BENCHMARK.json")


def _spec() -> dict:
    with open(SPEC, encoding="utf-8") as fh:
        return json.load(fh)


def test_end_to_end_metrics_match_the_timed_run():
    spec = {m["name"]: (m["unit"], m["better"]) for m in _spec()["end_to_end"]}
    assert spec == run.END_TO_END


def test_per_layer_metrics_match_the_traced_run():
    spec = {m["name"]: (m["unit"], m["better"]) for m in _spec()["per_layer"]}
    assert spec == run.per_layer_metrics()
    assert len(spec) <= 128


def test_workloads_and_command():
    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert spec["command"][:2] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
