"""The metrics a run prints are exactly the ones BENCHMARK.json declares,
with the declared units."""

from __future__ import annotations

import json
import os

from perfbench.run import end_to_end, layer_metrics, per_layer, unit

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _pass(traced: bool, tmp_path) -> dict:
    res = {"traced": traced, "pass_s": 1.0, "samples": [("q", 0.5), ("r", 0.5)],
           "cpu_s": 2.0, "python_cpu_s": 0.0, "rss_mb": 100.0}
    if traced:
        res["layers"] = layer_metrics([], res, str(tmp_path))
    return res


def test_end_to_end_metrics_match_declaration(tmp_path):
    metrics, _ = end_to_end(1.0, [_pass(False, tmp_path)] * 3)
    assert {k: unit(k) for k in metrics} == _declared("end_to_end")


def test_per_layer_metrics_match_declaration(tmp_path):
    setup = {"session.start_s": 1.0, "catalog.load_s": 1.0, "catalog.cached_mb": 0.0}
    passes = [_pass(False, tmp_path), _pass(True, tmp_path)] * 2
    metrics, _ = per_layer(setup, passes)
    assert {k: unit(k) for k in metrics} == _declared("per_layer")
