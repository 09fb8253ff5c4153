"""BENCHMARK.json names exactly what the runs print, and the compare
rule classifies clear cases as documented."""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import compare, layers, run  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_names_the_printed_metrics():
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == \
        run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.UNITS
    assert [w["name"] for w in bench["workloads"]] == ["export", "keyed_sync"]
    assert max(m["bound"] for m in bench["end_to_end"]) == next(
        m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s")


def test_compare_rule():
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]
    faster = [p * 0.8 for p in parent]
    slower = [p * 1.3 for p in parent]
    noisy = [5.0, 15.0, 8.0, 12.0, 6.0, 14.0, 9.0, 11.0, 7.0, 13.0]
    assert compare.verdict(parent, faster, "lower", 0.1)["verdict"] == \
        "improved"
    assert compare.verdict(parent, slower, "lower", 0.1)["verdict"] == \
        "regressed"
    assert compare.verdict(parent, parent, "lower", 0.1)["verdict"] == \
        "within bound"
    assert compare.verdict(noisy, noisy[::-1], "lower", 0.1)["verdict"] == \
        "unresolved"
