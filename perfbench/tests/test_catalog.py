"""BENCHMARK.json names exactly the metrics the runner prints, with the
same units, and stays inside the benchmark contract's limits."""

from __future__ import annotations

import json
import os
import re

from perfbench import harness, run

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def load() -> dict:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_matches_runner():
    b = load()
    assert {m["name"]: (m["unit"], m["better"], m["bound"])
            for m in b["end_to_end"]} == run.E2E
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_per_layer_matches_runner():
    b = load()
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == \
        run.per_layer_names()


def test_workloads_match_runner():
    b = load()
    assert {w["name"] for w in b["workloads"]} == set(run.workloads())
    assert set(run.PRIMARY) == set(run.workloads())


def test_contract_limits():
    b = load()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert 1 <= b["run_seconds"] <= 60
    assert 2 <= len(b["workloads"]) <= 8
    assert 1 <= len(b["end_to_end"]) <= 16
    assert 1 <= len(b["per_layer"]) <= 128
    names = [w["name"] for w in b["workloads"]] + \
        [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and UNIT.match(m["unit"])
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
