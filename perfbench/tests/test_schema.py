"""BENCHMARK.json and the metric tables the runner prints agree."""

import json
import re
from pathlib import Path

import layers

BENCH = Path(__file__).resolve().parents[2] / "BENCHMARK.json"
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def load():
    return json.loads(BENCH.read_text())


def test_top_level_keys():
    spec = load()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert spec["paths"] == ["perfbench"]
    assert 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8


def test_metric_names_match_runner():
    spec = load()
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    per = {m["name"]: m for m in spec["per_layer"]}
    assert {k: m["unit"] for k, m in e2e.items()} == layers.END_TO_END
    assert {k: m["unit"] for k, m in per.items()} == layers.PER_LAYER
    assert e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    for m in e2e.values():
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in per.values():
        assert set(m) == {"name", "unit", "better"}


def test_names_and_units_are_well_formed():
    spec = load()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"])
               for m in spec["end_to_end"] + spec["per_layer"])
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"]
               for w in spec["workloads"])


def test_workloads_match_runner():
    import run

    assert [w["name"] for w in load()["workloads"]] == list(run.workloads())
