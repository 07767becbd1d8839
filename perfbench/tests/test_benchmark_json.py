"""BENCHMARK.json matches the contract and the frozen config."""

import json
import os
import re

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _load(name):
    with open(name) as f:
        return json.load(f)


BENCH = _load(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
CFG = _load(os.path.join(HERE, "config.json"))


def test_metric_names_and_units():
    metrics = BENCH["end_to_end"] + BENCH["per_layer"]
    names = [m["name"] for m in metrics] + [w["name"] for w in BENCH["workloads"]]
    assert len(names) == len(set(names))
    for m in metrics:
        assert NAME.fullmatch(m["name"]), m["name"]
        assert UNIT.fullmatch(m["unit"]), m["unit"]
        assert m["better"] in ("lower", "higher")
    assert 1 <= len(BENCH["end_to_end"]) <= 16 and 1 <= len(BENCH["per_layer"]) <= 128


def test_bounds_and_setup_metric():
    for m in BENCH["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = [m for m in BENCH["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


def test_workloads_match_the_launcher():
    import run

    assert tuple(w["name"] for w in BENCH["workloads"]) == run.WORKLOADS


def test_frozen_entry_list():
    assert len(CFG["headline"]) == 52 == len(set(CFG["headline"]))
    entries = CFG["analytics_suite"]["entries"]
    assert set(entries) <= set(CFG["headline"])
    layer_names = {m["name"] for m in BENCH["per_layer"]}
    assert {f"registry.{e}.wall_s" for e in entries} <= layer_names
