"""Spans record name, start, end, parent and run id."""

import json
import time

from spans import Tracer


def test_nested_spans_and_dump(tmp_path):
    t = Tracer("r", True)
    with t.span("outer"):
        with t.span("inner"):
            time.sleep(0.01)
    outer = next(s for s in t.spans if s["name"] == "outer")
    inner = next(s for s in t.spans if s["name"] == "inner")
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["run"] == outer["run"] == "r"
    assert outer["start"] <= inner["start"] < inner["end"] <= outer["end"]
    t.dump(str(tmp_path / "s.jsonl"))
    names = [json.loads(line)["name"] for line in open(tmp_path / "s.jsonl")]
    assert names == ["outer", "inner"]


def test_disabled_tracer_records_nothing():
    t = Tracer("r", False)
    with t.span("x"):
        pass
    assert t.spans == []
