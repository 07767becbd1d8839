"""The event-log parser totals a small recorded Spark log correctly."""

import os

import eventlog

SAMPLE = os.path.join(os.path.dirname(__file__), "data", "eventlog_sample.jsonl")


def test_totals_of_recorded_log():
    jobs = eventlog.parse(SAMPLE)
    assert [j["id"] for j in jobs] == [0, 1, 2]
    t = eventlog.totals(jobs)
    assert t["jobs"] == 3
    assert t["stages"] == 3  # skipped stages ran no task and do not count
    assert t["tasks"] == 6
    assert t["run_ms"] == 11251
    assert t["shuffle_write"] == 1119976
    assert t["shuffle_read"] == 1119976
    assert t["input_bytes"] == 1690764
    assert t["input_records"] == 2000
    assert t["spill"] == 0
    assert t["wall_ms"] == 6113


def test_group_and_call_site_attribution():
    jobs = eventlog.parse(SAMPLE)
    assert len(eventlog.by_group(jobs, "etl_job")) == 3
    assert eventlog.by_group(jobs, "registry.") == []
    kv = [j for j in jobs if "kv.py" in j["callsite"]]
    assert [j["id"] for j in kv] == [2]
    assert eventlog.totals(kv)["run_ms"] == 2021
