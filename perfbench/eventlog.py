"""Stdlib parser for Spark's uncompressed JSON event log.

Turns the log into one record per job (group, call site, description,
streaming batch id, SQL plan, submit/complete times, stages, tasks,
executor run time, shuffle, spill, input and output bytes) so the
benchmark can total the work of each layer.
"""

from __future__ import annotations

import json
import os

_COUNTERS = (
    "tasks", "stages", "run_ms", "shuffle_read", "shuffle_write", "spill",
    "input_bytes", "input_records", "output_bytes",
)


def _event_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for dirpath, _, names in os.walk(path):
        out += [os.path.join(dirpath, n) for n in names if n.startswith(("events_", "local-", "app-"))
                and not n.endswith(".crc")]
    return sorted(out)


def parse(path: str) -> list[dict]:
    """Jobs of the event log(s) under ``path``, in submission order."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_seen: set[tuple[int, int]] = set()
    plans: dict[str, str] = {}
    for p in _event_files(path):
        with open(p) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind.endswith("SQLExecutionStart"):
                    plans[str(e["executionId"])] = e.get("physicalPlanDescription", "")
                elif kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    job = {
                        "id": e["Job ID"],
                        "group": props.get("spark.jobGroup.id"),
                        "callsite": props.get("callSite.short") or "",
                        "description": props.get("spark.job.description") or "",
                        "batch": props.get("streaming.sql.batchId"),
                        "execution": props.get("spark.sql.execution.id"),
                        "submit_ms": e.get("Submission Time"),
                        "end_ms": None,
                        **{c: 0 for c in _COUNTERS},
                    }
                    jobs[job["id"]] = job
                    for sid in e.get("Stage IDs", ()):
                        stage_job.setdefault(sid, job["id"])
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end_ms"] = e.get("Completion Time")
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(e["Stage ID"]))
                    if job is None:
                        continue
                    key = (e["Stage ID"], e.get("Stage Attempt ID", 0))
                    if key not in stage_seen:
                        stage_seen.add(key)
                        job["stages"] += 1
                    m = e.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    im = m.get("Input Metrics") or {}
                    om = m.get("Output Metrics") or {}
                    job["tasks"] += 1
                    job["run_ms"] += m.get("Executor Run Time", 0)
                    job["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    job["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    job["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    job["input_bytes"] += im.get("Bytes Read", 0)
                    job["input_records"] += im.get("Records Read", 0)
                    job["output_bytes"] += om.get("Bytes Written", 0)
    for job in jobs.values():
        job["plan"] = plans.get(job["execution"] or "", "")
    return [jobs[k] for k in sorted(jobs)]


def totals(jobs: list[dict]) -> dict:
    """Summed counters of ``jobs`` plus their count and summed job wall."""
    out = {c: sum(j[c] for j in jobs) for c in _COUNTERS}
    out["jobs"] = len(jobs)
    out["wall_ms"] = sum(
        j["end_ms"] - j["submit_ms"] for j in jobs if j["end_ms"] is not None and j["submit_ms"] is not None
    )
    return out


def by_group(jobs: list[dict], prefix: str) -> list[dict]:
    return [j for j in jobs if (j["group"] or "").startswith(prefix)]
