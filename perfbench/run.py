"""Benchmark launcher: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 4 --trace 0

Run from the repository root. Workloads (sizes in ``config.json``):

- ``etl_batch``: a seeded JSONL corpus through ``read_movies_jsonl`` ->
  ``run_pipeline`` -> ``write_kv(FileKVClient)``, repeated closed-loop;
- ``etl_incremental``: a prior state built with ``run_incremental_merge``,
  then micro-batches of 10 files merged and republished to the KV sink;
- ``analytics_suite``: a frozen list of registry entries over the tables
  in ``data/``, each run to the ``noop`` sink, in a seed-permuted order.

The launcher generates the inputs (cached per seed under
``.perfbench_work/`` in the checkout), starts the workload in a child
process with the launch environment set (``SPARK_GRAFT_CPUS`` = the core
count, Spark's local and temp dirs inside the checkout, the repository on
``PYTHONPATH`` so executor-side Python can import the engine), samples the
summed RSS of the worker's process session (worker, Spark JVM, Python
workers) from ``/proc``, and prints a detail line and then
the result line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``. With ``--trace 1`` the launcher makes an untraced run
and then a traced one (Spark's event log on, spans and job groups) of the
same seed, and the metrics are the per-layer metrics (0 for a layer the
workload does not reach) of the traced run; ``trace.overhead_s`` is its
median job time minus the untraced run's.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import statistics
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

#: worker processes still running this long after launch are killed and the
#: run is reported as failed (no result)
DEADLINE_S = 150
WORKLOADS = ("etl_batch", "etl_incremental", "analytics_suite")
#: what one operation is called, for workloads whose operation is not the job
OP_NAMES = {"etl_batch": None, "etl_incremental": "batch", "analytics_suite": "query"}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def session_pids(sid: int) -> list[int]:
    """Processes of session ``sid``: the worker, its Spark JVM and the
    JVM's Python workers (the worker is started as a session leader)."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(name))
    return out


def _rss_bytes(pids: list[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler(threading.Thread):
    """Peak summed RSS of a session's processes, sampled every ``period`` s."""

    def __init__(self, sid: int, period: float = 0.1):
        super().__init__(daemon=True)
        self.sid, self.period = sid, period
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, _rss_bytes(session_pids(self.sid)))
            self._stop_evt.wait(self.period)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def stop_session(sid: int, timeout_s: float = 20.0) -> None:
    """Kill whatever is left of session ``sid`` and wait until it is gone."""
    deadline = time.time() + timeout_s
    while (pids := session_pids(sid)) and time.time() < deadline:
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def _env(work: str, traced: bool) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    submit = [
        "--driver-java-options", f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if traced:
        log = os.path.join(work, "eventlog")
        os.makedirs(log, exist_ok=True)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{log}",
                   "--conf", "spark.eventLog.compress=false"]
    env.update({
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
    })
    return env


def run_child(args, work: str, inputs_path: str, seconds: float, traced: bool,
              deadline: float) -> tuple[dict | None, int]:
    """One worker process, killed at ``deadline`` (epoch s); returns (its
    result or None, peak RSS bytes)."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(seconds), "--trace", str(int(traced)),
           "--work", work, "--inputs", inputs_path, "--out", out, "--t0", repr(time.time())]
    with open(os.path.join(work, "worker.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=_env(work, traced), stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            proc.wait(timeout=max(0.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            sampler.stop()
            stop_session(proc.pid)
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "worker.log"), errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        return None, sampler.peak
    with open(out) as f:
        return json.load(f), sampler.peak


def calibrate() -> float:
    """Seconds for a fixed single-thread stdlib workload. The host's speed
    drifts between runs; this figure in the detail line lets a reader tell
    a slow machine from a slow engine. It is not part of any metric."""
    t = time.perf_counter()
    h = hashlib.sha256()
    block = bytes(range(256)) * 4096
    for i in range(64):
        h.update(block + i.to_bytes(4, "little"))
    sum(i * i for i in range(1_000_000))
    return time.perf_counter() - t


def _inputs(args, cfg: dict, cache: str) -> dict:
    if args.workload == "analytics_suite":
        return {}
    return gen.ensure_corpus(cache, args.workload, args.seed, cfg[args.workload]["knobs"])


def _is_correct(res: dict) -> bool:
    c = res["checks"]
    wrong = c.get("wrong_keys", c.get("wrong_entries"))
    return res["failed"] == 0 and not any(wrong) and c["planted_fault_caught"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    if not os.path.isdir(os.path.join(ROOT, "movie_data_transformer_spark")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "config.json")) as f:
        cfg = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    base = os.path.join(ROOT, ".perfbench_work")
    inputs = _inputs(args, cfg, os.path.join(base, "inputs"))
    inputs_path = os.path.join(base, f"inputs-{args.workload}.json")
    with open(inputs_path, "w") as f:
        json.dump(inputs, f)

    load_before = os.getloadavg()[0]
    calib_s = calibrate()
    work = os.path.join(base, "run")
    res, peak = run_child(args, work, inputs_path, args.seconds, False, deadline)
    runs = [res]
    if args.trace and res is not None and res["jobs"]:
        plain_job_s = statistics.median(res["jobs"])
        res, peak = run_child(args, work, inputs_path, args.seconds, True, deadline)
        runs.append(res)
    load_after = os.getloadavg()[0]
    if res is None or not res["jobs"]:
        return 1

    job_s = statistics.median(res["jobs"])
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    # unbounded end-to-end figures, named as in the README
    more = {
        "failed_frac": (failed / max(1, attempted), "ratio"),
        "peak_rss_mb": (peak / 2**20, "MB"),
    }
    if "ratings" in inputs:
        more["ratings_per_s"] = (inputs["ratings"] / job_s, "ratings/s")
    if OP_NAMES[args.workload]:
        op = OP_NAMES[args.workload]
        more[f"{op}_p50_s"] = (stats.p50_by_position(res["ops"]), "s")
        more[f"{op}_tail_s"] = (res["tail"]["value"], "s")
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores(), "loadavg_1m": {"before": load_before, "after": load_after},
        "calib_s": calib_s,
        "input": inputs, "warm_s": res["warm"], "jobs_s": res["jobs"], "op_tail": res["tail"],
        "checks": res["checks"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in more.items()},
    }
    if args.trace:
        layers = {**res["layers"], "trace.overhead_s": job_s - plain_job_s}
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in bench["per_layer"]}
        detail["unlisted_layers"] = sorted(set(layers) - set(metrics))
    else:
        values = {
            "setup_s": res["setup_s"],
            "job_s": job_s,
            "op_p50_s": stats.p50_by_position(res["ops"]),
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    print(json.dumps(detail))
    print(json.dumps({
        "correct": all(_is_correct(r) for r in runs),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
