"""One workload in one Spark process; started by ``run.py``.

Sets up a session, warms it with jobs that take exactly the timed code
path, runs the workload closed-loop (one client, next job after the
previous one completes) for ``--seconds`` and at least ``MIN_JOBS`` jobs,
checks every output against ``reference.py`` or the DuckDB oracles, and
writes its measurements to ``--out`` as JSON.

With ``--trace 1`` every timed job is traced (spans and job groups; the
launcher turns Spark's event log on) and feeds the per-layer numbers
(``layers.py``).
"""

from __future__ import annotations

import argparse
import functools
import itertools
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import layers  # noqa: E402
import oracle  # noqa: E402
import reference  # noqa: E402
import stats  # noqa: E402
from spans import Tracer  # noqa: E402

#: every run times at least this many warm jobs, whatever the machine's speed
MIN_JOBS = 5


class Run:
    """State shared by the phases of one workload run."""

    def __init__(self, args, cfg: dict, inputs: dict):
        self.args = args
        self.cfg = cfg
        self.inputs = inputs
        self.tracer = Tracer(f"{args.workload}-{args.seed}", False)
        self.spark = None
        self.ready = None  # epoch seconds when set-up and warm-up ended
        self.ops: list[list[float]] = []  # per job, the wall of each operation, seconds
        self.jobs: list[float] = []  # per-job wall, seconds
        self.attempted = 0
        self.failed = 0
        self.checks: dict = {}
        self.layers: dict = {}
        self.after_stop: list = []  # callables run once the session stopped

    def path(self, *parts: str) -> str:
        return os.path.join(self.args.work, *parts)

    def group(self, name: str | None) -> None:
        """Tag the Spark jobs of the next calls with ``name`` (None: no
        group) while tracing."""
        if not self.tracer.enabled:
            return
        if name is None:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.spark.sparkContext.setJobGroup(name, name)


def _engine():
    from movie_data_transformer_spark.operators import movie_pipeline
    from movie_data_transformer_spark.sinks import kv
    from movie_data_transformer_spark.sources import jsonl
    from movie_data_transformer_spark.streaming import merge_stream

    return jsonl, movie_pipeline, kv, merge_stream


class EtlBatch:
    """Operation = one whole batch job; all KV files committed at its end."""

    ops_per_job = 1
    warmups = 3

    def __init__(self, run: Run):
        self.run = run
        self.jsonl, self.pipeline, self.kv, _ = _engine()
        self.outs: list[str] = []

    def _job(self, out: str) -> None:
        run = self.run
        with run.tracer.span("etl_batch.job"):
            run.group("etl.job")
            # the first two calls only plan; all the work runs in write_kv
            with run.tracer.span("sources.jsonl"):
                movies = self.jsonl.read_movies_jsonl(run.spark, run.inputs["movies"])
            with run.tracer.span("operators.movie_pipeline"):
                kv_df = self.pipeline.run_pipeline(movies)
            with run.tracer.span("sinks.kv"):
                self.kv.write_kv(kv_df, functools.partial(self.kv.FileKVClient, out))

    def setup(self) -> None:
        pass

    def warm(self, i: int) -> None:
        self._job(self.run.path(f"kv-warm-{i}"))

    def job(self, i: int) -> list[float]:
        out = self.run.path(f"kv-{i}")
        t = time.perf_counter()
        self._job(out)
        self.outs.append(out)
        return [time.perf_counter() - t]

    def check(self) -> None:
        run = self.run
        expected = reference.batch_view(run.inputs["movies"])
        wrong = [reference.diff(expected, self.kv.FileKVClient.read_all(o)) for o in self.outs]
        run.failed += sum(1 for w in wrong if w)
        flipped = reference.batch_view(run.inputs["movies"], flip_ties=True)
        run.checks = {"keys": len(expected), "wrong_keys": wrong,
                      "planted_fault_caught": reference.diff(expected, flipped) > 0}
        if run.tracer.enabled:
            layers.etl_batch(run, self.outs[-1])


class _Progress:
    """Per-micro-batch progress from a StreamingQueryListener."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                events.append({"run": str(p.runId), "batch": p.batchId,
                               "ms": dict(p.durationMs), "rows": p.numInputRows})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    def wait_for(self, n: int, timeout_s: float = 10.0) -> None:
        t = time.perf_counter() + timeout_s
        while len(self.events) < n and time.perf_counter() < t:
            time.sleep(0.01)


class EtlIncremental:
    """Job = every micro-batch of the incremental corpus merged into a fresh
    copy of the prior state and republished; operation = one micro-batch."""

    warmups = 1

    def __init__(self, run: Run):
        self.run = run
        _, _, self.kv, self.stream = _engine()
        self.k = run.cfg["etl_incremental"]["knobs"]
        self.ops_per_job = self.k["batches"]
        self.progress = None
        self.phases: list[tuple[list[dict], str]] = []

    def _phase(self, name: str) -> tuple[list[dict], str]:
        """All micro-batches over a fresh copy of the prior state; returns
        their progress events and the KV directory they published to."""
        run = self.run
        state = run.path(f"state-{name}")
        shutil.copytree(run.path("state-prior"), state)
        kv_dir = run.path(f"kv-{name}")
        before = len(self.progress.events)
        with run.tracer.span("streaming.merge_stream"):
            run.group("incremental.phase")
            self.stream.run_incremental_merge(
                run.spark, run.inputs["incr"], state, run.path(f"ckpt-{name}"),
                max_files_per_trigger=self.k["files_per_batch"],
                kv_client_factory=functools.partial(self.kv.FileKVClient, kv_dir),
            )
        self.progress.wait_for(before + self.k["batches"])
        return self.progress.events[before:], kv_dir

    def setup(self) -> None:
        run = self.run
        self.progress = _Progress(run.spark)
        self.stream.run_incremental_merge(
            run.spark, run.inputs["prior"], run.path("state-prior"), run.path("ckpt-prior"),
            max_files_per_trigger=self.k["prior_files"],
        )

    def warm(self, i: int) -> None:
        self._phase(f"warm-{i}")

    def job(self, i: int) -> list[float]:
        events, kv_dir = self._phase(str(i))
        self.phases.append((events, kv_dir))
        return [ev["ms"]["triggerExecution"] / 1000 for ev in events]

    def check(self) -> None:
        run = self.run
        args = (run.inputs["prior"], run.inputs["incr"], self.k["files_per_batch"])
        prior, expected, per_batch = reference.incremental_view(*args)
        wrong = []
        for events, kv_dir in self.phases:
            w = reference.diff(expected, self.kv.FileKVClient.read_all(kv_dir))
            wrong.append(w)
            if w or len(events) != self.k["batches"]:
                run.failed += self.k["batches"]
        _, flipped, _ = reference.incremental_view(*args, flip_ties=True)
        run.checks = {"keys": len(expected), "wrong_keys": wrong,
                      "planted_fault_caught": reference.diff(expected, flipped) > 0}
        if run.tracer.enabled:
            layers.etl_incremental(run, prior, per_batch, self.phases[-1])


class AnalyticsSuite:
    """Job = one pass over the entries, the cache cleared before each;
    operation = one entry executed to ``noop``. Each pass takes its own
    seeded permutation of the entries, so a run's medians average over the
    orders instead of depending on one; a pass reports its operation times
    in the frozen entry order."""

    warmups = 1

    def __init__(self, run: Run):
        from movie_data_transformer_spark.registry import spark_queries

        self.run = run
        self.qs = spark_queries()
        self.tables = os.path.join(HERE, run.cfg["analytics_suite"]["tables"])
        self.entries = list(run.cfg["analytics_suite"]["entries"])
        self.rng = random.Random(run.args.seed)
        self.ops_per_job = len(self.entries)
        self.per: dict[str, list[float]] = {n: [] for n in self.entries}
        self.got: dict = {}

    def _pass(self, record: bool) -> list[float]:
        run = self.run
        ops = {}
        for name in self.rng.sample(self.entries, len(self.entries)):
            run.spark.catalog.clearCache()
            t = time.perf_counter()
            try:
                with run.tracer.span(f"registry.{name}"):
                    run.group(f"registry.{name}")
                    self.qs[name](run.spark, self.tables).write.format("noop").mode("overwrite").save()
            except Exception:
                traceback.print_exc()
                run.failed += record
            ops[name] = time.perf_counter() - t
            if record:
                self.per[name].append(ops[name])
        return [ops[n] for n in self.entries]

    def setup(self) -> None:
        """The first (cold) pass collects each entry's result for ``check``:
        ``{name: (columns, rows)}``, None for an error. The warm-up that
        follows takes the timed path."""
        spark = self.run.spark
        for name in self.rng.sample(self.entries, len(self.entries)):
            spark.catalog.clearCache()
            try:
                df = self.qs[name](spark, self.tables)
                self.got[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception:
                traceback.print_exc()
                self.got[name] = None

    def warm(self, i: int) -> None:
        self._pass(record=False)

    def job(self, i: int) -> list[float]:
        return self._pass(record=True)

    def check(self) -> None:
        from movie_data_transformer_spark.registry import oracles

        run = self.run
        sqls = oracles()
        wrong = oracle.wrong_entries(self.tables, self.got, sqls)
        # a wrong result makes every timed execution of that entry a failure
        run.failed += sum(len(self.per[n]) for n in wrong)
        planted = oracle.plant_fault(self.got, sqls)
        caught = planted is not None and oracle.wrong_entries(self.tables, planted[1], sqls) == [planted[0]]
        run.checks = {"entries": len(self.entries), "wrong_entries": wrong,
                      "planted_fault_caught": caught}
        if run.tracer.enabled:
            layers.analytics_suite(run, {n: statistics.median(v) for n, v in self.per.items() if v})


WORKLOADS = {"etl_batch": EtlBatch, "etl_incremental": EtlIncremental,
             "analytics_suite": AnalyticsSuite}


def measure(run: Run, wl, seconds: float, min_jobs: int) -> list[float]:
    """Closed loop: jobs back to back until ``seconds`` have passed and at
    least ``min_jobs`` were attempted (the last job may run past the end).
    Returns the wall seconds of each finished job."""
    jobs: list[float] = []
    t0 = time.perf_counter()
    for k in itertools.count():
        run.attempted += wl.ops_per_job
        t = time.perf_counter()
        try:
            run.ops.append(wl.job(k))
            jobs.append(time.perf_counter() - t)
        except Exception:
            traceback.print_exc()
            run.failed += wl.ops_per_job
        if k + 1 >= min_jobs and time.perf_counter() - t0 >= seconds:
            return jobs


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--t0", type=float, required=True, help="launch time (epoch s)")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(HERE, "config.json")) as f:
        cfg = json.load(f)
    with open(args.inputs) as f:
        inputs = json.load(f)
    run = Run(args, cfg, inputs)

    from movie_data_transformer_spark.session import get_spark

    t = time.perf_counter()
    run.spark = get_spark("perfbench")
    run.spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t
    warm: list[float] = []  # wall of each warm-up job, seconds
    try:
        wl = WORKLOADS[args.workload](run)
        wl.setup()
        for i in range(wl.warmups):
            t = time.perf_counter()
            wl.warm(i)
            warm.append(time.perf_counter() - t)
        run.ready = time.time()
        run.tracer.enabled = bool(args.trace)
        run.jobs = measure(run, wl, args.seconds, MIN_JOBS)
        run.group(None)
        wl.check()
    finally:
        if args.trace:
            run.tracer.dump(run.path("spans.jsonl"))
        run.spark.stop()
    for fn in run.after_stop:
        fn()
    result = {
        "setup_s": run.ready - args.t0,
        "warm": warm,
        "jobs": run.jobs,
        "ops": run.ops,
        "attempted": run.attempted,
        "failed": run.failed,
        "checks": run.checks,
        "layers": {"session.start_s": session_s, **run.layers},
        "tail": stats.tail([t for ops in run.ops for t in ops]) if run.ops else None,
    }
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
