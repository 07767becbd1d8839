"""Per-layer numbers of a traced run, one function per workload.

Times come from spans and prefix runs the benchmark makes around its own
calls; job, stage, task, executor-time, shuffle and spill totals come from
Spark's event log (``eventlog.py``), attributed by the job group the
benchmark set, or, inside ``run_incremental_merge``, by the streaming
batch id and SQL plan Spark recorded for each job (``_split_batches``). Everything here runs after the timed
loop, so it never adds to the measured job times; event-log totals are
read after the session stops, when the log is complete.
"""

from __future__ import annotations

import functools
import os
import statistics
import time

import eventlog
import reference


def _events(run) -> list[dict]:
    return eventlog.parse(run.path("eventlog"))


def _timed(run, name: str, fn, reps: int = 3) -> float:
    """Median wall of ``reps`` calls of ``fn``, each in job group ``name.i``."""
    times = []
    for i in range(reps):
        run.group(f"{name}.{i}")
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _kv_files(kv_dir: str) -> list[str]:
    return [os.path.join(kv_dir, n) for n in sorted(os.listdir(kv_dir)) if n.endswith(".kv")]


def _kv_written(kv_dir: str) -> tuple[int, int]:
    keys = size = 0
    for p in _kv_files(kv_dir):
        size += os.path.getsize(p)
        with open(p) as f:
            keys += sum(1 for _ in f)
    return keys, size


def etl_batch(run, last_out: str) -> None:
    from movie_data_transformer_spark.operators import movie_pipeline as mp
    from movie_data_transformer_spark.sources import jsonl

    movies_dir = run.inputs["movies"]

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    read = functools.partial(jsonl.read_movies_jsonl, run.spark, movies_dir)
    steps = [
        ("decode", lambda: read()),
        ("explode", lambda: mp.explode_watched(read())),
        ("dedup", lambda: mp.dedup_latest(mp.explode_watched(read()))),
        ("group", lambda: mp.group_watched(mp.dedup_latest(mp.explode_watched(read())))),
        ("serialize", lambda: mp.run_pipeline(read())),
    ]
    prefix = [_timed(run, f"etl.prefix.{name}", lambda b=build: noop(b())) for name, build in steps]
    job = statistics.median(run.jobs)
    run.group("etl.counts")
    decoded = read().count()
    exploded = mp.explode_watched(read()).count()
    deduped = mp.dedup_latest(mp.explode_watched(read())).count()
    lines = 0
    for p in reference.json_files(movies_dir):
        with open(p) as f:
            lines += sum(1 for line in f if line.strip())
    keys, size = _kv_written(last_out)
    run.layers.update({
        "sources.jsonl.self_s": prefix[0],
        "sources.jsonl.records_dropped": lines - decoded,
        "movie_pipeline.explode.self_s": prefix[1] - prefix[0],
        "movie_pipeline.dedup.self_s": prefix[2] - prefix[1],
        "movie_pipeline.group.self_s": prefix[3] - prefix[2],
        "movie_pipeline.serialize.self_s": prefix[4] - prefix[3],
        "movie_pipeline.dedup.rows_in": exploded,
        "movie_pipeline.dedup.rows_out": deduped,
        "sinks.kv.self_s": job - prefix[4],
        "sinks.kv.keys_written": keys,
        "sinks.kv.bytes_written": size,
        "sinks.kv.unchanged_ratio": 0.0,
    })

    def finish():
        jobs = _events(run)
        decode = eventlog.totals(eventlog.by_group(jobs, "etl.prefix.decode.0"))
        timed = eventlog.totals(eventlog.by_group(jobs, "etl.job"))
        n_jobs = max(1, len(run.jobs))
        run.layers.update({
            "sources.jsonl.bytes_in": decode["input_bytes"],
            "sources.jsonl.records_in": decode["input_records"],
            "sources.jsonl.tasks": decode["tasks"],
            "movie_pipeline.shuffle_bytes": timed["shuffle_write"] / n_jobs,
            "movie_pipeline.spill_bytes": timed["spill"] / n_jobs,
        })

    run.after_stop.append(finish)


def _unchanged_ratio(kv_dir: str, prior_view: dict) -> float:
    """Share of written keys whose value equals the key's previous value
    (its last published value, else its value in the prior state)."""
    last = dict(prior_view)
    written = unchanged = 0
    for p in _kv_files(kv_dir):
        with open(p) as f:
            for line in f:
                k, _, v = line.rstrip("\n").partition("\t")
                written += 1
                unchanged += last.get(k) == v
                last[k] = v
    return unchanged / written if written else 0.0


def _split_batches(jobs: list[dict]) -> tuple[list, list, list]:
    """Split each micro-batch's jobs by what ``run_incremental_merge`` does
    in order: read the batch, merge and write the state (the jobs whose SQL
    plan inserts into files), then publish to the KV sink (the rest,
    ending in ``foreachPartition``)."""
    src, merge, kv = [], [], []
    by_batch: dict[tuple, list[dict]] = {}
    for j in jobs:
        if j["batch"] is not None:
            by_batch.setdefault((j["group"], j["batch"]), []).append(j)
    for batch in by_batch.values():
        writes = [i for i, j in enumerate(batch) if "InsertIntoHadoopFsRelationCommand" in j["plan"]]
        if not writes:
            continue
        src += batch[: writes[0]]
        merge += batch[writes[0]: writes[-1] + 1]
        kv += batch[writes[-1] + 1:]
    return src, merge, kv


def etl_incremental(run, prior: dict, per_batch: list[dict], last_phase) -> None:
    run.after_stop.append(lambda: _incremental(run, prior, per_batch, last_phase))


def _incremental(run, prior: dict, per_batch: list[dict], last_phase) -> None:
    events, kv_dir = last_phase
    runs = {ev["run"] for ev in events}
    jobs = [j for j in _events(run) if j["group"] in runs]
    src_jobs, merge_jobs, kv_jobs = _split_batches(jobs)
    merge, kv, src = (eventlog.totals(x) for x in (merge_jobs, kv_jobs, src_jobs))
    counts = {k: sum(b[k] for b in per_batch)
              for k in ("inserted", "updated", "kept", "state_rows_in", "batch_rows_in")}
    in_bytes = sum(os.path.getsize(p) for p in reference.json_files(run.inputs["incr"]))
    keys, size = _kv_written(kv_dir)
    n = max(1, len(events))
    run.layers.update({
        # the batch decode is fused into the state write; what runs before it
        # is the file source's own listing and planning
        "sources.jsonl.self_s": src["wall_ms"] / 1000,
        "sources.jsonl.bytes_in": in_bytes,
        "sources.jsonl.records_in": sum(ev["rows"] for ev in events),
        "sources.jsonl.tasks": src["tasks"],
        "merge.self_s": merge["wall_ms"] / 1000,
        "merge.state_rows_in": counts["state_rows_in"],
        "merge.batch_rows_in": counts["batch_rows_in"],
        "merge.inserted": counts["inserted"],
        "merge.updated": counts["updated"],
        "merge.kept": counts["kept"],
        "merge.shuffle_bytes": merge["shuffle_write"],
        "merge.useful_ratio": (counts["inserted"] + counts["updated"]) / max(1, counts["state_rows_in"]),
        "merge_stream.commit_s": sum(ev["ms"].get("walCommit", 0) + ev["ms"].get("commitOffsets", 0)
                                     for ev in events) / 1000,
        "merge_stream.trigger_overhead_s": sum(ev["ms"]["triggerExecution"] - ev["ms"].get("addBatch", 0)
                                               for ev in events) / 1000,
        "merge_stream.jobs_per_batch": len(jobs) / n,
        "merge_stream.state_bytes_written": merge["output_bytes"],
        "merge_stream.write_amp": merge["output_bytes"] / in_bytes if in_bytes else 0.0,
        "sinks.kv.self_s": kv["wall_ms"] / 1000,
        "sinks.kv.keys_written": keys,
        "sinks.kv.bytes_written": size,
        "sinks.kv.unchanged_ratio": _unchanged_ratio(kv_dir, reference.kv_values(prior)),
    })


def analytics_suite(run, per_entry: dict[str, float]) -> None:
    run.after_stop.append(lambda: _analytics(run, per_entry))


def _analytics(run, per_entry: dict[str, float]) -> None:
    passes = max(1, len(run.jobs))
    reg = eventlog.totals(eventlog.by_group(_events(run), "registry."))
    task_s = reg["run_ms"] / 1000 / passes
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
    run.layers.update({f"registry.{n}.wall_s": t for n, t in per_entry.items()})
    run.layers.update({
        "registry.jobs": reg["jobs"] / passes,
        "registry.stages": reg["stages"] / passes,
        "registry.tasks": reg["tasks"] / passes,
        "registry.task_time_s": task_s,
        "registry.sched_gap_s": statistics.median(run.jobs) - task_s / cores,
        "registry.shuffle_bytes": reg["shuffle_write"] / passes,
        "registry.spill_bytes": reg["spill"] / passes,
    })
