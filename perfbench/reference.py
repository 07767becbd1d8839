"""Plain-Python reference of the movie ETL semantics, used to check the
engine's KV output independently of Spark.

Within one batch (``dedup``): per (customer, movie) the latest parseable
date wins, then the higher rating, then the larger raw date string;
unparseable dates lose to any parseable one. Across batches (``merge``): a
new row replaces the existing one only if both dates parse and the new date
is strictly later; ties and unparseable dates keep the existing row.
Movies with an empty ``watchedBy`` contribute nothing, a missing rating
reads as 0, ``watchedMovies`` is sorted by movieId, and values are rendered
as Spark's ``to_json`` renders them.

``flip_ties=True`` plants a fault (ties go the other way in both rules) so
the checks can prove they catch a wrong answer.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re

_DATE = re.compile(r"\d{4}-\d{2}-\d{2}")


def parse_date(s: str | None) -> dt.date | None:
    if s is None or not _DATE.fullmatch(s):
        return None
    try:
        return dt.date.fromisoformat(s)
    except ValueError:
        return None


def read_rows(paths: list[str]) -> list[tuple]:
    """Flat rows (movieId, title, year, customerId, rating, date) of the
    given JSONL files, skipping lines that do not decode."""
    rows = []
    for p in paths:
        with open(p) as f:
            for line in f:
                try:
                    doc = json.loads(line)
                except ValueError:
                    continue
                for w in doc.get("watchedBy") or ():
                    rows.append((
                        doc["movieId"], doc.get("title"), doc.get("yearOfRelease"),
                        w["customer-id"], w.get("rating") or 0, w.get("date"),
                    ))
    return rows


def json_files(directory: str) -> list[str]:
    """``*.json`` files of ``directory`` in mtime order (the stream order)."""
    names = [n for n in os.listdir(directory) if n.endswith(".json")]
    paths = [os.path.join(directory, n) for n in names]
    return sorted(paths, key=lambda p: (os.stat(p).st_mtime, p))


def dedup(rows: list[tuple], flip_ties: bool = False) -> dict[tuple, tuple]:
    """Within-batch last-write-wins per (customerId, movieId)."""
    sign = -1 if flip_ties else 1

    def rank(r):
        d = parse_date(r[5])
        return (d is not None, d or dt.date.min, sign * r[4], r[5] or "")

    out: dict[tuple, tuple] = {}
    for r in rows:
        key = (r[3], r[0])
        cur = out.get(key)
        if cur is None or rank(r) > rank(cur):
            out[key] = r
    return out


def merge(state: dict, batch: dict, flip_ties: bool = False) -> dict[str, int]:
    """Merge a deduped batch into ``state`` in place; returns the counts."""
    counts = {"inserted": 0, "updated": 0, "kept": 0}
    for key, new in batch.items():
        old = state.get(key)
        if old is None:
            state[key] = new
            counts["inserted"] += 1
            continue
        nd, od = parse_date(new[5]), parse_date(old[5])
        wins = nd is not None and od is not None and (nd >= od if flip_ties else nd > od)
        if wins:
            state[key] = new
            counts["updated"] += 1
        else:
            counts["kept"] += 1
    return counts


def kv_values(state: dict, customers=None) -> dict[str, str]:
    """``customer:<id>`` -> to_json blob, for ``customers`` (default all)."""
    per: dict[str, list] = {}
    for (c, _), r in state.items():
        if customers is None or c in customers:
            per.setdefault(c, []).append(r)
    out = {}
    for c, rs in per.items():
        movies = [
            {"movieId": m, "title": t, "yearOfRelease": y, "rating": rt, "date": d}
            for m, t, y, _, rt, d in sorted(rs)
        ]
        out[f"customer:{c}"] = json.dumps(
            {"customerId": c, "watchedMovies": movies}, separators=(",", ":")
        )
    return out


def batch_view(movies_dir: str, flip_ties: bool = False) -> dict[str, str]:
    """Expected KV contents of the batch job over ``movies_dir``."""
    return kv_values(dedup(read_rows(json_files(movies_dir)), flip_ties))


def incremental_view(
    prior_dir: str, incr_dir: str, files_per_batch: int, flip_ties: bool = False
) -> tuple[dict, dict[str, str], list[dict]]:
    """Replay the incremental job: the prior corpus as one batch, then the
    incremental files in micro-batches of ``files_per_batch``. Returns the
    prior state, the KV view the published batches leave behind (each
    batch republishes every customer it touched), and per-batch counts."""
    state = dedup(read_rows(json_files(prior_dir)), flip_ties)
    prior = dict(state)
    view: dict[str, str] = {}
    per_batch = []
    files = json_files(incr_dir)
    for i in range(0, len(files), files_per_batch):
        rows = read_rows(files[i:i + files_per_batch])
        counts = merge(state, dedup(rows, flip_ties), flip_ties)
        counts.update(state_rows_in=len(state) - counts["inserted"], batch_rows_in=len(rows))
        per_batch.append(counts)
        view.update(kv_values(state, {r[3] for r in rows}))
    return prior, view, per_batch


def diff(expected: dict[str, str], got: dict[str, str]) -> int:
    """Number of keys whose value differs, is missing or is unexpected."""
    return sum(1 for k in expected.keys() | got.keys() if expected.get(k) != got.get(k))
