"""Seeded JSONL movie corpora for the ETL workloads.

One process, no threads: the same seed and knobs give byte-identical files
with identical modification times. Each line is one MovieInput document
(movieId, title, yearOfRelease, watchedBy[]); a movie may appear in several
files, each time with a different slice of its viewers.

Planted input properties (all sized by the knobs in ``config.json``):

- customer activity follows a Zipf law with exponent ``skew``;
- ``rerate_share`` of the (customer, movie) pairs is rated a second time
  with another date, somewhere in the corpus, and ``tie_share`` a second
  time on the same date with another rating;
- ``bad_date_share`` of the dates is malformed and must never win;
- ``missing_rating_share`` of the elements has no rating (reads as 0);
- ``empty_movies`` documents carry an empty ``watchedBy``;
- one file holds a corrupt (truncated) line, and one decoy file whose name
  does not end in ``.json`` holds a customer that must never appear.

The incremental corpus adds a prior corpus (the state before the timed
phase) and ``batches`` micro-batches of ``files_per_batch`` files each.
``update_share`` of each batch's elements re-rates a prior pair, split
evenly between a strictly later date (wins), an earlier date, the same date
and a malformed date (the last three keep the prior row). File mtimes
increase one second per file, so a file-stream source with
``maxFilesPerTrigger=files_per_batch`` forms the same micro-batches every run.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import shutil

#: mtime of the first generated file; later files are one second apart
BASE_MTIME = 1_600_000_000
_DAY0 = dt.date(2010, 1, 1).toordinal()
_DAYS = (dt.date(2024, 12, 31) - dt.date(2010, 1, 1)).days
_BAD_DATES = ("not-a-date", "2020/05/17", "")
DECOY_CUSTOMER = "c_decoy"
CORRUPT_LINE = '{"movieId": "m_corrupt", "title": "CORRUPT", "watchedBy": [{"customer-id"'


def movie_id(i: int) -> str:
    return f"m{i:05d}"


def movie_meta(i: int) -> tuple[str, str, int]:
    return movie_id(i), f"Movie {i}", 1950 + (i * 37) % 75


class _Draw:
    """Element sampler: (movie index, customer id, rating|None, date)."""

    def __init__(self, rng: random.Random, k: dict):
        self.rng = rng
        self.k = k
        acc, cum = 0.0, []
        for i in range(k["customers"]):
            acc += 1.0 / (i + 1) ** k["skew"]
            cum.append(acc)
        self.cum = cum
        self.customers = [f"c{i:06d}" for i in range(k["customers"])]

    def date(self) -> str:
        if self.rng.random() < self.k["bad_date_share"]:
            return self.rng.choice(_BAD_DATES)
        return dt.date.fromordinal(_DAY0 + self.rng.randrange(_DAYS)).isoformat()

    def rating(self) -> int | None:
        if self.rng.random() < self.k["missing_rating_share"]:
            return None
        return self.rng.randint(1, 5)

    def customer(self) -> str:
        return self.rng.choices(self.customers, cum_weights=self.cum)[0]

    def element(self) -> tuple:
        return (self.rng.randrange(self.k["movies"]), self.customer(), self.rating(), self.date())

    def elements(self, n: int) -> list[tuple]:
        """``n`` elements: ``rerate_share`` of them re-rate a pair with
        another date, ``tie_share`` on the same date with another rating."""
        n_rerate = int(n * self.k["rerate_share"])
        n_tie = int(n * self.k["tie_share"])
        base = [self.element() for _ in range(n - n_rerate - n_tie)]
        for j, i in enumerate(self.rng.sample(range(len(base)), n_rerate + n_tie)):
            m, c, r, d = base[i]
            if j < n_tie:
                base.append((m, c, 1 + (r or 0) % 5, d))
                continue
            new_d = self.date()
            while new_d == d:
                new_d = self.date()
            base.append((m, c, self.rating(), new_d))
        return base


def _shift(date: str, days: int) -> str:
    return (dt.date.fromisoformat(date) + dt.timedelta(days=days)).isoformat()


def _write_files(
    rng: random.Random, d: _Draw, out_dir: str, names: list[str], elements: list[tuple]
) -> None:
    """Scatter elements over files, one line per (file, movie)."""
    per_file: list[dict[int, list]] = [{} for _ in names]
    for m, c, r, date in elements:
        per_file[rng.randrange(len(names))].setdefault(m, []).append((c, r, date))
    for _ in range(d.k["empty_movies"]):
        per_file[rng.randrange(len(names))].setdefault(rng.randrange(d.k["movies"]), [])
    os.makedirs(out_dir, exist_ok=True)
    for name, movies in zip(names, per_file):
        lines = []
        for m in sorted(movies):
            mid, title, year = movie_meta(m)
            watched = []
            for c, r, date in movies[m]:
                w = {"customer-id": c, "movie-id": mid}
                if r is not None:
                    w["rating"] = r
                w["date"] = date
                watched.append(w)
            doc = {"movieId": mid, "title": title, "yearOfRelease": year, "watchedBy": watched}
            lines.append(json.dumps(doc, separators=(",", ":")))
        with open(os.path.join(out_dir, name), "w") as f:
            f.write("\n".join(lines) + "\n")


def _plant_corrupt_and_decoy(out_dir: str, corrupt_file: str) -> None:
    path = os.path.join(out_dir, corrupt_file)
    with open(path) as f:
        lines = f.read().splitlines()
    lines.insert(len(lines) // 2, CORRUPT_LINE)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    decoy = {
        "movieId": movie_id(0),
        "title": "DECOY",
        "yearOfRelease": 2000,
        "watchedBy": [{"customer-id": DECOY_CUSTOMER, "movie-id": movie_id(0), "rating": 5, "date": "2024-12-31"}],
    }
    with open(os.path.join(out_dir, "decoy-0000.json.bak"), "w") as f:
        f.write(json.dumps(decoy, separators=(",", ":")) + "\n")


def _set_mtimes(out_dir: str, start: int) -> int:
    """Give files increasing mtimes in name order; returns the next mtime."""
    t = start
    for name in sorted(os.listdir(out_dir)):
        os.utime(os.path.join(out_dir, name), (t, t))
        t += 1
    return t


def generate_batch(out_dir: str, seed: int, k: dict) -> dict:
    """The ``etl_batch`` corpus: ``k['files']`` files under ``out_dir/movies``."""
    rng = random.Random(f"etl_batch:{seed}")
    d = _Draw(rng, k)
    movies = os.path.join(out_dir, "movies")
    names = [f"part-{i:04d}.json" for i in range(k["files"])]
    elements = d.elements(k["ratings"])
    _write_files(rng, d, movies, names, elements)
    _plant_corrupt_and_decoy(movies, names[len(names) // 2])
    _set_mtimes(movies, BASE_MTIME)
    return {"movies": movies, "ratings": len(elements)}


def generate_incremental(out_dir: str, seed: int, k: dict) -> dict:
    """The ``etl_incremental`` corpus: ``prior`` (state before the timed
    phase) and ``incr`` (``k['batches']`` micro-batches of files)."""
    rng = random.Random(f"etl_incremental:{seed}")
    d = _Draw(rng, k)
    prior = os.path.join(out_dir, "prior")
    incr = os.path.join(out_dir, "incr")
    prior_elements = d.elements(k["prior_ratings"])
    _write_files(rng, d, prior, [f"prior-{i:04d}.json" for i in range(k["prior_files"])], prior_elements)
    good_prior = [e for e in prior_elements if e[3] not in _BAD_DATES]
    fpb = k["files_per_batch"]
    n_batch = 0
    for b in range(k["batches"]):
        n_upd = int(k["batch_ratings"] * k["update_share"])
        batch = d.elements(k["batch_ratings"] - n_upd)
        for j in range(n_upd):
            m, c, _, date = rng.choice(good_prior)
            kind = j % 4  # later (wins), earlier, tie, malformed (keep)
            new_date = (
                _shift(date, rng.randint(1, 400)) if kind == 0
                else _shift(date, -rng.randint(1, 400)) if kind == 1
                else date if kind == 2
                else rng.choice(_BAD_DATES)
            )
            batch.append((m, c, d.rating(), new_date))
        _write_files(rng, d, incr, [f"batch-{b:03d}-{i:02d}.json" for i in range(fpb)], batch)
        n_batch += len(batch)
    _plant_corrupt_and_decoy(prior, f"prior-{k['prior_files'] // 2:04d}.json")
    _plant_corrupt_and_decoy(incr, f"batch-{k['batches'] // 2:03d}-00.json")
    nxt = _set_mtimes(prior, BASE_MTIME)
    _set_mtimes(incr, nxt)
    return {"prior": prior, "incr": incr, "prior_ratings": len(prior_elements), "ratings": n_batch}


GENERATORS = {"etl_batch": generate_batch, "etl_incremental": generate_incremental}


def tree_digest(root: str) -> str:
    """sha256 over every file's relative path, mtime and bytes."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            h.update(str(int(os.stat(p).st_mtime)).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_corpus(cache_root: str, workload: str, seed: int, knobs: dict) -> dict:
    """Generate (or reuse) the corpus for ``workload``/``seed``.

    Kept under ``cache_root``, one corpus per workload: a cached corpus for
    another seed or other knobs is removed first, so the cache stays small.
    """
    key = hashlib.sha256(json.dumps(knobs, sort_keys=True).encode()).hexdigest()[:12]
    target = os.path.join(cache_root, f"{workload}-s{seed}-{key}")
    manifest = os.path.join(target, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return json.load(f)
    os.makedirs(cache_root, exist_ok=True)
    for name in os.listdir(cache_root):
        if name.startswith(f"{workload}-"):
            shutil.rmtree(os.path.join(cache_root, name), ignore_errors=True)
    tmp = target + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    info = GENERATORS[workload](tmp, seed, knobs)
    info = {k: (v.replace(tmp, target) if isinstance(v, str) else v) for k, v in info.items()}
    info["bytes"] = sum(
        os.path.getsize(os.path.join(dp, n)) for dp, _, ns in os.walk(tmp) for n in ns
    )
    os.rename(tmp, target)
    with open(manifest, "w") as f:
        json.dump(info, f)
    return info
