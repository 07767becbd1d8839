"""The input generator is deterministic per seed."""

import os

import gen
import reference

BATCH = {"movies": 50, "customers": 200, "skew": 1.1, "ratings": 2000, "files": 4,
         "rerate_share": 0.05, "tie_share": 0.02, "bad_date_share": 0.02, "missing_rating_share": 0.01,
         "empty_movies": 3}
INCR = dict(BATCH, prior_ratings=1500, prior_files=2, batches=3, files_per_batch=10,
            batch_ratings=300, update_share=0.4)


def test_same_seed_same_bytes(tmp_path):
    a = gen.generate_batch(str(tmp_path / "a"), 5, BATCH)
    b = gen.generate_batch(str(tmp_path / "b"), 5, BATCH)
    assert a["ratings"] == b["ratings"] == BATCH["ratings"]
    assert gen.tree_digest(str(tmp_path / "a")) == gen.tree_digest(str(tmp_path / "b"))
    gen.generate_batch(str(tmp_path / "c"), 6, BATCH)
    assert gen.tree_digest(str(tmp_path / "a")) != gen.tree_digest(str(tmp_path / "c"))


def test_incremental_same_seed_same_bytes_and_ordered_mtimes(tmp_path):
    gen.generate_incremental(str(tmp_path / "a"), 9, INCR)
    info = gen.generate_incremental(str(tmp_path / "b"), 9, INCR)
    assert gen.tree_digest(str(tmp_path / "a")) == gen.tree_digest(str(tmp_path / "b"))
    files = reference.json_files(info["incr"])
    assert len(files) == INCR["batches"] * INCR["files_per_batch"]
    mtimes = [os.stat(p).st_mtime for p in files]
    assert mtimes == sorted(set(mtimes))  # strictly increasing, batch order = name order
    assert files == sorted(files)
    prior_last = max(os.stat(p).st_mtime for p in reference.json_files(info["prior"]))
    assert prior_last < mtimes[0]


def test_corpus_is_cached_per_seed(tmp_path):
    first = gen.ensure_corpus(str(tmp_path), "etl_batch", 1, BATCH)
    digest = gen.tree_digest(first["movies"])
    assert gen.ensure_corpus(str(tmp_path), "etl_batch", 1, BATCH) == first
    gen.ensure_corpus(str(tmp_path), "etl_batch", 2, BATCH)
    assert not os.path.exists(first["movies"])  # one corpus per workload
    again = gen.ensure_corpus(str(tmp_path), "etl_batch", 1, BATCH)
    assert gen.tree_digest(again["movies"]) == digest


def test_planted_inputs_present(tmp_path):
    info = gen.generate_batch(str(tmp_path), 3, BATCH)
    names = os.listdir(info["movies"])
    assert any(not n.endswith(".json") for n in names)  # decoy
    rows = reference.read_rows(reference.json_files(info["movies"]))
    assert len(rows) == BATCH["ratings"]  # the corrupt line adds no row
    assert all(r[3] != gen.DECOY_CUSTOMER for r in rows)
    assert any(reference.parse_date(r[5]) is None for r in rows)
