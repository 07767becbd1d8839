"""The plain-Python reference and its planted fault."""

import json

import reference


def row(c, m, rating, date):
    return (m, f"T{m}", 2000, c, rating, date)


def test_within_batch_latest_then_rating_then_raw_date():
    rows = [row("c1", "m1", 5, "2020-01-01"), row("c1", "m1", 1, "2021-01-01"),
            row("c2", "m1", 2, "2020-01-01"), row("c2", "m1", 4, "2020-01-01"),
            row("c3", "m1", 5, "bad"), row("c3", "m1", 1, "2019-01-01")]
    d = reference.dedup(rows)
    assert d[("c1", "m1")][4] == 1  # later date wins over higher rating
    assert d[("c2", "m1")][4] == 4  # same date: higher rating
    assert d[("c3", "m1")][5] == "2019-01-01"  # malformed loses
    assert reference.dedup(rows, flip_ties=True)[("c2", "m1")][4] == 2


def test_across_batches_strictly_later_wins():
    state = reference.dedup([row("c1", "m1", 3, "2020-01-02"), row("c2", "m1", 3, "bad"),
                             row("c3", "m1", 3, "2020-01-02")])
    batch = reference.dedup([row("c1", "m1", 5, "2020-01-02"), row("c2", "m1", 5, "2030-01-01"),
                             row("c3", "m1", 5, "2020-01-03"), row("c4", "m1", 5, "bad")])
    counts = reference.merge(state, batch)
    assert counts == {"inserted": 1, "updated": 1, "kept": 2}
    assert state[("c1", "m1")][4] == 3  # tie keeps existing
    assert state[("c2", "m1")][4] == 3  # unparseable existing keeps
    assert state[("c3", "m1")][4] == 5
    assert state[("c4", "m1")][5] == "bad"


def test_kv_value_is_spark_to_json_form():
    v = reference.kv_values(reference.dedup([row("c1", "m2", 0, "2020-01-01"),
                                             row("c1", "m1", 4, "x")]))
    assert list(v) == ["customer:c1"]
    doc = json.loads(v["customer:c1"])
    assert [m["movieId"] for m in doc["watchedMovies"]] == ["m1", "m2"]
    assert v["customer:c1"].startswith('{"customerId":"c1","watchedMovies":[{"movieId":"m1",')


def test_planted_fault_is_caught(tmp_path):
    import gen
    from test_gen import BATCH, INCR

    info = gen.generate_batch(str(tmp_path / "b"), 4, BATCH)
    good = reference.batch_view(info["movies"])
    assert reference.diff(good, reference.batch_view(info["movies"], flip_ties=True)) > 0
    assert reference.diff(good, dict(good)) == 0
    inc = gen.generate_incremental(str(tmp_path / "i"), 4, INCR)
    args = (inc["prior"], inc["incr"], INCR["files_per_batch"])
    _, view, per_batch = reference.incremental_view(*args)
    _, flipped, _ = reference.incremental_view(*args, flip_ties=True)
    assert reference.diff(view, flipped) > 0
    assert len(per_batch) == INCR["batches"]
    assert sum(b["updated"] for b in per_batch) > 0 and sum(b["kept"] for b in per_batch) > 0
