"""The tail rule: highest percentile with at least ten samples beyond it."""

import stats


def test_tail_picks_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 41)]
    t = stats.tail(xs)
    assert t == {"p": 75, "value": 30.0, "n": 40}
    assert stats.tail(list(range(100)))["p"] == 90
    assert stats.tail(list(range(1000)))["p"] == 99
    assert stats.tail(list(range(20)))["p"] == 50


def test_tail_too_few_samples():
    assert stats.tail([1.0] * 10) == {"p": None, "value": None, "n": 10}


def test_percentile_nearest_rank():
    assert stats.percentile([3, 1, 2], 50) == 2
    assert stats.percentile([5], 99) == 5



def test_p50_by_position_ignores_one_slow_sample():
    # a cheap and a dear operation per job; one slow sample of the cheap one
    # moves the plain median of all six (to 2.2) but not the per-position one
    jobs = [[1.0, 3.0], [1.0, 3.0], [1.4, 3.0]]
    assert stats.p50_by_position(jobs) == 2.0
    assert stats.p50_by_position([[2.0], [1.0], [4.0]]) == 2.0
