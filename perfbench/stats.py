"""Summary statistics for timings."""

from __future__ import annotations

import math
import statistics

#: candidate tail percentiles, highest first
_TAILS = (99.9, 99, 95, 90, 80, 75, 50)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty list."""
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(xs)))
    return xs[rank - 1]


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it.

    Returns ``{"p": percentile, "value": ..., "n": sample count}``; with too
    few samples for any candidate, ``p`` and ``value`` are None.
    """
    n = len(values)
    for p in _TAILS:
        if n - math.ceil(p / 100 * n) >= 10:
            return {"p": p, "value": percentile(values, p), "n": n}
    return {"p": None, "value": None, "n": n}


def p50_by_position(jobs: list[list[float]]) -> float:
    """Median operation time of jobs that repeat the same operations.

    Takes, for each position (the i-th operation of every job: the same
    registry entry or micro-batch), its median across jobs, then the median
    of those. The plain median of all operations would sit on the boundary
    between two positions whose times differ, where it swings with the
    fastest or slowest sample of one of them.
    """
    return statistics.median(statistics.median(col) for col in zip(*jobs))
