"""Order statistics used by the report."""

from __future__ import annotations

import math


def nearest_rank(samples: list[float], p: float) -> float:
    """The p-th percentile by the nearest-rank rule: the smallest sample with
    at least p % of the samples at or below it."""
    if not samples:
        raise ValueError("no samples")
    ordered = sorted(samples)
    i = max(math.ceil(p / 100.0 * len(ordered)) - 1, 0)
    return ordered[i]


def tail_percentile(samples: list[float], min_beyond: int = 10) -> tuple[int, float] | None:
    """The highest whole percentile that has at least ``min_beyond`` samples
    strictly beyond its nearest rank, with its value; None when there are too
    few samples. 100 samples give p90, 200 give p95."""
    n = len(samples)
    if n <= min_beyond:
        return None
    p = math.floor(100 * (n - min_beyond) / n)
    while p > 0 and n - math.ceil(p / 100.0 * n) < min_beyond:
        p -= 1  # guards the float rounding of 100 * (n - m) / n
    if p <= 0:
        return None
    return p, nearest_rank(samples, p)
