"""Order statistics used by the benchmark's reports."""

from __future__ import annotations

import math

#: A tail percentile needs at least this many samples above it.
TAIL_MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100) of a non-empty list."""
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[min(rank, len(xs)) - 1]


def tail(values: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ``TAIL_MIN_BEYOND``
    samples beyond it, as ``(percentile, value)``; None when the sample
    supports no percentile at or above the median."""
    n = len(values)
    if n <= TAIL_MIN_BEYOND:
        return None
    p = math.floor(100.0 * (n - TAIL_MIN_BEYOND) / n)
    while p > 0 and sum(1 for v in values if v > percentile(values, p)) < TAIL_MIN_BEYOND:
        p -= 1
    if p < 50:
        return None
    return p, percentile(values, p)

