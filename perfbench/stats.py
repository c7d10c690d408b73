"""Order statistics for the end-to-end report."""

from __future__ import annotations

import math

# A tail percentile is reported only with this many samples beyond it.
TAIL_BEYOND = 10


def nearest_rank(sorted_values: list[float], pct: float) -> float:
    """Nearest-rank percentile of an ascending list: the smallest value
    with at least ``pct`` percent of the samples at or below it."""
    if not sorted_values:
        raise ValueError("percentile of an empty sample")
    rank = max(1, math.ceil(pct / 100.0 * len(sorted_values)))
    return sorted_values[rank - 1]


def tail(values: list[float]) -> tuple[int, float, int]:
    """``(pct, value, beyond)``: the highest whole percentile that still
    has at least ``TAIL_BEYOND`` samples above its nearest-rank position,
    its value, and how many samples lie beyond it. Never below the
    median: with fewer than ``2 * TAIL_BEYOND`` samples the tail is the
    median and ``beyond`` says how thin it is."""
    xs = sorted(values)
    n = len(xs)
    pct = max(50, min(99, math.floor(100 * (1 - TAIL_BEYOND / n))))
    # floor() can land on a rank that leaves TAIL_BEYOND - 1 beyond it
    while pct > 50 and n - math.ceil(pct / 100.0 * n) < TAIL_BEYOND:
        pct -= 1
    beyond = n - max(1, math.ceil(pct / 100.0 * n))
    return pct, nearest_rank(xs, pct), beyond
