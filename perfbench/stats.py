"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

# Percentiles a tail may be reported at, lowest first.
TAIL_LADDER = (50.0, 90.0, 99.0, 99.9, 99.99, 99.999)
MIN_BEYOND = 10


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def tail_percentile(n: int) -> float:
    """The highest ladder percentile with at least ``MIN_BEYOND`` of
    ``n`` samples beyond it; 100 (the maximum) when even the median has
    fewer than that beyond it."""
    best = 100.0
    for p in TAIL_LADDER:
        if n - _rank(n, p) >= MIN_BEYOND:
            best = p
    return best


def percentile(sorted_vals, p: float) -> float:
    """Nearest-rank percentile of an ascending sequence."""
    n = len(sorted_vals)
    if n == 0:
        raise ValueError("no samples")
    return float(sorted_vals[min(_rank(n, p), n) - 1])


def tail(values) -> dict:
    """``{"p": percentile, "value": v, "n": n}`` by the tail rule."""
    vals = sorted(values)
    p = tail_percentile(len(vals))
    return {"p": p, "value": percentile(vals, p), "n": len(vals)}


def median(values) -> float:
    return float(statistics.median(values))
