"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_pct(n: int, beyond: int = 10) -> int:
    """Highest whole percentile that leaves at least ``beyond`` samples
    above it, floored at the median: with fewer than ``2 * beyond``
    samples no percentile above the median has that support, so the
    tail reported is the median itself."""
    if n <= 0:
        raise ValueError("tail of no samples")
    pct = (100 * (n - beyond)) // n
    # nearest rank of pct must leave `beyond` samples strictly above it
    while pct > 50 and n - math.ceil(pct * n / 100) < beyond:
        pct -= 1
    return max(50, pct)


def summarize(values: list[float]) -> dict:
    """Median, tail percentile and sample count of one timing."""
    pct = tail_pct(len(values))
    return {
        "p50": statistics.median(values),
        "tail": percentile(values, pct),
        "tail_pct": pct,
        "n": len(values),
    }
