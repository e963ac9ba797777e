"""Summary statistics shared by the workloads and the report."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``pct``
    percent of the samples at or below it."""
    if not values:
        return 0.0
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail(values: list[float], beyond: int = 10) -> tuple[int, float, int]:
    """The tail latency as ``(percentile, value, n)``: the highest whole
    percentile, at or above the median, that leaves at least ``beyond``
    samples above its nearest rank. Below ``2 * beyond + 1`` samples no
    such percentile exists and the median is reported, so a short run
    never passes off its maximum as a tail."""
    n = len(values)
    pct = math.floor(100 * (n - beyond) / n) if n else 0
    while pct > 50 and n - math.ceil(pct / 100.0 * n) < beyond:
        pct -= 1
    if pct <= 50:
        return 50, median(values), n
    return pct, percentile(values, pct), n


def quartile_spread(values: list[float]) -> float:
    """Inter-quartile range as a share of the median (Python's default
    ``statistics.quantiles`` method), the run-to-run spread measure."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf
