"""Percentile helpers for the benchmark's timing samples."""

from __future__ import annotations

import math

#: Fixed percentiles, highest first; a percentile is reported only when at
#: least ten samples lie beyond it.
PERCENTILES = (99.9, 99, 90, 50)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the smallest value with at least ``p``%
    of the samples at or below it)."""
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(values: list[float]) -> tuple[float | None, float | None]:
    """(p, value) of the highest of :data:`PERCENTILES` with at least ten
    samples above it, or (None, None) when no percentile qualifies."""
    n = len(values)
    for p in PERCENTILES:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= 10:
            return p, percentile(values, p)
    return None, None
