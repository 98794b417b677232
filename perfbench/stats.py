"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

#: A reported percentile needs at least this many samples above it.
MIN_BEYOND = 10


def min_samples(p: float) -> int:
    """Smallest sample count for which percentile ``p`` (0 < p < 1) has
    at least MIN_BEYOND samples beyond it."""
    if not 0 < p < 1:
        raise ValueError(f"percentile must lie in (0, 1), got {p}")
    return math.ceil(round(MIN_BEYOND / (1 - p), 9))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile ``p`` of ``values``.  Raises ValueError
    when fewer than ``min_samples(p)`` values are given, so a tail figure
    is never read from too few samples.  The median (p = 0.5) is exempt:
    it is reported from any non-empty sample."""
    if not values:
        raise ValueError("no samples")
    if p != 0.5 and len(values) < min_samples(p):
        raise ValueError(
            f"p{round(p * 100)} needs {min_samples(p)} samples, got {len(values)}"
        )
    if p == 0.5:
        return float(statistics.median(values))
    ordered = sorted(values)
    rank = math.ceil(p * len(ordered))
    return float(ordered[max(rank, 1) - 1])


def median(values: list[float]) -> float:
    return percentile(values, 0.5)
