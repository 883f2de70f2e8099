"""Summary statistics for one run's operation latencies."""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def tail(samples: list[float]) -> tuple[float, float]:
    """``(value, percentile)`` of the highest percentile that leaves at
    least ``TAIL_BEYOND`` samples above it (nearest rank).

    Below ``2 * TAIL_BEYOND`` samples no percentile at or above the
    median leaves that many beyond it, so the median is reported and
    the percentile says so (50)."""
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    pct = max(50.0, 100.0 * (n - TAIL_BEYOND) / n)
    if pct == 50.0:
        return median(samples), 50.0
    rank = math.ceil(pct / 100.0 * n)  # 1-based nearest rank
    return sorted(samples)[rank - 1], pct
