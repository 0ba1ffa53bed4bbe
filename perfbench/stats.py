"""The tail-percentile rule used by every workload's report."""

from __future__ import annotations

import math

TAIL_BEYOND = 10  # a tail percentile must have at least this many samples above it
MIN_TAIL_PCT = 90  # a lower percentile is too close to the median to call a tail


def tail_percentile(values: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least TAIL_BEYOND samples
    beyond it, as ``(percentile, value)`` by the nearest-rank rule
    (value = the ceil(p/100 * n)-th smallest sample). ``None`` when that
    percentile is below MIN_TAIL_PCT, i.e. with fewer than 100 samples."""
    n = len(values)
    pct = math.floor(100 * (n - TAIL_BEYOND) / n) if n else 0
    if pct < MIN_TAIL_PCT:
        return None
    rank = math.ceil(pct * n / 100)
    return pct, sorted(values)[rank - 1]
