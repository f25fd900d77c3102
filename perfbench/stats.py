"""Percentiles by the nearest-rank rule, and the tail-percentile rule: report
the highest percentile that still has at least ten samples beyond it."""

from __future__ import annotations

import math

LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest rank: the smallest sample with at least p% of samples at or
    below it."""
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def beyond(n: int, p: float) -> int:
    """Samples strictly after the nearest-rank p-th percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n: int) -> float | None:
    """Highest percentile on LADDER with at least MIN_BEYOND samples beyond
    it, or None when even the median has fewer."""
    ok = [p for p in LADDER if beyond(n, p) >= MIN_BEYOND]
    return ok[-1] if ok else None


def median(values: list[float]) -> float:
    return percentile(values, 50.0)
