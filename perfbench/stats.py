"""Tail-latency statistics for the harness."""

from __future__ import annotations

import math

# samples that must lie beyond the reported tail percentile
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(n: int) -> float | None:
    """The highest percentile (50.0 to 99.9 in steps of 0.1) that leaves
    at least MIN_BEYOND samples strictly above its nearest-rank
    sample, or None when ``n`` samples cannot support one."""
    for tenth in range(999, 499, -1):
        q = tenth / 10.0
        if n - max(1, math.ceil(q / 100.0 * n)) >= MIN_BEYOND:
            return q
    return None


def tail(values: list[float]) -> dict | None:
    """``{"percentile", "value", "samples", "beyond"}`` for the tail
    percentile of ``values``, or None when there are too few samples."""
    q = tail_percentile(len(values))
    if q is None:
        return None
    rank = max(1, math.ceil(q / 100.0 * len(values)))
    return {"percentile": q, "value": percentile(values, q), "samples": len(values), "beyond": len(values) - rank}
