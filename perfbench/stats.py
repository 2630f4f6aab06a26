"""Latency percentiles and per-layer roll-ups.

A failed op counts as infinitely slow: it misses every latency
percentile, so failures push percentiles up instead of vanishing from
the sample.
"""

from __future__ import annotations

import math
import statistics

INF = float("inf")
# Reported in place of a percentile that lands on a failed op (JSON has
# no infinity).
FAILED_MS = 1e9
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def rank(n: int, p: float) -> int:
    """Nearest-rank index (0-based) of percentile ``p`` among ``n``."""
    # rounded first so that 99.9% of 10000 is 9990, not 9990.000000000002
    return max(0, math.ceil(round(p / 100.0 * n, 9)) - 1)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile; ``nan`` for an empty sample."""
    if not values:
        return math.nan
    v = sorted(values)
    return v[rank(len(v), p)]


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank position of ``p``."""
    return n - 1 - rank(n, p) if n else 0


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """Highest percentile of :data:`LADDER` with at least ``min_beyond``
    samples beyond it, or ``None`` when even the median has fewer."""
    best = None
    for p in LADDER:
        if beyond(n, p) >= min_beyond:
            best = p
    return best


def reported(ms: float) -> float:
    return FAILED_MS if ms == INF else ms


def latency_block(values: list[float]) -> dict:
    """p50 / p90 of ``values`` plus the sample facts printed beside them."""
    n = len(values)
    return {
        "n": n,
        "p50": reported(percentile(values, 50.0)) if n else math.nan,
        "p90": reported(percentile(values, 90.0)) if n else math.nan,
        "beyond_p90": beyond(n, 90.0),
        "tail": tail_percentile(n),
    }


def median_or_zero(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0
