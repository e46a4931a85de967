"""Summary statistics for timings: the median plus the highest percentile
that still has at least ten samples beyond it."""

from __future__ import annotations

import math
import statistics

#: a tail percentile is reported only when this many samples lie beyond it
MIN_BEYOND = 10
#: candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest percentile p in TAIL_PERCENTILES with at
    least MIN_BEYOND samples above its nearest rank, or None when even the
    median has fewer than MIN_BEYOND samples beyond it."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= MIN_BEYOND:
            return p, percentile(values, p)
    return None


def summarize(values: list[float]) -> dict:
    """Median, sample count and the tail percentile (when one qualifies)."""
    out = {"n": len(values), "p50": statistics.median(values) if values else None}
    tail = tail_percentile(values)
    if tail is not None:
        out["tail_p"], out["tail"] = tail
    return out


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles(n=4)
    gives them — the run-to-run spread the benchmark bounds are set
    against."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
