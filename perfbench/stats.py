"""Summaries of timing samples.

A timing is reported as its median plus the highest percentile that
still has at least ``MIN_BEYOND`` samples beyond it, with the sample
count stated: with n samples, percentile q qualifies when
n · (1 − q) ≥ MIN_BEYOND, so p90 needs 100 samples and the median 20.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10
_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """Highest of p99.9/p99/p95/p90/p75/p50 with ≥ min_beyond samples
    strictly above it, or None when even the median has fewer."""
    for q in _CANDIDATES:
        if round(n * (100.0 - q) / 100.0, 6) >= min_beyond:
            return q
    return None


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (the smallest sample with at least q% of
    the samples at or below it)."""
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def summarize(values: list[float]) -> dict:
    """{n, median, tail_q, tail} for a list of samples."""
    out: dict = {"n": len(values)}
    if not values:
        return out
    out["median"] = statistics.median(values)
    q = tail_percentile(len(values))
    out["tail_q"] = q
    out["tail"] = percentile(values, q) if q is not None else None
    return out
