"""Summary statistics for timings."""

from __future__ import annotations

import math
import statistics

# Candidate tail percentiles, highest first.
_TAILS = (99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(n: int) -> float | None:
    """The highest of p99/p95/p90/p75/p50 with at least ten of ``n``
    samples beyond it, or None when even the median has fewer."""
    for p in _TAILS:
        if n * (100.0 - p) / 100.0 >= 10.0:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``%
    of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def typical_pass_s(passes: list[list[float | None]]) -> float:
    """The time of a typical pass: the sum over operations of each
    one's median latency across ``passes`` (one latency list per pass,
    operations in the same order).  A slow stretch of the host that hits
    one operation in one pass does not move it.  Latencies of operations
    that failed are None and left out."""
    total = 0.0
    for latencies in zip(*passes):
        ok = [x for x in latencies if x is not None]
        if ok:
            total += statistics.median(ok)
    return total
