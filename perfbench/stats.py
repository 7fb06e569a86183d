"""Timing summaries: the median and the tail percentile rule.

The tail of ``n`` samples is the highest whole percentile that still has
at least ``TAIL_BEYOND`` samples above it. The percentile and ``n`` are
always reported with the value, because the rule ties one to the other:
20 samples give p50, 40 give p75, 100 give p90.
"""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10


def tail_percentile(n: int) -> int:
    """Highest whole percentile ``p`` leaving >= TAIL_BEYOND of ``n``
    samples strictly beyond rank ceil(p/100 * n); 0 when n is too small
    for any."""
    if n <= TAIL_BEYOND:
        return 0
    p = (100 * (n - TAIL_BEYOND)) // n
    while p > 0 and n - math.ceil(p * n / 100) < TAIL_BEYOND:
        p -= 1
    return p


def percentile(values: list[float], p: int) -> float:
    """Nearest-rank percentile (p=0 gives the minimum)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p * len(xs) / 100))
    return xs[rank - 1]


def summarize(values: list[float]) -> dict:
    """Median, tail value, tail percentile and sample count."""
    if not values:
        raise ValueError("no samples to summarize")
    p = tail_percentile(len(values))
    return {
        "p50": statistics.median(values),
        "tail": percentile(values, p) if p >= 50 else max(values),
        "tail_pct": p if p >= 50 else 100,
        "n": len(values),
    }
