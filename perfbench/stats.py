"""Order statistics used by every workload.

Tails follow one rule: report the highest percentile that still has at
least ``TAIL_BEYOND`` samples beyond it. Each workload fixes its nominal
sample count, so the percentile is a property of the workload, not of
how fast a given run happened to be (a faster program must not be
charged a higher percentile).
"""

from __future__ import annotations

import math

TAIL_BEYOND = 10
# Below this count the rule would put the "tail" under the median, so
# the tail falls back to the maximum.
_MIN_TAIL_SAMPLES = 2 * TAIL_BEYOND


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least ``TAIL_BEYOND`` of ``n``
    samples strictly above it; ``None`` when ``n`` is too small for a
    tail above the median."""
    if n < _MIN_TAIL_SAMPLES:
        return None
    # samples beyond p = n * (100 - p) / 100 >= TAIL_BEYOND
    return int(math.floor(100.0 - 100.0 * TAIL_BEYOND / n + 1e-9))


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def tail(values: list[float], nominal_n: int) -> tuple[float, str]:
    """Tail latency at the workload's fixed percentile, with its label."""
    p = tail_percentile(nominal_n)
    if p is None:
        return max(values), "max"
    return percentile(values, p), f"p{p}"
