"""Sample summaries for timings.

A timing is reported as its median plus the highest percentile that has
at least ``MIN_TAIL`` samples beyond it, together with the sample count.
"""

from __future__ import annotations

import statistics

MIN_TAIL = 10
# candidate tail percentiles, highest first
TAIL_PERCENTILES = (99, 95, 90, 75)


def tail_percentile(n: int, min_tail: int = MIN_TAIL) -> int | None:
    """Highest percentile in ``TAIL_PERCENTILES`` with at least
    ``min_tail`` of ``n`` samples beyond it, or None when even the 75th
    has too few (then only the median is reported)."""
    for p in TAIL_PERCENTILES:
        if n * (100 - p) / 100 >= min_tail:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Linearly interpolated percentile (numpy's default)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(values: list[float]) -> dict:
    """``{"n", "p50"}`` plus ``"p<k>"`` for the tail percentile the
    sample count supports."""
    if not values:
        raise ValueError("summary of no samples")
    out = {"n": len(values), "p50": statistics.median(values)}
    p = tail_percentile(len(values))
    if p is not None:
        out[f"p{p}"] = percentile(values, p)
    return out


def describe(values: list[float]) -> str:
    """``n=<count>`` plus the supported tail percentile, for reports."""
    s = summarize(values)
    return ", ".join(f"{k}={v:.4g}" if k != "n" else f"n={v}" for k, v in s.items() if k != "p50")
