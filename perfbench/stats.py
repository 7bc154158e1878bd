"""Order statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

# Percentiles a timing may be reported at, lowest first.
LADDER = (50.0, 90.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default ``linear`` method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, ladder: tuple[float, ...] = LADDER) -> float | None:
    """The highest ladder percentile with at least ``MIN_BEYOND`` of ``n``
    samples beyond it, or None when even the median lacks that support."""
    best = None
    for pct in ladder:
        if n * (100.0 - pct) / 100.0 >= MIN_BEYOND - 1e-9:  # float slack
            best = pct
    return best


def summarize(values: list[float]) -> dict:
    """Median, p90 and the supported tail percentile of one sample."""
    tail = tail_percentile(len(values))
    return {
        "n": len(values),
        "p50": percentile(values, 50.0),
        "p90": percentile(values, 90.0),
        "tail_pct": tail,
        "tail": percentile(values, tail) if tail is not None else None,
        "mean": statistics.fmean(values),
    }
