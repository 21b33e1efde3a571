"""Summary statistics for benchmark samples.

The percentile rule: a percentile is reported only when at least ten
samples lie beyond it, so a tail figure is never read off one or two
outliers.  ``tail_percentile`` gives the highest of the usual reporting
percentiles the sample supports.
"""

from __future__ import annotations

import math
import statistics
from typing import Optional, Sequence

MIN_BEYOND = 10
REPORTED_PERCENTILES = (50, 90, 95, 99, 99.9)


def _rank(n: int, pct: float) -> int:
    """1-based nearest rank of the ``pct``-th percentile of ``n``
    samples (rounded first so 99.9% of 10,000 is rank 9,990)."""
    return max(1, math.ceil(round(pct * n / 100.0, 9)))


def samples_beyond(n: int, pct: float) -> int:
    """How many of ``n`` ranked samples lie strictly above the
    ``pct``-th percentile (nearest-rank definition)."""
    if n <= 0:
        return 0
    return n - _rank(n, pct)


def percentile(values: Sequence[float], pct: float) -> Optional[float]:
    """Nearest-rank percentile, or None when fewer than ``MIN_BEYOND``
    samples lie beyond it."""
    n = len(values)
    if samples_beyond(n, pct) < MIN_BEYOND:
        return None
    ranked = sorted(values)
    return ranked[_rank(n, pct) - 1]


def tail_percentile(values: Sequence[float]) -> Optional[tuple]:
    """``(pct, value)`` for the highest reporting percentile with at
    least ``MIN_BEYOND`` samples beyond it, or None."""
    best = None
    for pct in REPORTED_PERCENTILES:
        v = percentile(values, pct)
        if v is not None:
            best = (pct, v)
    return best


def median(values: Sequence[float]) -> Optional[float]:
    return statistics.median(values) if values else None


def summary(values: Sequence[float]) -> dict:
    """Median, p90 (when the rule allows it), the highest supported
    tail percentile, and the sample count."""
    out = {"n": len(values), "p50": median(values), "p90": percentile(values, 90)}
    tail = tail_percentile(values)
    if tail is not None:
        out["tail_pct"], out["tail"] = tail
    return out
