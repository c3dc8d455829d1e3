"""Summary statistics used by every workload."""

from __future__ import annotations

import math
import statistics

#: a percentile is reported only when at least this many samples lie
#: beyond it (so p99 needs 1,000 samples and p50 needs 20).
MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """Nearest-rank ``q``-th percentile (0 < q <= 100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[k - 1]


def median_percentile(groups, q: float) -> float:
    """Median over ``groups`` of each group's nearest-rank ``q``-th
    percentile. One slow group moves it by at most one rank, where it
    would set a pooled tail percentile on its own."""
    return statistics.median(percentile(g, q) for g in groups)


def supports(n: int, q: float) -> bool:
    """True when ``n`` samples leave at least MIN_BEYOND beyond the q-th
    percentile."""
    return n * (1.0 - q / 100.0) >= MIN_BEYOND - 1e-9


def highest_supported(n: int, candidates=(99.9, 99.0, 95.0, 90.0, 50.0)):
    """The highest of ``candidates`` that ``n`` samples support, or None."""
    return next((q for q in candidates if supports(n, q)), None)
