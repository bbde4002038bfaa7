"""Summary statistics with the benchmark's reporting rule: a percentile
is reported only when at least ten samples lie beyond it."""

from __future__ import annotations

import math
import statistics

PERCENTILES = (99.0, 95.0, 90.0)
MIN_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(n: int) -> float | None:
    """The highest of ``PERCENTILES`` with at least ``MIN_BEYOND`` of
    ``n`` samples above it, or None when the sample is too small."""
    for p in PERCENTILES:
        if n - math.ceil(n * p / 100.0) >= MIN_BEYOND:
            return p
    return None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return float(s[max(0, math.ceil(len(s) * p / 100.0) - 1)])
