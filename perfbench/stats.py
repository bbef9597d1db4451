"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math

#: Percentiles considered for the tail, highest first.
TAIL_LADDER = (99, 95, 90, 80, 75, 70, 60, 50)
#: Samples that must lie beyond a reported percentile.
MIN_BEYOND = 10


def gmean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (the "inclusive" method)."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(values, q: float) -> int:
    """How many samples lie strictly above the ``q``-th percentile."""
    cut = percentile(values, q)
    return sum(1 for v in values if v > cut)


def tail(values) -> tuple[float, float, int]:
    """(percentile, value, sample count) for the highest percentile of
    ``TAIL_LADDER`` with at least ``MIN_BEYOND`` samples above it; the
    maximum (percentile 100) when no rung qualifies."""
    values = list(values)
    for q in TAIL_LADDER:
        if len(values) * (100 - q) / 100.0 >= MIN_BEYOND and beyond(values, q) >= MIN_BEYOND:
            return float(q), percentile(values, q), len(values)
    return 100.0, max(values), len(values)
