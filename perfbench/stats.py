"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
from statistics import median


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile with at least ``beyond`` of ``n``
    samples above it, or None when ``n`` cannot support any tail past the
    median (fewer than ``2 * beyond`` samples)."""
    if n < 2 * beyond:
        return None
    return math.floor(100 * (n - beyond) / n)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p`` % of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(math.ceil(p / 100 * len(ordered)), 1)
    return ordered[rank - 1]


def summary(values: list[float]) -> dict:
    """Median plus the tail the sample count supports (see
    :func:`tail_percentile`), with the count."""
    out: dict = {"n": len(values), "p50": median(values) if values else None}
    p = tail_percentile(len(values))
    if p is not None:
        out[f"p{p}"] = percentile(values, p)
    return out


def median_or_zero(values: list[float]) -> float:
    return median(values) if values else 0.0
