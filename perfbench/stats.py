"""Summary statistics the benchmark reports.

A timing is reported as its median, plus its p90 when at least
``MIN_BEYOND`` samples lie above it, so a tail figure is never an
extrapolation from one or two slow samples.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def samples_beyond(n: int, p: float) -> int:
    """Samples ranked above the ``p``-th percentile of ``n`` samples."""
    return n - math.ceil(p / 100.0 * n)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return float(ordered[rank - 1])


def supported_percentile(values: list[float], p: float) -> float | None:
    """The ``p``-th percentile, or None when fewer than ``MIN_BEYOND``
    samples lie beyond it."""
    if samples_beyond(len(values), p) < MIN_BEYOND:
        return None
    return percentile(values, p)


def summary(values: list[float]) -> dict:
    """Median, supported p90 and sample count of one timing."""
    out: dict = {"n": len(values), "p50": median(values) if values else None}
    p90 = supported_percentile(values, 90)
    if p90 is not None:
        out["p90"] = p90
    return out

