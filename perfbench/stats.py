"""Summary statistics for the benchmark's samples."""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10  # samples that must lie above the reported tail percentile


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> int | None:
    """The highest whole percentile p with at least ``beyond`` of ``n``
    samples above it (n * (1 - p/100) >= beyond), or None when n is too
    small for any percentile to leave that many samples beyond it."""
    if n <= beyond:
        return None
    return math.floor(100 * (n - beyond) / n)


def rank(p: float | None, n: int) -> int:
    """1-based rank, in ascending order, of the nearest-rank ``p``-th
    percentile of ``n`` samples; the maximum when ``p`` is None."""
    return n if p is None else max(1, math.ceil(p / 100 * n))


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(xs)
    if not xs:
        raise ValueError("percentile of no samples")
    return float(xs[rank(p, len(xs)) - 1])


def tail(xs, beyond: int = TAIL_BEYOND) -> tuple[float, int | None, int]:
    """(value, percentile, n): the ``tail_percentile`` of the samples, or
    their maximum (percentile None) when there are too few."""
    xs = list(xs)
    p = tail_percentile(len(xs), beyond)
    if p is None:
        return (max(xs) if xs else 0.0), None, len(xs)
    return percentile(xs, p), p, len(xs)
