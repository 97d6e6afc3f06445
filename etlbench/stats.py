"""Summary statistics with the benchmark's reporting rules."""

from __future__ import annotations

import math
import statistics

# a percentile is reported only when at least this many samples lie beyond it
MIN_TAIL_SAMPLES = 10


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def percentile(xs: list[float], p: float) -> float | None:
    """The ``p``-th percentile (nearest rank), or None when fewer than
    ``MIN_TAIL_SAMPLES`` samples lie strictly beyond its rank."""
    if not 0 < p < 100:
        raise ValueError(f"percentile must be in (0, 100), got {p}")
    n = len(xs)
    rank = math.ceil(p / 100 * n)  # 1-based rank of the reported sample
    if n - rank < MIN_TAIL_SAMPLES:
        return None
    return sorted(xs)[rank - 1]


def describe(name: str, xs: list[float], unit: str = "s") -> str:
    """One report line: median and p90 (when reportable) with the sample count."""
    if not xs:
        return f"{name}: no samples"
    p90 = percentile(xs, 90)
    tail = f" p90={p90:.4f}{unit}" if p90 is not None else " p90=n/a(<10 beyond)"
    return f"{name}: n={len(xs)} p50={median(xs):.4f}{unit}{tail}"


def quartile_spread(xs: list[float]) -> float:
    """(Q3 - Q1) / median, the run-to-run spread the benchmark is held to."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)
