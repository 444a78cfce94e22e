"""Metric math shared by the benchmark and its steadiness mode.

Pure Python, no Spark: the tests in ``test_stats.py`` pin it down.
"""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    vals = [float(v) for v in values]
    if not vals:
        raise ValueError("median of no samples")
    return statistics.median(vals)


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) with the same estimator the acceptance check uses,
    ``statistics.quantiles(values, n=4)`` (exclusive method). A single
    sample is its own quartiles."""
    vals = [float(v) for v in values]
    if not vals:
        raise ValueError("quartiles of no samples")
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def iqr_share(values) -> float:
    """Distance between the first and third quartile as a share of the
    median (0.0 for a zero median: nothing to scale by)."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / abs(med) if med else 0.0


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """Highest percentile p (in whole percent, 50..99) that still has at
    least ``min_beyond`` of ``n`` samples strictly beyond it, or None when
    even the median has fewer than that. The samples beyond percentile p
    number ``n - ceil(n * p / 100)``."""
    best = None
    for p in range(50, 100):
        if n - math.ceil(n * p / 100) >= min_beyond:
            best = p
    return best


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    vals = sorted(float(v) for v in values)
    if not vals:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(len(vals) * p / 100))
    return vals[k - 1]


def error_rate(attempted: int, failed: int) -> float:
    """Failed or wrong operations over attempted ones; an operation that
    raised and one whose output failed its check both count as failed."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def summarize(values) -> dict:
    """Median, quartiles, min/max, sample count, the highest percentile
    with at least ten samples beyond it (None below 20 samples), and the
    quartile spread as a share of the median."""
    vals = [float(v) for v in values]
    q1, med, q3 = quartiles(vals)
    p = tail_percentile(len(vals))
    return {
        "n": len(vals),
        "median": med,
        "q1": q1,
        "q3": q3,
        "min": min(vals),
        "max": max(vals),
        "iqr_share": iqr_share(vals),
        "tail_p": p,
        "tail_value": percentile(vals, p) if p is not None else None,
    }


class OpCounter:
    """Counts attempted and failed operations of one measured loop."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, ok: bool, reason: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append(reason)

    @property
    def rate(self) -> float:
        return error_rate(self.attempted, self.failed)
