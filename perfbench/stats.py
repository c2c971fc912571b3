"""Sample statistics and failure accounting for the benchmark."""

from __future__ import annotations

import statistics

# Percentiles a latency may be reported at, lowest first.
PERCENTILES = (50, 75, 80, 90, 95, 99)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (the 'linear' rule of numpy)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, p: float) -> int:
    """How many of n samples lie strictly above the p-th percentile rank."""
    return n - 1 - int((n - 1) * p / 100.0)


def supported_percentile(n: int, min_beyond: int = MIN_BEYOND) -> int | None:
    """The highest of PERCENTILES with at least ``min_beyond`` of the n
    samples beyond it, or None when even the median lacks that support."""
    best = None
    for p in PERCENTILES:
        if samples_beyond(n, p) >= min_beyond:
            best = p
    return best


def median(values: list[float]) -> float:
    return statistics.median(values)


class Ops:
    """Attempted and failed operation counts (batches, lookups, audits)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

    @property
    def correct(self) -> bool:
        return self.attempted > 0 and self.failed == 0
