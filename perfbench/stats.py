"""Order statistics the benchmark reports, and its failure accounting."""

from __future__ import annotations

import math

#: percentiles a tail may be reported at, highest last
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    # the tolerance keeps float error from pushing p * n / 100 past an integer
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the smallest value with at least ``p`` % of
    the samples at or below it)."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(p, len(values)) - 1]


def tail(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile of ``TAIL_LADDER`` that has at least
    ``MIN_BEYOND`` samples ranked above its nearest rank, as
    ``(p, value)``; None when even the median has fewer beyond it."""
    best = None
    n = len(values)
    for p in TAIL_LADDER:
        if n and n - _rank(p, n) >= MIN_BEYOND:
            best = (p, percentile(values, p))
    return best


class FailureCount:
    """Ops attempted and failed. An op fails when it raises or when its
    result disagrees with the oracle; either way the run goes on."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(why)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
