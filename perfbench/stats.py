"""Order statistics for benchmark samples, each reported with its count."""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

# A percentile is reported only when at least this many samples lie
# beyond it; otherwise the median alone is reported.
MIN_BEYOND = 10
_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (the ``inclusive`` method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def reportable_percentile(n: int) -> float | None:
    """Highest percentile with at least ``MIN_BEYOND`` of ``n`` samples
    beyond it, or None when even the median has fewer."""
    for p in _PERCENTILES:
        if n * (100.0 - p) / 100.0 + 1e-9 >= MIN_BEYOND:  # 100 - 99.9 is inexact
            return p
    return None


@dataclass
class Samples:
    """Named timings or counts collected during one run."""

    name: str
    unit: str
    values: list[float] = field(default_factory=list)

    def add(self, value: float) -> None:
        self.values.append(value)

    def describe(self) -> str:
        n = len(self.values)
        if n == 0:
            return f"{self.name}: no samples"
        text = f"{self.name} = {median(self.values):.6g} {self.unit} (median, n={n}"
        p = reportable_percentile(n)
        if p is not None and p > 50.0:
            text += f", p{p:g} = {percentile(self.values, p):.6g}"
        values = ", ".join(f"{v:.4g}" for v in self.values)
        return text + f"; all: {values})"
