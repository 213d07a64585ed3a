"""Statistics the benchmark reports: percentiles, failure accounting
and per-layer self time. Pure Python, no Spark, so the rules are unit
tested on their own (perfbench/tests/test_stats.py)."""

from __future__ import annotations

import math
import statistics
from fractions import Fraction

# percentiles the tail rule may pick, lowest first
PERCENTILE_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """1-based nearest rank ceil(p/100 · n), in exact arithmetic so
    that e.g. p99.9 of 10,000 samples is rank 9,990, not 9,991."""
    return max(1, math.ceil(Fraction(str(p)) * n / 100))


def nearest_rank(values: list[float], p: float) -> float:
    """The p-th percentile by nearest rank: the value at 1-based rank
    ceil(p/100 · n) of the sorted samples."""
    if not values:
        raise ValueError("no samples")
    return sorted(values)[_rank(p, len(values)) - 1]


def tail_percentile(n: int) -> float | None:
    """Highest percentile of the ladder that leaves at least MIN_BEYOND
    of ``n`` samples beyond it, or None when even the median does not."""
    best = None
    for p in PERCENTILE_LADDER:
        if n - _rank(p, n) >= MIN_BEYOND:
            best = p
    return best


def summarize(values: list[float]) -> dict:
    """Median, the tail percentile the sample count allows, and n."""
    out = {"n": len(values)}
    if values:
        out["p50"] = statistics.median(values)
        p = tail_percentile(len(values))
        if p is not None:
            out["tail_pct"] = p
            out["tail"] = nearest_rank(values, p)
    return out


class Outcomes:
    """Operations attempted and failed. An exception and an answer that
    disagrees with its oracle both count as a failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, ok: bool, reason: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.reasons.append(reason)
        return ok

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    end = -math.inf
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover;
    children are clipped to the span and overlaps count once."""
    clipped = [(max(lo, start), min(hi, end)) for lo, hi in children]
    return (end - start) - union_length([c for c in clipped if c[1] > c[0]])
