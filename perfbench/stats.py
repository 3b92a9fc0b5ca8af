"""Metric arithmetic of the benchmark: medians, quartiles, the tail rule,
failure accounting and the span-coverage check.

Pure functions over plain lists so that ``test_stats.py`` can pin each
rule without a Spark session.
"""

from __future__ import annotations

import math
import statistics

# Candidate tail percentiles, highest last. A percentile is usable only
# when at least TAIL_MIN_BEYOND samples lie above it.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them (the 'exclusive' method); a single value is its own quartiles."""
    if not values:
        raise ValueError("quartiles of no values")
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else math.inf


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no values")
    ordered = sorted(values)
    # round() absorbs float error such as 99.9 / 100 * 10000 = 9990.000…02
    rank = max(1, math.ceil(round(p / 100.0 * len(ordered), 9)))
    return ordered[rank - 1]


def tail(values: list[float]) -> dict | None:
    """The highest ladder percentile with at least TAIL_MIN_BEYOND
    samples strictly above its value, or None when even the median
    lacks them. Returns {"p", "value", "n", "beyond"}."""
    best = None
    for p in TAIL_LADDER:
        value = percentile(values, p) if values else 0.0
        beyond = sum(1 for v in values if v > value)
        if values and beyond >= TAIL_MIN_BEYOND:
            best = {"p": p, "value": value, "n": len(values),
                    "beyond": beyond}
    return best


class Outcomes:
    """Operations attempted and failed. An operation fails at most once,
    whether it raised, its output mismatched the oracle, or both."""

    def __init__(self) -> None:
        self.attempted: set[str] = set()
        self.failures: dict[str, str] = {}

    def attempt(self, op: str) -> None:
        self.attempted.add(op)

    def fail(self, op: str, reason: str) -> None:
        self.attempted.add(op)
        self.failures.setdefault(op, reason)

    @property
    def failed(self) -> int:
        return len(self.failures)

    @property
    def failed_frac(self) -> float:
        return self.failed / len(self.attempted) if self.attempted else 0.0


def covered_share(window: tuple[float, float],
                  spans: list[tuple[float, float]]) -> float:
    """Share of ``window`` covered by the union of ``spans`` (clipped to
    the window); overlapping spans count once."""
    start, end = window
    if end <= start:
        raise ValueError("empty window")
    clipped = sorted((max(s, start), min(e, end)) for s, e in spans
                     if e > start and s < end)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered / (end - start)
