"""Small statistics used by the benchmark: percentiles with the
sample-count rule, and span self time."""

from __future__ import annotations

import math

# A percentile is reported only if at least this many samples lie beyond it.
MIN_TAIL = 10
LADDER = (0.5, 0.75, 0.9, 0.95, 0.99)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (``p`` in [0, 1]) of a non-empty list."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = p * (len(xs) - 1)
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def tail_percentile(n: int) -> float | None:
    """The highest percentile of ``LADDER`` with at least ``MIN_TAIL`` of
    ``n`` samples beyond it; ``None`` if not even the median qualifies."""
    best = None
    for p in LADDER:
        if n - math.ceil(p * n) >= MIN_TAIL:
            best = p
    return best


def summarize(values: list[float]) -> dict:
    """Median plus the tail percentile the sample count supports, each
    with the sample count stated next to it."""
    out: dict = {"n": len(values), "p50": percentile(values, 0.5)}
    tail = tail_percentile(len(values))
    if tail is not None and tail > 0.5:
        out[f"p{round(tail * 100)}"] = percentile(values, tail)
    return out


def covered(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, start), min(b, end)) for a, b in intervals if b > start and a < end
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover (children
    may overlap when they run on several threads)."""
    return (end - start) - covered(children, start, end)
