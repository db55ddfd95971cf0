"""Small numeric helpers: medians, the tail-percentile rule, interval unions."""

from __future__ import annotations

import statistics

#: a tail percentile is only reported with this many samples beyond it
TAIL_BEYOND = 10


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs, beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile)``: with ``n`` samples sorted ascending
    that is the sample at rank ``n - beyond`` (1-based), i.e. percentile
    ``100 * (n - beyond) / n``. Raises when ``n <= beyond``: no percentile
    has that many samples beyond it.
    """
    xs = sorted(xs)
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"{n} samples cannot support a tail with {beyond} beyond")
    return float(xs[n - beyond - 1]), 100.0 * (n - beyond) / n


def union(intervals) -> list[tuple[float, float]]:
    """Merge ``(start, end)`` intervals into disjoint sorted intervals."""
    out: list[list[float]] = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def covered(intervals) -> float:
    """Total length covered by the union of ``intervals``."""
    return sum(e - s for s, e in union(intervals))


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def subtract(intervals, holes) -> list[tuple[float, float]]:
    """The parts of ``intervals`` not covered by ``holes``."""
    holes = union(holes)
    out = []
    for s, e in union(intervals):
        cur = s
        for hs, he in holes:
            if he <= cur or hs >= e:
                continue
            if hs > cur:
                out.append((cur, hs))
            cur = max(cur, he)
        if cur < e:
            out.append((cur, e))
    return out


def driver_gap(span: tuple[float, float], jobs) -> float:
    """Span wall minus the union of its job intervals (clipped to the span)."""
    s, e = span
    return (e - s) - covered(clip(jobs, s, e))
