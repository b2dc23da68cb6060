"""Pure-Python measurement arithmetic: medians, quartiles, interval unions,
self time and send accounting. No Spark, so the tests can run anywhere."""

from __future__ import annotations

import statistics
from typing import Iterable, Sequence


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartiles(values: Sequence[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them;
    with fewer than two values every quartile is the single value."""
    if not values:
        raise ValueError("quartiles of no values")
    if len(values) == 1:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q2), float(q3)


def union_intervals(intervals: Iterable[tuple[float, float]]) -> list[tuple[float, float]]:
    """Merge overlapping or touching [start, end] intervals."""
    merged: list[tuple[float, float]] = []
    for start, end in sorted((s, e) for s, e in intervals if e > s):
        if merged and start <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], end))
        else:
            merged.append((start, end))
    return merged


def covered(intervals: Iterable[tuple[float, float]], start: float, end: float) -> float:
    """Seconds of [start, end] that the union of ``intervals`` covers."""
    clipped = ((max(s, start), min(e, end)) for s, e in intervals)
    return sum(e - s for s, e in union_intervals(clipped))


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover; child
    spans may overlap each other (parallel sends on several workers)."""
    return (end - start) - covered(children, start, end)


def attempts_per_chunk(sends: Iterable[dict]) -> float:
    """Send attempts divided by distinct (branch, partition, chunk): 1.0 when
    every chunk is sent once, higher for each retry or duplicate send."""
    sends = list(sends)
    chunks = {(s["b"], s["p"], s["c"]) for s in sends}
    return len(sends) / len(chunks) if chunks else 0.0
