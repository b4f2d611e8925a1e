"""The benchmark's own arithmetic: order statistics, span self time,
driver gap and failure share. Pure Python, so it is unit-tested
without Spark (perfbench/tests/test_stats.py)."""

from __future__ import annotations

import statistics
from collections.abc import Iterable


def median(values: Iterable[float]) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no samples")
    return float(statistics.median(vals))


def quartiles(values: Iterable[float]) -> tuple[float, float, float]:
    """(q1, median, q3) with the same method as
    ``statistics.quantiles(values, n=4)`` (exclusive), which is how
    the benchmark's spread is judged."""
    vals = list(values)
    if len(vals) < 2:
        v = median(vals)
        return v, v, v
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return float(q1), float(q2), float(q3)


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end)."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped_union(
    start: float, end: float, intervals: Iterable[tuple[float, float]]
) -> float:
    """Length of [start, end) covered by the union of ``intervals``."""
    return union_length(
        (max(s, start), min(e, end)) for s, e in intervals
    )


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of it that
    its child spans cover. Overlapping children are counted once.

    ``spans``: dicts with ``id``, ``parent`` (id or None), ``start``
    and ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - clipped_union(s["start"], s["end"], children.get(s["id"], ()))
        for s in spans
    }


def driver_gap(
    start: float, end: float, job_intervals: Iterable[tuple[float, float]]
) -> float:
    """Wall time in [start, end) during which no Spark job ran: the
    time the driver spent planning, in py4j calls, or in Python."""
    return (end - start) - clipped_union(start, end, job_intervals)


def failed_frac(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted
