"""Pure helpers shared by the runner and the trace report: medians with
their sample count, union-of-intervals coverage and nested-span self
time.  No Spark, no I/O, so the self-tests exercise them directly."""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence


def median_n(values: Iterable[float]) -> tuple[float, int]:
    """(median, sample count); an empty sample is an error, not 0."""
    vals = list(values)
    if not vals:
        raise ValueError("median of an empty sample")
    return statistics.median(vals), len(vals)


def union_length(
    intervals: Iterable[tuple[float, float]],
    lo: float | None = None,
    hi: float | None = None,
) -> float:
    """Length of the union of ``[start, end)`` intervals, each clipped to
    ``[lo, hi]`` when given.  Overlapping and nested intervals count
    once, which is what "time covered by any running job" means."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def gap(window: tuple[float, float], busy: Iterable[tuple[float, float]]) -> float:
    """Part of ``window`` not covered by any ``busy`` interval."""
    lo, hi = window
    return (hi - lo) - union_length(busy, lo, hi)


def self_times(spans: Sequence[tuple[int | None, float, float]]) -> list[float]:
    """Self time of each span given as ``(parent_index, start, end)``:
    its duration minus the part of it that its direct children cover.
    Children may overlap each other (spans opened on other threads under
    the same parent), so their coverage is a union, not a sum."""
    children: dict[int, list[tuple[float, float]]] = {}
    for parent, s, e in spans:
        if parent is not None:
            children.setdefault(parent, []).append((s, e))
    return [
        (e - s) - union_length(children.get(i, ()), s, e)
        for i, (_parent, s, e) in enumerate(spans)
    ]
