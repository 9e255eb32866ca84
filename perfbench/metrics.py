"""The benchmark's own arithmetic: pure functions over numbers, intervals
and spans, kept apart from Spark so tests can pin them with hand-made
inputs (``python -m pytest perfbench``)."""

from __future__ import annotations

import statistics


def median(values) -> float:
    vals = list(values)
    return float(statistics.median(vals)) if vals else 0.0


def tail_percentile(samples, beyond: int = 10):
    """The highest percentile with at least ``beyond`` samples above it,
    as ``(percentile, value)``, or ``None`` when there are too few
    samples. With n sorted samples, the value at 0-based rank i has
    n - 1 - i samples above it, so the answer is rank n - 1 - beyond."""
    vals = sorted(samples)
    i = len(vals) - 1 - beyond
    if i < 0:
        return None
    return 100.0 * (i + 1) / len(vals), float(vals[i])


def bloom_fp_rate(candidates: int, bloom_hits: int, fresh: int) -> float:
    """Realized prefilter false-positive rate of one round from its
    ``RoundStats``: the candidates that missed the bloom filter are
    certainly new, so ``fresh - (candidates - bloom_hits)`` of the fresh
    URLs were bloom hits the exact anti-join proved new."""
    if fresh <= 0:
        return 0.0
    return (fresh - (candidates - bloom_hits)) / fresh


def missing_ids(ids) -> list[int]:
    """Ids absent from ``0..max(ids)``. Spark numbers jobs from 0 and a
    status store over its retention limit drops the oldest first, so
    any gap means the store lost jobs."""
    have = set(ids)
    return [i for i in range(max(have) + 1) if i not in have] if have \
        else []


def sustained_peak(samples) -> float:
    """The highest level held over two consecutive samples. A child the
    JVM forks to run a command shows the JVM's whole RSS until it execs;
    counted, one such instant would add the JVM a second time, so a
    level seen in one sample only does not count."""
    vals = list(samples)
    if len(vals) < 2:
        return float(vals[0]) if vals else 0.0
    return float(max(min(a, b) for a, b in zip(vals, vals[1:])))


def union_intervals(intervals):
    """Merge ``(start, end)`` pairs into sorted disjoint intervals."""
    out: list[list[float]] = []
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def covered(intervals, lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = [(max(s, lo), min(e, hi)) for s, e in intervals]
    return sum(e - s for s, e in union_intervals(clipped))


def driver_gap(wall: tuple[float, float], stage_intervals) -> float:
    """Wall time of a call during which no Spark stage was active."""
    lo, hi = wall
    return (hi - lo) - covered(stage_intervals, lo, hi)


def attribute(events, calls):
    """Assign each event ``(key, t)`` to the call ``(call_id, start, end)``
    whose interval contains ``t``; the innermost (latest-starting) call
    wins when calls nest. Events outside every call are dropped.
    → {call_id: [key, ...]}"""
    ordered = sorted(calls, key=lambda c: c[1])
    out: dict = {c[0]: [] for c in calls}
    for key, t in events:
        best = None
        for cid, s, e in ordered:
            if s > t:
                break
            if t <= e:
                best = cid
        if best is not None:
            out[best].append(key)
    return out


def self_times(spans):
    """Self time of each span: its duration minus the part of its
    interval that its direct children cover. ``spans`` are dicts with
    ``id``, ``parent``, ``start`` and ``end``. → {id: seconds}"""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(kids.get(s["id"], ()), s["start"], s["end"])
            for s in spans}


def skew(values) -> float:
    """max / median of positive values (1.0 when balanced)."""
    vals = [v for v in values if v > 0]
    if not vals:
        return 0.0
    m = statistics.median(vals)
    return max(vals) / m if m else 0.0
