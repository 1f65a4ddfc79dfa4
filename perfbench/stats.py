"""The benchmark's own math: percentiles, the tail rule, backlog growth,
the sustained-rate search and span self time. Pure functions, unit-tested
in ``test_perfbench.py``."""

from __future__ import annotations

import math

#: Percentiles the tail rule may pick, lowest first.
TAIL_LADDER = (50.0, 60.0, 70.0, 75.0, 80.0, 90.0, 95.0, 99.0, 99.9, 99.99)
#: Samples that must lie beyond a percentile for it to count as the tail.
TAIL_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least q% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    k = max(1, math.ceil(q / 100.0 * len(s)))
    return s[k - 1]


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest ladder percentile with at least ``TAIL_BEYOND`` samples
    beyond it, as (percentile, value, sample count). With fewer than
    ``TAIL_BEYOND`` samples beyond even the median, the median is the
    tail."""
    n = len(values)
    best = TAIL_LADDER[0]
    for q in TAIL_LADDER:
        if n - max(1, math.ceil(q / 100.0 * n)) >= TAIL_BEYOND:
            best = q
    return best, percentile(values, best), n


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if not n:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def backlog_series(
    landed: list[tuple[float, int]], committed: list[tuple[float, int]]
) -> list[tuple[float, int]]:
    """Backlog (rows landed minus rows committed) just after every landing
    and commit event, as (time, backlog). Both inputs are (time, rows)."""
    events = [(t, n) for t, n in landed] + [(t, -n) for t, n in committed]
    events.sort(key=lambda e: e[0])
    out, level = [], 0
    for t, d in events:
        level += d
        out.append((t, level))
    return out


def slope(points: list[tuple[float, float]]) -> float:
    """Least-squares slope of y over t (0 for fewer than two distinct t)."""
    if len(points) < 2:
        return 0.0
    mt = sum(t for t, _ in points) / len(points)
    my = sum(y for _, y in points) / len(points)
    var = sum((t - mt) ** 2 for t, _ in points)
    if var == 0:
        return 0.0
    return sum((t - mt) * (y - my) for t, y in points) / var


def backlog_grows(
    series: list[tuple[float, int]], start: float, end: float,
    offered_per_s: float, tolerance: float = 0.1,
) -> tuple[bool, float]:
    """Per-rate backlog test over the window [start, end]: the backlog
    grows when its least-squares slope exceeds ``tolerance`` times the
    offered rate. Returns (grows, slope in rows/s)."""
    pts = [(t, y) for t, y in series if start <= t <= end]
    s = slope(pts)
    return s > tolerance * offered_per_s, s


def sustained_rate(rungs: list[dict]) -> float:
    """Highest rate the pipeline sustains, from a ladder of rungs, each
    ``{"offered": rows/s, "grows": bool, "drain": rows/s or None}``.

    A rung whose backlog does not grow is sustained at its offered rate.
    A rung whose backlog grows is past capacity; while saturated the
    pipeline commits at its capacity, so its measured drain rate is
    sustained too. The result is the larger of the two bounds."""
    ok = [r["offered"] for r in rungs if not r["grows"]]
    drains = [r["drain"] for r in rungs if r["grows"] and r["drain"]]
    best = max(ok + drains, default=0.0)
    if best <= 0:
        raise ValueError("no rung gives a sustained rate")
    return best


def drain_rate(intervals: list[tuple[float, float, int]]) -> float:
    """Rows per second over saturated batches taken together, each given
    as (end of the batch before it, its own end, its rows): a batch that
    runs at the cap starts as soon as the one before it ends."""
    if not intervals:
        raise ValueError("drain rate needs at least one saturated batch")
    return sum(n for _, _, n in intervals) / sum(e - s for s, e, _ in intervals)


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of it its children cover (each
    child clipped to the span; overlapping children counted once)."""
    s, e = span["start"], span["end"]
    iv = sorted((max(s, c["start"]), min(e, c["end"])) for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (e - s) - covered
