"""Metric maths shared by the runner, the event-log parser and the A/B
compare tool. Pure functions, no Spark; tested in ``test_metrics.py``."""

from __future__ import annotations

import math

# The tail percentile is the highest one, in steps of 5, that still has
# at least this many samples beyond it.
TAIL_MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100) of ``values``."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, min_beyond: int = TAIL_MIN_BEYOND) -> int | None:
    """Highest percentile ``q`` (multiple of 5, at most 99) with at
    least ``min_beyond`` of ``n`` samples strictly above its rank, or
    ``None`` when ``n`` is too small for any."""
    best = None
    for q in list(range(5, 100, 5)) + [99]:
        # samples ranked above the interpolation point of percentile q
        if n - 1 - math.floor((n - 1) * q / 100.0) >= min_beyond:
            best = q
    return best


def tail(values: list[float]) -> tuple[float, int]:
    """``(value, percentile)`` of the tail of ``values``: the percentile
    :func:`tail_percentile` picks, or, when it finds none at or above
    the median, the maximum as percentile 100."""
    q = tail_percentile(len(values))
    if q is None or q < 50:
        return max(values), 100
    return percentile(values, q), q


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``[start, end]`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(op_start: float, op_end: float,
               jobs: list[tuple[float, float]]) -> float:
    """Op wall time not covered by any of its Spark jobs (clipped to the
    op's own interval)."""
    clipped = [(max(s, op_start), min(e, op_end)) for s, e in jobs]
    return max(0.0, (op_end - op_start) - interval_union(clipped))


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: its duration minus the time its direct
    children cover (overlapping children count once).

    Each span is ``{"id", "parent", "start", "end"}``."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        inner = [(max(a, s["start"]), min(b, s["end"]))
                 for a, b in kids.get(s["id"], [])]
        out[s["id"]] = max(0.0, s["end"] - s["start"] - interval_union(inner))
    return out


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))
