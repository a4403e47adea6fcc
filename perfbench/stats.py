"""Statistics and span arithmetic for the benchmark.

- `median`, `geomean`;
- `tail_percentile`: a percentile is reported only when at least ten
  samples lie beyond it;
- `union_s` and `self_times`: the time an interval set covers, and a
  span's duration minus the part of it that its children cover.
"""
import math
import statistics

MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs)


def geomean(xs):
    xs = list(xs)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def percentile(xs, p):
    """Nearest-rank p-th percentile (0 < p < 1), or None when fewer than
    MIN_BEYOND samples rank above it."""
    s = sorted(xs)
    rank = max(1, math.ceil(p * len(s)))
    if len(s) - rank < MIN_BEYOND:
        return None
    return s[rank - 1]


def union_s(intervals, lo=None, hi=None):
    """Length covered by the union of (start, end) intervals, each first
    clipped to [lo, hi] when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """spans: {id: (parent_id or None, start, end)}. Returns {id: self
    time}: each span's duration minus the union of its children's
    intervals, clipped to the span."""
    children = {}
    for sid, (parent, a, b) in spans.items():
        if parent is not None:
            children.setdefault(parent, []).append((a, b))
    return {sid: (b - a) - union_s(children.get(sid, []), a, b)
            for sid, (_, a, b) in spans.items()}
