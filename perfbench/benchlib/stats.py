"""Timing statistics and span arithmetic for the benchmark."""

import statistics

# Candidate tail percentiles, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def median(values):
    return statistics.median(values) if values else 0.0


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    s = sorted(values)
    rank = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100)
    return s[int(rank) - 1]


def tail(values):
    """The highest percentile that has at least ten samples beyond it.

    Returns (percentile, value, n) or None when fewer than twenty samples
    leave no candidate percentile with ten samples above it."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        v = percentile(values, p)
        if sum(1 for x in values if x > v) >= MIN_BEYOND:
            return p, v, n
    return None


def covered(intervals, lo, hi):
    """Length of [lo, hi) covered by the union of the given intervals,
    each clipped to [lo, hi). Overlapping intervals count once."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
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


def self_times(spans):
    """Self time of every span: its duration minus the part of it that its
    children cover. `spans` are dicts with name, id, parent ("name:id" of
    the enclosing span or ""), start_ms and end_ms. Returns a dict keyed by
    "name:id"."""
    children = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        key = f'{s["name"]}:{s["id"]}'
        dur = s["end_ms"] - s["start_ms"]
        out[key] = dur - covered(children.get(key, []), s["start_ms"], s["end_ms"])
    return out
