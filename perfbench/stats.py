"""The benchmark's arithmetic: percentiles, interval unions, span self
time and ratios. Pure functions over plain lists, tested in
perfbench/tests/test_stats.py."""

import math
import statistics

# candidate tail percentiles, highest first
TAILS = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def nearest_rank(sorted_xs, q):
    """The q-th percentile of sorted samples by the nearest-rank rule."""
    n = len(sorted_xs)
    k = max(1, math.ceil(q / 100.0 * n))
    return sorted_xs[k - 1], n - k


def tail(samples):
    """The highest percentile with at least MIN_BEYOND samples strictly
    beyond it, as {"q", "value", "n", "beyond"}; None when even p75 has
    fewer than MIN_BEYOND samples beyond it."""
    xs = sorted(samples)
    for q in TAILS:
        if not xs:
            break
        value, beyond = nearest_rank(xs, q)
        if beyond >= MIN_BEYOND:
            return {"q": q, "value": value, "n": len(xs), "beyond": beyond}
    return None


def median(samples):
    return statistics.median(samples) if samples else 0.0


def union_length(intervals):
    """Total length covered by (start, end) intervals, overlaps counted
    once."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals, start, end):
    """Intervals cut to the window [start, end]."""
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def self_time(span, spans):
    """A span's duration minus the union of its direct children's
    intervals (children may overlap each other)."""
    kids = [(s["start"], s["end"]) for s in spans if s["parent"] == span["id"]]
    return (span["end"] - span["start"]) - union_length(clip(kids, span["start"], span["end"]))


def ratio(num, den):
    """A ratio with its base: {"value", "num", "den"}; value 0 when the
    base is empty."""
    return {"value": (num / den) if den else 0.0, "num": num, "den": den}

