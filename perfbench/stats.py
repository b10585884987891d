"""Percentiles, throughput and span self time.

Kept free of I/O so the benchmark's tests can feed them synthetic inputs
with known answers.
"""

import math


def percentile(values, q):
    """The q-th percentile (0 < q < 100) by linear interpolation between
    closest ranks, as numpy's default method computes it."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values):
    """Geometric mean of positive values."""
    if not values:
        raise ValueError("geometric mean of no values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def throughput(completed, seconds):
    """Operations completed per second of the timed loop."""
    if seconds <= 0:
        raise ValueError("throughput over a non-positive interval")
    return completed / seconds


def covered(intervals):
    """Total length of the union of [start, end) intervals."""
    total = 0
    cur_start = cur_end = None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans):
    """Self time of every span, keyed by span id: its duration minus the
    part of it that its child spans cover. Spans are dicts with `id`,
    `parent`, `start_ns` and `end_ns`; times come back in seconds."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(k["start_ns"], s["start_ns"]), min(k["end_ns"], s["end_ns"]))
                for k in children.get(s["id"], [])]
        kids = [(a, b) for a, b in kids if b > a]
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered(kids)) / 1e9
    return out

