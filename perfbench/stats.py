"""Metric arithmetic of the benchmark: the tail rule, span self time and
failure counting. Pure functions over the harness's raw samples.
"""

import math

# Candidate tail percentiles, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def rank_of(p, n):
    """1-based nearest rank of the p-th percentile among n samples
    (rounded first, so 99.9 % of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def nearest_rank(sorted_values, p):
    """The p-th percentile by the nearest-rank method."""
    return sorted_values[rank_of(p, len(sorted_values)) - 1]


def tail(values):
    """(percentile, value) at the highest ladder percentile that leaves at
    least TAIL_MIN_BEYOND samples above its rank. With too few samples for
    any percentile, the maximum is returned as percentile 100."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    n = len(xs)
    for p in TAIL_LADDER:
        if n - rank_of(p, n) >= TAIL_MIN_BEYOND:
            return p, nearest_rank(xs, p)
    return 100.0, xs[-1]


def failed_ratio(ops):
    """Failed ops over attempted ops; a wrong answer is a failed op."""
    if not ops:
        raise ValueError("no ops attempted")
    return sum(1 for o in ops if not o["ok"]) / len(ops)


def covered(intervals):
    """Total length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id -> duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        clipped = [(max(c["start_ns"], lo), min(c["end_ns"], hi))
                   for c in kids.get(s["id"], [])]
        out[s["id"]] = (hi - lo) - covered([iv for iv in clipped if iv[1] > iv[0]])
    return out


def layer_of(name):
    """Layer of a span: its name up to the first dot; an op's root span
    (no dot) is the benchmark client itself."""
    return name.split(".", 1)[0] if "." in name else "client"


def layer_self_ms(spans):
    """Layer -> summed self time in ms."""
    st = self_times(spans)
    out = {}
    for s in spans:
        k = layer_of(s["name"])
        out[k] = out.get(k, 0.0) + st[s["id"]] / 1e6
    return out
