"""Percentiles and span arithmetic."""
import math

TAIL_CANDIDATES = (99.9, 99.0, 90.0, 75.0, 50.0)


def _rank(n, p):
    # rounded first, so 99.9 % of 10000 is rank 9990, not 9991
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(values, p):
    """Nearest-rank percentile of a non-empty sample."""
    xs = sorted(values)
    return xs[_rank(len(xs), p) - 1]


def beyond(n, p):
    """How many of n samples lie beyond the nearest-rank p-th percentile."""
    return n - _rank(n, p)


def tail_percentile(n, candidates=TAIL_CANDIDATES):
    """The highest candidate percentile with at least ten samples beyond
    it, or None when even the median has fewer."""
    for p in candidates:
        if beyond(n, p) >= 10:
            return p
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
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
    """Self time of each span: its duration minus the part of its interval
    that its direct children cover. `spans` are dicts with id, parent,
    start and end; the result maps span id to self time."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children.get(s["id"], [])
            if c["end"] > s["start"] and c["start"] < s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
