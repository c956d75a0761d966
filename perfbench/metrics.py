"""Metric arithmetic shared by run.py and its tests: the tail-percentile
rule, the interquartile mean, span self time, and byte accounting."""
import math


def tail_rank(n, beyond=10):
    """1-based rank of the highest percentile that still leaves at least
    `beyond` samples above it (p90 -> rank 90 at n=100). None if n <= beyond."""
    if n <= beyond:
        return None
    return n - beyond


def tail_pct(n, beyond=10):
    r = tail_rank(n, beyond)
    return None if r is None else 100.0 * r / n


def tail_value(samples, beyond=10):
    """The sample at tail_rank: the highest percentile with >= `beyond`
    samples beyond it."""
    xs = sorted(samples)
    r = tail_rank(len(xs), beyond)
    return None if r is None else xs[r - 1]


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return None
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def interquartile_mean(xs):
    """Mean of the middle half of the samples (the n//4 lowest and the
    n//4 highest dropped)."""
    xs = sorted(xs)
    q = len(xs) // 4
    mid = xs[q:len(xs) - q]
    return sum(mid) / len(mid) if mid else None


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
    """{span id: self time} = duration minus the part of the span's own
    interval that its direct children cover (children clipped to it)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        clipped = [(max(c["start_ns"], lo), min(c["end_ns"], hi))
                   for c in kids.get(s["id"], []) if c["end_ns"] > lo and c["start_ns"] < hi]
        out[s["id"]] = (hi - lo) - covered(clipped)
    return out


def bytes_per_live_byte(table_bytes, compact_bytes):
    """All bytes under the table roots per byte of the live rows rewritten
    once as compacted parquet."""
    if compact_bytes <= 0:
        return math.nan
    return table_bytes / compact_bytes


def user_bytes(rows):
    """Logical size of written rows (k BIGINT, p INT, v BIGINT, s STRING)."""
    return sum(8 + 4 + 8 + len(r[2].encode("utf-8")) for r in rows)
