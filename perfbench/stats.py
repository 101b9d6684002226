"""Summary statistics the benchmark reports, kept apart so they are tested."""
import math


def tail_percentile(samples, cap=0.90, beyond=10):
    """The tail latency the benchmark reports: p90 (nearest rank), or,
    with fewer than 100 samples, the highest percentile that still has
    `beyond` samples above it. Returns (value, percentile, n)."""
    xs = sorted(samples)
    n = len(xs)
    rank = min(math.ceil(cap * n), n - beyond)
    if rank < 1:
        raise ValueError(f"{n} samples: no percentile has {beyond} beyond it")
    return xs[rank - 1], rank / n, n


def covered(parent, children):
    """Length of the part of interval `parent` that the union of the
    `children` intervals covers. Intervals are (start, end) pairs."""
    s0, e0 = parent
    clipped = sorted((max(s, s0), min(e, e0)) for s, e in children
                     if min(e, e0) > max(s, s0))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(parent, children):
    """A span's self time: its duration minus the part of its interval
    that its child spans cover."""
    return (parent[1] - parent[0]) - covered(parent, children)
