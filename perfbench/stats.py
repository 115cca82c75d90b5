"""Pure helpers for the benchmark's metrics: percentiles and span self time."""
import math

# percentiles a tail may be reported at, highest first
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def _rank(n, p):
    # 1-based rank; the epsilon keeps 99.9% of 10000 at rank 9990, not 9991
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def nearest_rank(values, p):
    """The p-th percentile by nearest rank (an observed sample, no interpolation)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    return xs[_rank(len(xs), p) - 1]


def beyond(n, p):
    """Samples strictly beyond the nearest-rank p-th percentile of n samples."""
    return n - _rank(n, p)


def tail_percentile(n, candidates=TAIL_CANDIDATES):
    """Highest percentile with at least 10 samples beyond it, or None."""
    for p in candidates:
        if beyond(n, p) >= 10:
            return p
    return None


def median(values):
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def union_length(intervals):
    """Total length covered by (start, end) intervals; overlaps count once."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's duration minus the part of [start, end] its children cover."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)
