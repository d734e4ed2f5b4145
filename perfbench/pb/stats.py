"""Order statistics and span arithmetic for the benchmark's metrics."""
import statistics

# Candidate tail percentiles, highest first.
TAIL_LADDER = (99, 95, 90, 75, 50)


def percentile(values, p):
    """Nearest-rank p-th percentile (0 < p <= 100) of a non-empty sample."""
    s = sorted(values)
    k = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100)
    return s[int(k) - 1]


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - max(1, -(-n * p // 100))


def tail_percentile(n, min_beyond=10, ladder=TAIL_LADDER):
    """Highest percentile in `ladder` with at least `min_beyond` samples
    beyond it, or None when even the lowest has fewer."""
    for p in ladder:
        if beyond(n, p) >= min_beyond:
            return p
    return None


def union_ms(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_ms(span, children):
    """A span's duration minus the union of its children clipped to it."""
    s, e = span
    clipped = [(max(s, a), min(e, b)) for a, b in children
               if min(e, b) > max(s, a)]
    return (e - s) - union_ms(clipped)


def spread(values):
    """Inter-quartile range as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")
