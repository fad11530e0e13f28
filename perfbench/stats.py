"""Small statistics and trace helpers shared by the runner and the compare
tool: medians, quartiles, the highest percentile a sample supports and span
self time."""
import math
import statistics

# A percentile is reported only when at least this many samples lie beyond it.
TAIL_SAMPLES = 10


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(q1, median, q3) the way statistics.quantiles(n=4) gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def highest_percentile(n):
    """Highest whole percentile with at least TAIL_SAMPLES samples beyond it
    in a sample of n, or None when n is too small for any."""
    if n <= TAIL_SAMPLES:
        return None
    return math.floor(100 * (n - TAIL_SAMPLES) / n)


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    sample at or below it."""
    s = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(s)))
    return s[rank - 1]


def describe(values):
    """Median, the highest supported percentile and the sample count."""
    p = highest_percentile(len(values))
    return {"n": len(values), "median": median(values),
            "p": p, "p_value": percentile(values, p) if p else None}


def self_times(spans):
    """Self time of each span in ms: its duration minus the part of its
    interval that its direct children cover (overlapping children are
    counted once). Spans are dicts with id, parent, start_ms, end_ms."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered, reach = 0.0, lo
        for c in sorted(children.get(s["id"], []),
                        key=lambda c: c["start_ms"]):
            a, b = max(c["start_ms"], reach), min(c["end_ms"], hi)
            if b > a:
                covered += b - a
                reach = b
        out[s["id"]] = (hi - lo) - covered
    return out
