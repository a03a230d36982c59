"""Statistics the benchmark reports with: medians, percentiles with a
sample-count floor, unions of overlapping windows, and the exclusive split
of an op's wall time into layers."""
import math
import statistics


def median(values):
    values = list(values)
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def min_samples(q):
    """Fewest samples a q-quantile is reported from: 5 for the median and
    below; above it, enough that 10 samples lie beyond the quantile (100 for
    p90, 1000 for p99)."""
    if not 0 < q < 1:
        raise ValueError(f"quantile out of range: {q}")
    return 5 if q <= 0.5 else math.ceil(round(10 / (1 - q), 9))


def quantile(values, q):
    """Nearest-rank q-quantile (the median for q = 0.5), or None when there
    are fewer samples than min_samples(q)."""
    values = sorted(values)
    if len(values) < min_samples(q):
        return None
    if q == 0.5:
        return statistics.median(values)
    return values[math.ceil(q * len(values)) - 1]


def merge(intervals):
    """Merge overlapping [start, end] intervals; empty ones are dropped."""
    out = []
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def union_length(intervals):
    """Total length covered by the intervals, overlaps counted once."""
    return sum(e - s for s, e in merge(intervals))


def clip(interval, window):
    s, e = interval
    return max(s, window[0]), min(e, window[1])


def self_times(window, layers, priority):
    """Split `window` exclusively among `layers` ({name: [intervals]}).

    Each instant of the window goes to the highest-priority layer active at
    that instant (`priority` lists names, highest first); instants no layer
    covers go to "gap". The parts always sum to the window's length.
    """
    remaining = [list(window)] if window[1] > window[0] else []
    out = {}
    for name in priority:
        covered = merge(clip(iv, window) for iv in layers.get(name, ()))
        took = 0.0
        rest = []
        for rs, re_ in remaining:
            cursor = rs
            for cs, ce in covered:
                if ce <= cursor or cs >= re_:
                    continue
                if cs > cursor:
                    rest.append([cursor, cs])
                took += min(ce, re_) - max(cs, cursor)
                cursor = max(cursor, min(ce, re_))
            if cursor < re_:
                rest.append([cursor, re_])
        out[name] = took
        remaining = rest
    out["gap"] = sum(e - s for s, e in remaining)
    return out


def outside(interval, window):
    """Length of `interval` that falls outside `window`."""
    s, e = interval
    inside = max(0.0, min(e, window[1]) - max(s, window[0]))
    return max(0.0, e - s) - inside
