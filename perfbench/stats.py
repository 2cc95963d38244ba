"""Aggregation helpers of the benchmark: medians, tail percentiles, span
self time and metric-name validation. Pure functions, unit-tested in
perfbench/test_perfbench.py."""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
MIN_TAIL = 10  # samples that must lie beyond a reported percentile


def valid_name(name):
    return bool(NAME_RE.match(name))


def median(values):
    return statistics.median(values)


def percentile(values, p):
    """Nearest-rank p-th percentile, or None unless at least MIN_TAIL samples
    lie strictly beyond it."""
    if not values:
        return None
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    v = xs[rank - 1]
    beyond = sum(1 for x in xs if x > v)
    return v if beyond >= MIN_TAIL else None


def _covered(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo))
    total, cur_s, cur_e = 0, None, None
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


def self_times(spans):
    """Per-layer self time: each span's duration minus the part of its
    interval that its children cover, summed per layer. Spans are dicts with
    id, parent, layer, start_us, end_us; the result is in seconds."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        own = (hi - lo) - _covered(children.get(s["id"], []), lo, hi)
        out[s["layer"]] = out.get(s["layer"], 0.0) + own / 1e6
    return out
