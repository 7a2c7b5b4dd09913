"""The benchmark's arithmetic: medians, tail percentiles, interval unions,
span self time and driver gaps. Pure functions over plain numbers; unit
tests in test_stats.py.

Intervals are (start, end) pairs in one time unit (the raw record uses
epoch milliseconds).
"""
import math


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def tail(xs, beyond=10):
    """The highest percentile that has at least `beyond` samples above it.

    Returns (percentile, value, samples) with the percentile as a whole
    number, or None when fewer than beyond + 1 samples exist. The value is
    the nearest-rank sample: of n sorted samples, rank n - beyond (1-based)
    leaves exactly `beyond` samples beyond it.
    """
    n = len(xs)
    if n < beyond + 1:
        return None
    s = sorted(xs)
    rank = n - beyond
    pct = math.floor(100.0 * rank / n)
    return pct, s[rank - 1], n


def clip(intervals, lo, hi):
    """Intervals cut to [lo, hi]; empty ones dropped."""
    out = []
    for a, b in intervals:
        a, b = max(a, lo), min(b, hi)
        if b > a:
            out.append((a, b))
    return out


def union(intervals):
    """Sorted, disjoint intervals covering the same points."""
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def length(intervals):
    return sum(b - a for a, b in union(intervals))


def subtract(intervals, holes):
    """Points of `intervals` not covered by `holes`."""
    out = []
    hs = union(holes)
    for a, b in union(intervals):
        cur = a
        for ha, hb in hs:
            if hb <= cur or ha >= b:
                continue
            if ha > cur:
                out.append((cur, ha))
            cur = max(cur, hb)
            if cur >= b:
                break
        if cur < b:
            out.append((cur, b))
    return out


def driver_gap(t0, t1, jobs):
    """Wall time of [t0, t1] not covered by any (overlapping) job interval."""
    return (t1 - t0) - length(clip(jobs, t0, t1))


def self_intervals(spans):
    """For each span id, the parts of its interval not covered by its
    children. `spans` is a list of dicts with id, parent, t0, t1."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {s["id"]: subtract([(s["t0"], s["t1"])], kids.get(s["id"], []))
            for s in spans}


def unspanned(spans):
    """Time of the root span (parent -1) that none of its child spans covers:
    driver time between the layer calls that no layer accounts for. None when
    the root has no children, since then nothing was split into layers."""
    roots = [s for s in spans if s["parent"] == -1]
    if len(roots) != 1 or not any(s["parent"] == roots[0]["id"] for s in spans):
        return None
    return length(self_intervals(spans)[roots[0]["id"]])


def layer_self_times(spans, jobs):
    """Split every span's self time into the driver time of its own layer
    and the Spark job time under it (the `spark` layer). Over one root span
    the values sum to the root's wall time.

    Returns {layer: seconds-in-input-units}.
    """
    out = {}
    job_union = union(jobs)
    selfs = self_intervals(spans)
    for s in spans:
        own = selfs[s["id"]]
        in_jobs = length([i for a, b in own for i in clip(job_union, a, b)])
        out[s["layer"]] = out.get(s["layer"], 0.0) + length(own) - in_jobs
        out["spark"] = out.get("spark", 0.0) + in_jobs
    return out

