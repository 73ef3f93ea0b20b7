"""Arithmetic the benchmark reports: percentiles, geometric means,
interval unions, driver gaps and span self times."""
import math


def percentile(xs, q):
    """Linear-interpolated percentile (q in 0..100) of a non-empty list."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def mean(xs):
    return sum(xs) / len(xs)


def median(xs):
    return percentile(xs, 50)


def top_percentile(n, candidates=(99, 95, 90, 75, 50)):
    """The highest candidate percentile with at least ten samples
    beyond it among n samples, or None when even the median lacks them."""
    for q in candidates:
        if n * (100 - q) / 100.0 >= 10:
            return q
    return None


def geomean(xs):
    xs = [x for x in xs if x > 0]
    if not xs:
        return 0.0
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to
    [lo, hi] when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0.0, None
    for a, b in sorted(clipped):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def gap(span, jobs):
    """Driver time inside `span` not covered by any running job."""
    a, b = span
    return (b - a) - union_length(jobs, a, b)


def self_times(spans, jobs):
    """Self time of every span and of the job layer.

    spans: dicts with id, parent (-1 for the root), name, start, end.
    jobs: (start, end) intervals. A job is a child of the deepest span
    whose interval holds its start. A span's self time is its duration
    minus the part its children (spans and jobs) cover. Returns
    ({span id: self ms}, job ms); on a single-threaded op these sum to
    the root's duration."""
    by_id = {s["id"]: s for s in spans}
    depth = {}

    def d(s):
        if s["id"] not in depth:
            depth[s["id"]] = 0 if s["parent"] < 0 else d(by_id[s["parent"]]) + 1
        return depth[s["id"]]

    child_spans = {s["id"]: [] for s in spans}
    child_jobs = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] >= 0:
            child_spans[s["parent"]].append((s["start"], s["end"]))
    for a, b in jobs:
        holders = [s for s in spans if s["start"] <= a <= s["end"]]
        if holders:
            child_jobs[max(holders, key=d)["id"]].append((a, b))
    own, job_ms = {}, 0.0
    for s in spans:
        lo, hi = s["start"], s["end"]
        job_ms += union_length(child_jobs[s["id"]], lo, hi)
        own[s["id"]] = (hi - lo) - union_length(child_spans[s["id"]] + child_jobs[s["id"]], lo, hi)
    return own, job_ms
