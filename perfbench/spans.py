"""Span and sample arithmetic for the benchmark.

Times are epoch milliseconds. An interval is a (start, end) pair. The
functions here are pure so they can be tested on hand-built spans
(perfbench/test_spans.py).
"""
import math
import re
import statistics


# ---------------------------------------------------------------- samples

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """The highest whole percentile with at least `beyond` samples above
    it, by the nearest-rank rule. Returns (value, percentile, n). With
    `beyond` or fewer samples there is no such percentile; the maximum is
    returned with percentile 100.
    """
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return (s[-1] if s else 0.0), 100, n
    p = math.floor(100 * (n - beyond) / n)
    rank = max(1, math.ceil(p * n / 100))
    return s[rank - 1], p, n


def spread(values):
    """Interquartile range as a share of the median (Python's default
    `statistics.quantiles` method, as the acceptance check computes it)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


# ---------------------------------------------------------------- intervals

def union_length(intervals):
    """Total length covered by the union of the intervals: overlapping
    and nested intervals are counted once."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def outside(span, intervals):
    """Time of `span` (start, end) not covered by any of `intervals`: the
    span's wall time minus the union of the intervals clipped to it.
    Driver time outside jobs and a span's self time are both this."""
    s, e = span
    return (e - s) - union_length(clip(intervals, s, e))


def contains(span, t):
    return span[0] <= t <= span[1]


# ---------------------------------------------------------------- attribution

OBSERVED = re.compile(r"^graft/([^/]+)/(.+)$")


def run_of_observed(names):
    """Run id from a SQL execution's observed-metric names
    (`graft/<runId>/<entity>`), or None."""
    for n in names:
        m = OBSERVED.match(n)
        if m:
            return m.group(1)
    return None


def attribute_jobs(jobs, sql, windows):
    """Map each job to a run id.

    First rule: the job's SQL execution carries an observed metric named
    `graft/<runId>/<entity>`; that names the run regardless of thread.
    Second rule: the job's `perfbench.file` local property, set on the
    run's own thread, but only when the job started inside that run's
    window. Pooled threads (`ExecutionContext.global`) inherit stale
    property values from whichever thread created them, so a value seen
    outside its run's window is ignored. `windows` maps run id to
    (start, end). Returns {run id: [job, ...]}.
    """
    exec_run = {}
    for x in sql:
        r = run_of_observed(x.get("observed") or [])
        if r is not None:
            exec_run[x["id"]] = r
    out = {}
    for j in jobs:
        run = exec_run.get(j.get("exec"))
        if run is None:
            f = j.get("file")
            if f is not None and f in windows and contains(windows[f], j["start"]):
                run = f
        if run is not None:
            out.setdefault(run, []).append(j)
    return out


def jobs_in(jobs, span):
    """Jobs that started inside `span`: exact for a single client that
    runs one unit of work at a time."""
    return [j for j in jobs if contains(span, j["start"])]


def job_interval(j):
    return (j["start"], j["end"] if j["end"] >= 0 else j["start"])
