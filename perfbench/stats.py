"""Arithmetic the benchmark reports with: medians, the tail percentile,
span self time, driver gap and the result line.  Pure functions, so the
self-tests can check them on synthetic data.
"""
import json
import math

TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def median(xs):
    s = sorted(xs)
    if not s:
        return float("nan")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def _rank(p, n):
    # rounded first: 99.9 / 100 * 10000 is 9990.000000000002 in floating point
    return math.ceil(round(p / 100 * n, 9))


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    return s[max(0, _rank(p, len(s)) - 1)]


def tail_percentile(n, beyond=10):
    """The highest ladder percentile with at least `beyond` of `n` samples
    above it, or None when even the median has fewer."""
    best = None
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= beyond:
            best = p
    return best


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
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
    """Each span's duration minus the part of it its children cover.
    `spans` are dicts with id, parent, start_ms and end_ms."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length([(c["start_ms"], c["end_ms"]) for c in kids.get(s["id"], [])],
                               s["start_ms"], s["end_ms"])
        out[s["id"]] = s["end_ms"] - s["start_ms"] - covered
    return out


def descendants(spans, root_id):
    """Ids of `root_id` and every span below it."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = [], [root_id]
    while todo:
        i = todo.pop()
        out.append(i)
        todo.extend(kids.get(i, []))
    return out


def innermost(spans, t_ms):
    """Id of the shortest span that contains time `t_ms`, or None."""
    best = None
    for s in spans:
        if s["start_ms"] <= t_ms <= s["end_ms"]:
            if best is None or s["end_ms"] - s["start_ms"] < best["end_ms"] - best["start_ms"]:
                best = s
    return None if best is None else best["id"]


class Tally:
    """Counts every attempted operation and check; failures are named and
    never dropped from the totals."""

    def __init__(self):
        self.attempted = 0
        self.failures = []

    def op(self, ok, name):
        self.attempted += 1
        if not ok:
            self.failures.append(name)

    def check(self, ok, name, detail=""):
        self.op(ok, name + (": " + detail if detail and not ok else ""))
        return ok

    @property
    def failed(self):
        return len(self.failures)

    @property
    def fail_ratio(self):
        return self.failed / self.attempted if self.attempted else 1.0


def result_line(tally, metrics):
    """The last stdout line: {correct, attempted, failed, metrics}."""
    return json.dumps({
        "correct": tally.failed == 0,
        "attempted": max(1, tally.attempted),
        "failed": tally.failed if tally.attempted else 1,
        # a metric with no successful sample (the run has failed) is null
        "metrics": {k: {"value": v if math.isfinite(v) else None, "unit": u}
                    for k, (v, u) in metrics.items()},
    })


def table(rows, header=("metric", "value", "unit")):
    """Fixed-width text table of (name, value, unit) rows."""
    rows = [tuple(str(c) if not isinstance(c, float) else "%.6g" % c for c in r) for r in rows]
    widths = [max(len(r[i]) for r in rows + [header]) for i in range(len(header))]
    fmt = "  ".join("%%-%ds" % w for w in widths)
    return "\n".join([fmt % header] + [fmt % r for r in rows])
