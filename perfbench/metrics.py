"""The benchmark's math, kept apart from the harness so it can be tested
without Spark. Times are milliseconds unless a name says otherwise."""


def union_length(intervals, lo=None, hi=None):
    """Total length covered by ``(start, end)`` intervals, clipped to
    ``[lo, hi]`` when given. Overlaps count once."""
    spans = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            spans.append((s, e))
    spans.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def tail(values, beyond=10):
    """The highest percentile with at least ``beyond`` samples above it:
    returns (percentile, value). With too few samples it is the
    maximum, reported as the 100th percentile."""
    xs = sorted(values)
    k = len(xs) - 1 - beyond
    if k < 0:
        return 100.0, xs[-1]
    return 100.0 * (k + 1) / len(xs), xs[k]


def self_times(spans):
    """Per span id: its duration minus the part of its interval that its
    child spans cover. ``spans`` are dicts with id, parent, start_ms,
    end_ms."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"]) -
            union_length(children.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}


def occupancy(task_run_s, wall_s, cores):
    """Share of the cores' time spent running tasks."""
    return task_run_s / (wall_s * cores) if wall_s > 0 else 0.0
