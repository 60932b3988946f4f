"""Summary statistics and span arithmetic for the benchmark's results."""
import statistics

TAIL_LEVELS = (0.5, 0.75, 0.9, 0.95, 0.99, 0.999)


def quantile(values, q):
    """Linear interpolation between order statistics (q in [0, 1])."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return statistics.median(values)


def tail_level(n, beyond=10):
    """The highest of TAIL_LEVELS that leaves at least `beyond` of `n`
    samples above it, or None when even the median does not."""
    ok = [q for q in TAIL_LEVELS if round(n * (1 - q), 9) >= beyond]
    return ok[-1] if ok else None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans):
    """Map span id -> its duration minus the part of it its children cover.
    Spans are dicts with id, parent, start_ms and end_ms."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - union_length(clip(kids.get(s["id"], []), s["start_ms"], s["end_ms"]))
            for s in spans}


def link_by_time(spans, kinds):
    """Give each span of `kinds` (Spark jobs, micro-batches: recorded by
    listeners, without an id or a parent) its own id and the innermost other
    span that contains its start as parent. The harness's own spans come from
    one client thread, so they nest and never overlap partially."""
    own = [s for s in spans if s["kind"] not in kinds]
    out = []
    for i, s in enumerate(spans):
        if s["kind"] in kinds:
            inside = [o for o in own if o["start_ms"] <= s["start_ms"] < o["end_ms"]]
            parent = min(inside, key=lambda o: o["end_ms"] - o["start_ms"])["id"] if inside else -1
            s = dict(s, id=f"{s['kind']}{i}", parent=parent)
        out.append(s)
    return out


def job_cover(ops, jobs):
    """(seconds covered by running jobs, seconds with no job running), summed
    over operation spans: for each op, the union of the job intervals inside
    it, and the rest of its wall time."""
    covered = idle = 0.0
    for o in ops:
        c = union_length(clip([(j["start_ms"], j["end_ms"]) for j in jobs], o["start_ms"], o["end_ms"]))
        covered += c
        idle += (o["end_ms"] - o["start_ms"]) - c
    return covered / 1e3, idle / 1e3
