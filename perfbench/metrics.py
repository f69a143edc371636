"""Pure functions that turn the load generator's run record into metrics.

Kept free of I/O so the tests can exercise them directly.
"""
import statistics

TAIL_SAMPLES = 10
# A figure below this percentile is not reported as a tail: with n
# samples the rule gives percentile 100 * (n - TAIL_SAMPLES) / n, which
# reaches it only from 100 samples on.
TAIL_MIN_PCT = 90.0


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values):
    """The highest percentile with at least TAIL_SAMPLES samples above it.

    Returns (value, percentile, sample count). With n sorted samples the
    (n - TAIL_SAMPLES)-th smallest has exactly TAIL_SAMPLES samples above
    it, so it sits at percentile 100 * (n - TAIL_SAMPLES) / n. With too
    few samples for any such percentile the maximum is returned, marked
    as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    k = n - TAIL_SAMPLES
    if k < 1:
        return xs[-1], 100.0, n
    return xs[k - 1], 100.0 * k / n, n


def lateness(deliveries):
    """How late the open-loop generator ran: seconds between each batch's
    due time and the moment it was delivered (never negative)."""
    return [max(0.0, (d["done_ms"] - d["due_ms"]) / 1000) for d in deliveries]


def freshness(deliveries, ticks):
    """Seconds from each batch's due time until the end of the first
    ingest tick that had the batch visible when it started, i.e. the
    tick whose return made it readable. Batches that no tick committed
    are left out."""
    out = []
    done = sorted(ticks, key=lambda t: t["end_ms"])
    for d in deliveries:
        for t in done:
            if t["committed"] > d["batch"]:
                out.append((t["end_ms"] - d["due_ms"]) / 1000)
                break
    return out


def clip_to_parents(spans):
    """Clip each span to its parent's interval, parents first, so that
    self times sum to the root spans' wall time even when Spark's
    millisecond timestamps put a child slightly outside its parent."""
    by_id = {s["id"]: s for s in spans}
    done = {}

    def clip(s):
        if s["id"] in done:
            return done[s["id"]]
        p = by_id.get(s["parent"])
        if p is None:
            c = dict(s)
        else:
            pc = clip(p)
            lo = min(max(s["start_ms"], pc["start_ms"]), pc["end_ms"])
            c = dict(s, start_ms=lo, end_ms=max(lo, min(s["end_ms"], pc["end_ms"])))
        done[s["id"]] = c
        return c
    return [clip(s) for s in spans]


def self_times(spans):
    """Self time of each span, in milliseconds: the time in which it is
    the innermost open span of its tree (the latest-started one where
    siblings overlap). This is its duration minus the part its children
    cover, and the self times of a tree sum to its root's duration even
    when concurrent children overlap. Spans are dicts with id, parent,
    start_ms and end_ms, already clipped to their parents."""
    by_id = {s["id"]: s for s in spans}
    depth = {}

    def depth_of(s):
        if s["id"] not in depth:
            p = by_id.get(s["parent"])
            depth[s["id"]] = 0 if p is None else depth_of(p) + 1
        return depth[s["id"]]

    out = {s["id"]: 0.0 for s in spans}
    trees = {}
    for s in spans:
        r = s
        while by_id.get(r["parent"]) is not None:
            r = by_id[r["parent"]]
        trees.setdefault(r["id"], []).append(s)
    for members in trees.values():
        cuts = sorted({t for s in members for t in (s["start_ms"], s["end_ms"])})
        for a, b in zip(cuts, cuts[1:]):
            open_ = [s for s in members if s["start_ms"] <= a and s["end_ms"] >= b]
            if open_:
                top = max(open_, key=lambda s: (depth_of(s), s["start_ms"]))
                out[top["id"]] += b - a
    return out
