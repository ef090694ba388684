"""Statistics of one benchmark run: percentiles, span trees and self time.

Pure functions over the run record that `perfbench.Harness` writes, so
they can be tested without a JVM (see test_stats.py).

Span layers, outermost first. A job started while the query builder ran
belongs to `construct` (or to the `stream.batch` it overlaps, for the
streams a stream query's builder runs); any later job to `execute`.
"""
import math

LAYERS = ["query", "construct", "execute", "stream.batch", "job", "stage"]
DEPTH = {layer: i for i, layer in enumerate(LAYERS)}


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs, q=0.9, beyond=10):
    """The value at percentile `q`, or at the highest percentile that
    still has `beyond` samples above it when the run is too short for
    `q`. Nearest rank: the k-th smallest of n has n - k samples beyond.
    Returns (value, percentile used), or (nan, 0.0) below beyond + 1
    samples."""
    s = sorted(xs)
    n = len(s)
    k = min(math.ceil(q * n), n - beyond)
    if k < 1:
        return float("nan"), 0.0
    return s[k - 1], k / n


# a pass whose CPU steal exceeds the median pass's by more than this many
# percentage points is left out of the end-to-end metrics
STEAL_SLACK_PCT = 0.5


def quiet_passes(passes):
    """The passes whose CPU steal (`steal_pct`: the share of the host's
    CPU time given to other guests while the pass ran) is at most the
    median pass's plus STEAL_SLACK_PCT, so at least half of them. On a
    shared host a pass with a few percent of steal ran up to twice as long
    in every query, which says nothing about the program: all passes run
    the same work. The slack keeps every pass of a quiet run, since each
    pass left out is samples lost."""
    cut = median([p["steal_pct"] for p in passes]) + STEAL_SLACK_PCT
    return [p for p in passes if p["steal_pct"] <= cut]


def self_times(root, children):
    """Self time per layer under one root span.

    `root` is (layer, start, end); `children` maps a span to the spans it
    caused. Each instant of the root's interval is charged to the deepest
    span active then, so a layer's self time is its spans' time minus
    what their children cover, and the layers sum to the root's wall time
    exactly. A child is first clipped to its parent; the clipped-off time
    is returned as the second value, the attribution's slack.
    """
    spans, clipped = [], 0.0

    def walk(span, lo, hi):
        nonlocal clipped
        layer, start, end = span[:3]
        a, b = max(start, lo), min(end, hi)
        clipped += (end - start) - max(0.0, b - a)
        if b <= a:
            return
        spans.append((DEPTH[layer], layer, a, b))
        for c in children.get(span, ()):
            walk(c, a, b)

    walk(root, root[1], root[2])
    edges = sorted({t for _, _, a, b in spans for t in (a, b)})
    out = {layer: 0.0 for layer in LAYERS}
    for lo, hi in zip(edges, edges[1:]):
        active = [(d, layer) for d, layer, a, b in spans if a <= lo and b >= hi]
        if active:
            out[max(active)[1]] += hi - lo
    return out, clipped


def in_window(phase, lo, hi):
    """Whether a planning phase lies inside the window [lo, hi]. The
    window's ends are sub-millisecond harness times; the phase's are
    whole milliseconds of currentTimeMillis, so the window is widened to
    the whole milliseconds that hold its ends."""
    return math.floor(lo) <= phase["start_ms"] and phase["end_ms"] <= math.ceil(hi)


def owner_at(queries, t):
    """(pass, name) of the query whose window holds time `t`, or None.
    The client is closed-loop, so windows do not overlap."""
    for q in queries:
        if q["start_ms"] <= t <= q["end_ms"]:
            return q["pass"], q["name"]
    return None


def stream_owners(stream_runs, queries):
    """Stream run id -> the query whose builder started that stream."""
    return {r["run_id"]: owner_at(queries, r["start_ms"]) for r in stream_runs}


def attribute(jobs, queries, stream_runs):
    """Map each job id to the (pass, name) of the query that caused it.

    First by the job group the harness sets, `pb|<pass>|<name>`; then by
    the stream run id a stream's micro-batch jobs carry as their group,
    tied to the query whose window holds the run's start; then by the
    query window holding the job's start. Jobs outside every query stay
    unattributed (None)."""
    run_owner = stream_owners(stream_runs, queries)
    out = {}
    for j in jobs:
        g = j.get("group") or ""
        parts = g.split("|")
        if len(parts) == 3 and parts[0] == "pb" and parts[1].isdigit():
            out[j["id"]] = (int(parts[1]), parts[2])
        elif g in run_owner and run_owner[g] is not None:
            out[j["id"]] = run_owner[g]
        else:
            out[j["id"]] = owner_at(queries, j["start_ms"])
    return out


def span_tree(query, jobs, stages, batches):
    """Spans of one query: query -> construct/execute -> [stream.batch]
    -> job -> stage. Spans are (layer, start_ms, end_ms, id) tuples."""
    q = ("query", query["start_ms"], query["end_ms"], query["name"])
    c = ("construct", query["start_ms"], query["construct_end_ms"], query["name"])
    e = ("execute", query["construct_end_ms"], query["end_ms"], query["name"])
    children = {q: [c, e]}
    bs = [("stream.batch", b["start_ms"], b["start_ms"] + b["trigger_ms"], i)
          for i, b in enumerate(batches)]
    children[c] = list(bs)
    for j in jobs:
        js = ("job", j["start_ms"], j["end_ms"], j["id"])
        host = next((b for b in bs if b[1] <= j["start_ms"] < b[2]), None)
        if host is None:
            host = c if j["start_ms"] < query["construct_end_ms"] else e
        children.setdefault(host, []).append(js)
        children[js] = [("stage", s["submit_ms"], s["end_ms"], s["id"])
                        for s in stages.get(j["id"], ())]
    return q, children
