"""The benchmark's arithmetic: percentiles, span self time, attribution of
Spark listener events to operations, and CPU utilisation."""
import fractions
import math
import statistics

# A percentile is reported only when at least this many samples lie beyond
# it, so that one outlier cannot set it.
MIN_BEYOND = 10


def nearest_rank(p, n):
    """1-based nearest rank of the p-th percentile among n samples, in
    exact arithmetic (0.9 * 100 is 90, not 90.00000000000001)."""
    return max(1, math.ceil(fractions.Fraction(str(p)) * n))


def percentile(values, p, min_beyond=MIN_BEYOND):
    """Nearest-rank p-th percentile (0 < p < 1) of `values`, or None when
    fewer than `min_beyond` samples lie beyond it (p90 needs 100)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None
    rank = nearest_rank(p, n)
    if n - rank < min_beyond:
        return None
    return xs[rank - 1]


def median(values):
    return statistics.median(values) if values else None


def self_times(spans):
    """Span id -> self seconds: the span's duration minus the time covered
    by its children (overlapping children are counted once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0
        end = s["start_ns"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo = max(c["start_ns"], end, s["start_ns"])
            hi = min(c["end_ns"], s["end_ns"])
            if hi > lo:
                covered += hi - lo
            end = max(end, hi)
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def coverage(spans):
    """Op id -> share of its root span covered by the root's children (the
    `construct`, `plan` and `action` phases, or a write's store-verb span):
    one minus the root's self time over its duration."""
    own = self_times(spans)
    out = {}
    for s in spans:
        if s["parent"] == -1:
            wall = (s["end_ns"] - s["start_ns"]) / 1e9
            out[s["op"]] = 1.0 - own[s["id"]] / wall if wall > 0 else 1.0
    return out


def attribute(events):
    """Attribute listener events to operations.

    Jobs and stages carry the op id from the local property the harness
    sets (`op` field, -1 when unset); a task belongs to its stage's op.
    Cached-block updates and plan descriptions carry no properties, so they
    belong to the op whose boundary marks enclose them on the bus; a job
    that starts before the op's `construct_end` mark ran during
    construction.

    Returns op id -> dict of jobs, stages, tasks, task sums and cache
    figures. Events of op -1 (work outside any operation) are dropped."""
    ops = {}
    stage_op = {}

    def acc(op):
        return ops.setdefault(op, {
            "jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0,
            "gc_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0, "in_bytes": 0,
            "in_rows": 0, "out_bytes": 0, "scan_task_s": 0.0,
            "blocks_written": 0, "cache_bytes_peak": 0, "cache_bytes_left": 0,
            "construct_jobs": 0, "plan_strings": 0, "plan_chars": 0})

    live = {}
    current = -1
    constructing = set()
    for e in events:
        ev = e["ev"]
        if ev == "op_start":
            current = e["op"]
            constructing.add(current)
            peak = sum(live.values())
            acc(current)["cache_bytes_peak"] = peak
        elif ev == "construct_end":
            constructing.discard(e["op"])
        elif ev == "op_end":
            constructing.discard(e["op"])
            a = acc(e["op"])
            a["cache_bytes_left"] = sum(live.values())
            current = -1
        elif ev == "block":
            if e["valid"]:
                live[e["block"]] = e["bytes"]
            else:
                live.pop(e["block"], None)
            if current >= 0:
                a = acc(current)
                if e["valid"]:
                    a["blocks_written"] += 1
                a["cache_bytes_peak"] = max(a["cache_bytes_peak"], sum(live.values()))
        elif ev == "plan_string":
            if current >= 0:
                a = acc(current)
                a["plan_strings"] += 1
                a["plan_chars"] += e["chars"]
        elif ev == "job":
            for s in e["stages"]:
                stage_op.setdefault(s, e["op"])
            if e["op"] >= 0:
                acc(e["op"])["jobs"] += 1
                if e["op"] in constructing:
                    acc(e["op"])["construct_jobs"] += 1
        elif ev == "stage":
            op = e["op"] if e["op"] >= 0 else stage_op.get(e["stage"], -1)
            stage_op[e["stage"]] = op
            if op >= 0:
                acc(op)["stages"] += 1
        elif ev == "task":
            op = stage_op.get(e["stage"], -1)
            if op < 0:
                continue
            a = acc(op)
            a["tasks"] += 1
            for k in ("run_s", "gc_s", "shuffle_bytes", "spill_bytes",
                      "in_bytes", "in_rows", "out_bytes"):
                a[k] += e[k]
            if e["in_rows"] > 0:
                a["scan_task_s"] += e["run_s"]
    ops.pop(-1, None)
    return ops


def cpu_util(task_seconds, wall_seconds, cores):
    """Task seconds per available core-second: task-s / (wall x cores)."""
    if wall_seconds <= 0 or cores <= 0:
        return 0.0
    return task_seconds / (wall_seconds * cores)
