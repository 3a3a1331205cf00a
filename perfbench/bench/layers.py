"""Metrics of one run, from the raw records the JVM harness writes.

End-to-end metrics come from an untraced run; per-layer metrics from a
traced run, which alternates untraced and traced passes (rounds, for
`store_churn`). Per-layer `*_s`, count and byte figures are means per
traced operation of the layer's operations, unless named otherwise."""
from . import stats

APPENDS = {"pair_append", "sig_append", "ivf_append"}
STORE_VERBS = ["pair_append", "pair_delete", "pair_labels", "pair_vacuum",
               "sig_append", "sig_delete", "sig_screen", "sig_vacuum",
               "ivf_append", "ivf_delete", "ivf_topk", "ivf_vacuum"]


def tail_percentile(values, p):
    """(value, qualified): the percentile by the MIN_BEYOND rule when the
    run holds enough samples; otherwise the nearest-rank value with at
    least one sample beyond it, flagged unqualified."""
    v = stats.percentile(values, p)
    if v is not None:
        return v, True
    xs = sorted(values)
    rank = min(stats.nearest_rank(p, len(xs)), max(1, len(xs) - 1))
    return xs[rank - 1], False


def end_to_end(result):
    ops = [o for o in result["ops"] if o["error"] is None]
    lat = [o["s"] for o in ops]
    p50, q50 = tail_percentile(lat, 0.5)
    p90, q90 = tail_percentile(lat, 0.9)
    passes = result["passes"]
    if result["workload"] == "store_churn":
        mix = sum(p["op_s"] for p in passes) / len(passes)
    else:
        mix = stats.median([p["op_s"] for p in passes])
    metrics = {
        "setup_s": (stats.median([s["s"] for s in result["setups"]]), "s"),
        "mix_s": (mix, "s"),
        "op_p50_s": (p50, "s"),
        "op_p90_s": (p90, "s"),
        "heap_peak_mb": (max(p["heap_mb"] for p in passes), "MB"),
    }
    notes = {"samples": len(lat), "p50_qualified": q50, "p90_qualified": q90,
             "passes": len(passes)}
    return metrics, notes


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _phase(spans_by_op, op, name):
    return sum(s["end_ns"] - s["start_ns"] for s in spans_by_op.get(op, [])
               if s["name"] == name) / 1e9


def per_layer(result, spans, events, construct_layer, cores, build_entries):
    """Every per-layer metric of BENCHMARK.json for one traced run. A layer
    the workload does not exercise reports 0. `construct_layer` names the
    module that constructs the workload's DataFrames: `operators` (keys of
    Queries, Rel and Tpch) or `functions` (Ext keys and the store verbs)."""
    traced = [o for o in result["ops"] if o["traced"] and o["error"] is None]
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    att = stats.attribute(events)
    empty = {k: 0 for k in ("jobs", "stages", "tasks", "run_s", "gc_s",
                            "shuffle_bytes", "spill_bytes", "in_bytes", "in_rows",
                            "out_bytes", "scan_task_s", "blocks_written",
                            "cache_bytes_peak", "cache_bytes_left", "construct_jobs",
                            "plan_strings", "plan_chars")}

    def a(o):
        return att.get(o["id"], empty)

    m = {}

    # construction, split by the module that builds the query
    for layer in ("operators", "functions"):
        mine = [o for o in traced if o["kind"] in ("query", "read") and layer == construct_layer]
        cons = [_phase(by_op, o["id"], "construct") for o in mine]
        m[f"{layer}.construct_s"] = _mean(cons)
        m[f"{layer}.construct_jobs"] = _mean([a(o)["construct_jobs"] for o in mine])
        if layer == "functions":
            total = sum(o["s"] for o in mine)
            m["functions.construct_share"] = sum(cons) / total if total else 0.0

    m["cache.blocks_written"] = _mean([a(o)["blocks_written"] for o in traced])
    m["cache.bytes_peak"] = max([a(o)["cache_bytes_peak"] for o in traced] or [0])
    m["cache.bytes_left"] = _mean([a(o)["cache_bytes_left"] for o in traced])

    planned = [o for o in traced if any(s["name"] == "plan" for s in by_op.get(o["id"], []))]
    m["planning.plan_s"] = _mean([_phase(by_op, o["id"], "plan") for o in planned])
    m["planning.explain_chars"] = _mean([a(o)["plan_chars"] for o in traced])
    m["planning.explain_s"] = _mean([o["explain_s"] for o in planned])

    wall = sum(o["s"] for o in traced)
    task_s = sum(a(o)["run_s"] for o in traced)
    m["execution.action_s"] = _mean([_phase(by_op, o["id"], "action") for o in planned])
    for k in ("jobs", "stages", "tasks"):
        m[f"execution.{k}"] = _mean([a(o)[k] for o in traced])
    m["execution.task_s"] = _mean([a(o)["run_s"] for o in traced])
    m["execution.cpu_util"] = stats.cpu_util(task_s, wall, cores)
    m["execution.shuffle_bytes"] = _mean([a(o)["shuffle_bytes"] for o in traced])
    m["execution.spill_bytes"] = _mean([a(o)["spill_bytes"] for o in traced])
    m["execution.gc_s"] = _mean([a(o)["gc_s"] for o in traced])

    m["sources.input_bytes"] = _mean([a(o)["in_bytes"] for o in traced])
    m["sources.input_rows"] = _mean([a(o)["in_rows"] for o in traced])
    m["sources.scan_task_s"] = _mean([a(o)["scan_task_s"] for o in traced])

    # stores: latencies over every round of the traced run
    all_ops = [o for o in result["ops"] if o["error"] is None]
    for verb in STORE_VERBS:
        m[f"stores.{verb}_s"] = stats.median([o["s"] for o in all_ops if o["key"] == verb]) or 0.0
    writes = [o for o in all_ops if o["kind"] == "write"]
    reads = [o for o in all_ops if o["kind"] == "read"]
    twrites = [o for o in traced if o["kind"] == "write"]
    m["stores.jobs_per_write"] = _mean([a(o)["jobs"] for o in twrites])
    m["stores.bytes_written"] = _mean([a(o)["out_bytes"] for o in twrites])
    for name, xs in (("write", writes), ("read", reads)):
        lat = [o["s"] for o in xs]
        m[f"stores.{name}_p50_s"] = tail_percentile(lat, 0.5)[0] if lat else 0.0
        m[f"stores.{name}_p90_s"] = tail_percentile(lat, 0.9)[0] if lat else 0.0
    m["stores.write_growth"] = write_growth([o for o in writes if o["key"] in APPENDS])
    grown = [a(o)["plan_chars"] for o in sorted(traced, key=lambda o: o["id"])
             if o["key"] == "pair_append"]
    m["stores.explain_growth"] = grown[-1] / grown[0] if len(grown) >= 2 and grown[0] else 0.0
    ub = result["extra"].get("user_bytes") or 0
    m["stores.space_amp"] = result["extra"].get("store_bytes", 0) / ub if ub else 0.0

    builds = result["extra"].get("builds") or {}
    for entry in build_entries:
        m[f"builds.{entry}_s"] = builds.get(entry, 0.0)
    m["builds.total_s"] = sum(builds.values())

    m["driver.heap_after_gc_mb"] = result["extra"].get("heap_after_gc_peak_mb", 0.0)
    m["driver.gc_s"] = _mean([o["gc_s"] for o in traced])

    m["trace.overhead"] = tracing_overhead(all_ops)
    cov = stats.coverage(spans)
    m["trace.coverage_min"] = min(cov.values()) if cov else 0.0
    return m


def write_growth(writes):
    """Median write latency of the last fifth of rounds / the first fifth
    (at least one round each; of the appends, which every round makes)."""
    rounds = sorted({o["pass"] for o in writes})
    if len(rounds) < 2:
        return 0.0
    k = max(1, len(rounds) // 5)
    first = [o["s"] for o in writes if o["pass"] in rounds[:k]]
    last = [o["s"] for o in writes if o["pass"] in rounds[-k:]]
    return stats.median(last) / stats.median(first)


def tracing_overhead(ops):
    """Median over operation keys of (median traced latency / median
    untraced latency), minus one: how much slower tracing made the same
    operations within one traced run."""
    ratios = []
    for key in sorted({o["key"] for o in ops}):
        t = [o["s"] for o in ops if o["key"] == key and o["traced"]]
        u = [o["s"] for o in ops if o["key"] == key and not o["traced"]]
        if t and u:
            ratios.append(stats.median(t) / stats.median(u))
    return stats.median(ratios) - 1 if ratios else 0.0
