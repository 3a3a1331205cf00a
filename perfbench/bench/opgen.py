"""Seeded operation generator. The seed fixes each pass's key order and, for
`store_churn`, the initial slice, every batch, delete set and probe, and the
inputs of the final check. The JVM harness sees only the plan this module
writes."""
import random

PASSES = 64


def query_passes(keys, seed, passes=PASSES):
    """`passes` independent seeded permutations of the workload's keys."""
    rng = random.Random(f"passes:{seed}")
    out = []
    for _ in range(passes):
        order = list(keys)
        rng.shuffle(order)
        out.append(order)
    return out


def churn_plan(spec, seed, n_docs, n_vecs):
    """Store batches for `store_churn` over doc ids and vector ids
    0..n-1: a warm-up round (appends and reads, run during setup) and
    `rounds` timed rounds. Adds come from ids never used before; deletes
    from the live set; every `delete_every`-th timed round deletes, every
    `vacuum_every`-th vacuums."""
    rng = random.Random(f"churn:{seed}")
    doc_pool = list(range(n_docs))
    vec_pool = list(range(n_vecs))
    rng.shuffle(doc_pool)
    rng.shuffle(vec_pool)
    init_docs = sorted(doc_pool[:spec["init_docs"]])
    init_vecs = sorted(vec_pool[:spec["init_vecs"]])
    doc_next, vec_next = spec["init_docs"], spec["init_vecs"]
    live_docs, live_vecs = list(init_docs), list(init_vecs)
    rounds = []
    for r in range(spec["rounds"] + 1):
        add_docs = sorted(doc_pool[doc_next:doc_next + spec["batch_docs"]])
        add_vecs = sorted(vec_pool[vec_next:vec_next + spec["batch_vecs"]])
        doc_next += spec["batch_docs"]
        vec_next += spec["batch_vecs"]
        live_docs += add_docs
        live_vecs += add_vecs
        del_docs, del_vecs = [], []
        if r > 0 and r % spec["delete_every"] == 0:
            del_docs = sorted(rng.sample(live_docs, spec["delete_docs"]))
            del_vecs = sorted(rng.sample(live_vecs, spec["delete_vecs"]))
            live_docs = [d for d in live_docs if d not in set(del_docs)]
            live_vecs = [v for v in live_vecs if v not in set(del_vecs)]
        rounds.append({
            "add_docs": add_docs, "add_vecs": add_vecs,
            "del_docs": del_docs, "del_vecs": del_vecs,
            "probe_docs": sorted(rng.sample(range(n_docs), spec["probe_docs"])),
            "query_vecs": sorted(rng.sample(live_vecs, spec["query_vecs"])),
            "vacuum": r > 0 and r % spec["vacuum_every"] == 0,
        })
    if doc_next > n_docs or vec_next > n_vecs:
        raise ValueError("store_churn spec needs more rows than the data has")
    # the final check screens and queries these against the churned stores
    # and against stores rebuilt from the survivors
    return {"init_docs": init_docs, "init_vecs": init_vecs,
            "warmup_round": rounds[0], "rounds": rounds[1:],
            "check_docs": sorted(rng.sample(range(n_docs), spec["check_docs"])),
            "check_vecs": sorted(rng.sample(live_vecs, spec["check_vecs"]))}


def make_plan(workload, spec, seed, n_docs=None, n_vecs=None):
    """The seeded part of a plan: everything the seed decides, and which
    passes a traced run traces (every other one; for store_churn rounds
    1, 3, 5, ..., so that the first and last of an odd count are traced)."""
    if workload == "store_churn":
        return {"churn": dict(churn_plan(spec, seed, n_docs, n_vecs),
                              **{k: spec[k] for k in
                                 ("ivf_cells", "ivf_probe", "top_k", "vacuum_keep")}),
                "max_passes": spec["rounds"],
                "traced_passes": [p % 2 == 0 for p in range(spec["rounds"])]}
    return {"warmup": list(spec["warmup"]), "passes": query_passes(spec["keys"], seed),
            "max_passes": PASSES, "traced_passes": [p % 2 == 1 for p in range(PASSES)]}
