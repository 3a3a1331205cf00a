#!/usr/bin/env python3
"""Regenerate perfbench/expected/<sf>.json: the expected-output hash of every
key the benchmark may run (all keys of Queries, Rel and Tpch, and the Ext
keys listed under `expected_ext` in workloads.json).

    python3 perfbench/tools/gen_expected.py

Runs each key once through the harness, then runs the key's
`SparkEntry.oracleSql` through DuckDB over the same data and hashes both
results with the normalisation of tools/oracle_check.py (bench/check.py).
The expected hash is the oracle's; a key without oracle SQL gets the hash of
its Spark output. A key whose Spark output disagrees with its oracle keeps
the oracle hash, is flagged `oracle_agrees: false`, and is listed on stderr:
the benchmark then counts it as failed and names it.
"""
import json
import os
import shutil
import sys
import time

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, PERFBENCH)

import run  # noqa: E402
from bench import check  # noqa: E402


def main():
    with open(os.path.join(PERFBENCH, "workloads.json")) as fh:
        config = json.load(fh)
    state = os.path.join(run.ROOT, ".bench_build", "perfbench")
    cp, _ = run.build(state, run.source_digest(), time.time() + run.BUILD_TIMEOUT_S)
    work = os.path.join(state, "work", "gen-expected")
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "out")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out)
    heap = run.heap_gb()
    deadline = time.time() + 3600

    reg_path = os.path.join(work, "registry.json")
    run.run_jvm(cp, ["--registry", reg_path], work, heap, deadline)
    with open(reg_path) as fh:
        registry = json.load(fh)
    keys = registry["core"] + registry["rel"] + registry["tpch"] + config["expected_ext"]

    data_dir = os.path.join(PERFBENCH, "data", config["sf"])
    plan = {"workload": "expected", "seconds": 1e9, "trace": False, "data": data_dir,
            "work": work, "out": out, "cpus": run.cpu_count(), "setups": 1,
            "warmup": [], "passes": [keys], "max_passes": 1, "traced_passes": [False]}
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)
    run.run_jvm(cp, [plan_path], work, heap, deadline)
    with open(os.path.join(out, "result.json")) as fh:
        result = json.load(fh)

    con = check.connect(data_dir)
    expected, disagree = {}, []
    for o in result["ops"]:
        if o["error"] is not None:
            disagree.append(f"{o['key']}: threw {o['error']}")
            continue
        got, rows = check.output_hash(con, os.path.join(out, "outputs", o["out"]))
        sql = registry["oracle"].get(o["key"])
        if sql is None:
            expected[o["key"]] = {"hash": got, "rows": rows, "source": "spark",
                                  "oracle_agrees": None}
            continue
        want, want_rows = check.result_hash(con, sql)
        expected[o["key"]] = {"hash": want, "rows": want_rows, "source": "oracle",
                              "oracle_agrees": got == want}
        if got != want:
            disagree.append(f"{o['key']}: spark {rows} rows, oracle {want_rows} rows")

    path = os.path.join(PERFBENCH, "expected", f"{config['sf']}.json")
    with open(path, "w") as fh:
        json.dump({"sf": config["sf"], "keys": dict(sorted(expected.items()))}, fh, indent=1)
        fh.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    print(f"wrote {len(expected)} keys to {os.path.relpath(path, run.ROOT)}")
    for d in disagree:
        print(f"oracle disagrees: {d}", file=sys.stderr)


if __name__ == "__main__":
    main()
