#!/usr/bin/env python3
"""graft benchmark: one command for the timed (--trace 0) and the traced
(--trace 1) run of a workload.

    python3 perfbench/run.py --workload verbs --seed 1 --seconds 20 --trace 0

Run from the root of a graft checkout. The first run builds the library and
the harness with sbt (classpath cached under .bench_build/perfbench); every
run then starts one JVM, executes the seeded plan, checks every output
outside the timed interval, and prints one JSON line as the last line of
standard output. The full run record goes to
.bench_build/perfbench/records/. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from bench import check, layers, opgen, record  # noqa: E402

DEADLINE_S = 170          # every run exits well inside 180 s
BUILD_TIMEOUT_S = 700     # the first run in a checkout builds
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "src/main/**/*.scala", "src/main/**/*.java",
            "perfbench/build.sbt", "perfbench/project/*.properties",
            "perfbench/src/**/*.scala"]
    files = set()
    for p in pats:
        files.update(glob.glob(os.path.join(ROOT, p), recursive=True))
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(state_dir, digest, deadline):
    """Compile the library and the harness; returns the runtime classpath.
    Reuses the cached classpath while the sources are unchanged."""
    cp_file = os.path.join(state_dir, "classpath.txt")
    stamp = os.path.join(state_dir, "classpath.digest")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip(), False
    os.makedirs(state_dir, exist_ok=True)
    # the build resolves only from the local caches, as the Tier-1 command does
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx4g")
    log = os.path.join(state_dir, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 f"writeClasspath {cp_file}"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL,
                timeout=max(60, deadline - time.time())).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}", 3)
        except FileNotFoundError:
            fail("sbt is not on PATH", 3)
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (rc {rc}); see {log}", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return open(cp_file).read().strip(), True


def heap_gb():
    """The Tier-1 heap rule: half the machine's memory, clamped to 2..8 GB."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return min(8, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def cpu_count():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, main_args, work, heap, deadline):
    """Run the harness JVM with `main_args`, its scratch files under `work`."""
    cmd = ["java", f"-Xmx{heap}g", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dgraft.fixture.dir={work}/fixtures",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + list(main_args)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded its deadline; see {log}", 4)
    if rc != 0:
        tail = open(log, errors="replace").read()[-3000:]
        fail(f"harness exited with {rc}; see {log}\n{tail}", 4)


def check_outputs(result, expected, data_dir, out_dir):
    """Hash every kept output and compare with the expected hashes. Returns
    the names of keys whose output disagrees."""
    con = check.connect(data_dir)
    seen = {}
    bad = set()
    for o in result["ops"]:
        if o["kind"] != "query" or o["error"] is not None:
            continue
        rel = o["out"]
        if rel not in seen:
            exp = expected.get(o["key"])
            got = check.output_hash(con, os.path.join(out_dir, "outputs", rel))[0]
            seen[rel] = exp is not None and got == exp["hash"]
        o["check_ok"] = seen[rel]
        if not seen[rel]:
            bad.add(o["key"])
    return sorted(bad)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    with open(os.path.join(HERE, "workloads.json")) as fh:
        config = json.load(fh)
    spec = config["workloads"].get(args.workload)
    if spec is None:
        fail(f"unknown workload {args.workload!r}; known: {sorted(config['workloads'])}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources around {HERE}: run from the root of a graft checkout")

    state = os.path.join(ROOT, ".bench_build", "perfbench")
    digest = source_digest()
    cp, built = build(state, digest, t_start + BUILD_TIMEOUT_S)
    deadline = (time.time() if built else t_start) + DEADLINE_S

    data_dir = os.path.join(HERE, "data", config["sf"])
    work = os.path.join(state, "work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(work, "out")
    for d in (work, out_dir, os.path.join(work, "tmp")):
        os.makedirs(d, exist_ok=True)
    cpus = cpu_count()
    heap = heap_gb()
    plan = {"workload": args.workload, "seconds": args.seconds,
            "trace": bool(args.trace), "data": data_dir, "work": work,
            "out": out_dir, "cpus": cpus, "setups": spec["setups"]}
    plan.update(opgen.make_plan(args.workload, spec, args.seed,
                                config["rows"]["documents"], config["rows"]["embeddings"]))
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)

    try:
        t_jvm = time.time()
        run_jvm(cp, [plan_path], work, heap, deadline)
        jvm_s = time.time() - t_jvm
        with open(os.path.join(out_dir, "result.json")) as fh:
            result = json.load(fh)

        with open(os.path.join(HERE, "expected", f"{config['sf']}.json")) as fh:
            expected = json.load(fh)["keys"]
        bad_keys = check_outputs(result, expected, data_dir, out_dir)
        bad_checks = [c["name"] for c in result["checks"] if not c["ok"]]
        errors = sorted({o["key"] for o in result["ops"] if o["error"] is not None})
        attempted = len(result["ops"]) + len(result["checks"])
        failed = (sum(1 for o in result["ops"]
                      if o["error"] is not None or o.get("check_ok") is False)
                  + len(bad_checks))

        if args.trace:
            spans = _jsonl(os.path.join(out_dir, "spans.jsonl"))
            events = _jsonl(os.path.join(out_dir, "events.jsonl"))
            values = layers.per_layer(result, spans, events, spec["layer"], cpus,
                                      config["build_entries"])
            units = {m["name"]: m["unit"] for m in record.benchmark()["per_layer"]}
            metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
            notes = {}
        else:
            values, notes = layers.end_to_end(result)
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}

        notes["jvm_s"] = jvm_s
        rec = record.make(args, cpus, heap, config["sf"], digest, metrics, notes,
                          failed, attempted, errors + bad_keys + bad_checks,
                          result, time.time() - t_start)
        record.save(rec, os.path.join(state, "records"))
        if failed:
            print(f"perfbench: {failed}/{attempted} failed: "
                  f"{', '.join(errors + bad_keys + bad_checks)}", file=sys.stderr)
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _jsonl(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


if __name__ == "__main__":
    main()
