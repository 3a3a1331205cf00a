"""Run records, and the comparison step that refuses to compare records
taken under different CPU counts, heaps or data."""
import json
import os
import subprocess
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)

# Records that differ in any of these are not comparable.
ANCHOR_KEYS = ("cpus", "heap_gb", "sf")


def benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def commit():
    """The checkout's git commit, or None outside a git repository."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def make(args, cpus, heap_gb, sf, digest, metrics, notes, failed, attempted,
         failing, result, wall_s):
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "commit": commit(), "source_digest": digest,
        "cpus": cpus, "heap_gb": heap_gb, "sf": sf, "sf_dir": f"perfbench/data/{sf}",
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "wall_s": wall_s, "attempted": attempted, "failed": failed,
        "fail_ratio": failed / attempted if attempted else 0.0,
        "failing": failing, "metrics": metrics, "notes": notes,
        "setups": result["setups"], "passes": result["passes"],
        "checks": result["checks"], "extra": result["extra"],
        "ops": [{k: o[k] for k in ("pass", "key", "kind", "s", "error")}
                for o in result["ops"]],
    }


def save(rec, directory):
    os.makedirs(directory, exist_ok=True)
    name = f"{rec['workload']}-seed{rec['seed']}-trace{rec['trace']}.json"
    with open(os.path.join(directory, name), "w") as fh:
        json.dump(rec, fh, indent=1)


class Incomparable(ValueError):
    pass


def compare(base, new):
    """Metric name -> new / base for two records of one workload and trace
    mode. Raises Incomparable when the records' anchors differ."""
    for k in ANCHOR_KEYS + ("workload", "trace"):
        if base.get(k) != new.get(k):
            raise Incomparable(f"{k} differs: {base.get(k)!r} vs {new.get(k)!r}")
    out = {}
    for name, m in new["metrics"].items():
        b = base["metrics"].get(name)
        if b is not None and b["value"]:
            out[name] = m["value"] / b["value"]
    return out
