#!/usr/bin/env python3
"""Compare two run records (from .bench_build/perfbench/records/):

    python3 perfbench/compare.py BASE.json NEW.json

Prints new / base per metric. Refuses (exit 2) when the records differ in
CPU count, heap, scale factor, workload or trace mode."""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from bench import record  # noqa: E402


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    base, new = (json.load(open(p)) for p in sys.argv[1:])
    try:
        ratios = record.compare(base, new)
    except record.Incomparable as e:
        print(f"refusing to compare: {e}", file=sys.stderr)
        sys.exit(2)
    for name in sorted(ratios):
        print(f"{name:32s} {ratios[name]:8.3f}")


if __name__ == "__main__":
    main()
