#!/usr/bin/env python3
"""The repo's two tracked size numbers, counted one way.

Usage: python3 tools/code_lines.py [repo root, default: this file's repo]

Prints:
  - the code lines of each of the five store files and their sum: the
    lines that are not blank and do not start (after indentation) with
    `//`, `/*` or `*`, so comments and scaladoc are not counted;
  - the raw line count of every `src/main/**/*.scala` file (the
    "non-test Scala" number), blank lines and comments included.
"""
import os
import sys

STORE_FILES = ["StoreCommit", "PairStore", "SignatureStore", "IvfIndex", "ModelStore"]
STORE_DIR = os.path.join("src", "main", "scala", "graft", "functions")


def code_lines(path):
    with open(path, encoding="utf-8") as f:
        return sum(1 for line in f
                   if line.strip() and not line.lstrip().startswith(("//", "/*", "*")))


def raw_lines(path):
    with open(path, encoding="utf-8") as f:
        return sum(1 for _ in f)


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else \
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    total = 0
    for name in STORE_FILES:
        n = code_lines(os.path.join(root, STORE_DIR, name + ".scala"))
        total += n
        print(f"{name}.scala code lines: {n}")
    print(f"store files code lines: {total}")
    raw = 0
    for d, _, files in os.walk(os.path.join(root, "src", "main")):
        raw += sum(raw_lines(os.path.join(d, f)) for f in files if f.endswith(".scala"))
    print(f"src/main Scala raw lines: {raw}")


if __name__ == "__main__":
    main()
