#!/usr/bin/env python3
"""Report blocks of code that are copied between places in the main tree.

Prints every run of 5 or more identical non-comment lines under src/main
(SparkEntry.scala, Bench.scala and Verify.scala excluded), then the number of
lines in such runs. Lines are compared with leading and trailing whitespace
removed; blank, comment, import and package lines are skipped, so a run may
span them. A line counts when it lies inside some window of 5 consecutive
compared lines that occurs at least twice (in one file or across files).

Usage: python3 tools/dupblocks.py [ROOT]   (ROOT defaults to the repo root)
"""
import collections
import os
import sys

WINDOW = 5
EXCLUDED = {"SparkEntry.scala", "Bench.scala", "Verify.scala"}


def code_lines(path):
    """(line number, stripped text) of every non-blank, non-comment line."""
    out, in_block = [], False
    with open(path, encoding="utf-8") as f:
        for n, raw in enumerate(f, 1):
            s = raw.strip()
            if in_block:
                if "*/" in s:
                    in_block = False
                continue
            if not s or s.startswith(("//", "import ", "package ")):
                continue
            if s.startswith("/*"):
                in_block = "*/" not in s
                continue
            out.append((n, s))
    return out


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), "..")
    src = os.path.join(root, "src", "main")
    files = {}
    for d, _, names in os.walk(src):
        for name in sorted(names):
            if name.endswith(".scala") and name not in EXCLUDED:
                p = os.path.join(d, name)
                files[os.path.relpath(p, root)] = code_lines(p)

    seen = collections.defaultdict(list)
    for rel, lines in files.items():
        for i in range(len(lines) - WINDOW + 1):
            seen[tuple(s for _, s in lines[i:i + WINDOW])].append((rel, i))

    marked = collections.defaultdict(set)
    for places in seen.values():
        if len(places) > 1:
            for rel, i in places:
                marked[rel].update(range(i, i + WINDOW))

    total = 0
    for rel in sorted(marked):
        lines, idx = files[rel], sorted(marked[rel])
        start = prev = idx[0]
        for i in idx[1:] + [None]:
            if i is not None and i == prev + 1:
                prev = i
                continue
            n = prev - start + 1
            total += n
            print(f"{rel}:{lines[start][0]}-{lines[prev][0]}  {n} lines  {lines[start][1][:70]}")
            if i is not None:
                start = prev = i
    print(f"total: {total} duplicated non-comment lines")


if __name__ == "__main__":
    main()
