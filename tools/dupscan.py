#!/usr/bin/env python3
"""Count the lines of src/main that sit in duplicated code windows.

A window is four consecutive code lines of one file, where a code line is
a non-blank line that is neither a comment (`//`, `/*`, `*`) nor starts
with a string literal, plain, interpolated (`s"`) or opening a
parenthesised expression (`("`, `(s"`), so the DuckDB oracle SQL is left
out. Lines are compared with their indentation stripped. A window counts
when its four lines total at least 100 characters and it occurs at two or
more places.
The result is the number of distinct code lines covered by such windows,
per file and in total.

Usage: python3 tools/dupscan.py [root]   (default: src/main)
"""
import os
import re
import sys
from collections import defaultdict

WINDOW = 4
MIN_CHARS = 100
COMMENT = ("//", "/*", "*")
STRING_START = re.compile(r'\(?[a-z]*"')


def code_lines(path):
    out = []
    with open(path, encoding="utf-8") as f:
        for no, raw in enumerate(f, 1):
            s = raw.strip()
            if not s or s.startswith(COMMENT) or STRING_START.match(s):
                continue
            out.append((no, s))
    return out


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main"
    files = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith((".scala", ".java")):
                p = os.path.join(d, n)
                files[p] = code_lines(p)
    places = defaultdict(list)
    for p, lines in files.items():
        for i in range(len(lines) - WINDOW + 1):
            w = tuple(s for _, s in lines[i:i + WINDOW])
            if sum(map(len, w)) >= MIN_CHARS:
                places[w].append((p, i))
    covered = defaultdict(set)
    for locs in places.values():
        if len(locs) > 1:
            for p, i in locs:
                covered[p].update(no for no, _ in files[p][i:i + WINDOW])
    total = 0
    for p in sorted(covered):
        print(f"{len(covered[p]):6d}  {os.path.relpath(p, root)}")
        total += len(covered[p])
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main()
