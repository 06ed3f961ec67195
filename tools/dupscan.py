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

With --where it prints, instead, one block per duplicated run: the run's
length in code lines and each place it occurs (file:first-last line), so
the copies of a family can be found. Overlapping windows that occur at
the same set of places are merged into one run.

Usage: python3 tools/dupscan.py [--where] [root]   (default: src/main)
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


def runs(places, files):
    """Merge the duplicated windows into maximal runs: consecutive window
    starts that keep the same number of places, each place advancing by
    one code line. Yields (length in code lines, [(path, first, last)])."""
    dup = {(p, i): locs for locs in places.values() if len(locs) > 1
           for p, i in locs}
    seen = set()
    for p, i in sorted(dup):
        if (p, i) in seen:
            continue
        locs = sorted(dup[(p, i)])
        if any((q, j - 1) in dup and len(dup[(q, j - 1)]) == len(locs)
               for q, j in locs):
            continue
        n = 1
        while all((q, j + n) in dup and len(dup[(q, j + n)]) == len(locs)
                  for q, j in locs):
            n += 1
        for q, j in locs:
            seen.update((q, j + k) for k in range(n))
        yield n + WINDOW - 1, [(q, files[q][j][0], files[q][j + n + WINDOW - 2][0])
                               for q, j in locs]


def main():
    args = sys.argv[1:]
    where = "--where" in args
    args = [a for a in args if a != "--where"]
    root = args[0] if args else "src/main"
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
    if where:
        for n, locs in sorted(runs(places, files), key=lambda r: -r[0]):
            print(f"{n} code lines at {len(locs)} places")
            for q, a, b in locs:
                print(f"    {os.path.relpath(q, root)}:{a}-{b}")
        return
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
