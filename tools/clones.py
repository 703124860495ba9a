#!/usr/bin/env python3
"""Count copied lines in a source tree.

Every *.scala file under DIR is read as a sequence of code lines: blank
lines and comment lines (starting with //, /* or *) are skipped, and each
remaining line has its whitespace collapsed. A window is 6 consecutive code
lines of one file. Files are visited in path order; a window whose text was
already seen earlier (in another file, or earlier in the same file) is a
copy, and its 6 lines are redundant. A line covered by several copies counts
once.

Prints one line per file with redundant lines, "<count> <path>", largest
first, then "<total> TOTAL".

Usage: python3 tools/clones.py <dir>
"""
import os
import re
import sys

WINDOW = 6


def code_lines(path):
    out = []
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            s = re.sub(r"\s+", " ", line).strip()
            if not s or s.startswith(("//", "/*", "*")):
                continue
            out.append(s)
    return out


def main():
    if len(sys.argv) != 2:
        sys.exit("usage: clones.py <dir>")
    root = sys.argv[1]
    paths = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".scala")
    )
    seen = set()
    counts = {}
    for path in paths:
        lines = code_lines(path)
        redundant = set()
        for i in range(len(lines) - WINDOW + 1):
            key = "\n".join(lines[i:i + WINDOW])
            if key in seen:
                redundant.update(range(i, i + WINDOW))
            else:
                seen.add(key)
        if redundant:
            counts[path] = len(redundant)
    for path, n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{n} {os.path.relpath(path, root)}")
    print(f"{sum(counts.values())} TOTAL")


if __name__ == "__main__":
    main()
