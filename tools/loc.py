#!/usr/bin/env python3
"""Print the size of each source file given on the command line.

Usage: python3 tools/loc.py PATH...

A PATH that is a directory stands for every `*.scala` file under it,
in path order. One line per file: the `wc -l` line count, then the
count of code lines, which are the non-blank lines whose first
non-space characters are not `//`, `*` or `/**` (line comments and
scaladoc bodies do not count). A `total` line follows when more than
one file is counted.
"""
import os
import sys


def count(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    lines = text.count("\n")
    code = 0
    for line in text.splitlines():
        s = line.lstrip()
        if s and not s.startswith(("//", "*", "/**")):
            code += 1
    return lines, code


def expand(path):
    if not os.path.isdir(path):
        return [path]
    found = []
    for root, _, names in os.walk(path):
        found.extend(os.path.join(root, n) for n in names if n.endswith(".scala"))
    return sorted(found)


def main(args):
    if not args:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    paths = [p for a in args for p in expand(a)]
    totals = [0, 0]
    for p in paths:
        lines, code = count(p)
        totals[0] += lines
        totals[1] += code
        print(f"{lines:7d} {code:7d} {p}")
    if len(paths) > 1:
        print(f"{totals[0]:7d} {totals[1]:7d} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
