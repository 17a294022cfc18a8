#!/usr/bin/env python3
"""Count code lines per package under a source directory.

A code line is one that is not blank, does not start with `//`, and is
not inside a `/* ... */` block (scaladoc included); a block starts at a
line that begins with `/*` and ends at the line holding its `*/`.

    python3 scripts/loc.py [DIR]

DIR defaults to src/main/scala. Prints one `count  package` line per
directory that holds `.scala` files (its path below DIR, dots for slashes)
and a total line.
"""
import argparse
import collections
import os
import sys


def code_lines(text):
    """Number of code lines in one source text."""
    count = 0
    in_block = False
    for line in text.splitlines():
        s = line.strip()
        if in_block:
            in_block = "*/" not in s
        elif s.startswith("/*"):
            in_block = "*/" not in s
        elif s and not s.startswith("//"):
            count += 1
    return count


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dir", nargs="?", default="src/main/scala")
    args = ap.parse_args(argv)
    per_pkg = collections.Counter()
    for root, _, files in os.walk(args.dir):
        for name in files:
            if name.endswith(".scala"):
                with open(os.path.join(root, name), encoding="utf-8") as f:
                    pkg = os.path.relpath(root, args.dir).replace(os.sep, ".")
                    per_pkg[pkg] += code_lines(f.read())
    for pkg in sorted(per_pkg):
        print(f"{per_pkg[pkg]:7d}  {pkg}")
    print(f"{sum(per_pkg.values()):7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
