#!/usr/bin/env python3
"""Rewrite the numbers of BASELINE.md's round-5 rehearsal table from JSON.

Each row `| rNN | headline | control | normalized | battery | window |`
of the "Round-5 full-protocol rehearsals at a glance" table takes its
numeric cells from `bench_trials/bench_rNN.json`:

    headline    scaling.efficiency             (-1 stays -1)
    control     scaling.control_efficiency     (-1 shows as an em dash)
    normalized  scaling.normalized_efficiency  (-1 shows as an em dash)
    battery     value, in seconds to one decimal

Ratios print with three decimals. A cell's bold markers and the row's
window note are kept as written.

    python3 scripts/rehearsal_table.py [--check] [--baseline FILE] [--trials DIR]

Without --check the file is rewritten in place and the changed rows are
printed. With --check nothing is written; the exit status is 1 when a
cell differs from its JSON (each such row is printed) and 0 otherwise.
"""
import argparse
import json
import os
import sys

TABLE = "### Round-5 full-protocol rehearsals at a glance"
DASH = "—"


def ratio(x, missing):
    return missing if x == -1 else f"{x:.3f}"


def cells(artifact):
    """The four numeric cells of one artifact, in table order."""
    s = artifact["scaling"]
    return [ratio(s["efficiency"], "-1"),
            ratio(s["control_efficiency"], DASH),
            ratio(s["normalized_efficiency"], DASH),
            f"{artifact['value']:.1f} s"]


def restyle(old, new):
    """`new` with the bold markers of the cell text `old`."""
    return f"**{new}**" if old.startswith("**") and old.endswith("**") else new


def rewrite_row(line, trials):
    """The row with its numeric cells from its artifact; rows of runs
    without an artifact are returned unchanged."""
    parts = line.split("|", 6)
    run = parts[1].strip()
    path = os.path.join(trials, f"bench_{run}.json")
    if not os.path.exists(path):
        return line
    with open(path) as f:
        fresh = cells(json.load(f))
    for k, new in enumerate(fresh, start=2):
        parts[k] = f" {restyle(parts[k].strip(), new)} "
    return "|".join(parts)


def rewrite(text, trials):
    lines = text.split("\n")
    start = lines.index(TABLE)
    i = start + 1
    while not lines[i].startswith("| run "):
        i += 1
    i += 2  # header and separator
    while i < len(lines) and lines[i].startswith("| r"):
        lines[i] = rewrite_row(lines[i], trials)
        i += 1
    return "\n".join(lines)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--check", action="store_true",
                    help="write nothing; exit 1 when a cell drifted")
    ap.add_argument("--baseline", default="BASELINE.md")
    ap.add_argument("--trials", default="bench_trials")
    args = ap.parse_args(argv)
    with open(args.baseline, encoding="utf-8") as f:
        text = f.read()
    new = rewrite(text, args.trials)
    changed = [(a, b) for a, b in zip(text.split("\n"), new.split("\n")) if a != b]
    for a, b in changed:
        print(f"- {a}\n+ {b}")
    if args.check:
        return 1 if changed else 0
    if changed:
        with open(args.baseline, "w", encoding="utf-8") as f:
            f.write(new)
    print(f"{len(changed)} row(s) rewritten", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
