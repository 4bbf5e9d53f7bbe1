#!/usr/bin/env python3
"""Compare the plans of two `graft.Explain` dumps, entry by entry.

Usage: python3 tools/plan_diff.py <explainA> <explainB> [names...]

A dump is the stdout of `runMain graft.Explain <sfDir> <names...>`: one
`===== <name> =====` header per entry, followed by its formatted plan. A
file without headers is one entry named after the file, minus a
`_before`/`_after` suffix (the `plans/<round>/<q>_before.txt` layout).

Ids that differ between runs of the same plan are masked before comparing:
expression ids (`#123`, `#123L`), `[plan_id=…]`, RDD ids
(`MapPartitionsRDD[8]`), the source lines of RDD call sites
(`Memos.scala:51`), object identity hashes (`UnsafeArrayData@582dcbb3`),
the per-run numeric suffix of scratch outputs
(`/tmp/graft-io/orders_part_39121450542178`) and the JVM-wide counter in
lambda variable names (`lambda x_17#`, numbered by how many lambdas the
process built before).
sbt's own `[info]`/`[warn]`/`[error]`/`[success]` lines are ignored.

Prints one `equal` / `DIFFERS` / `MISSING` line per entry (all entries of
both dumps when no names are given) and, for a difference, a unified diff
of the masked plans. Exits 1 on any difference or missing entry.
"""
import difflib
import os
import re
import sys

HEADER = re.compile(r"^===== (\S+) =====$")
SBT_LINE = re.compile(r"^\[(info|warn|error|success)\]")
MASKS = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id]"),
    (re.compile(r"(\w*RDD)\[\d+\]"), r"\1[]"),
    (re.compile(r"(\.scala):\d+"), r"\1:_"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@_"),
    (re.compile(r"(/graft-io/\w+?)_\d{6,}\b"), r"\1_N"),
    (re.compile(r"(lambda \w+?)_\d+#"), r"\1_N#"),
]


def mask(line):
    for pat, rep in MASKS:
        line = pat.sub(rep, line)
    return line.rstrip()


def entries(path):
    stem = re.sub(r"_(before|after)$", "", os.path.splitext(os.path.basename(path))[0])
    out, lines = {}, []  # lines before the first header belong to no entry
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                lines = out[m.group(1)] = []
            elif not SBT_LINE.match(line):
                lines.append(mask(line))
    if not out:
        out[stem] = lines
    # blank lines around a plan are layout, not plan
    for lines in out.values():
        while lines and not lines[-1]:
            lines.pop()
        while lines and not lines[0]:
            lines.pop(0)
    return out


def main(argv):
    if len(argv) < 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = entries(argv[1]), entries(argv[2])
    names = argv[3:] or sorted(set(a) | set(b))
    bad = 0
    for n in names:
        if n not in a or n not in b:
            side = "both" if n not in a and n not in b else "left" if n not in a else "right"
            print(f"MISSING  {n} ({side})")
            bad += 1
        elif a[n] == b[n]:
            print(f"equal    {n}")
        else:
            print(f"DIFFERS  {n}")
            sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                a[n], b[n], argv[1], argv[2], n=1, lineterm=""))
            bad += 1
    print(f"== {len(names) - bad}/{len(names)} equal ==")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
