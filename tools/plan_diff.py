#!/usr/bin/env python3
"""Compare two graft.tools.PlanDump directories operator by operator.

Usage: python3 tools/plan_diff.py <before_dir>[:<tag>] <after_dir>[:<tag>]
  e.g. python3 tools/plan_diff.py plans/<round>:before plans/<round>:after

PlanDump writes one `<query>_<tag>.txt` file per query holding
`explain("formatted")`; a `:<tag>` suffix keeps only that tag's files, so
both sides can live in one directory. For every query present on both
sides this prints whether the ordered list of physical operator names is
the same,
plus the number of shuffle `Exchange` and `WindowGroupLimit` nodes on each
side. Only the tree lines are compared (operator name and its inline
arguments such as the join type), so renamed columns and shifted
expression ids never count as a difference. For a differing query the
changed operators are listed as a unified diff.
"""
import difflib
import os
import re
import sys

# A plan-tree line: tree drawing, an operator name, then its node id.
# Detail headers start with "(N)" and so never match.
TREE_LINE = re.compile(r"^[\s:+\-|]*([A-Za-z][^()]*?)\s+\((\d+)\)\s*$")


def operators(path):
    with open(path) as f:
        return [m.group(1) for m in map(TREE_LINE.match, f) if m]


def count(ops, name):
    return sum(1 for op in ops if op.split()[0] == name)


def plans(arg):
    directory, _, tag = arg.partition(":")
    out = {}
    for fn in os.listdir(directory):
        m = re.match(r"^(.*)_([^_]+)\.txt$", fn)
        if m and tag in ("", m.group(2)):
            out[m.group(1)] = os.path.join(directory, fn)
    return out


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    before, after = plans(argv[1]), plans(argv[2])
    differ = 0
    for q in sorted(before.keys() & after.keys()):
        a, b = operators(before[q]), operators(after[q])
        same = a == b
        differ += not same
        print(
            f"{q}: {'SAME' if same else 'DIFF'} operators={len(a)}->{len(b)} "
            f"Exchange={count(a, 'Exchange')}->{count(b, 'Exchange')} "
            f"WindowGroupLimit={count(a, 'WindowGroupLimit')}->{count(b, 'WindowGroupLimit')}"
        )
        if not same:
            for line in difflib.unified_diff(a, b, "before", "after", n=1, lineterm=""):
                print("    " + line)
    for q in sorted(before.keys() ^ after.keys()):
        print(f"{q}: only in {'before' if q in before else 'after'}")
    print(f"{len(before.keys() & after.keys())} compared, {differ} differ")


if __name__ == "__main__":
    main(sys.argv)
