#!/usr/bin/env python3
"""Compare two graft.tools.DumpPlanFiles output directories, key by key.

Each directory holds `<key>_<suffix>.txt` formatted physical plans, e.g.

  sbt "runMain graft.tools.DumpPlanFiles OUT_A before k1,k2"
  sbt "runMain graft.tools.DumpPlanFiles OUT_B after k1,k2"

Plan text carries numbers that change from run to run on the same tree:
expression ids (`text#1`), exchange ids (`plan_id=27934`), the RDD number
of a scanned localCheckpoint (`MapPartitionsRDD[137]`), temp-directory UUIDs
and JVM lambda class names (`Lambda$6808/0x00007f7c796d1498`); and one that
moves with any edit above a call site: the source line of a localCheckpoint
(`Dedup.scala:50`). Both sides are normalised (`#N`, `plan_id=N`, `RDD[N]`,
`UUID`, `Lambda$N`, `.scala:N`) before comparing.

For each key whose normalised plans differ, prints the differing lines and
the operator-name sequence of each side (the `(n) Operator` detail headers,
in order). Exits 1 when a key's operator sequences differ or a key is on one
side only; differing expression text alone exits 0.

Usage: python3 scripts/plan_diff.py DIR_A DIR_B
"""
import difflib
import os
import re
import sys

NORMALISE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "UUID"),
    (re.compile(r"Lambda\$\d+/0x[0-9a-f]+"), "Lambda$N"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
]
OPERATOR = re.compile(r"^\(\d+\) (.+?)\s*$")


def load(d):
    plans = {}
    for name in sorted(os.listdir(d)):
        if name.endswith(".txt") and "_" in name:
            key = name[: -len(".txt")].rsplit("_", 1)[0]
            with open(os.path.join(d, name), encoding="utf-8") as f:
                text = f.read()
            for pattern, repl in NORMALISE:
                text = pattern.sub(repl, text)
            plans[key] = text.splitlines()
    return plans


def operators(lines):
    return [m.group(1) for m in map(OPERATOR.match, lines) if m]


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__.strip().splitlines()[-1])
    a, b = load(sys.argv[1]), load(sys.argv[2])
    print(f"{sys.argv[1]}: {len(a)} keys")
    print(f"{sys.argv[2]}: {len(b)} keys")
    one_side = sorted(a.keys() ^ b.keys())
    for k in one_side:
        print(f"only in {'A' if k in a else 'B'}: {k}")
    text_diff, op_diff = [], []
    for k in sorted(a.keys() & b.keys()):
        if a[k] == b[k]:
            continue
        text_diff.append(k)
        ops_a, ops_b = operators(a[k]), operators(b[k])
        if ops_a != ops_b:
            op_diff.append(k)
        print(f"== {k}: operator sequence {'SAME' if ops_a == ops_b else 'DIFFERS'}")
        for line in difflib.unified_diff(a[k], b[k], lineterm="", n=0):
            if line[:1] in "+-" and not line.startswith(("+++", "---")):
                print(f"  {line}")
        print(f"  A ops: {' > '.join(ops_a)}")
        print(f"  B ops: {' > '.join(ops_b)}")
    print(f"{len(a.keys() & b.keys())} common keys, {len(text_diff)} with differing "
          f"lines, {len(op_diff)} with differing operator sequences, "
          f"{len(one_side)} on one side only")
    sys.exit(1 if op_diff or one_side else 0)


if __name__ == "__main__":
    main()
