#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps written by graft.Verify.

Prints the key count of each file, the keys only one side has, and for
each key whose SQL differs the first differing line (1-based, both sides).
Exits 1 on any difference, 0 when both maps are identical.

graft.Verify always writes the full key → SQL map, whatever
SPARK_GRAFT_ONLY restricts the parquet dump to, so a one-key run is enough:

  SPARK_GRAFT_ONLY=scan_columns_meta sbt "runMain graft.Verify SF_DIR OUT"

Usage: python3 scripts/oracle_sql_diff.py A/oracle_sql.json B/oracle_sql.json
"""
import json
import sys


def first_diff(a, b):
    la, lb = a.split("\n"), b.split("\n")
    for i in range(max(len(la), len(lb))):
        x = la[i] if i < len(la) else "<end of SQL>"
        y = lb[i] if i < len(lb) else "<end of SQL>"
        if x != y:
            return i + 1, x, y


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__.strip().splitlines()[-1])
    path_a, path_b = sys.argv[1:]
    with open(path_a, encoding="utf-8") as f:
        a = json.load(f)
    with open(path_b, encoding="utf-8") as f:
        b = json.load(f)
    print(f"{path_a}: {len(a)} keys")
    print(f"{path_b}: {len(b)} keys")
    only_a = sorted(a.keys() - b.keys())
    only_b = sorted(b.keys() - a.keys())
    for k in only_a:
        print(f"missing from B: {k}")
    for k in only_b:
        print(f"extra in B: {k}")
    differing = sorted(k for k in a.keys() & b.keys() if a[k] != b[k])
    for k in differing:
        line, x, y = first_diff(a[k], b[k])
        print(f"differs: {k} at line {line}")
        print(f"  A: {x!r}")
        print(f"  B: {y!r}")
    print(f"{len(differing)} differing, {len(only_a)} missing, {len(only_b)} extra")
    sys.exit(1 if differing or only_a or only_b else 0)


if __name__ == "__main__":
    main()
