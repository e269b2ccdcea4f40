#!/usr/bin/env python3
"""Print the non-blank, non-comment line count of the Scala sources.

The rule: strip every /* ... */ block (scaladoc included), then count the
lines that are neither blank nor a // comment.

Usage: python3 scripts/loc.py [ROOT]   (ROOT defaults to src/main)
"""
import pathlib
import re
import sys

BLOCK = re.compile(r"/\*.*?\*/", re.S)


def count(text):
    return sum(1 for line in BLOCK.sub("", text).splitlines()
               if line.strip() and not line.strip().startswith("//"))


def main():
    root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else "src/main")
    if not root.is_dir():
        sys.exit(f"{root}: not a directory (run from the repo root)")
    total = sum(count(p.read_text(encoding="utf-8"))
                for p in sorted(root.rglob("*.scala")))
    print(f"{total:,}")


if __name__ == "__main__":
    main()
