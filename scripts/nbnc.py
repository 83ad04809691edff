#!/usr/bin/env python3
"""Count non-blank, non-comment lines per source file and in total.

Usage: python3 scripts/nbnc.py <path>...   (directories are walked for
*.scala, *.java and *.py files)

A line is not counted when it is blank, when it starts with `//` (or `#`
in a Python file), or when it lies inside a `/* ... */` or `/** ... */`
block that opens at the start of a line. A code line with a trailing
comment counts.
"""
import os
import sys

EXTS = (".scala", ".java", ".py")


def count(path):
    n = 0
    in_block = False
    hash_comments = path.endswith(".py")
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            if in_block:
                if "*/" in line:
                    in_block = False
                continue
            if not line or line.startswith("//"):
                continue
            if hash_comments and line.startswith("#"):
                continue
            if line.startswith("/*"):
                in_block = "*/" not in line[2:]
                continue
            n += 1
    return n


def files(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, _, names in sorted(os.walk(p)):
                for name in sorted(names):
                    if name.endswith(EXTS):
                        yield os.path.join(root, name)
        else:
            yield p


def main(argv):
    if not argv:
        sys.exit(__doc__)
    total = 0
    for path in files(argv):
        n = count(path)
        total += n
        print(f"{n:8d}  {path}")
    print(f"{total:8d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
