#!/usr/bin/env python3
"""Count non-blank, non-comment lines per source file and in total.

Usage: python3 scripts/nbnc.py [--max-file-lines N] <path>...
(directories are walked for *.scala, *.java and *.py files)

A line is not counted when it is blank, when it starts with `//` (or `#`
in a Python file), or when it lies inside a `/* ... */` or `/** ... */`
block that opens at the start of a line. A code line with a trailing
comment counts.

With --max-file-lines N, every file longer than N physical lines is
named on stderr and the exit status is 1. With --help, no path, or a
path that does not exist, this text goes to stderr and the exit status
is 2.
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


def usage(why=None):
    if why:
        print(f"nbnc.py: {why}", file=sys.stderr)
    print(__doc__.strip(), file=sys.stderr)
    sys.exit(2)


def main(argv):
    max_lines = None
    if argv[:1] == ["--max-file-lines"] and len(argv) > 1:
        if not argv[1].isdigit():
            usage(f"--max-file-lines needs a number, not {argv[1]!r}")
        max_lines, argv = int(argv[1]), argv[2:]
    if not argv or "-h" in argv or "--help" in argv:
        usage()
    missing = [p for p in argv if not os.path.exists(p)]
    if missing:
        usage(f"no such file or directory: {', '.join(missing)}")
    total = 0
    too_long = []
    for path in files(argv):
        n = count(path)
        total += n
        print(f"{n:8d}  {path}")
        if max_lines is not None:
            with open(path, encoding="utf-8") as f:
                physical = sum(1 for _ in f)
            if physical > max_lines:
                too_long.append((path, physical))
    print(f"{total:8d}  total")
    for path, physical in too_long:
        print(f"{path}: {physical} lines > {max_lines}", file=sys.stderr)
    if too_long:
        sys.exit(1)


if __name__ == "__main__":
    main(sys.argv[1:])
