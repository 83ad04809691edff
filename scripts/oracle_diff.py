#!/usr/bin/env python3
"""Check that a refactor of the DuckDB oracles keeps every result.

Usage: python3 scripts/oracle_diff.py <before.json> <after.json> <sfDir>...

The two files are `oracle_sql.json` as `graft.Verify` writes them. It
writes that file first, from the row registry alone; a row filter that
names no row (here `none`) writes only it, running no row and opening
no Spark session, so the tables directory is not read. One command per
tree, run in that tree's checkout:

    sbt -batch "runMain graft.Verify - <outDir> none"

For every row whose SQL text differs between them, both texts run in
DuckDB on each <sfDir>'s tables, and the two results are compared
exactly after `scripts/check.py`'s canonicalisation (columns sorted,
dtypes widened, rows sorted). A row found in one file only, or whose text fails to run
on either side, counts as different.

Prints one line per changed row and per <sfDir>, then the counts: text
unchanged, changed with the same result, changed with a different
result. The exit status is 1 when any result differs.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import canon, connect  # noqa: E402


def run(con, sql):
    try:
        return canon(con.sql(sql).df()), None
    except Exception as e:  # a failing text is a result too
        return None, f"{type(e).__name__}: {e}".splitlines()[0]


def same(a, b):
    return list(a.columns) == list(b.columns) and a.equals(b)


def main():
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    before = json.load(open(sys.argv[1]))
    after = json.load(open(sys.argv[2]))
    sf_dirs = sys.argv[3:]
    names = sorted(set(before) | set(after))
    unchanged = [n for n in names if before.get(n) == after.get(n)]
    changed = [n for n in names if n in before and n in after
               and before[n] != after[n]]
    different = [(n, "only in " + (sys.argv[1] if n in before else sys.argv[2]))
                 for n in names if (n in before) != (n in after)]
    cons = [(d, connect(d)) for d in sf_dirs]
    same_result = []
    for n in changed:
        why = None
        for d, con in cons:
            (a, ea), (b, eb) = run(con, before[n]), run(con, after[n])
            if ea or eb:
                why = f"{d}: before {ea or 'ok'}, after {eb or 'ok'}"
            elif not same(a, b):
                why = f"{d}: {len(a)} vs {len(b)} rows, columns " \
                      f"{list(a.columns)} vs {list(b.columns)}"
            else:
                print(f"  same       {n} @ {d} ({len(a)} rows)", flush=True)
                continue
            break
        if why:
            different.append((n, why))
        else:
            same_result.append(n)
    for n, why in different:
        print(f"  DIFFERENT  {n}: {why}")
    print(f"unchanged text {len(unchanged)}, changed same result "
          f"{len(same_result)}, changed different result {len(different)}")
    sys.exit(1 if different else 0)


if __name__ == "__main__":
    main()
