#!/usr/bin/env python3
"""Compare two `graft.Verify` dumps query by query, cell for cell.

    python3 scripts/compare_dumps.py PARENT_DIR CHANGE_DIR [--only=a,b]

Each query's dump is the parquet directory `DIR/<query>/` that `Verify`
writes. Both sides are read with DuckDB, rows sorted by all columns, and
cells compared by exact `repr` (no rounding: a float that moved in its
last bit is a difference). Per query it prints `identical`, or the count
of differing rows and the first 3 of them from each side. A query missing
on one side is a difference. `--only` restricts the compare to the named
queries. Exits 1 on any difference, 2 on bad arguments.
`scripts/test_compare_dumps.py` tests it on tiny parquet files, with no
JVM.
"""
import argparse
import os
import sys
from collections import Counter

import duckdb

SHOW = 3


def queries(d):
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}


def rows(con, d, name):
    """(column names, rows sorted by all columns, as tuples of reprs)."""
    cur = con.execute(
        f"SELECT * FROM read_parquet('{os.path.join(d, name)}/*.parquet')")
    cols = [c[0] for c in cur.description]
    return cols, sorted(tuple(repr(v) for v in r) for r in cur.fetchall())


def compare(con, parent, change, name):
    """Lines describing how `name` differs; empty when identical."""
    pc, pr = rows(con, parent, name)
    cc, cr = rows(con, change, name)
    if pc != cc:
        return [f"columns differ: {pc} vs {cc}"]
    only_p = Counter(pr) - Counter(cr)
    only_c = Counter(cr) - Counter(pr)
    if not only_p and not only_c:
        return []
    out = [f"{max(sum(only_p.values()), sum(only_c.values()))} rows differ "
           f"({len(pr)} vs {len(cr)} rows)"]
    out += [f"  parent {r}" for r in sorted(only_p.elements())[:SHOW]]
    out += [f"  change {r}" for r in sorted(only_c.elements())[:SHOW]]
    return out


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--only", help="comma-separated query names")
    a = ap.parse_args(argv)
    for d in (a.parent, a.change):
        if not os.path.isdir(d):
            ap.error(f"{d} is not a directory")
    names = queries(a.parent) | queries(a.change)
    if a.only:
        names = set(a.only.split(","))
    con = duckdb.connect()
    differing = 0
    for name in sorted(names):
        missing = [s for s, d in (("parent", a.parent), ("change", a.change))
                   if not os.path.isdir(os.path.join(d, name))]
        if missing:
            lines = [f"missing on the {' and '.join(missing)} side"]
        else:
            try:
                lines = compare(con, a.parent, a.change, name)
            except duckdb.Error as e:
                lines = [f"unreadable: {e}"]
        if lines:
            differing += 1
            print(f"DIFF {name}: {lines[0]}")
            for line in lines[1:]:
                print(line)
        else:
            print(f"identical {name}")
    print(f"{len(names) - differing}/{len(names)} identical")
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
