#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query.

Usage: python3 tools/compare_dumps.py <dirA> <dirB> [name ...]

Each <dir>/<name>/ holds one query's parquet result as graft.Verify writes
it. Without names, every query directory in either dump is compared; a
query present on one side only counts as differing. Frames are compared
the way tools/check_oracle.py compares Spark against DuckDB: columns
sorted by name, rows sorted by all columns, every cell stringified, so
two dumps agree exactly when the driver's result hash would agree.
Prints one line per query and "N same / M differ"; exits 1 on any
difference.
"""
import os
import sys

import duckdb

from check_oracle import canon, to_str


def query_dirs(root):
    return {n for n in os.listdir(root)
            if os.path.isdir(os.path.join(root, n))}


def load(con, root, name):
    return con.execute(
        f"SELECT * FROM read_parquet('{root}/{name}/*.parquet')").df()


def diff(a, b):
    """None when the two frames print identically, else the first reason."""
    a, b = canon(a), canon(b)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows vs {len(b)}"
    sa, sb = to_str(a), to_str(b)
    for i in range(len(sa)):
        if not sa.iloc[i].equals(sb.iloc[i]):
            return (f"first diff at sorted row {i}:\n"
                    f"   A: {tuple(sa.iloc[i])}\n"
                    f"   B: {tuple(sb.iloc[i])}")
    return None


def main(dir_a, dir_b, only):
    in_a, in_b = query_dirs(dir_a), query_dirs(dir_b)
    names = sorted(only) if only else sorted(in_a | in_b)
    con = duckdb.connect()
    n_same = n_diff = 0
    for name in names:
        missing = [d for d, have in ((dir_a, in_a), (dir_b, in_b))
                   if name not in have]
        err = (f"no result in {', '.join(missing)}" if missing
               else diff(load(con, dir_a, name), load(con, dir_b, name)))
        if err:
            print(f"DIFF {name}: {err}")
            n_diff += 1
        else:
            print(f"SAME {name}")
            n_same += 1
    print(f"\n{n_same} same / {n_diff} differ")
    return 1 if n_diff else 0


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3:]))
