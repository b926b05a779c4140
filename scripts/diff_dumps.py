#!/usr/bin/env python3
"""Compare two `graft.Verify` output directories face by face (dev tool
only, not part of the engine): for every face directory in either one,
DuckDB `EXCEPT ALL` runs in both directions, so two dumps match only as
equal multisets of rows. This also covers the rows-only faces, which
have no oracle to compare against.

Prints `identical`, `DIFFERS` or `MISSING` per face and exits 1 on any
difference.

Usage: python3 scripts/diff_dumps.py <parentOut> <changeOut>
"""
import glob
import os
import sys

import duckdb


def faces(out_dir):
    return set(os.path.basename(p) for p in glob.glob(f"{out_dir}/*")
               if os.path.isdir(p))


def compare(con, a_dir, b_dir):
    """None if the two face dumps hold the same rows, else a reason."""
    a_files = glob.glob(f"{a_dir}/*.parquet")
    b_files = glob.glob(f"{b_dir}/*.parquet")
    if not a_files or not b_files:
        return None if a_files == b_files else "no parquet on one side"
    a = f"read_parquet('{a_dir}/*.parquet')"
    b = f"read_parquet('{b_dir}/*.parquet')"
    try:
        only_a = con.sql(f"SELECT count(*) FROM (SELECT * FROM {a} "
                         f"EXCEPT ALL SELECT * FROM {b})").fetchone()[0]
        only_b = con.sql(f"SELECT count(*) FROM (SELECT * FROM {b} "
                         f"EXCEPT ALL SELECT * FROM {a})").fetchone()[0]
    except duckdb.Error as e:
        return f"not comparable: {e}".splitlines()[0]
    if only_a or only_b:
        return f"{only_a} rows only in parent, {only_b} only in change"
    return None


def main(parent_out, change_out):
    con = duckdb.connect()
    con.sql("SET memory_limit = '2GB'")
    con.sql("SET threads = 2")
    parent, change = faces(parent_out), faces(change_out)
    names = sorted(parent | change)
    bad = 0
    for name in names:
        if name not in parent or name not in change:
            side = "parent" if name not in parent else "change"
            print(f"{name:40s} MISSING in {side}")
            bad += 1
            continue
        why = compare(con, f"{parent_out}/{name}", f"{change_out}/{name}")
        if why is None:
            print(f"{name:40s} identical")
        else:
            print(f"{name:40s} DIFFERS: {why}")
            bad += 1
    print(f"{len(names)} faces, {len(names) - bad} identical, {bad} differ or missing")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
