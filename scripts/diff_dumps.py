#!/usr/bin/env python3
"""Compare two `graft.Verify` output directories face by face (dev tool
only, not part of the engine): for every face directory in either one,
DuckDB `EXCEPT ALL` runs in both directions, so two dumps match only as
equal multisets of rows. This also covers the rows-only faces, which
have no oracle to compare against.

Prints `identical`, `within-bound`, `DIFFERS` or `MISSING` per face and
exits 1 on any difference. Every face must match exactly except those in
`WITHIN_BOUND`, whose estimates are compared within a tolerance.

Usage: python3 scripts/diff_dumps.py <parentOut> <changeOut>
"""
import glob
import os
import sys

import duckdb

# Faces compared within a tolerance: face -> (key columns compared
# exactly, estimate columns compared within REL_TOL of the parent's
# value). `q_sketch_quantile_union` reads quantiles off DataSketches KLL
# sketches, whose compaction draws from `KllSketch`'s static, unseeded
# `java.util.Random`, so one tree reads `en` q25 = 164 or 165 from run to
# run. KLL bounds the error in rank, ~1.65 % at k = 200 (see `KllAgg`'s
# Scaladoc), so two runs may land up to ~3.3 % apart in rank; the dumps
# hold values, not ranks, and REL_TOL is the value drift granted for
# that. The run-to-run drift seen at sf0.01 is under 1 %.
WITHIN_BOUND = {
    "q_sketch_quantile_union": (["lang", "n_rows"], ["q25", "q50", "q90"]),
}
REL_TOL = 0.05


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


def compare_within(con, a_dir, b_dir, keys, estimates):
    """(None, largest relative drift) if the keys match exactly and every
    estimate is within REL_TOL of the parent's, else (reason, None)."""
    a = f"read_parquet('{a_dir}/*.parquet')"
    b = f"read_parquet('{b_dir}/*.parquet')"
    k = ", ".join(keys)
    try:
        only = con.sql(f"SELECT count(*) FROM ((SELECT {k} FROM {a} EXCEPT ALL "
                       f"SELECT {k} FROM {b}) UNION ALL (SELECT {k} FROM {b} "
                       f"EXCEPT ALL SELECT {k} FROM {a}))").fetchone()[0]
        if only:
            return f"{only} rows differ in {k}", None
        on = " AND ".join(f"pa.{c} = ch.{c}" for c in keys)
        drift = ", ".join(f"abs(ch.{c} - pa.{c}) / greatest(abs(pa.{c}), 1e-9)"
                          for c in estimates)
        worst = con.sql(f"SELECT coalesce(max(greatest({drift})), 0) "
                        f"FROM {a} pa JOIN {b} ch ON {on}").fetchone()[0]
    except duckdb.Error as e:
        return f"not comparable: {e}".splitlines()[0], None
    if worst > REL_TOL:
        return f"an estimate drifts {worst:.2%} (bound {REL_TOL:.0%})", None
    return None, worst


def main(parent_out, change_out):
    con = duckdb.connect()
    con.sql("SET memory_limit = '2GB'")
    con.sql("SET threads = 2")
    parent, change = faces(parent_out), faces(change_out)
    names = sorted(parent | change)
    bad = bounded = 0
    for name in names:
        if name not in parent or name not in change:
            side = "parent" if name not in parent else "change"
            print(f"{name:40s} MISSING in {side}")
            bad += 1
            continue
        a_dir, b_dir = f"{parent_out}/{name}", f"{change_out}/{name}"
        if name in WITHIN_BOUND:
            why, worst = compare_within(con, a_dir, b_dir, *WITHIN_BOUND[name])
            if why is None:
                print(f"{name:40s} within-bound: largest estimate drift {worst:.2%}")
                bounded += 1
                continue
        else:
            why = compare(con, a_dir, b_dir)
        if why is None:
            print(f"{name:40s} identical")
        else:
            print(f"{name:40s} DIFFERS: {why}")
            bad += 1
    print(f"{len(names)} faces, {len(names) - bad - bounded} identical, "
          f"{bounded} within-bound, {bad} differ or missing")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
