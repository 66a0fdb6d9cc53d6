#!/usr/bin/env python3
"""Check that two `graft.Verify` output directories hold the same outputs.

Usage: python3 tools/same_outputs.py <dirA> <dirB>

Each key is a sub-directory of parquet files. Two outputs of a key are the
same when their schemas (column names and DuckDB types, in order) are equal
and their rows are equal as multisets: DuckDB `EXCEPT ALL` is empty both
ways. Top-level files such as `oracle_sql.json` must be byte-identical.
This is the only check on the NoOracle keys, which `local_check.py` can only
count. Prints one line per key that differs or is missing on one side and a
summary; exits 1 if there is any.
"""
import filecmp
import os
import sys

import duckdb


def entries(d):
    keys, files = set(), set()
    for name in os.listdir(d):
        (keys if os.path.isdir(os.path.join(d, name)) else files).add(name)
    return keys, files


def differs(con, a, b):
    """Why the outputs at `a` and `b` differ, or None."""
    ra = con.sql(f"SELECT * FROM read_parquet('{a}/*.parquet')")
    rb = con.sql(f"SELECT * FROM read_parquet('{b}/*.parquet')")
    sa = list(zip(ra.columns, map(str, ra.types)))
    sb = list(zip(rb.columns, map(str, rb.types)))
    if sa != sb:
        return f"schema {sa} != {sb}"
    only = []
    for x, y in ((a, b), (b, a)):
        n = con.sql(f"SELECT count(*) FROM (SELECT * FROM read_parquet('{x}/*.parquet') "
                    f"EXCEPT ALL SELECT * FROM read_parquet('{y}/*.parquet'))").fetchone()[0]
        only.append(n)
    if any(only):
        return f"rows only in A: {only[0]}, only in B: {only[1]}"
    return None


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    da, db = sys.argv[1], sys.argv[2]
    (ka, fa), (kb, fb) = entries(da), entries(db)
    con = duckdb.connect()
    bad = {}
    for key in sorted(ka | kb):
        if key not in ka or key not in kb:
            bad[key] = f"missing in {'A' if key not in ka else 'B'}"
        else:
            why = differs(con, os.path.join(da, key), os.path.join(db, key))
            if why:
                bad[key] = why
    for f in sorted(fa | fb):
        if f not in fa or f not in fb:
            bad[f] = f"missing in {'A' if f not in fa else 'B'}"
        elif not filecmp.cmp(os.path.join(da, f), os.path.join(db, f), shallow=False):
            bad[f] = "bytes differ"
    for name, why in bad.items():
        print(f"[DIFF] {name}: {why}")
    keys = ka | kb
    print(f"{len(keys - bad.keys())}/{len(keys)} keys identical, "
          f"{len(bad)} difference(s)")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
