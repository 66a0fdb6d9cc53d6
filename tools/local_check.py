#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage: python3 tools/local_check.py <verify_out_dir> <sf_dir> [query ...]

Reads each <out_dir>/<name> parquet (written by `graft.Verify`), runs the
matching oracle SQL from <out_dir>/oracle_sql.json in DuckDB against views
over <sf_dir>/*.parquet, and compares: row count, column names (sorted),
and every value (exact for ints/strings, == for doubles since both sides
round identically). An oracled key with no output directory fails as
NO_SPARK_OUTPUT. Exit 0 iff all match.

Since r11 it ALSO compares column TYPES (DuckDB rel.types for the oracle
vs the types DuckDB reads from the Spark parquet footer). The driver's
hash is typed: a DuckDB HUGEINT (bare integer sum()) hash-mismatches a
Spark BIGINT even when every value is equal under Python ==, which is
exactly how 16 red queries shipped in r10 while this gate said green.
Any HUGEINT/DECIMAL in an oracle output list is a bug by protocol: wrap
integer aggregates in CAST(... AS BIGINT).
"""
import sys, os, json, glob, math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # normalize -0.0
        return v + 0.0
    return v


def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):  # GenData-scaled fixtures are multi-file dirs
            p = f"{p}/*.parquet"
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {}
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        if only and name not in only:
            continue
        files = glob.glob(f"{d}/*.parquet")
        if not files:
            results[name] = "NO_SPARK_OUTPUT"
            continue
        srel = con.sql(f"SELECT * FROM read_parquet('{files[0]}')")
        scols = srel.columns
        srows = srel.fetchall()
        if name not in oracles:
            results[name] = f"NO_ORACLE rows={len(srows)}"
            continue
        try:
            orel = con.sql(oracles[name])
            ocols = orel.columns
            orows = orel.fetchall()
        except Exception as e:
            results[name] = f"ORACLE_ERROR {type(e).__name__}: {e}"
            continue
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in ocols):
            results[name] = f"SCHEMA_MISMATCH spark={sorted(scols)} oracle={sorted(ocols)}"
            continue
        if len(srows) != len(orows):
            results[name] = f"ROWS_MISMATCH spark={len(srows)} oracle={len(orows)}"
            continue
        # reorder columns by sorted name on both sides (driver behavior)
        sidx = [scols.index(c) for c in sorted(scols, key=str.lower)]
        oidx = [ocols.index(c) for c in sorted(ocols, key=str.lower)]
        # Typed gate: the driver hashes (type, value); DuckDB HUGEINT ==
        # Spark BIGINT is True in Python but red at the driver. Compare
        # the DuckDB logical type of each oracle column against the type
        # DuckDB assigns the same-named Spark parquet column.
        stypes = [str(t).upper() for t in srel.types]
        otypes = [str(t).upper() for t in orel.types]
        type_bad = [(scols[si], stypes[si], otypes[oi])
                    for si, oi in zip(sidx, oidx) if stypes[si] != otypes[oi]]
        if type_bad:
            results[name] = "TYPE_MISMATCH " + "; ".join(
                f"{c}: spark={st} oracle={ot}" for c, st, ot in type_bad)
            continue
        bad = None
        for ri, (sr, orr) in enumerate(zip(srows, orows)):
            sv = tuple(norm(sr[i]) for i in sidx)
            ov = tuple(norm(orr[i]) for i in oidx)
            if sv != ov:
                bad = (ri, sv, ov)
                break
        if bad:
            ri, sv, ov = bad
            results[name] = f"VALUE_MISMATCH row={ri}\n    spark : {sv}\n    oracle: {ov}"
        else:
            results[name] = f"OK rows={len(srows)}"
    # Verify writes no directory for a key whose build threw; an oracled
    # key with no output is a failure, not a key to skip.
    for name in oracles:
        if name not in results and (not only or name in only):
            results[name] = "NO_SPARK_OUTPUT"
    n_ok = sum(1 for v in results.values() if v.startswith("OK") or v.startswith("NO_ORACLE"))
    for name, v in sorted(results.items()):
        mark = "PASS" if v.startswith("OK") else ("INFO" if v.startswith("NO_ORACLE") else "FAIL")
        print(f"[{mark}] {name}: {v}")
    print(f"\n{n_ok}/{len(results)} green")
    sys.exit(0 if n_ok == len(results) else 1)


if __name__ == "__main__":
    main()
