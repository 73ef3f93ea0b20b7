#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle compare.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

For each query dir under verifyOutDir: read the Spark parquet result,
run the matching oracle SQL from oracle_sql.json in DuckDB against the
sfDir tables, sort columns by name + rows by all values, and compare.
Queries without oracle SQL get a rows-only (>=0) check. An oracle key
with no result directory (the lane threw in Verify) counts as a failure.
"""
import json
import math
import sys

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = f"{v:.9g}"
            vals.append(str(v))
        out.append("\x1f".join(vals))
    return sorted(out)


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    import os

    ok = fail = rows_only = 0
    for name in sorted(set(oracle) - set(os.listdir(out_dir))):
        fail += 1
        print(f"  [FAIL-missing] {name}: no result directory")
    for name in sorted(os.listdir(out_dir)):
        if name == "oracle_sql.json":
            continue
        got = con.execute(
            f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"
        )
        gcols = [d[0] for d in got.description]
        grows = got.fetchall()
        if name not in oracle:
            rows_only += 1
            print(f"  [rows-only] {name}: {len(grows)} rows")
            continue
        # Type gate first: the driver hashes values WITH their DuckDB
        # type, so a HUGEINT/DECIMAL oracle column hash-mismatches a
        # Spark BIGINT/DOUBLE even when every value is identical.
        # Python ints canonicalize that difference away, so check the
        # declared types explicitly before comparing values.
        rel = con.sql(oracle[name])
        badtypes = [
            (c, str(t))
            for c, t in zip(rel.columns, rel.types)
            if str(t) == "HUGEINT" or str(t).startswith("DECIMAL")
        ]
        if badtypes:
            fail += 1
            print(f"  [FAIL-type] {name}: oracle emits {badtypes} — cast to BIGINT/DOUBLE")
            continue
        exp = con.execute(oracle[name])
        ecols = [d[0] for d in exp.description]
        erows = exp.fetchall()
        if sorted(gcols) != sorted(ecols):
            fail += 1
            print(f"  [FAIL-schema] {name}: got {sorted(gcols)} want {sorted(ecols)}")
            continue
        g, e = canon(grows, gcols), canon(erows, ecols)
        if g == e:
            ok += 1
            print(f"  [ok] {name}: {len(g)} rows")
        else:
            fail += 1
            print(f"  [FAIL-data] {name}: {len(g)} vs {len(e)} rows")
            gs, es = set(g), set(e)
            for x in list(gs - es)[:3]:
                print(f"     spark-only: {x[:160]}")
            for x in list(es - gs)[:3]:
                print(f"     duck-only:  {x[:160]}")
    print(f"RESULT ok={ok} fail={fail} rows_only={rows_only}")
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
