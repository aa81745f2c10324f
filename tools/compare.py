#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: for each query, read the
Spark parquet dump from Verify, run the DuckDB oracle SQL on the same sf
tables, sort columns by name, and compare row-by-row.

Usage: python3 tools/compare.py [outDir] [sfDir] [query ...]

Query names after outDir and sfDir restrict the comparison to those
queries; with none, every query in oracle_sql.json is compared. Each
line that ran the oracle ends with its elapsed seconds.
"""
import json
import math
import sys
import time

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return repr(v)
        return repr(v)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(norm(x) for x in v) + "]"
    return repr(v)


def main():
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/vout"
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    names = sys.argv[3:] or sorted(oracle)
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    n_pass = n_fail = 0
    for name in names:
        if name not in oracle:
            print(f"FAIL {name}: not in oracle_sql.json")
            n_fail += 1
            continue
        sql = oracle[name]
        try:
            got = pd.read_parquet(f"{out}/{name}")
        except Exception as e:
            print(f"FAIL {name}: no spark output ({e})")
            n_fail += 1
            continue
        t0 = time.monotonic()
        try:
            want = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        took = f"[oracle {time.monotonic() - t0:.2f} s]"
        got = got[sorted(got.columns)]
        want = want[sorted(want.columns)]
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns spark={list(got.columns)} duck={list(want.columns)} {took}")
            n_fail += 1
            continue
        # dtype parity warning: repr-compare hides int32-vs-int64 style
        # mismatches that a stricter driver hash might flag
        for c in got.columns:
            if str(got[c].dtype) != str(want[c].dtype):
                print(f"  WARN {name}.{c}: dtype spark={got[c].dtype} duck={want[c].dtype}")
        if len(got) != len(want):
            print(f"FAIL {name}: rows spark={len(got)} duck={len(want)} {took}")
            n_fail += 1
            continue
        g = [[norm(v) for v in row] for row in got.itertuples(index=False)]
        w = [[norm(v) for v in row] for row in want.itertuples(index=False)]
        if g != w:
            bad = next(i for i in range(len(g)) if g[i] != w[i])
            print(f"FAIL {name}: first diff at row {bad}: {took}")
            print(f"  spark: {g[bad]}")
            print(f"  duck:  {w[bad]}")
            n_fail += 1
            continue
        print(f"PASS {name} ({len(got)} rows) {took}")
        n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
