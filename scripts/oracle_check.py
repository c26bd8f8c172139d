#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run graft.Verify
output against DuckDB oracles and compare values.

Usage: after `sbt "runMain graft.Verify <sfDir> <outDir>"`:
    python3 scripts/oracle_check.py <sfDir> <outDir>

Mimics the described driver behavior: per query, load the Spark parquet
result and the DuckDB oracle result, sort columns by name, sort rows,
and compare values (floats to 9 significant digits). A query listed in
Verify's failures.json (query -> exception message) is reported as
THREW, never compared: its output directory is missing or stale.
"""
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort",
                        na_position="first").reset_index(drop=True)
    return df


def cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return f"{v:.9g}"
    return str(v)


def main(sf_dir, out_dir, only=None):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")
    oracle_sql = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures_path = f"{out_dir}/failures.json"
    threw = (json.load(open(failures_path))
             if os.path.exists(failures_path) else {})
    if only:
        # subset mode for per-change iteration: check only the named
        # queries (a subset graft.Verify run leaves the other output
        # dirs unwritten, which full mode would flood as FAILs)
        oracle_sql = {k: v for k, v in oracle_sql.items() if k in only}
        threw = {k: v for k, v in threw.items() if k in only}
    for name, msg in sorted(threw.items()):
        print(f"THREW {name}: {msg}")
    failures = 0
    for name, sql in sorted(oracle_sql.items()):
        if name in threw:
            failures += 1
            continue
        try:
            got = canon(con.sql(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"
            ).df())
            want = canon(con.sql(sql).df())
        except Exception as e:
            print(f"FAIL  {name}: {e}")
            failures += 1
            continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL  {name}: columns {list(got.columns)} != "
                  f"{list(want.columns)}")
            failures += 1
            continue
        # Type-kind lint (the r7 q_bpe_merges failure class): DuckDB
        # HUGEINT (bare sum over BIGINT) reaches pandas as float64 and
        # formats as 1.23e+10 while Spark's int formats as the digits —
        # a value-hash mismatch invisible to name-level schema checks.
        # Fail on any int-vs-float kind divergence so the oracle SQL
        # gets its CAST before the driver ever sees the drift.
        kind_bad = [c for c in got.columns
                    if got[c].dtype.kind != want[c].dtype.kind
                    and {got[c].dtype.kind, want[c].dtype.kind} <= {"i", "u", "f"}
                    and "f" in {got[c].dtype.kind, want[c].dtype.kind}]
        if kind_bad:
            print(f"FAIL  {name}: type-kind mismatch on {kind_bad} "
                  f"(spark {[str(got[c].dtype) for c in kind_bad]} vs "
                  f"duck {[str(want[c].dtype) for c in kind_bad]}) — "
                  f"likely a missing CAST in the oracle SQL")
            failures += 1
            continue
        if len(got) != len(want):
            print(f"FAIL  {name}: rows {len(got)} != {len(want)}")
            failures += 1
            continue
        g = got.map(cell) if hasattr(got, "map") else got.applymap(cell)
        w = want.map(cell) if hasattr(want, "map") else want.applymap(cell)
        if not g.equals(w):
            diff = (g != w).any(axis=1)
            idx = diff[diff].index[:3]
            print(f"FAIL  {name}: value mismatch at rows {list(idx)}")
            for i in idx:
                print(f"      spark={list(g.loc[i])}")
                print(f"      duck ={list(w.loc[i])}")
            failures += 1
            continue
        print(f"OK    {name} ({len(got)} rows)")
    # Shape lint for rows-only queries (the r8 q_pca_whiten failure
    # class): the driver's pandas comparator sorts every column, and
    # array/map/struct cells make lexsort_indexer throw — so even the
    # rows-only count comes back null. Fail here, before the driver
    # ever sees a non-scalar column on a query with no oracle SQL.
    declared = set(oracle_sql)
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path) or name in declared or name in threw:
            continue
        if only is not None and name not in only:
            continue
        try:
            desc = con.sql(
                f"DESCRIBE SELECT * FROM read_parquet('{path}/*.parquet')"
            ).df()
        except Exception as e:
            print(f"FAIL  {name}: rows-only output unreadable: {e}")
            failures += 1
            continue
        bad = [(r["column_name"], r["column_type"])
               for _, r in desc.iterrows()
               if "[]" in r["column_type"]
               or r["column_type"].startswith(("STRUCT", "MAP", "LIST"))]
        if bad:
            print(f"FAIL  {name}: rows-only query emits non-scalar "
                  f"columns {bad} — the driver comparator cannot sort them")
            failures += 1
        else:
            print(f"OK    {name} (rows-only shape: all scalar)")
    print(f"\n{len(oracle_sql) - failures}/{len(oracle_sql)} oracle queries match")
    if threw:
        print(f"{len(threw)} queries threw (listed as THREW above)")
    return 1 if failures or threw else 0


if __name__ == "__main__":
    names = None
    if len(sys.argv) > 4 and sys.argv[3] == "--only":
        names = set(sys.argv[4].split(","))
    sys.exit(main(sys.argv[1], sys.argv[2], names))
