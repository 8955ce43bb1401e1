#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL
from Verify's oracle_sql.json in DuckDB over the sfDir parquet tables and
compare (sorted columns, sorted rows) against the Spark parquet dump.

BIT-EXACT: float columns are compared by their raw float64 bit patterns
(so -0.0 != +0.0 and any ULP difference fails), matching the driver's
hash-identity semantics. Round 1 shipped 5 hash failures because this
script rounded to 9 decimals and used pandas value-equality, which masks
negative zero.

Each result line ends with the seconds DuckDB took to run that oracle,
so a slow oracle shows in every run.

Usage: check_oracle.py <sfDir> <verifyOutDir>
"""
import sys, os, json, glob, time
import duckdb
import numpy as np
import pyarrow.parquet as pq
import pandas as pd

sf_dir, out_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

with open(os.path.join(out_dir, "oracle_sql.json")) as f:
    oracles = json.load(f)

def canon(df):
    """Sorted columns, canonical row order, floats AS BIT PATTERNS."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            # view the float64 bits as uint64 — bit-exact identity, the
            # same equivalence the driver's value hash uses
            df[c] = df[c].to_numpy(dtype="float64").view("u8")
        elif df[c].dtype.kind == "M":
            # normalize timestamp resolution before integer compare
            df[c] = df[c].astype("datetime64[ns]").astype("int64")
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

fail = 0
for name, sql in sorted(oracles.items()):
    spark_path = os.path.join(out_dir, name)
    if not os.path.isdir(spark_path):
        print(f"[MISS] {name}: no spark output dir"); fail += 1; continue
    got = canon(pq.read_table(spark_path).to_pandas())
    t0 = time.perf_counter()
    try:
        want = canon(con.execute(sql).fetchdf())
    except Exception as e:
        print(f"[SQLERR] {name}: {e}"); fail += 1; continue
    took = f"(duckdb {time.perf_counter() - t0:.2f} s)"
    if list(got.columns) != list(want.columns):
        print(f"[SCHEMA] {name}: spark={list(got.columns)} duckdb={list(want.columns)} {took}")
        fail += 1; continue
    if len(got) != len(want):
        print(f"[ROWS] {name}: spark={len(got)} duckdb={len(want)} {took}")
        fail += 1; continue
    eq = got.equals(want)
    if not eq:
        diff = (got != want) & ~(got.isna() & want.isna())
        bad = diff.any(axis=1)
        print(f"[VALS] {name}: {bad.sum()} bit-mismatched rows {took}; first:")
        print(pd.concat([got[bad].head(3).add_prefix("spark_"),
                         want[bad].head(3).add_prefix("duck_")], axis=1))
        fail += 1
    else:
        print(f"[OK] {name}: {len(got)} rows bit-identical {took}")
sys.exit(1 if fail else 0)
