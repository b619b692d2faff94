#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run Verify's parquet
dumps against the DuckDB oracle SQL and diff (column-sorted, row-sorted).

Usage: python3 tools/selfcheck.py <sfDir> <verifyOutDir>

With SPARK_GRAFT_VERIFY_ONLY set (comma-separated query names, as for
graft.Verify), only the listed queries are scored; a listed name without
output or oracle SQL still counts as bad.
"""
import json
import math
import os
import sys

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: v if v is None or isinstance(v, (str, bytes)) else str(v))
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> str:
    a, b = normalize(spark_df), normalize(duck_df)
    if list(a.columns) != list(b.columns):
        return f"SCHEMA mismatch: spark={list(a.columns)} duck={list(b.columns)}"
    if len(a) != len(b):
        return f"ROWS mismatch: spark={len(a)} duck={len(b)}"
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            xnan = isinstance(x, float) and math.isnan(x)
            ynan = isinstance(y, float) and math.isnan(y)
            if x is None and y is None:
                continue
            if xnan and ynan:
                continue
            if isinstance(x, float) and isinstance(y, float):
                if x != y:  # exact: the decimal patterns should guarantee it
                    return f"VALUE mismatch col={c} row={i}: spark={x!r} duck={y!r}"
            elif (x is None) != (y is None) or x != y:
                return f"VALUE mismatch col={c} row={i}: spark={x!r} duck={y!r}"
    return "OK"


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    only = os.environ.get("SPARK_GRAFT_VERIFY_ONLY")
    if only is not None:
        wanted = set(only.split(","))
        for name in sorted(wanted - oracle.keys()):
            print(f"{name}: NO ORACLE SQL")
            n_bad += 1
        oracle = {k: v for k, v in oracle.items() if k in wanted}
    for name, sql in sorted(oracle.items()):
        try:
            spark_df = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"{name}: NO SPARK OUTPUT ({e})")
            n_bad += 1
            continue
        try:
            duck_df = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"{name}: ORACLE SQL FAILED: {e}")
            n_bad += 1
            continue
        verdict = compare(name, spark_df, duck_df)
        print(f"{name}: {verdict}")
        if verdict == "OK":
            n_ok += 1
        else:
            n_bad += 1
    print(f"\n{n_ok} ok, {n_bad} bad")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
