"""Mimic the driver's correctness gate locally: run every queries() entry on
Spark and its oracle_sql() twin on DuckDB over the same sf dir, compare
row-count, schema (sorted column names), and values (order-insensitive).

Usage: python scripts/validate_entry.py [sf_dir] [query ...]
"""

import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod
from graph_data_science_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    errs = []
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return [f"columns: spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}"]
    if len(spark_df) != len(duck_df):
        errs.append(f"rowcount: spark={len(spark_df)} duck={len(duck_df)}")
        return errs
    s, d = normalize(spark_df), normalize(duck_df)
    for c in s.columns:
        sv, dv = s[c], d[c]
        if sv.dtype.kind == "f" or dv.dtype.kind == "f":
            bad = ~((sv - dv).abs() < 1e-9) & ~(sv.isna() & dv.isna())
        else:
            bad = sv.astype(str) != dv.astype(str)
        if bad.any():
            i = bad.idxmax()
            errs.append(
                f"col {c}: {int(bad.sum())} mismatches, first at sorted-row {i}: "
                f"spark={sv[i]!r} duck={dv[i]!r}"
            )
    return errs


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("validate-entry")
    con = duck(sf_dir)
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            print(f"FAIL  {name}: no oracle_sql() entry")
            n_fail += 1
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            n_fail += 1
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {ex}")
            n_fail += 1
            continue
        errs = compare(name, sdf, ddf)
        if errs:
            print(f"FAIL  {name} ({time.time()-t0:.1f}s):")
            for e in errs:
                print(f"      {e}")
            n_fail += 1
        else:
            print(f"ok    {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} ok, {n_fail} FAILED")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
