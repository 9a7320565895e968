"""Local stand-in for the driver's correctness gate.

Runs every ``queries()[name]`` against its ``oracle_sql()[name]`` via
DuckDB on the same parquet (default sf0.01), compares row count, sorted
schema, and order-insensitive values (exact for ints/strings/timestamps,
1e-9 for floats). Usage: python tools/check_entry.py [sf_dir] [names...]

The summary counts the queries actually run. A name that is not a query
is an error: it is reported, and the tool exits 2 before it starts a
Spark session.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    # exact columns lead the sort: two rows whose floats differ in the
    # last ulp would otherwise pair up in opposite orders on the two sides
    keys = sorted(df.columns, key=lambda c: df[c].dtype.kind == "f")
    return df.sort_values(keys).reset_index(drop=True)


def compare(a: pd.DataFrame, b: pd.DataFrame) -> str | None:
    if len(a) != len(b):
        return f"row count {len(a)} vs {len(b)}"
    if sorted(a.columns) != sorted(b.columns):
        return f"columns {sorted(a.columns)} vs {sorted(b.columns)}"
    a, b = normalize(a), normalize(b)
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            av = av.astype(float)
            bv = bv.astype(float)
            bad = ~((av.isna() & bv.isna()) | (abs(av - bv) <= 1e-9))
            if bad.any():
                i = bad.idxmax()
                return f"col {c}: {av[i]} vs {bv[i]} at row {i} ({bad.sum()} diffs)"
        else:
            if not av.equals(bv.astype(av.dtype) if av.dtype != bv.dtype else bv):
                bad = av.astype(str) != bv.astype(str)
                if bad.any():
                    i = bad.idxmax()
                    return f"col {c}: {av[i]!r} vs {bv[i]!r} at row {i} ({bad.sum()} diffs)"
    return None


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from traval_spark.session import get_spark

    qs = entrymod.queries()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown queries: {', '.join(unknown)}", file=sys.stderr)
        return 2
    qs = {n: fn for n, fn in qs.items() if not only or n in only}

    spark = get_spark("check-entry", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"create view {t} as select * from '{p}'")

    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        try:
            spark_df = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error {str(e)[:200]}")
            continue
        if name not in oracles:
            status = "ROWS-ONLY"
            print(f"{status:>9}  {name}: {len(spark_df)} rows")
            continue
        try:
            oracle_df = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append((name, f"ORACLE ERROR: {e}"))
            print(f"FAIL  {name}: oracle error {str(e)[:200]}")
            continue
        diff = compare(spark_df, oracle_df)
        if diff:
            failures.append((name, diff))
            print(f"FAIL  {name}: {diff}")
        else:
            print(f"   OK  {name}: {len(spark_df)} rows")
    print(f"\n{len(failures)} failures / {len(qs)} queries run")
    for n, d in failures:
        print(f"  - {n}: {d[:200]}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
