"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given scale factor, then compares row count, sorted column
names, and order-insensitive values. Exits non-zero on any mismatch.

Usage: python tools/verify_local.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

# the checkout this tool belongs to, whatever its path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from __spark_entry__ import oracle_sql, queries  # noqa: E402
from local_vectordb_spark.session import TABLES, get_spark  # noqa: E402


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype.kind == "f":
            df[c] = df[c].round(9)
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("verify_local")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, oracles = queries(), oracle_sql()
    failures = []
    ran = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        ran += 1
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(sdf)} rows, no oracle)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            continue
        s, o = normalize(sdf), normalize(odf)
        if list(s.columns) != list(o.columns):
            failures.append(name)
            print(f"FAIL {name}: columns spark={list(s.columns)} oracle={list(o.columns)}")
            continue
        if len(s) != len(o):
            failures.append(name)
            print(f"FAIL {name}: rows spark={len(s)} oracle={len(o)}")
            continue
        if not s.equals(o):
            neq = (s != o) & ~(s.isna() & o.isna())
            bad_cols = [c for c in s.columns if neq[c].any()]
            failures.append(name)
            print(f"FAIL {name}: value mismatch in {bad_cols}")
            for c in bad_cols[:2]:
                idx = neq[c].idxmax()
                print(f"     {c}[{idx}]: spark={s[c][idx]!r} oracle={o[c][idx]!r}")
            continue
        print(f"ok   {name}: {len(s)} rows match")
    print(f"\n{ran - len(failures)}/{ran} pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
