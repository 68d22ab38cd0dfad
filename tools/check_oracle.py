"""Local mimic of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql()
on DuckDB at the given sf dir, compares row count / schema / exact values
order-insensitively. Usage:
    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as E
from gdal_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: v.hex() if isinstance(v, (bytes, bytearray)) else v
            )
    return df.sort_values(list(df.columns), ignore_index=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, os_ = E.queries(), E.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(ex).__name__}: {ex}")
            failed.append(name)
            continue
        sql = os_.get(name)
        if sql is None:
            print(f"SKIP {name}: no oracle (rows-only) rows={len(got)}")
            continue
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {type(ex).__name__}: {ex}")
            failed.append(name)
            continue
        g, e = canon(got), canon(exp)
        if list(g.columns) != list(e.columns):
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(e.columns)}")
            failed.append(name)
            continue
        if len(g) != len(e):
            print(f"FAIL {name}: rows {len(g)} vs {len(e)}")
            failed.append(name)
            continue
        eq = True
        for c in g.columns:
            a, b = g[c], e[c]
            try:
                col_eq = (a.values == b.values) | (a.isna().values & b.isna().values)
                if not col_eq.all():
                    bad = (~col_eq).nonzero()[0][:5]
                    print(f"FAIL {name}: col {c} mismatch rows {bad.tolist()}:")
                    for i in bad:
                        print(f"   got={a.iloc[i]!r} exp={b.iloc[i]!r}")
                    eq = False
            except Exception as ex:  # noqa: BLE001
                print(f"FAIL {name}: col {c} compare error {ex}")
                eq = False
        if eq:
            print(f"OK   {name}: rows={len(g)}")
        else:
            failed.append(name)
    print("FAILED:", failed if failed else "none")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
