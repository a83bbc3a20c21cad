"""Local twin of the driver's correctness gate.

Runs each __spark_entry__.queries()[name] at sf0.01 and compares it
against oracle_sql()[name] executed by DuckDB on the same parquet
tables: row count, schema (column names), and order-insensitive exact
value equality (stricter than a value hash: floats must match to 1e-12
relative, everything else exactly).

Usage: python tools/check_correctness.py [query ...] [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
from decimal import Decimal

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        return v
    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    if hasattr(v, "tzinfo") and v.tzinfo is not None:
        v = v.replace(tzinfo=None)
    return v


def cells_equal(a, b) -> bool:
    a, b = norm_cell(a), norm_cell(b)
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or abs(a - b) <= 1e-12 * max(1.0, abs(a), abs(b))
    return a == b


def compare(name, spark_df, duck_df) -> list[str]:
    problems = []
    s_cols = sorted(spark_df.columns)
    d_cols = sorted(duck_df.columns)
    if s_cols != d_cols:
        return [f"schema: spark={s_cols} duck={d_cols}"]
    s_rows = [tuple(norm_cell(r[c]) for c in s_cols) for r in spark_df.collect()]
    d_recs = duck_df.to_dict("records")
    d_rows = [tuple(norm_cell(r[c]) for c in d_cols) for r in d_recs]
    if len(s_rows) != len(d_rows):
        problems.append(f"rowcount: spark={len(s_rows)} duck={len(d_rows)}")

    def key(row):
        return tuple(
            (x is None, str(type(x)), round(x, 6) if isinstance(x, float) else x)
            for x in row
        )

    s_rows.sort(key=key)
    d_rows.sort(key=key)
    n_bad = 0
    for i, (sr, dr) in enumerate(zip(s_rows, d_rows)):
        if not all(cells_equal(x, y) for x, y in zip(sr, dr)):
            n_bad += 1
            if n_bad <= 3:
                problems.append(f"row {i}: spark={sr} duck={dr}")
    if n_bad:
        problems.append(f"{n_bad} mismatched rows of {len(s_rows)}")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry
    from pyspark.sql import SparkSession

    # vanilla session on purpose: the driver runs queries() on its own
    # SparkSession, so queries must self-prepare (queries/common.py)
    spark = (
        SparkSession.builder.master("local[16]")
        .appName("correctness")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    queries = entry.queries()
    oracles = entry.oracle_sql()
    names = args.queries or sorted(queries)
    n_fail = 0
    for name in names:
        if name not in queries:
            print(f"{name}: NOT REGISTERED")
            n_fail += 1
            continue
        try:
            sdf = queries[name](spark, args.sf_dir)
        except Exception as e:
            print(f"{name}: SPARK ERROR {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            n = sdf.count()
            print(f"{name}: rows-only check ({n} rows) — no oracle registered")
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"{name}: DUCKDB ERROR {type(e).__name__}: {e}")
            n_fail += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            n_fail += 1
            print(f"{name}: FAIL")
            for p in problems:
                print(f"    {p}")
        else:
            print(f"{name}: OK ({len(ddf)} rows)")
    print(f"\n{len(names) - n_fail}/{len(names)} passed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
