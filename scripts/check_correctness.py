#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark and its oracle_sql() on DuckDB at
sf=0.01, compare row count + column names + order-insensitive value hash
(columns sorted by name, rows sorted, values stringified with float
normalization).

Usage: ``check_correctness.py [NAME ...]`` checks only the named queries;
an unregistered name exits 2 before Spark starts."""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def frame_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    rows = [
        "\x01".join(norm_cell(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    ]
    rows.sort()
    return hashlib.md5("\x02".join(rows).encode()).hexdigest()


def main() -> int:
    import __spark_entry__ as E
    from web_crawler_spark.session import get_spark

    qs, oracles = E.queries(), E.oracle_sql()
    only = set(sys.argv[1:])
    unknown = sorted(only - qs.keys())
    if unknown:
        print(f"unknown query names: {unknown}", file=sys.stderr)
        return 2
    spark = get_spark()  # local[$SPARK_GRAFT_CPUS]
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {ex}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows ({time.time() - t0:.1f}s) [rows-only]")
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {ex}")
            continue
        problems = []
        if len(sdf) != len(ddf):
            problems.append(f"rowcount {len(sdf)} != {len(ddf)}")
        if sorted(sdf.columns) != sorted(ddf.columns):
            problems.append(f"cols {sorted(sdf.columns)} != {sorted(ddf.columns)}")
        elif frame_hash(sdf) != frame_hash(ddf):
            problems.append("value-hash mismatch")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
            if "value-hash mismatch" in problems and len(sdf) == len(ddf):
                cols = sorted(sdf.columns)
                a = sdf[cols].applymap(norm_cell) if hasattr(sdf[cols], "applymap") else sdf[cols].map(norm_cell)
                b = ddf[cols].applymap(norm_cell) if hasattr(ddf[cols], "applymap") else ddf[cols].map(norm_cell)
                a = a.sort_values(cols).reset_index(drop=True)
                b = b.sort_values(cols).reset_index(drop=True)
                diff = (a != b).any(axis=1)
                print(f"      first diffs (spark vs duckdb), {int(diff.sum())} differing rows:")
                for i in a.index[diff][:3]:
                    print(f"      spark : {a.loc[i].tolist()}")
                    print(f"      duckdb: {b.loc[i].tolist()}")
        else:
            print(f"ok    {name}: {len(sdf)} rows ({time.time() - t0:.1f}s)")
    spark.stop()
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
