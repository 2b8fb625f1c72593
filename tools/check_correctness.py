"""Correctness gate: run each ``__spark_entry__.queries()`` entry
on Spark and its oracle_sql() on DuckDB over the same parquet, compare
row count, column names, and an order-insensitive value hash.

A query without an oracle fails. Exits non-zero unless every query is OK.

Usage: python tools/check_correctness.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = ["documents"]  # the only table the queries() entries read


def value_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
    rows = sorted(
        tuple(str(x) for x in row) for row in df.itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from odinson_spark.session import get_spark

    spark = get_spark(app_name="correctness-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            results.append((name, "SPARK_ERROR", str(e).split("\n")[0][:160]))
            continue
        if name not in oracles:
            results.append((name, "NO_ORACLE", f"rows={len(sdf)}"))
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            results.append((name, "ORACLE_ERROR", str(e).split("\n")[0][:160]))
            continue
        issues = []
        if len(sdf) != len(odf):
            issues.append(f"rows {len(sdf)}!={len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            issues.append(f"cols {sorted(sdf.columns)}!={sorted(odf.columns)}")
        elif value_hash(sdf) != value_hash(odf):
            issues.append("value-hash mismatch")
        secs = time.time() - t0
        if issues:
            results.append((name, "MISMATCH", "; ".join(issues)))
        else:
            results.append((name, "OK", f"rows={len(sdf)} {secs:.1f}s"))
    print()
    ok = 0
    for name, status, detail in results:
        print(f"{name:24s} {status:12s} {detail}")
        ok += status == "OK"
    print(f"\n{ok}/{len(results)} passing")
    spark.stop()
    if ok != len(results):
        sys.exit(1)


if __name__ == "__main__":
    main()
