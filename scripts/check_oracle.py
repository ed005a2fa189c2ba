"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same sf dir, then
compare row count, column names, and order-insensitive values.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]

Names not in the registry are refused (exit 2) before Spark starts.
"""

from __future__ import annotations

import math
import sys
import time

import duckdb

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod
from pasar_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    qs = entry_mod.queries()
    unknown = sorted(only - set(qs))
    if unknown:
        print("unknown query names:", unknown, file=sys.stderr)
        sys.exit(2)
    spark = get_spark(
        "oracle-check",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        if name not in oracles:
            print(f"{name:32s} rows-only: {len(srows):7d} rows  {time.time()-t0:5.1f}s")
            continue
        cur = con.execute(oracles[name])
        dcols = [d[0] for d in cur.description]
        drows = cur.fetchall()
        ok_schema = sorted(scols) == sorted(dcols)
        a, b = norm_rows(scols, srows), norm_rows(dcols, drows)
        ok = ok_schema and a == b
        status = "OK " if ok else "FAIL"
        print(f"{name:32s} {status} spark={len(srows):6d} duck={len(drows):6d}  {time.time()-t0:5.1f}s")
        if not ok:
            failures.append(name)
            if not ok_schema:
                print(f"    cols spark={sorted(scols)} duck={sorted(dcols)}")
            else:
                diff_a = [r for r in a if r not in set(b)][:3]
                diff_b = [r for r in b if r not in set(a)][:3]
                print(f"    spark-only: {diff_a}")
                print(f"    duck-only : {diff_b}")
    print("FAILURES:", failures if failures else "none")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
