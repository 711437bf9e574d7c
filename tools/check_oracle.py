"""Local mimic of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB over the same sf dir,
compare row count, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

import duckdb

ROOT = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, ROOT)
# Spark's Python workers import the program too: put the checkout root
# on their PYTHONPATH, so the check runs from any directory
os.environ["PYTHONPATH"] = os.pathsep.join(
    [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
              if p and p != ROOT])


def norm(v):
    if isinstance(v, float):
        return round(v, 9)
    return v


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.adaptive.enabled", "true")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(norm(v) for v in r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            n_fail += 1
            continue
        dt_spark = time.monotonic() - t0
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(rows)} rows, {dt_spark:.1f}s)")
            continue
        try:
            res = con.sql(oracles[name])
            ocols = [c for c in res.columns]
            orows = [tuple(norm(v) for v in r) for r in res.fetchall()]
        except Exception as e:
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            n_fail += 1
            continue
        status = []
        if len(rows) != len(orows):
            status.append(f"rowcount {len(rows)} vs {len(orows)}")
        if sorted(cols) != sorted(ocols):
            status.append(f"cols {cols} vs {ocols}")
        if not status:
            # column-order-insensitive, row-order-insensitive compare
            ci = [cols.index(c) for c in sorted(cols)]
            oi = [ocols.index(c) for c in sorted(ocols)]
            a = sorted(tuple(r[i] for i in ci) for r in rows)
            b = sorted(tuple(r[i] for i in oi) for r in orows)
            if a != b:
                bad = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y) \
                    if len(a) == len(b) else -1
                status.append(f"values differ (first at {bad}: "
                              f"{a[bad] if bad >= 0 else ''} vs {b[bad] if bad >= 0 else ''})")
        if status:
            print(f"FAIL {name}: {'; '.join(status)}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(rows)} rows, {dt_spark:.1f}s)")
    spark.stop()
    print("failures:", n_fail)
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
