"""Spot-check a subset of registered queries against their DuckDB
oracles (same comparison as scripts/driver_mimic.py, filtered).

Usage: python scripts/check_queries.py [sf_dir] name1 name2 ...
With no names: checks nothing (use driver_mimic.py for the full sweep).
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as e

args = sys.argv[1:]
SF = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
names = [a for a in args if "/" not in a]

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

con = duckdb.connect()
for t in (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
):
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
    )


def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def nv(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 6)
        return v

    return sorted([tuple(nv(r[i]) for i in order) for r in rows], key=repr)


qs, oracles = e.queries(), e.oracle_sql()
fails = []
for name in names:
    try:
        sdf = qs[name](spark, SF)
        srows = [tuple(r) for r in sdf.collect()]
        if name not in oracles:
            print(f"{name}: rows-only check, n={len(srows)}")
            continue
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        ok_n = len(srows) == len(drows)
        ok_s = sorted(sdf.columns) == sorted(dcols)
        ok_v = norm(srows, sdf.columns) == norm(drows, dcols)
        status = "OK" if (ok_n and ok_s and ok_v) else "MISMATCH"
        print(
            f"{name}: {status} rows={len(srows)}/{len(drows)} "
            f"schema={ok_s} values={ok_v}"
        )
        if status != "OK":
            fails.append(name)
    except Exception as ex:
        print(f"{name}: ERROR {type(ex).__name__}: {str(ex)[:300]}")
        fails.append(name)

print("FAILED:" if fails else "ALL OK", fails)
sys.exit(1 if fails else 0)
