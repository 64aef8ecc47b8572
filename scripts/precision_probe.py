#!/usr/bin/env python3
"""Exact-value diff of named queries vs their oracles: prints per-cell
max |spark - duck| and first bit-level diffs. Usage:
  python scripts/precision_probe.py [sf_dir] name [name...]
"""

from __future__ import annotations

import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
# Spark's Python workers import the engine too: they inherit PYTHONPATH from
# the JVM, which inherits this process's environment when the session starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, [_ROOT, os.environ.get("PYTHONPATH")])
)

import __spark_entry__ as entry_mod
from codecdb_queryengine_spark.oracle import duckdb_connect
from pyspark.sql import SparkSession


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:]
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("precision-probe")
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    for name in names:
        df = queries[name](spark, sf_dir)
        s_cols = df.columns
        s_rows = [tuple(r) for r in df.collect()]
        con = duckdb_connect(sf_dir)
        res = con.execute(oracles[name])
        d_cols = [c[0] for c in res.description]
        d_rows = [tuple(r) for r in res.fetchall()]
        con.close()
        order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
        order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
        sn = sorted([tuple(r[i] for i in order_s) for r in s_rows])
        dn = sorted([tuple(r[i] for i in order_d) for r in d_rows])
        print(f"== {name}: spark {len(sn)} rows, duck {len(dn)} rows")
        if len(sn) != len(dn):
            print("  ROW COUNT MISMATCH")
            print("  spark-only:", [r for r in sn if r not in set(dn)][:5])
            print("  duck-only:", [r for r in dn if r not in set(sn)][:5])
            continue
        ndiff = 0
        for a, b in zip(sn, dn):
            if a != b:
                ndiff += 1
                if ndiff <= 5:
                    print(f"  diff: spark={a}")
                    print(f"        duck ={b}")
                    for x, y in zip(a, b):
                        if x != y and isinstance(x, float) and isinstance(y, float):
                            print(f"        cell: {x!r} vs {y!r} delta={x - y!r}")
        print(f"  exact-diff rows: {ndiff}/{len(sn)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
