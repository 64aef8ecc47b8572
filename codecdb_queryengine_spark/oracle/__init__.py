"""Local mirror of the driver's correctness gate: Spark result vs DuckDB
oracle on the same parquet, order-insensitive.

The oracle text itself lives beside this harness, one module per query
domain (text, dedup, search, ann, media, events, extensions; shared SQL
mirrors in fragments.py), each with an ORACLE
mapping.  Those modules import the engine's scenario constants; no engine
module imports this package.

Precision model (r3 post-mortem): the driver hashes values at full
precision — the old 2-decimal rounding here certified queries the driver
then failed (sim_topk diverged in the 6th decimal).  The local gate is now
STRICTER than the driver:

- values compare bit-exactly by default (``ndigits=None``); every gated
  float output must be produced by expressions the oracle SQL mirrors
  IEEE-operation-for-operation, or be anchored in integers/decimals.
- result column TYPES must map 1:1 (Spark long -> DuckDB BIGINT, double ->
  DOUBLE, ...).  DuckDB quietly widens sum(BIGINT) to HUGEINT and literals
  to DECIMAL; pandas-style consumers then widen those to float64, which
  flips a value-hash even when every value matches.  The parity check makes
  that a loud local failure instead of a driver-side flake.
"""

from __future__ import annotations

import math
import os
from typing import Any

import duckdb
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from codecdb_queryengine_spark.catalog import TABLES


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _expected_duck_type(dt: T.DataType) -> str | None:
    """The DuckDB type a Spark output column must map to (None = unchecked)."""
    if isinstance(dt, T.LongType):
        return "BIGINT"
    if isinstance(dt, T.IntegerType):
        return "INTEGER"
    if isinstance(dt, T.DoubleType):
        return "DOUBLE"
    if isinstance(dt, T.FloatType):
        return "FLOAT"
    if isinstance(dt, T.StringType):
        return "VARCHAR"
    if isinstance(dt, T.BooleanType):
        return "BOOLEAN"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "TIMESTAMP"
    if isinstance(dt, T.DateType):
        return "DATE"
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    if isinstance(dt, T.ArrayType):
        inner = _expected_duck_type(dt.elementType)
        return None if inner is None else f"{inner}[]"
    return None  # structs/maps/binary: value compare only


def type_parity(spark_df: DataFrame, sql: str, sf_dir: str) -> list[str]:
    """Column-type mismatches between the Spark result and the oracle."""
    con = duckdb_connect(sf_dir)
    try:
        rel = con.sql(sql)
        duck_types = dict(zip(rel.columns, [str(t) for t in rel.types]))
    finally:
        con.close()
    problems = []
    for field in spark_df.schema.fields:
        want = _expected_duck_type(field.dataType)
        got = duck_types.get(field.name)
        if want is not None and got is not None and got != want:
            problems.append(f"{field.name}: spark {field.dataType.simpleString()} -> "
                            f"expected duck {want}, got {got}")
    return problems


def _norm_cell(v: Any, ndigits: int | None) -> Any:
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if ndigits is not None:
            return round(v, ndigits)
        return v
    if isinstance(v, list):
        return tuple(_norm_cell(x, ndigits) for x in v)
    return v


def normalize(
    rows: list[tuple], columns: list[str], ndigits: int | None = None
) -> list[tuple]:
    """Sort columns by name, then rows; ndigits=None keeps floats bit-exact."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm_cell(r[i], ndigits) for i in order) for r in rows]
    return sorted(out, key=lambda r: tuple(str(x) for x in r))


def compare(
    spark_df: DataFrame, sql: str, sf_dir: str, ndigits: int | None = None
) -> tuple[bool, str]:
    """Return (match, detail). Row count + column names + column types +
    normalized values (bit-exact floats unless ndigits is given)."""
    s_rows = [tuple(r) for r in spark_df.collect()]
    s_cols = spark_df.columns
    con = duckdb_connect(sf_dir)
    try:
        res = con.execute(sql)
        d_cols = [c[0] for c in res.description]
        d_rows = [tuple(r) for r in res.fetchall()]
    finally:
        con.close()
    if sorted(s_cols) != sorted(d_cols):
        return False, f"column mismatch: spark={sorted(s_cols)} duck={sorted(d_cols)}"
    tp = type_parity(spark_df, sql, sf_dir)
    if tp:
        return False, f"type mismatch: {tp}"
    if len(s_rows) != len(d_rows):
        return False, f"row count mismatch: spark={len(s_rows)} duck={len(d_rows)}"
    sn = normalize(s_rows, s_cols, ndigits)
    dn = normalize(d_rows, d_cols, ndigits)
    if sn != dn:
        diffs = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
        return False, f"value mismatch, first diffs: {diffs}"
    return True, f"ok ({len(s_rows)} rows)"
