"""Exact integer-unit sums (queries/sums.py): exact totals near the guard,
and a raise with a cause — never a silently wrapped total — when the terms
can leave the BIGINT unit range."""

import math

import duckdb
import pytest

from codecdb_queryengine_spark.queries.sums import unit_sum, unit_sum_sql

SCALE = 4
NEAR = 9.0e14  # 9.0e18 units: just under 2^63 ≈ 9.22e18 at scale 4


def _sum(spark, values):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(v,) for v in values], "v double")
    return df.agg(unit_sum(F.col("v"), SCALE).alias("s")).first()["s"]


def test_sum_near_the_guard_is_exact(spark):
    # 4.0e18 units in all, just under the 2^62 ≈ 4.61e18 guard
    assert _sum(spark, [2.0e14, 2.0e14]) == 4.0e14
    assert _sum(spark, [12345.6789, 0.0001, -0.0003]) == 12345.6787
    assert _sum(spark, [None, None]) is None
    assert _sum(spark, []) is None


@pytest.mark.parametrize(
    "values",
    [
        [NEAR, NEAR],  # the sum leaves BIGINT
        [NEAR, -NEAR],  # a partial sum may leave BIGINT in some order
        [1.0e15],  # one term past 2^63 units
        [1.0, math.nan],
        [1.0, math.inf],
    ],
)
def test_overflow_raises_with_a_cause(spark, values):
    with pytest.raises(Exception, match="past what a BIGINT sum holds"):
        _sum(spark, values)


def test_sql_mirror_agrees_with_the_engine(spark):
    values = [0.1 * 3, 1234.5678, -99.99, 105000.0 * 0.93]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in values])
    duck = con.execute(f"SELECT {unit_sum_sql('v', SCALE)} FROM t").fetchone()[0]
    spark.createDataFrame([(v,) for v in values], "v double").createOrReplaceTempView("unit_sum_t")
    twin = spark.sql(f"SELECT {unit_sum_sql('v', SCALE)} AS s FROM unit_sum_t").first()["s"]
    assert duck == twin == _sum(spark, values)
