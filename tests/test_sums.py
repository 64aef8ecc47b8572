"""Exact integer-unit sums (queries/sums.py): exact totals near the guard,
and a raise with a cause — never a silently wrapped total — when the terms
can leave the BIGINT unit range, in the grouped, windowed and numpy forms.
And the rule's reach: no DECIMAL cast in the package outside the named
second-moment functions."""

import ast
import math
import os
import re

import duckdb
import numpy as np
import pytest

from codecdb_queryengine_spark.queries.sums import unit_sum, unit_sum_sql, unit_total

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


def _window_sums(spark, values):
    """unit_sum over a running window (ROWS UNBOUNDED PRECEDING) in row order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i long, v double")
    w = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return [r["s"] for r in df.select(unit_sum(F.col("v"), SCALE, over=w).alias("s")).orderBy("i").collect()]


def test_windowed_sum_is_exact_and_mirrored(spark):
    values = [0.1 * 3, 1234.5678, -99.99, 105000.0 * 0.93]
    got = _window_sums(spark, values)
    assert got == [_sum(spark, values[: i + 1]) for i in range(len(values))]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(values)))
    duck = con.execute(
        f"SELECT {unit_sum_sql('v', SCALE, over='w')} FROM t "
        "WINDOW w AS (ORDER BY i ROWS UNBOUNDED PRECEDING) ORDER BY i"
    ).fetchall()
    assert [r[0] for r in duck] == got


@pytest.mark.parametrize("values", [[NEAR, NEAR], [1.0, math.nan], [1.0e15]])
def test_windowed_overflow_raises_with_a_cause(spark, values):
    with pytest.raises(Exception, match="past what a BIGINT sum holds"):
        _window_sums(spark, values)


def test_numpy_mirror_agrees_with_the_engine(spark):
    values = [0.1 * 3, 1234.5678, -99.99, 105000.0 * 0.93]
    assert unit_total(np.array(values), SCALE) / 10**SCALE == _sum(spark, values)
    assert unit_total(np.array([2.0e14, 2.0e14]), SCALE) == 4 * 10**18
    assert unit_total(np.array([]), SCALE) == 0


@pytest.mark.parametrize(
    "values", [[NEAR, NEAR], [NEAR, -NEAR], [1.0e15], [1.0, math.nan], [1.0, math.inf]]
)
def test_numpy_overflow_raises_with_a_cause(values):
    with pytest.raises(ArithmeticError, match="past what a BIGINT sum holds"):
        unit_total(np.array(values), SCALE)


# Sums of squares and cross products overflow any BIGINT unit sum (see the
# queries/sums.py docstring), so these keep DECIMAL(38); nothing else may.
SECOND_MOMENTS = {
    "queries/extensions.py": {"ext_stats", "ext_stats_approx", "ext_corr"},
    "oracle/extensions.py": {"_STATS_SQL", "_STATS_APPROX_SQL", "_CORR_SQL"},
    "operators/similarity.py": {"pca_power_micro"},
}
_DECIMAL_CAST = re.compile(r"""cast\(\s*["']decimal\(|\bAS\s+DECIMAL\(|DecimalType\(""", re.I)


def test_decimal_casts_only_in_second_moments():
    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "codecdb_queryengine_spark")
    found = {}
    for d, _, names in os.walk(root):
        for n in names:
            if not n.endswith(".py"):
                continue
            path = os.path.join(d, n)
            rel = os.path.relpath(path, root)
            src = open(path).read()
            lines = src.splitlines()
            for node in ast.parse(src).body:
                text = "\n".join(lines[node.lineno - 1 : node.end_lineno])
                if not _DECIMAL_CAST.search(text):
                    continue
                name = getattr(node, "name", None) or next(
                    (t.id for t in getattr(node, "targets", []) if isinstance(t, ast.Name)), None
                )
                found.setdefault(rel, set()).add(name)
    assert found == SECOND_MOMENTS
