"""Exact integer-unit sums: money and rate aggregates whose value does not
depend on how the rows are split into tasks or merged.

A double sum rounds after every addition, so its last bits depend on the
order in which partial sums meet — the number of row groups, the AQE
coalescing, the join order, the engine.  Every money or rate term here is
an exact decimal quantity (cent prices, 2-decimal discounts and taxes and
their products), so `rint(term * 10^s)` recovers it exactly as an integer
count of 10^-s units.  Integer addition is associative: the BIGINT total is
the same for every plan, partitioning and engine, and one division turns it
back into a double.  DECIMAL(18,s) gives the same answers, but Spark's
double→decimal cast goes through a BigDecimal per row: measured on TPC-H
Q1 at sf0.1 (4 cores) it took 2.3-2.7 s against 0.40 s for the double and
the integer forms.

The DuckDB oracle (and the `*_sql` twins run by Spark) mirror the sum with
unit_sum_sql.  DuckDB's round() breaks ties away from zero and Spark's
rint() to even; the two differ only on a product that is exactly k + 0.5,
which an exact s-decimal term never is.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def unit_sum(term: Column, scale: int) -> Column:
    """sum(CAST(rint(term * 10^scale) AS BIGINT)) / 10^scale, as a double.

    `term` must hold exact `scale`-decimal values.  A BIGINT sum wraps
    silently with ANSI off, so the sum raises instead of answering once
    the terms' magnitudes add up to 2^62 units, or a term is NaN or
    infinite.  Below that bound every term and every partial sum, in any
    order, fits a BIGINT; the double sum of magnitudes that checks it
    costs one add per row, half the per-row cost of try_cast, try_sum
    and null counts."""
    units = F.rint(term * F.lit(float(10**scale)))
    return F.when(
        ~(F.sum(F.abs(units)) < F.lit(2.0**62)),
        F.raise_error(
            F.lit(
                f"unit_sum at scale {scale}: the terms reach 2^62 units or one is "
                "not finite, past what a BIGINT sum holds; sum fewer rows or at "
                "a lower scale"
            )
        ),
    ).otherwise(F.sum(units.cast("long")) / F.lit(float(10**scale)))


def unit_sum_sql(term: str, scale: int) -> str:
    """unit_sum as SQL text, valid in DuckDB and in Spark SQL."""
    return (
        f"(CAST(sum(CAST(round(({term}) * {10**scale}) AS BIGINT)) AS DOUBLE)"
        f" / {10**scale})"
    )
