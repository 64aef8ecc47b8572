"""Exact integer-unit sums: the one rule every linear money, rate or value
sum in the engine and its oracles follows, so that the answer does not
depend on how the rows are split into tasks or merged.

A double sum rounds after every addition, so its last bits depend on the
order in which partial sums meet — the number of row groups, the AQE
coalescing, the join order, the streaming state merge, the engine.  Every
summed term here is an exact decimal quantity (cent prices and event
values, 2-decimal discounts and taxes and their products), so
`rint(term * 10^s)` recovers it exactly as an integer count of 10^-s units.
Integer addition is associative: the BIGINT total is the same for every
plan, partitioning and engine, and one division turns it back into a
double.  DECIMAL(18,s) gives the same answers, but Spark's double→decimal
cast goes through a BigDecimal per row: measured on TPC-H Q1 at sf0.1
(4 cores) it took 2.3-2.7 s against 0.40 s for the double and the integer
forms.

Spark plans use unit_sum (grouped, or over a window); the DuckDB oracles
and the `*_sql` twins run by Spark use unit_sum_sql; Python operators that
keep a running sum in their own state use unit_total.  DuckDB's round()
breaks ties away from zero and Spark's and numpy's rint() to even; they
differ only on a product that is exactly k + 0.5, which an exact s-decimal
term never is.

The one exception is second moments (sums of squares and cross products:
extensions.ext_stats, ext_stats_approx, ext_corr, and the z sums of
operators/similarity.pca_power_micro).  They stay DECIMAL(38): Σ
l_extendedprice² at sf0.1 is 2.22e19 cent² units, 4.8 × 2^62, past what
any BIGINT unit sum holds.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, WindowSpec
from pyspark.sql import functions as F

_GUARD = 2.0**62


def _overflow(scale: int) -> str:
    return (
        f"unit_sum at scale {scale}: the terms reach 2^62 units or one is "
        "not finite, past what a BIGINT sum holds; sum fewer rows or at "
        "a lower scale"
    )


def unit_sum(term: Column, scale: int, over: WindowSpec | None = None) -> Column:
    """sum(CAST(rint(term * 10^scale) AS BIGINT)) / 10^scale, as a double;
    a window aggregate over `over` when given.

    `term` must hold exact `scale`-decimal values.  A BIGINT sum wraps
    silently with ANSI off, so the sum raises instead of answering once
    the terms' magnitudes add up to 2^62 units, or a term is NaN or
    infinite.  Below that bound every term and every partial sum, in any
    order, fits a BIGINT; the double sum of magnitudes that checks it
    costs one add per row, half the per-row cost of try_cast, try_sum
    and null counts."""
    units = F.rint(term * F.lit(float(10**scale)))
    magnitude = F.sum(F.abs(units))
    total = F.sum(units.cast("long"))
    if over is not None:
        magnitude, total = magnitude.over(over), total.over(over)
    return F.when(
        ~(magnitude < F.lit(_GUARD)), F.raise_error(F.lit(_overflow(scale)))
    ).otherwise(total / F.lit(float(10**scale)))


def unit_sum_sql(term: str, scale: int, over: str | None = None) -> str:
    """unit_sum as SQL text, valid in DuckDB and in Spark SQL; `over` names
    a window (`... OVER w`) when given."""
    window = f" OVER {over}" if over else ""
    return (
        f"(CAST(sum(CAST(round(({term}) * {10**scale}) AS BIGINT)){window} AS DOUBLE)"
        f" / {10**scale})"
    )


def unit_total(values: np.ndarray, scale: int) -> int:
    """unit_sum's BIGINT total before its division, in numpy: the exact
    count of 10^-scale units in `values`, accumulated in int64.  Raises
    under the same guard as unit_sum."""
    units = np.rint(np.asarray(values, dtype=np.float64) * float(10**scale))
    if not np.abs(units).sum() < _GUARD:
        raise ArithmeticError(_overflow(scale))
    return int(units.astype(np.int64).sum())
