"""TPC-H query surface, adapted to the driver's reduced schema.

The reference implements all 22 TPC-H queries as hand-assembled physical
plans (reference: cpp/src/lqf/tpch/tpchquery.h:118-139, one query*.cc each);
the declarative specs it implements are the committed SQL in
cpp/tpch_sql/presto/query/q*.sql.  Here each query is a declarative DataFrame
plan — Catalyst supplies what the reference hand-builds (projection/predicate
pushdown, semi-join reduction, build-side choice; SURVEY.md §4).

Adaptation notes (driver testdata lacks partsupp, l_commitdate,
l_receiptdate, l_shipmode, comments and phone columns — see FIXTURES.md):
every query keeps the *operator shape* of its reference counterpart
(filter / semi-join / outer-join / exists / correlated-agg / arg-max / top-k)
but substitutes available columns.  Each entry in ORACLE is the equivalent
ANSI SQL run by DuckDB on the same parquet for the correctness gate; aliases
match column-for-column.

Per-query reference citations sit on each function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from codecdb_queryengine_spark.catalog import load_tables
from codecdb_queryengine_spark.queries.sums import unit_sum, unit_sum_sql


def _ts(s: str):
    return F.lit(s).cast("timestamp")


# ---------------------------------------------------------------------------
# Q1 — pricing summary report: filter + grouped agg with computed sums.
# Reference plan: ColFilter -> TableAgg(8 dense slots) -> SmallSort
# (cpp/src/lqf/tpch/query1.cc:163-218).  Spark: filter + groupBy; the dense
# array-indexed agg fast path is Spark-internal.
def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir)["lineitem"]
    price = F.col("l_extendedprice")
    disc_price = price * (1 - F.col("l_discount"))
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= _ts("2001-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # quantities are whole numbers: their double sums are exact
            F.sum("l_quantity").alias("sum_qty"),
            unit_sum(price, 2).alias("sum_base_price"),
            unit_sum(disc_price, 4).alias("sum_disc_price"),
            unit_sum(disc_price * (1 + F.col("l_tax")), 6).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            (unit_sum(price, 2) / n).alias("avg_price"),
            (unit_sum(F.col("l_discount"), 2) / n).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# Q2 — arg-min with ties: cheapest supplier per nation of a region.
# Reference: RecordingMin keeps the full tie set (cpp/src/lqf/agg.h:346-427,
# used in query2.cc); max_by keeps one arbitrary winner, so the exact
# replication is rank()==1 (SURVEY.md §7 risk 2).  partsupp is absent from
# testdata; supplier acctbal plays the min-cost role.
def q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    eur = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    s = t["supplier"].join(F.broadcast(eur), F.col("s_nationkey") == F.col("n_nationkey"))
    w = Window.partitionBy("n_nationkey").orderBy(F.col("s_acctbal").asc())
    return (
        s.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") == 1)
        .select("n_name", "s_name", "s_acctbal")
        .orderBy("n_name", "s_name")
    )


# Q3 — shipping priority: 2 joins + grouped agg + top-10.
# Reference plan: filters on all three tables, FilterJoin (semi) to prune
# lineitem, HashJoin, HashAgg, TopN(10) (cpp/src/lqf/tpch/query3.cc:33-99).
# Spark: the semi-join reduction is left to the runtime bloom filter; TopN ->
# TakeOrderedAndProject.
def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    orders = t["orders"].filter(F.col("o_orderdate") < _ts("1998-03-15"))
    li = t["lineitem"].filter(F.col("l_shipdate") > _ts("1998-03-15"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(unit_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc())
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


def q3_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 with the fact-fact join PRE-BUCKETED — the zero-shuffle layout a
    100-TB deployment would maintain (SCALE.md; r4 verdict item 7:
    sources/io.write_bucketed was Exchange-free in unit tests but never
    under the value gate).  lineitem and orders are persisted as bucketed
    tables on the order key (bucket count co-chosen, sorted within
    buckets), so the l_orderkey = o_orderkey merge join needs NO shuffle
    Exchange on either side — and the downstream groupBy(l_orderkey, …)
    inherits that clustering, so the whole query runs shuffle-free.
    scripts/explain_audit.py pins the no-shuffle-Exchange fact; the value
    oracle is q3's (same rows, same revenue sums).

    The bucketed-table build is INSIDE the query on purpose: the gate then
    covers write→catalog→bucketed-scan→join end to end, and the bench
    honestly charges the layout cost it claims to amortize."""
    import os as _os

    from codecdb_queryengine_spark.sources import io as IO

    t = load_tables(spark, sf_dir)
    tag = _os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    li_t, ord_t = f"q3b_lineitem_{tag}", f"q3b_orders_{tag}"
    IO.write_bucketed(
        t["lineitem"].select("l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"),
        li_t,
        bucket_by=["l_orderkey"],
        num_buckets=8,
        sort_by=["l_orderkey"],
    )
    IO.write_bucketed(
        t["orders"].select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"),
        ord_t,
        bucket_by=["o_orderkey"],
        num_buckets=8,
        sort_by=["o_orderkey"],
    )
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    orders = spark.table(ord_t).filter(F.col("o_orderdate") < _ts("1998-03-15"))
    li = spark.table(li_t).filter(F.col("l_shipdate") > _ts("1998-03-15"))
    # merge hint: without it the post-filter orders side can fall under the
    # broadcast threshold and AQE would pick a broadcast join — correct,
    # but then the gate would no longer exercise the bucketed co-location
    return (
        li.hint("merge")
        .join(orders.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(unit_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc())
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


# Q4 — order priority checking: correlated EXISTS.
# Reference: FilterJoin (semi) lineitem->orders with the l_commitdate <
# l_receiptdate rows (query4.cc); adapted late-line predicate is
# l_shipdate > o_orderdate (receipt/commit dates absent).
def q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    o = t["orders"].filter(
        (F.col("o_orderdate") >= _ts("1996-07-01")) & (F.col("o_orderdate") < _ts("1996-10-01"))
    )
    li = t["lineitem"]
    return (
        o.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# Q5 — local supplier volume: 5-way star join with c_nationkey = s_nationkey.
# Reference: chained HashJoins with region->nation->{customer,supplier}
# build sides (query5.cc).  Dimensions broadcast; fact joins hash.
def q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    asia_nations = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    o = t["orders"].filter(
        (F.col("o_orderdate") >= _ts("1996-01-01")) & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    return (
        t["lineitem"]
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(t["supplier"]),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(unit_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc())
    )


# Q6 — forecasting revenue change: pure scan filter + global agg.
# Reference: SboostPredicates evaluated on encoded pages + SimpleAgg
# (cpp/src/lqf/tpch/query6.cc:39-63); Spark: parquet pushdown + partial agg.
def q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir)["lineitem"]
    return li.filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(unit_sum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("revenue"))


# Q7 — volume shipping between two nations: self-aliased nation dim, OR of
# nation pairs, year extraction. Reference: query7.cc with two MapFilters.
def q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= _ts("1996-01-01")) & (F.col("l_shipdate") <= _ts("1997-12-31"))
    )
    joined = (
        li.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(unit_sum(F.col("volume"), 4).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# Q8 — national market share: conditional share of revenue per year.
# Reference: query8.cc (KeyFinder scalar probe for the nation key + share
# computed in a custom AggField); Spark: sum(when)/sum.
def q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    america_nations = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "AMERICA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    o = t["orders"].filter(
        (F.col("o_orderdate") >= _ts("1995-01-01")) & (F.col("o_orderdate") <= _ts("1996-12-31"))
    )
    joined = (
        t["lineitem"]
        .join(F.broadcast(t["part"].filter(F.col("p_type") == "ECONOMY")), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(america_nations), F.col("c_nationkey") == F.col("cn_key"), "left_semi")
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    )
    vol = joined.select(
        F.year("o_orderdate").cast("long").alias("o_year"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        F.col("supp_nation"),
    )
    return (
        vol.groupBy("o_year")
        .agg(
            (
                unit_sum(
                    F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(0.0),
                    4,
                )
                / unit_sum(F.col("volume"), 4)
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# Q9 — product type profit (adapted: no ps_supplycost; amount is revenue).
# Reference: query9.cc with PowerMapFilter on partkey⊕suppkey.
def q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .join(
            F.broadcast(t["part"].filter(F.col("p_name").like("%red%"))),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(unit_sum(F.col("amount"), 4).alias("sum_profit"))
        .orderBy(F.col("nation").asc(), F.col("o_year").desc())
    )


# Q10 — returned item reporting: join + group + top-20.
# Reference: query10.cc (HashColumnJoin chain + TopN 20).
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    o = t["orders"].filter(
        (F.col("o_orderdate") >= _ts("1996-10-01")) & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    return (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(unit_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


# Q11 — important stock identification (adapted: lineitem value in place of
# partsupp): grouped agg + HAVING against a global scalar.
# Reference: query11.cc (TotalAggNode custom node computes the threshold);
# Spark: broadcast the 1-row threshold, no driver-side collect.
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    nat = t["nation"].filter(F.col("n_name") == "NATION_5")
    base = (
        t["lineitem"]
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("l_partkey", (F.col("l_extendedprice") * F.col("l_quantity")).alias("v"))
    )
    grouped = base.groupBy("l_partkey").agg(unit_sum(F.col("v"), 2).alias("part_value"))
    thr = base.agg((unit_sum(F.col("v"), 2) * 0.001).alias("threshold"))
    return (
        grouped.join(F.broadcast(thr))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), F.col("l_partkey").asc())
    )


# Q12 — shipping mode / priority (adapted: l_linestatus for shipmode, late =
# shipped after order date): join + conditional counts.
# Reference: query12.cc (SboostRow2Filter on date columns + conditional agg).
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= _ts("1996-01-01")) & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# Q13 — customer distribution: LEFT OUTER join keeping zero-order customers.
# Reference: HashJoin::useOuter emitting EMPTY rows + custom CustCountAgg
# (cpp/src/lqf/tpch/query13.cc:29-132); Spark: left join + count(col) which
# skips nulls, so zero-order groups appear with c_count = 0.
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    o = t["orders"].filter(F.col("o_orderstatus") != "F")
    per_cust = (
        t["customer"]
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# Q14 — promotion effect: conditional share over one month.
# Reference: FilterTransformJoin rewriting promo vs non-promo rows
# (cpp/src/lqf/join.h:201-214, query14.cc); Spark: when/otherwise.
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= _ts("1996-09-01")) & (F.col("l_shipdate") < _ts("1996-10-01"))
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * unit_sum(F.when(F.col("p_type").startswith("PROMO"), disc).otherwise(0.0), 4)
                / unit_sum(disc, 4)
            ).alias("promo_revenue")
        )
    )


# Q15 — top supplier: arg-max over an aggregated view, keeping ties.
# Reference: RecordingSimpleAgg over the revenue view (query15.cc:61-62);
# the view is used twice.  No persist needed: both uses sit in ONE plan, so
# Spark's exchange reuse (spark.sql.exchange.reuse, on by default) computes
# the revenue shuffle once and wires it into both consumers — the reference's
# Mat point without a leaked cache entry.
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    revenue = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1996-01-01")) & (F.col("l_shipdate") < _ts("1996-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(
            unit_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "total_revenue"
            )
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# Q16 — parts/supplier relationship (adapted via lineitem; the complainer
# exclusion is an anti join): countDistinct + NOT IN subquery.
# Reference: query16.cc (HashFilterJoin anti + HashStrAgg distinct count).
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    excluded = t["supplier"].filter(F.col("s_acctbal") < 500.0).select("s_suppkey")
    p = t["part"].filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").startswith("PROMO"))
        & (F.col("p_size").isin(1, 5, 9, 14, 20, 27, 33, 40))
    )
    return (
        t["lineitem"]
        .join(F.broadcast(excluded), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        )
    )


# Q17 — small-quantity-order revenue: correlated scalar agg subquery
# (l_quantity < 0.2 * avg over the same part).
# Reference: FilterMat + HashJoin with residual predicate quantity < 0.2*avg
# (cpp/src/lqf/tpch/query17.cc:25-68).
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    pp = t["part"].filter(F.col("p_brand") == "Brand#3").select("p_partkey")
    avg_q = (
        t["lineitem"]
        .groupBy(F.col("l_partkey").alias("ap_partkey"))
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold"))
    )
    return (
        t["lineitem"]
        .join(F.broadcast(pp), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .join(avg_q, F.col("l_partkey") == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (unit_sum(F.col("l_extendedprice"), 2) / 7.0).alias("avg_yearly")
        )
    )


# Q18 — large volume customers: agg-derived semi join + re-agg + top-100.
# Reference: HashMultiJoin on duplicate orderkeys + StripeHashAgg
# (cpp/src/lqf/tpch/query18.cc:54, SURVEY §2.4).
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 180.0)
        .select("l_orderkey")
    )
    return (
        t["lineitem"]
        .join(big.withColumnRenamed("l_orderkey", "b_orderkey"), F.col("l_orderkey") == F.col("b_orderkey"), "left_semi")
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .limit(100)
    )


def q18_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 (large-volume customers, the reference's HashMultiJoin —
    cpp/src/lqf/join.h:302-321) over PRE-BUCKETED lineitem/orders: the
    q3_bucketed discipline applied to the heaviest fact-fact shape.  With
    both facts bucketed+sorted on the order key, the big-orders self-
    aggregate, the semi join back onto lineitem, and the lineitem⋈orders
    join ALL inherit the bucket clustering — no shuffle Exchange anywhere
    on the fact path (the final groupBy keys include o_orderkey, so the
    bucket partitioning satisfies its clustering too); customer is the
    one broadcast.  scripts/explain_audit.py pins the no-Exchange fact;
    the value oracle is q18's."""
    import os as _os

    from codecdb_queryengine_spark.sources import io as IO

    t = load_tables(spark, sf_dir)
    tag = _os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    li_t, ord_t = f"q18b_lineitem_{tag}", f"q18b_orders_{tag}"
    IO.write_bucketed(
        t["lineitem"].select("l_orderkey", "l_quantity"),
        li_t,
        bucket_by=["l_orderkey"],
        num_buckets=8,
        sort_by=["l_orderkey"],
    )
    IO.write_bucketed(
        t["orders"].select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
        ord_t,
        bucket_by=["o_orderkey"],
        num_buckets=8,
        sort_by=["o_orderkey"],
    )
    li, orders = spark.table(li_t), spark.table(ord_t)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 180.0)
        .select(F.col("l_orderkey").alias("b_orderkey"))
    )
    # merge hints as in q3_bucketed: keep AQE from broadcasting the
    # post-filter sides, so the gate exercises the bucketed co-location
    return (
        li.hint("merge")
        .join(big.hint("merge"), F.col("l_orderkey") == F.col("b_orderkey"), "left_semi")
        .join(orders.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .orderBy(
            F.col("o_totalprice").desc(),
            F.col("o_orderdate").asc(),
            F.col("o_orderkey").asc(),
        )
        .limit(100)
    )


# Q19 — discounted revenue: disjunction of conjunction blocks as one boolean
# expression over the joined pair.
# Reference: three filter subplans OR-ed via FilterUnion bitmap
# (cpp/src/lqf/union.h:14-35, query19.cc); Spark: single boolean expr.
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    j = t["lineitem"].join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#4")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(clause).agg(
        unit_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue")
    )


# Q20 — potential part promotion (adapted): nested semi-joins, one derived
# from a grouped HAVING.
# Reference: PowerHashFilterJoin chain (cpp/src/lqf/tpch/query20.cc).
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    red = t["part"].filter(F.col("p_name").like("%red%")).select("p_partkey")
    qual = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1996-01-01")) & (F.col("l_shipdate") < _ts("1997-01-01"))
        )
        .join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 50.0)
        .select("l_suppkey")
    )
    asia = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey")
    )
    return (
        t["supplier"]
        .join(qual, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(asia), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


# Q21 — suppliers who kept orders waiting: EXISTS + NOT EXISTS chain with a
# non-equi component (different supplier, same order).
# Reference: HashExistJoin + HashNotExistJoin (cpp/src/lqf/join.h:216-265,
# query21.cc:141).  "Late" adapted to shipped >60 days after order date.
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    l1 = (
        t["lineitem"]
        .join(t["orders"].filter(F.col("o_orderstatus") == "F"), F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(late)
        .select("l_orderkey", "l_suppkey")
    )
    l2 = t["lineitem"].select(
        F.col("l_orderkey").alias("l2_orderkey"), F.col("l_suppkey").alias("l2_suppkey")
    )
    l3 = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(late)
        .select(F.col("l_orderkey").alias("l3_orderkey"), F.col("l_suppkey").alias("l3_suppkey"))
    )
    america = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "AMERICA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey")
    )
    waiting = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("l2_orderkey"))
            & (F.col("l_suppkey") != F.col("l2_suppkey")),
            "left_semi",
        ).join(
            l3,
            (F.col("l_orderkey") == F.col("l3_orderkey"))
            & (F.col("l_suppkey") != F.col("l3_suppkey")),
            "left_anti",
        )
    )
    return (
        waiting.join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(america), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(100)
    )


# Q22 — global sales opportunity (adapted: nationkey for phone prefix):
# global-avg scalar subquery + NOT EXISTS anti join.
# Reference: query22.cc (HashNotExistJoin + avg sub-agg).
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    codes = [1, 2, 3, 4, 5, 6, 7]
    cust = t["customer"].filter(F.col("c_nationkey").isin(codes))
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("avg_bal"))
    recent = t["orders"].filter(F.col("o_orderdate") >= _ts("2000-01-01")).select("o_custkey")
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            unit_sum(F.col("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


QUERIES = {f"q{i}": globals()[f"q{i}"] for i in range(1, 23)}
QUERIES["q3_bucketed"] = q3_bucketed
QUERIES["q18_bucketed"] = q18_bucketed
# Entries whose build only plans over the base tables — no Spark job, no
# file, no stream — so the registry analyzes each once per session
# (catalog.plan_once).  The bucketed twins write their tables while building.
PLAN_ONCE = frozenset(QUERIES) - {"q3_bucketed", "q18_bucketed"}


_DISC = "l_extendedprice * (1 - l_discount)"
_VALUE = "l_extendedprice * l_quantity"
ORACLE: dict[str, str] = {
    "q1": f"""
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty,
               {unit_sum_sql("l_extendedprice", 2)} AS sum_base_price,
               {unit_sum_sql(_DISC, 4)} AS sum_disc_price,
               {unit_sum_sql(f"{_DISC} * (1 + l_tax)", 6)} AS sum_charge,
               avg(l_quantity) AS avg_qty,
               {unit_sum_sql("l_extendedprice", 2)} / count(*) AS avg_price,
               {unit_sum_sql("l_discount", 2)} / count(*) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "q2": """
        SELECT n_name, s_name, s_acctbal FROM (
            SELECT n_name, s_name, s_acctbal,
                   rank() OVER (PARTITION BY n_nationkey ORDER BY s_acctbal) AS rk
            FROM supplier, nation, region
            WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND r_name = 'EUROPE')
        WHERE rk = 1 ORDER BY n_name, s_name
    """,
    "q3": f"""
        SELECT l_orderkey,
               {unit_sum_sql(_DISC, 4)} AS revenue,
               o_orderdate, o_orderpriority
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate > TIMESTAMP '1998-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10
    """,
    "q4": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate < TIMESTAMP '1996-10-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "q5": f"""
        SELECT n_name, {unit_sum_sql(_DISC, 4)} AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC
    """,
    "q6": f"""
        SELECT {unit_sum_sql("l_extendedprice * l_discount", 4)} AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "q7": f"""
        SELECT supp_nation, cust_nation, l_year,
               {unit_sum_sql("volume", 4)} AS revenue
        FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                     CAST(year(l_shipdate) AS BIGINT) AS l_year,
                     l_extendedprice * (1 - l_discount) AS volume
              FROM supplier, lineitem, orders, customer, nation n1, nation n2
              WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
                AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
                AND c_nationkey = n2.n_nationkey
                AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                  OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
                AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31')
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
    """,
    "q8": f"""
        SELECT o_year,
               {unit_sum_sql("CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END", 4)}
               / {unit_sum_sql("volume", 4)} AS mkt_share
        FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                     l_extendedprice * (1 - l_discount) AS volume,
                     n2.n_name AS nation
              FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
              WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
                AND l_orderkey = o_orderkey AND o_custkey = c_custkey
                AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
                AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
                AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
                AND p_type = 'ECONOMY')
        GROUP BY o_year
        ORDER BY o_year
    """,
    "q9": f"""
        SELECT nation, o_year, {unit_sum_sql("amount", 4)} AS sum_profit
        FROM (SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
                     l_extendedprice * (1 - l_discount) AS amount
              FROM part, supplier, lineitem, orders, nation
              WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
                AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
                AND p_name LIKE '%red%')
        GROUP BY nation, o_year
        ORDER BY nation, o_year DESC
    """,
    "q10": f"""
        SELECT c_custkey, c_name,
               {unit_sum_sql(_DISC, 4)} AS revenue,
               c_acctbal, n_name
        FROM customer, orders, lineitem, nation
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND o_orderdate >= TIMESTAMP '1996-10-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    "q11": f"""
        SELECT l_partkey, {unit_sum_sql(_VALUE, 2)} AS part_value
        FROM lineitem, supplier, nation
        WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
          AND n_name = 'NATION_5'
        GROUP BY l_partkey
        HAVING {unit_sum_sql(_VALUE, 2)} > (
            SELECT {unit_sum_sql(_VALUE, 2)} * 0.001
            FROM lineitem, supplier, nation
            WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
              AND n_name = 'NATION_5')
        ORDER BY part_value DESC, l_partkey
    """,
    "q12": """
        SELECT l_linestatus,
               count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_line_count,
               count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_line_count
        FROM orders, lineitem
        WHERE o_orderkey = l_orderkey
          AND l_shipdate > o_orderdate
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_linestatus
        ORDER BY l_linestatus
    """,
    "q13": """
        SELECT c_count, count(*) AS custdist
        FROM (SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer LEFT OUTER JOIN orders
                ON c_custkey = o_custkey AND o_orderstatus <> 'F'
              GROUP BY c_custkey)
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    "q14": f"""
        SELECT 100.00 * {unit_sum_sql(f"CASE WHEN p_type LIKE 'PROMO%' THEN {_DISC} ELSE 0 END", 4)}
               / {unit_sum_sql(_DISC, 4)} AS promo_revenue
        FROM lineitem, part
        WHERE l_partkey = p_partkey
          AND l_shipdate >= TIMESTAMP '1996-09-01'
          AND l_shipdate < TIMESTAMP '1996-10-01'
    """,
    "q15": f"""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   {unit_sum_sql(_DISC, 4)} AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier, revenue
        WHERE s_suppkey = supplier_no
          AND total_revenue = (SELECT max(total_revenue) FROM revenue)
        ORDER BY s_suppkey
    """,
    "q16": """
        SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem, part
        WHERE p_partkey = l_partkey
          AND p_brand <> 'Brand#1'
          AND p_type NOT LIKE 'PROMO%'
          AND p_size IN (1, 5, 9, 14, 20, 27, 33, 40)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 500.0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    "q17": f"""
        SELECT {unit_sum_sql("l_extendedprice", 2)} / 7.0 AS avg_yearly
        FROM lineitem, part
        WHERE p_partkey = l_partkey AND p_brand = 'Brand#3'
          AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                            FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
    "q18": """
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               sum(l_quantity) AS sum_qty
        FROM customer, orders, lineitem
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                             GROUP BY l_orderkey HAVING sum(l_quantity) > 180.0)
          AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        LIMIT 100
    """,
    "q19": f"""
        SELECT {unit_sum_sql(_DISC, 4)} AS revenue
        FROM lineitem, part
        WHERE p_partkey = l_partkey
          AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 20 AND 30))
    """,
    "q20": """
        SELECT s_name, s_acctbal
        FROM supplier
        WHERE s_suppkey IN (
                SELECT l_suppkey FROM lineitem
                WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
                  AND l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1997-01-01'
                GROUP BY l_suppkey
                HAVING sum(l_quantity) > 50.0)
          AND s_nationkey IN (SELECT n_nationkey FROM nation, region
                              WHERE n_regionkey = r_regionkey AND r_name = 'ASIA')
        ORDER BY s_name
    """,
    "q21": """
        SELECT s_name, count(*) AS numwait
        FROM supplier, lineitem l1, orders, nation
        WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
          AND o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3, orders o3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND o3.o_orderkey = l3.l_orderkey
                            AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
          AND s_nationkey = n_nationkey
          AND n_nationkey IN (SELECT n_nationkey FROM nation, region
                              WHERE n_regionkey = r_regionkey AND r_name = 'AMERICA')
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 100
    """,
    "q22": f"""
        SELECT cntrycode, count(*) AS numcust,
               {unit_sum_sql("c_acctbal", 2)} AS totacctbal
        FROM (SELECT c_nationkey AS cntrycode, c_acctbal
              FROM customer
              WHERE c_nationkey IN (1, 2, 3, 4, 5, 6, 7)
                AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
                                 WHERE c_acctbal > 0.0
                                   AND c_nationkey IN (1, 2, 3, 4, 5, 6, 7))
                AND NOT EXISTS (SELECT 1 FROM orders
                                WHERE o_custkey = c_custkey
                                  AND o_orderdate >= TIMESTAMP '2000-01-01'))
        GROUP BY cntrycode
        ORDER BY cntrycode
    """,
}

# Same result contract as q3 — the bucketed layout must change the plan
# (no shuffle Exchange; pinned by scripts/explain_audit.py), never the rows.
ORACLE["q3_bucketed"] = ORACLE["q3"]
ORACLE["q18_bucketed"] = ORACLE["q18"]
