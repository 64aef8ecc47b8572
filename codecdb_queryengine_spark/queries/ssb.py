"""SSB (Star Schema Benchmark) query surface, adapted to the driver schema.

The reference implements all 13 SSB queries as hand-assembled plans
(reference: cpp/src/lqf/ssb/ssbquery.h:100-112, one query*_*.cc each; the
declarative specs are cpp/ssb_sql/presto/query/q*_*.sql).  The SSB star
schema (fact `lineorder`, dims `dates part supplier customer`) does not
exist in the driver testdata, so each query is re-expressed over the
TPC-H-ish tables keeping the SSB *shape*: a denormalized fact (lineitem ⋈
orders), date attributes derived from o_orderdate, and region/nation dims
reached through nation ⋈ region.  Substitutions:

  d_year / d_yearmonthnum / d_weeknuminyear  -> year(), year*100+month, weekofyear()
  p_category / p_brand1                      -> p_type / p_brand
  s_region, c_region / s_nation, c_nation    -> region ⋈ nation names
  s_city, c_city (absent)                    -> nation-level grouping
  lo_revenue                                 -> l_extendedprice * (1 - l_discount)
  lo_supplycost (absent)                     -> 0.1 * l_quantity * p_retailprice

Every query's plan is a star join: tiny dims broadcast (region 5 rows,
nation 25, supplier 1e2·sf, part 2e4·sf), the single fact⋈orders join is
the only shuffle — the same physical intent as the reference's
always-build-the-dim-side hash joins (cpp/src/lqf/join.cc:221-229).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from codecdb_queryengine_spark.catalog import load_tables
from codecdb_queryengine_spark.queries.sums import unit_sum, unit_sum_sql


def _fact(t: dict[str, DataFrame]) -> DataFrame:
    """lineitem ⋈ orders with derived SSB date attributes and lo_revenue."""
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn("lo_revenue", F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .withColumn("d_year", F.year("o_orderdate").cast("long"))
        .withColumn(
            "d_yearmonthnum",
            (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("long"),
        )
        .withColumn("d_weeknuminyear", F.weekofyear("o_orderdate").cast("long"))
    )


def _supp_dim(t: dict[str, DataFrame]) -> DataFrame:
    """supplier + its nation/region names (s_nation, s_region)."""
    return (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "s_suppkey",
            F.col("n_name").alias("s_nation"),
            F.col("r_name").alias("s_region"),
        )
    )


def _cust_dim(t: dict[str, DataFrame]) -> DataFrame:
    """customer + its nation/region names (c_nation, c_region)."""
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "c_custkey",
            F.col("n_name").alias("c_nation"),
            F.col("r_name").alias("c_region"),
        )
    )


# SQL building blocks mirrored in every oracle below.
_SQL_FACT = """
    SELECT l.*, o.*,
           CAST(year(o_orderdate) AS BIGINT) AS d_year,
           CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS d_yearmonthnum,
           CAST(weekofyear(o_orderdate) AS BIGINT) AS d_weeknuminyear,
           l_extendedprice * (1 - l_discount) AS lo_revenue
    FROM lineitem l JOIN orders o ON l_orderkey = o_orderkey
"""
_SQL_SUPP = """
    SELECT s_suppkey, n_name AS s_nation, r_name AS s_region
    FROM supplier, nation, region
    WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
"""
_SQL_CUST = """
    SELECT c_custkey, n_name AS c_nation, r_name AS c_region
    FROM customer, nation, region
    WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
"""


# --- Q1.x: fact-only scan filters + global revenue sum --------------------
# Reference: cpp/src/lqf/ssb/query1_1.cc (ColFilter on date/discount/qty +
# SimpleAgg) — the pure pushdown/scan benchmark family.
def q1_1(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = _fact(load_tables(spark, sf_dir))
    return f.filter(
        (F.col("d_year") == 1996)
        & F.col("l_discount").between(0.01, 0.03)
        & (F.col("l_quantity") < 25)
    ).agg(unit_sum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("revenue"))


def q1_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = _fact(load_tables(spark, sf_dir))
    return f.filter(
        (F.col("d_yearmonthnum") == 199704)
        & F.col("l_discount").between(0.04, 0.06)
        & F.col("l_quantity").between(26, 35)
    ).agg(unit_sum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("revenue"))


def q1_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = _fact(load_tables(spark, sf_dir))
    return f.filter(
        (F.col("d_weeknuminyear") == 6)
        & (F.col("d_year") == 1997)
        & F.col("l_discount").between(0.05, 0.07)
        & F.col("l_quantity").between(26, 35)
    ).agg(unit_sum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("revenue"))


# --- Q2.x: fact ⋈ part ⋈ supplier, group by year × brand ------------------
# Reference: cpp/src/lqf/ssb/query2_1.cc (FilterJoin prune + HashJoin +
# HashAgg on year⊕brand key).
def _q2(spark: SparkSession, sf_dir: str, part_pred, supp_region: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    p = t["part"].filter(part_pred).select("p_partkey", "p_brand")
    s = _supp_dim(t).filter(F.col("s_region") == supp_region).select("s_suppkey")
    return (
        _fact(t)
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy("d_year", "p_brand")
        .agg(unit_sum(F.col("lo_revenue"), 4).alias("revenue"))
        .orderBy("d_year", "p_brand")
    )


def q2_1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q2(spark, sf_dir, F.col("p_type") == "ECONOMY", "AMERICA")


def q2_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q2(spark, sf_dir, F.col("p_brand").between("Brand#10", "Brand#19"), "ASIA")


def q2_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q2(spark, sf_dir, F.col("p_brand") == "Brand#23", "EUROPE")


def _sql_q2(part_cond: str, supp_region: str) -> str:
    return f"""
        SELECT d_year, p_brand, {unit_sum_sql("lo_revenue", 4)} AS revenue
        FROM ({_SQL_FACT}) f
        JOIN part ON l_partkey = p_partkey
        WHERE {part_cond}
          AND l_suppkey IN (SELECT s_suppkey FROM ({_SQL_SUPP})
                            WHERE s_region = '{supp_region}')
        GROUP BY d_year, p_brand
        ORDER BY d_year, p_brand
    """


# --- Q3.x: fact ⋈ customer ⋈ supplier, nation×nation×year drilldown -------
# Reference: cpp/src/lqf/ssb/query3_1.cc (HashColumnTJoin chain).
def _q3(
    spark: SparkSession,
    sf_dir: str,
    cust_pred,
    supp_pred,
    year_pred,
) -> DataFrame:
    t = load_tables(spark, sf_dir)
    c = _cust_dim(t).filter(cust_pred).select("c_custkey", "c_nation")
    s = _supp_dim(t).filter(supp_pred).select("s_suppkey", "s_nation")
    return (
        _fact(t)
        .filter(year_pred)
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("c_nation", "s_nation", "d_year")
        .agg(unit_sum(F.col("lo_revenue"), 4).alias("revenue"))
        .orderBy(F.col("d_year").asc(), F.col("revenue").desc())
    )


def q3_1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q3(
        spark,
        sf_dir,
        F.col("c_region") == "ASIA",
        F.col("s_region") == "ASIA",
        F.col("d_year").between(1995, 1997),
    )


def q3_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q3(
        spark,
        sf_dir,
        F.col("c_region") == "AMERICA",
        F.col("s_region") == "AMERICA",
        F.col("d_year").between(1996, 1998),
    )


def q3_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    pair = ("NATION_1", "NATION_5")
    return _q3(
        spark,
        sf_dir,
        F.col("c_nation").isin(*pair),
        F.col("s_nation").isin(*pair),
        F.col("d_year").between(1995, 1998),
    )


def q3_4(spark: SparkSession, sf_dir: str) -> DataFrame:
    pair = ("NATION_1", "NATION_5")
    return _q3(
        spark,
        sf_dir,
        F.col("c_nation").isin(*pair),
        F.col("s_nation").isin(*pair),
        F.col("d_yearmonthnum") == 199712,
    )


def _sql_q3(cust_cond: str, supp_cond: str, year_cond: str) -> str:
    return f"""
        SELECT c_nation, s_nation, d_year, {unit_sum_sql("lo_revenue", 4)} AS revenue
        FROM ({_SQL_FACT}) f
        JOIN ({_SQL_CUST}) c ON o_custkey = c_custkey
        JOIN ({_SQL_SUPP}) s ON l_suppkey = s_suppkey
        WHERE {cust_cond} AND {supp_cond} AND {year_cond}
        GROUP BY c_nation, s_nation, d_year
        ORDER BY d_year ASC, revenue DESC
    """


# --- Q4.x: full star (customer+supplier+part), profit drilldown -----------
# Reference: cpp/src/lqf/ssb/query4_1.cc; profit = revenue - supplycost,
# supplycost recomposed as 0.1 * l_quantity * p_retailprice (absent column).
def _profit():
    return (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.1) * F.col("l_quantity") * F.col("p_retailprice")
    ).alias("profit_term")

_SQL_PROFIT = "l_extendedprice * (1 - l_discount) - 0.1 * l_quantity * p_retailprice"


def q4_1(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    c = _cust_dim(t).filter(F.col("c_region") == "AMERICA").select("c_custkey", "c_nation")
    s = _supp_dim(t).filter(F.col("s_region") == "AMERICA").select("s_suppkey")
    p = t["part"].filter(F.col("p_type").isin("ECONOMY", "STANDARD")).select(
        "p_partkey", "p_retailprice"
    )
    return (
        _fact(t)
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy("d_year", "c_nation")
        .agg(unit_sum(_profit(), 4).alias("profit"))
        .orderBy("d_year", "c_nation")
    )


def q4_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    c = _cust_dim(t).filter(F.col("c_region") == "AMERICA").select("c_custkey")
    s = _supp_dim(t).filter(F.col("s_region") == "AMERICA").select("s_suppkey", "s_nation")
    p = t["part"].filter(F.col("p_type").isin("ECONOMY", "STANDARD")).select(
        "p_partkey", "p_type", "p_retailprice"
    )
    return (
        _fact(t)
        .filter(F.col("d_year").isin(1997, 1998))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("d_year", "s_nation", "p_type")
        .agg(unit_sum(_profit(), 4).alias("profit"))
        .orderBy("d_year", "s_nation", "p_type")
    )


def q4_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    s = _supp_dim(t).filter(F.col("s_nation") == "NATION_2").select("s_suppkey")
    p = t["part"].filter(F.col("p_type") == "ECONOMY").select("p_partkey", "p_brand", "p_retailprice")
    return (
        _fact(t)
        .filter(F.col("d_year").isin(1997, 1998))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy("d_year", "p_brand")
        .agg(unit_sum(_profit(), 4).alias("profit"))
        .orderBy("d_year", "p_brand")
    )


QUERIES = {
    "ssb_q1_1": q1_1,
    "ssb_q1_2": q1_2,
    "ssb_q1_3": q1_3,
    "ssb_q2_1": q2_1,
    "ssb_q2_2": q2_2,
    "ssb_q2_3": q2_3,
    "ssb_q3_1": q3_1,
    "ssb_q3_2": q3_2,
    "ssb_q3_3": q3_3,
    "ssb_q3_4": q3_4,
    "ssb_q4_1": q4_1,
    "ssb_q4_2": q4_2,
    "ssb_q4_3": q4_3,
}
# Every SSB entry only plans over the base tables (catalog.plan_once).
PLAN_ONCE = frozenset(QUERIES)

ORACLE: dict[str, str] = {
    "ssb_q1_1": f"""
        SELECT {unit_sum_sql("l_extendedprice * l_discount", 4)} AS revenue
        FROM ({_SQL_FACT}) f
        WHERE d_year = 1996 AND l_discount BETWEEN 0.01 AND 0.03 AND l_quantity < 25
    """,
    "ssb_q1_2": f"""
        SELECT {unit_sum_sql("l_extendedprice * l_discount", 4)} AS revenue
        FROM ({_SQL_FACT}) f
        WHERE d_yearmonthnum = 199704 AND l_discount BETWEEN 0.04 AND 0.06
          AND l_quantity BETWEEN 26 AND 35
    """,
    "ssb_q1_3": f"""
        SELECT {unit_sum_sql("l_extendedprice * l_discount", 4)} AS revenue
        FROM ({_SQL_FACT}) f
        WHERE d_weeknuminyear = 6 AND d_year = 1997
          AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity BETWEEN 26 AND 35
    """,
    "ssb_q2_1": _sql_q2("p_type = 'ECONOMY'", "AMERICA"),
    "ssb_q2_2": _sql_q2("p_brand BETWEEN 'Brand#10' AND 'Brand#19'", "ASIA"),
    "ssb_q2_3": _sql_q2("p_brand = 'Brand#23'", "EUROPE"),
    "ssb_q3_1": _sql_q3(
        "c_region = 'ASIA'", "s_region = 'ASIA'", "d_year BETWEEN 1995 AND 1997"
    ),
    "ssb_q3_2": _sql_q3(
        "c_region = 'AMERICA'", "s_region = 'AMERICA'", "d_year BETWEEN 1996 AND 1998"
    ),
    "ssb_q3_3": _sql_q3(
        "c_nation IN ('NATION_1','NATION_5')",
        "s_nation IN ('NATION_1','NATION_5')",
        "d_year BETWEEN 1995 AND 1998",
    ),
    "ssb_q3_4": _sql_q3(
        "c_nation IN ('NATION_1','NATION_5')",
        "s_nation IN ('NATION_1','NATION_5')",
        "d_yearmonthnum = 199712",
    ),
    "ssb_q4_1": f"""
        SELECT d_year, c_nation, {unit_sum_sql(_SQL_PROFIT, 4)} AS profit
        FROM ({_SQL_FACT}) f
        JOIN part ON l_partkey = p_partkey
        JOIN ({_SQL_CUST}) c ON o_custkey = c_custkey
        WHERE p_type IN ('ECONOMY','STANDARD') AND c_region = 'AMERICA'
          AND l_suppkey IN (SELECT s_suppkey FROM ({_SQL_SUPP}) WHERE s_region = 'AMERICA')
        GROUP BY d_year, c_nation
        ORDER BY d_year, c_nation
    """,
    "ssb_q4_2": f"""
        SELECT d_year, s_nation, p_type, {unit_sum_sql(_SQL_PROFIT, 4)} AS profit
        FROM ({_SQL_FACT}) f
        JOIN part ON l_partkey = p_partkey
        JOIN ({_SQL_SUPP}) s ON l_suppkey = s_suppkey
        WHERE d_year IN (1997, 1998) AND p_type IN ('ECONOMY','STANDARD')
          AND s_region = 'AMERICA'
          AND o_custkey IN (SELECT c_custkey FROM ({_SQL_CUST}) WHERE c_region = 'AMERICA')
        GROUP BY d_year, s_nation, p_type
        ORDER BY d_year, s_nation, p_type
    """,
    "ssb_q4_3": f"""
        SELECT d_year, p_brand, {unit_sum_sql(_SQL_PROFIT, 4)} AS profit
        FROM ({_SQL_FACT}) f
        JOIN part ON l_partkey = p_partkey
        WHERE d_year IN (1997, 1998) AND p_type = 'ECONOMY'
          AND l_suppkey IN (SELECT s_suppkey FROM ({_SQL_SUPP}) WHERE s_nation = 'NATION_2')
        GROUP BY d_year, p_brand
        ORDER BY d_year, p_brand
    """,
}
