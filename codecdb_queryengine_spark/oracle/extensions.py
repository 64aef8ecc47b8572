"""DuckDB oracle text for the analytics extensions (queries/extensions.py).

The three statements the engine itself runs through spark.sql()
(_RECURSIVE_SQL, _LATERAL_SQL, _GROUPING_SETS_SQL) stay in the engine
module and are imported here; the *_plan entries reuse the TPC-H/SSB text.
"""

from __future__ import annotations

from codecdb_queryengine_spark.operators.encsel import SORT_WINDOW
from codecdb_queryengine_spark.queries.extensions import (
    _GROUPING_SETS_SQL,
    _LATERAL_SQL,
    _PROFILE_NUM,
    _PROFILE_STR,
    _PROFILE_TS,
    _RECURSIVE_SQL,
    _ZL_APPEND,
    _ZL_BASE,
)
from codecdb_queryengine_spark.queries.ssb import ORACLE as _SSB_ORACLE
from codecdb_queryengine_spark.queries.sums import unit_sum_sql
from codecdb_queryengine_spark.queries.tpch import ORACLE as _TPCH_ORACLE


_ROLLUP_SQL = f"""
    SELECT l_returnflag, l_linestatus,
           {unit_sum_sql("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag, l_linestatus
"""


_CUBE_SQL = f"""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           {unit_sum_sql("o_totalprice", 2)} AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus, o_orderpriority
"""


_WINDOW_SQL = """
    SELECT o_custkey, o_orderkey,
           CAST(row_number() OVER w AS BIGINT) AS order_seq,
           o_totalprice - lag(o_totalprice) OVER w AS price_delta,
           sum(o_totalprice) OVER (w ROWS UNBOUNDED PRECEDING) AS running_total
    FROM orders
    WHERE o_custkey < 100
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, order_seq
"""


def _stats_pct(q: str, lo: str, hi: str) -> str:
    """Spark Percentile.getPercentile mirror: pos = q*(n-1);
    (hi-pos)*lo_val + (pos-lo)*hi_val, collapse when pos is integral."""
    pos = f"({q} * CAST(n - 1 AS DOUBLE))"
    return (
        f"CASE WHEN floor({pos}) = ceil({pos}) THEN {lo} "
        f"ELSE (ceil({pos}) - {pos}) * {lo} + ({pos} - floor({pos})) * {hi} END"
    )


_STATS_SQL = f"""
    WITH ranked AS (
        SELECT l_returnflag, l_extendedprice AS v,
               row_number() OVER (
                   PARTITION BY l_returnflag ORDER BY l_extendedprice) - 1 AS rn,
               count(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem WHERE l_extendedprice IS NOT NULL),
    g AS (
        SELECT l_returnflag,
               max(n) AS n,
               CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS s,
               CAST(CAST(sum(CAST(v AS DECIMAL(18,2)) * CAST(v AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS ss,
               max(CASE WHEN rn = CAST(floor(0.5 * CAST(n - 1 AS DOUBLE)) AS BIGINT)
                        THEN v END) AS m_lo,
               max(CASE WHEN rn = CAST(ceil(0.5 * CAST(n - 1 AS DOUBLE)) AS BIGINT)
                        THEN v END) AS m_hi,
               max(CASE WHEN rn = CAST(floor(0.95 * CAST(n - 1 AS DOUBLE)) AS BIGINT)
                        THEN v END) AS p_lo,
               max(CASE WHEN rn = CAST(ceil(0.95 * CAST(n - 1 AS DOUBLE)) AS BIGINT)
                        THEN v END) AS p_hi
        FROM ranked GROUP BY l_returnflag)
    SELECT l_returnflag,
           sqrt((ss - s * s / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))
             AS price_stddev,
           (ss - s * s / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)
             AS price_var,
           {_stats_pct('0.5', 'm_lo', 'm_hi')} AS price_median,
           {_stats_pct('0.95', 'p_lo', 'p_hi')} AS price_p95
    FROM g ORDER BY l_returnflag
"""


_STATS_APPROX_SQL = """
    WITH g AS (
        SELECT l_returnflag,
               count(l_extendedprice) AS n,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s,
               CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                             * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)
                    AS DOUBLE) AS ss
        FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           sqrt((ss - s * s / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))
             AS price_stddev,
           (ss - s * s / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)
             AS price_var,
           TRUE AS median_rank_ok,
           TRUE AS median_is_element,
           TRUE AS p95_rank_ok,
           TRUE AS p95_is_element
    FROM g ORDER BY l_returnflag
"""


_COLLECT_SQL = """
    SELECT l_returnflag,
           array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
           count(DISTINCT l_suppkey) AS n_suppliers
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


_FULL_OUTER_SQL = """
    SELECT coalesce(c.nationkey, s.nationkey) AS nationkey, n_cust, n_supp
    FROM (SELECT c_nationkey AS nationkey, count(*) AS n_cust
          FROM customer GROUP BY 1) c
    FULL OUTER JOIN
         (SELECT s_nationkey AS nationkey, count(*) AS n_supp
          FROM supplier GROUP BY 1) s
    USING (nationkey)
    ORDER BY nationkey
"""


_SETOPS_SQL = """
    WITH returned AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'R'),
    big AS (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 100),
    both_t AS (SELECT * FROM returned INTERSECT SELECT * FROM big),
    either_t AS (SELECT * FROM returned UNION SELECT * FROM big),
    only_r AS (SELECT * FROM returned EXCEPT ALL SELECT * FROM both_t)
    SELECT set_kind, count(*) AS n FROM (
        SELECT l_orderkey, 'both' AS set_kind FROM both_t
        UNION ALL SELECT l_orderkey, 'either' FROM either_t
        UNION ALL SELECT l_orderkey, 'returned_not_big' FROM only_r)
    GROUP BY set_kind ORDER BY set_kind
"""


_APPROX_DISTINCT_SQL = """
    SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           TRUE AS hll_bound_ok
    FROM lineitem
"""


_ENCSEL_SQL = f"""
    WITH chars AS (
        SELECT doc_id AS _id, ch
        FROM documents, unnest(string_split(text, '')) AS t(ch)
        WHERE ch <> ''),
    basic AS (
        SELECT avg(CASE WHEN length(text) = 0 THEN 1.0 ELSE 0.0 END) AS sparsity_ratio,
               CAST(count(DISTINCT text) AS DOUBLE) / count(*) AS distinct_ratio,
               CAST(min(length(text)) AS DOUBLE) AS len_min,
               CAST(max(length(text)) AS DOUBLE) AS len_max,
               avg(length(text)) AS len_mean,
               var_pop(length(text)) AS len_var
        FROM documents),
    gent AS (
        SELECT log2(sum(n)) - sum(n * log2(n)) / sum(n) AS value
        FROM (SELECT ch, CAST(count(*) AS DOUBLE) AS n FROM chars GROUP BY ch)),
    lent AS (
        SELECT min(h) AS lmin, max(h) AS lmax, avg(h) AS lmean, var_pop(h) AS lvar
        FROM (SELECT _id, log2(sum(n)) - sum(n * log2(n)) / sum(n) AS h
              FROM (SELECT _id, ch, CAST(count(*) AS DOUBLE) AS n
                    FROM chars GROUP BY _id, ch)
              GROUP BY _id)),
    sortw AS (
        SELECT sum(CASE WHEN a.o_totalprice > b.o_totalprice THEN 1.0 ELSE 0.0 END)
                 / count(*) AS value
        FROM orders a JOIN orders b
          ON (a.o_orderkey // {SORT_WINDOW}) = (b.o_orderkey // {SORT_WINDOW})
         AND a.o_orderkey < b.o_orderkey)
    SELECT col_name, feature,
           CAST(floor(value * 1e9 + 0.5) AS BIGINT) AS value_nano
    FROM (
        SELECT 'text' AS col_name, feature, value FROM (
            SELECT 'sparsity_ratio' AS feature, sparsity_ratio AS value FROM basic
            UNION ALL SELECT 'distinct_ratio', distinct_ratio FROM basic
            UNION ALL SELECT 'len_min', len_min FROM basic
            UNION ALL SELECT 'len_max', len_max FROM basic
            UNION ALL SELECT 'len_mean', len_mean FROM basic
            UNION ALL SELECT 'len_var', len_var FROM basic
            UNION ALL SELECT 'entropy', value FROM gent
            UNION ALL SELECT 'line_entropy_min', lmin FROM lent
            UNION ALL SELECT 'line_entropy_max', lmax FROM lent
            UNION ALL SELECT 'line_entropy_mean', lmean FROM lent
            UNION ALL SELECT 'line_entropy_var', lvar FROM lent)
        UNION ALL
        SELECT 'o_totalprice', 'sort_inverted_ratio', value FROM sortw)
    ORDER BY col_name, feature
"""


def _encsel_decision_sql(window: int = SORT_WINDOW) -> str:
    def sortw(col: str) -> str:
        return (
            f"SELECT sum(CASE WHEN a.{col} > b.{col} THEN 1.0 ELSE 0.0 END)"
            f" / count(*) FROM orders a JOIN orders b"
            f" ON (a.o_orderkey // {window}) = (b.o_orderkey // {window})"
            f" AND a.o_orderkey < b.o_orderkey"
        )

    def strp(col: str) -> str:
        return (
            f"SELECT '{col}' AS col_name,"
            f" CAST(count(DISTINCT {col}) AS DOUBLE) / count(*) AS distinct_ratio,"
            f" avg(CASE WHEN length({col}) = 0 THEN 1.0 ELSE 0.0 END) AS sparsity_ratio,"
            f" CAST(NULL AS DOUBLE) AS sort_inverted_ratio FROM documents"
        )

    def nump(col: str) -> str:
        return (
            f"SELECT '{col}', CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),"
            f" ({sortw(col)})"
        )

    return f"""
        WITH prof AS (
            {strp("lang")}
            UNION ALL {strp("source")}
            UNION ALL {strp("text")}
            UNION ALL {nump("o_orderkey")}
            UNION ALL {nump("o_totalprice")}
        )
        SELECT col_name, distinct_ratio, sparsity_ratio, sort_inverted_ratio,
               CASE WHEN sparsity_ratio > 0.5 THEN 'RLE'
                    WHEN distinct_ratio < 0.1 THEN 'DICTIONARY'
                    WHEN sort_inverted_ratio IS NOT NULL
                         AND (sort_inverted_ratio < 0.05
                              OR sort_inverted_ratio > 0.95)
                         THEN 'DELTA_BINARY_PACKED'
                    ELSE 'PLAIN' END AS encoding
        FROM prof ORDER BY col_name
    """


_SALTED_AGG_SQL = """
    SELECT l_suppkey, sum(l_quantity) AS sum_qty, count(*) AS n
    FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey
"""


_SALTED_JOIN_SQL = f"""
    SELECT s_nationkey, count(*) AS n,
           {unit_sum_sql("l_quantity", 2)} AS sum_qty
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey ORDER BY s_nationkey
"""


def _pivot_cell(flag: str) -> str:
    term = f"CASE WHEN l_returnflag = '{flag}' THEN l_extendedprice * (1 - l_discount) END"
    return f'{unit_sum_sql(term, 4)} AS "{flag}"'


_PIVOT_SQL = f"""
    SELECT l_linestatus,
           {_pivot_cell("A")},
           {_pivot_cell("N")},
           {_pivot_cell("R")}
    FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
"""


_UNPIVOT_SQL = f"""
    SELECT metric, {unit_sum_sql("val", 2)} AS total,
           count(*) AS n
    FROM (
        SELECT 'l_quantity' AS metric, CAST(l_quantity AS DOUBLE) AS val FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT 'l_discount', l_discount FROM lineitem
        UNION ALL
        SELECT 'l_tax', l_tax FROM lineitem)
    GROUP BY metric ORDER BY metric
"""


def _zorder_sql() -> str:
    from codecdb_queryengine_spark.sources.layout import z_value_sql

    z = z_value_sql(["l_partkey % 256", "l_suppkey % 64"], bits=8)
    return f"""
        SELECT ({z} // 1024) AS zcell,
               count(*) AS n_rows,
               {unit_sum_sql("l_quantity", 2)} AS sum_qty
        FROM lineitem
        GROUP BY zcell ORDER BY zcell
    """


def _zorder_lifecycle_sql() -> str:
    from codecdb_queryengine_spark.sources.layout import z_value_sql

    z = z_value_sql(["pk", "sk"], bits=8)
    return f"""
        WITH rows_kept AS (
            SELECT l_partkey % 256 AS pk, l_suppkey % 64 AS sk,
                   l_quantity AS qty
            FROM lineitem WHERE {_ZL_BASE} OR {_ZL_APPEND})
        SELECT ({z} // 1024) AS zcell,
               count(*) AS n_rows,
               {unit_sum_sql("qty", 2)} AS sum_qty
        FROM rows_kept
        GROUP BY zcell ORDER BY zcell
    """


def _profile_sql() -> str:
    parts = []
    for c in _PROFILE_NUM:
        parts.append(
            f"SELECT '{c}' AS col_name, count(*) - count({c}) AS n_nulls, "
            f"count(DISTINCT {c}) AS n_distinct, "
            f"CAST(min({c}) AS DOUBLE) AS min_num, CAST(max({c}) AS DOUBLE) AS max_num, "
            f"CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str "
            f"FROM orders"
        )
    for c in _PROFILE_TS:
        parts.append(
            f"SELECT '{c}', count(*) - count({c}), count(DISTINCT {c}), "
            f"epoch(min({c})), epoch(max({c})), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) "
            f"FROM orders"
        )
    for c in _PROFILE_STR:
        parts.append(
            f"SELECT '{c}', count(*) - count({c}), count(DISTINCT {c}), "
            f"CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min({c}), max({c}) "
            f"FROM orders"
        )
    return " UNION ALL ".join(parts) + " ORDER BY col_name"


_GROUPED_TOPK_SQL = """
    SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               CAST(row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rk
        FROM orders)
    WHERE rk <= 3 ORDER BY o_orderpriority, rk
"""


_EQUIDEPTH_SQL = """
    SELECT bucket, min(l_extendedprice) AS lo, max(l_extendedprice) AS hi,
           count(*) AS n
    FROM (
        SELECT l_extendedprice,
               CAST(ntile(10) OVER (
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS BIGINT)
                 AS bucket
        FROM lineitem)
    GROUP BY bucket ORDER BY bucket
"""


_JOIN_SKEW_SQL = """
    SELECT 'l_orderkey' AS join_key, count(*) AS n_keys, max(n) AS max_rows,
           CAST(sum(n) AS BIGINT) AS total_rows
    FROM (SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY l_orderkey)
    UNION ALL
    SELECT 'l_partkey', count(*), max(n), CAST(sum(n) AS BIGINT)
    FROM (SELECT l_partkey, count(*) AS n FROM lineitem GROUP BY l_partkey)
    UNION ALL
    SELECT 'l_suppkey', count(*), max(n), CAST(sum(n) AS BIGINT)
    FROM (SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY l_suppkey)
    ORDER BY join_key
"""


_CORR_SQL = """
    WITH g AS (
        SELECT l_returnflag,
               count(*) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
               CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxx,
               CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS syy,
               CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxy
        FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag,
           ((sxy - sx * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))
             / (sqrt((sxx - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))
                * sqrt((syy - sy * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)))
             AS qty_price_corr,
           (sxy - sx * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)
             AS qty_price_covar,
           ((sxy - sx * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))
             / ((sxx - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))
             AS regr_slope
    FROM g ORDER BY l_returnflag
"""


_SNAPSHOT_DIFF_SQL = """
    WITH old AS (SELECT doc_id, md5(text) AS d_old FROM documents),
    new AS (
        SELECT doc_id,
               CASE WHEN doc_id % 31 = 0 THEN md5(text || '|v2')
                    ELSE md5(text) END AS d_new
        FROM documents WHERE doc_id % 97 <> 0
        UNION ALL
        SELECT doc_id + 100000, md5(text) FROM documents WHERE doc_id % 89 = 0)
    SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
           CASE WHEN old.doc_id IS NULL THEN 'added'
                WHEN new.doc_id IS NULL THEN 'removed'
                WHEN d_old <> d_new THEN 'changed'
                ELSE 'same' END AS change
    FROM old FULL OUTER JOIN new USING (doc_id)
    WHERE (CASE WHEN old.doc_id IS NULL THEN 'added'
                WHEN new.doc_id IS NULL THEN 'removed'
                WHEN d_old <> d_new THEN 'changed'
                ELSE 'same' END) <> 'same'
    ORDER BY doc_id
"""


ORACLE: dict[str, str] = {
    "ext_rollup": _ROLLUP_SQL,
    "ext_zorder": _zorder_sql(),
    "ext_zorder_lifecycle": _zorder_lifecycle_sql(),
    "ext_profile": _profile_sql(),
    "ext_snapshot_diff": _SNAPSHOT_DIFF_SQL,
    "ext_corr": _CORR_SQL,
    "ext_join_skew": _JOIN_SKEW_SQL,
    "ext_grouped_topk": _GROUPED_TOPK_SQL,
    "ext_equidepth_hist": _EQUIDEPTH_SQL,
    "ext_grouping_sets": _GROUPING_SETS_SQL,
    "q2_plan": _TPCH_ORACLE["q2"],
    "q3_plan": _TPCH_ORACLE["q3"],
    "q17_plan": _TPCH_ORACLE["q17"],
    "q21_plan": _TPCH_ORACLE["q21"],
    "q13_plan": _TPCH_ORACLE["q13"],
    "q14_plan": _TPCH_ORACLE["q14"],
    "ssb_q2_1_plan": _SSB_ORACLE["ssb_q2_1"],
    "ext_cube": _CUBE_SQL,
    "ext_window_funcs": _WINDOW_SQL,
    "ext_stats": _STATS_SQL,
    "ext_collect": _COLLECT_SQL,
    "ext_full_outer": _FULL_OUTER_SQL,
    "ext_recursive_cte": _RECURSIVE_SQL,
    "ext_lateral_topk": _LATERAL_SQL,
    "ext_setops": _SETOPS_SQL,
    # sketch estimates are engine-specific, but their CONTRACTS are not:
    # both approx entries emit exact integers + bound-held booleans (r5)
    "ext_stats_approx": _STATS_APPROX_SQL,
    "ext_approx_distinct": _APPROX_DISTINCT_SQL,
    # (rows-only checks: sketch outputs have no cross-engine oracle).
    "ext_pivot": _PIVOT_SQL,
    "ext_unpivot": _UNPIVOT_SQL,
    "encsel_features": _ENCSEL_SQL,
    "encsel_decision": _encsel_decision_sql(),
    "ext_salted_agg": _SALTED_AGG_SQL,
    "ext_salted_join": _SALTED_JOIN_SQL,
}
