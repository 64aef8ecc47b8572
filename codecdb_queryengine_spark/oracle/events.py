"""DuckDB oracle text for the event scenarios, batch and streaming
(queries/events.py).
"""

from __future__ import annotations

from codecdb_queryengine_spark.oracle.dedup import _DEDUP_INCR_SQL
from codecdb_queryengine_spark.oracle.text import _SQL_QUALITY
from codecdb_queryengine_spark.queries.sums import unit_sum_sql


_EVENTS_ASOF_SQL = """
    WITH p AS (SELECT user_id, event_id AS purchase_id, ts
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, max(value) AS click_value
          FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
    SELECT p.user_id, purchase_id, p.ts, c.click_value,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    ORDER BY purchase_id
"""


_EVENTS_ASOF_FWD_SQL = """
    WITH c AS (SELECT user_id, event_id AS click_id, ts
               FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts, min(event_id) AS purchase_id
          FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
    SELECT c.user_id, click_id, c.ts, p.purchase_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
    FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts
    ORDER BY click_id
"""


_EVENTS_RANGE_SQL = """
    WITH e AS (SELECT user_id, event_id AS error_id, ts
               FROM events WHERE event_type = 'error'),
    v AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view')
    SELECT e.user_id, error_id, count(*) AS n_views, min(v.event_id) AS first_view_id
    FROM e JOIN v ON e.user_id = v.user_id
     AND epoch_us(v.ts) BETWEEN epoch_us(e.ts) - 1800000000
                            AND epoch_us(e.ts) + 1800000000
    GROUP BY e.user_id, error_id ORDER BY error_id
"""


_EVENTS_WINDOW_SQL = f"""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n, {unit_sum_sql("value", 2)} AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


_EVENTS_ROLLING_SQL = f"""
    SELECT event_id, user_id, ts,
           count(*) OVER w AS n_10m,
           {unit_sum_sql("value", 2, over="w")} AS sum_value_10m,
           max(value) OVER w AS max_value_10m
    FROM events WHERE user_id < 500
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
"""


_EVENTS_SESSION_SQL = """
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events),
    sid AS (
        SELECT user_id,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM g),
    per_session AS (
        SELECT user_id, session_idx, count(*) AS n_events
        FROM sid GROUP BY user_id, session_idx)
    SELECT user_id, count(*) AS n_sessions, CAST(sum(n_events) AS BIGINT) AS n_events,
           max(n_events) AS max_session_events
    FROM per_session GROUP BY user_id ORDER BY user_id
"""


_VARIANT_SQL = """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           CAST(NULL AS BIGINT) AS missing,
           regexp_replace(props, '": ', '":') AS props_canon
    FROM events
"""


_HLL_SQL = """
    SELECT CAST(day AS VARCHAR) AS day, n_exact, TRUE AS est_in_bound FROM (
        SELECT CAST(ts AS DATE) AS day,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events GROUP BY 1)
    UNION ALL
    SELECT 'TOTAL(merged)' AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS est_in_bound
    FROM events
    ORDER BY day
"""


_EVENTS_ANOMALY_SQL = f"""
    WITH stats AS (
        SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
        FROM events GROUP BY event_type)
    SELECT event_type, count(*) AS n_outliers,
           {unit_sum_sql("value", 2)} AS outlier_value_sum
    FROM events JOIN stats USING (event_type)
    WHERE abs((value - mu) / sd) > 2.5
    GROUP BY event_type ORDER BY event_type
"""


_EVENTS_RESAMPLE_SQL = f"""
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
        FROM events),
    grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM bounds),
    types AS (SELECT DISTINCT event_type FROM events),
    hourly AS (
        SELECT date_trunc('hour', ts) AS bucket, event_type,
               count(*) AS n,
               {unit_sum_sql("value", 2)} AS sum_value
        FROM events GROUP BY 1, 2)
    SELECT g.bucket, t.event_type,
           coalesce(h.n, 0) AS n,
           coalesce(h.sum_value, 0.0) AS sum_value
    FROM grid g CROSS JOIN types t
    LEFT JOIN hourly h ON h.bucket = g.bucket AND h.event_type = t.event_type
    ORDER BY g.bucket, t.event_type
"""


_EVENTS_INTERPOLATE_SQL = """
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
        FROM events),
    grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM bounds),
    types AS (SELECT DISTINCT event_type FROM events),
    hourly AS (
        SELECT date_trunc('hour', ts) AS bucket, event_type,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    dense AS (
        SELECT g.bucket, t.event_type, h.n
        FROM grid g CROSS JOIN types t
        LEFT JOIN hourly h ON h.bucket = g.bucket AND h.event_type = t.event_type),
    win AS (
        SELECT bucket, event_type, n,
               CAST(epoch(bucket) AS BIGINT) AS t,
               last_value(n IGNORE NULLS) OVER wp AS prev_v,
               last_value(CASE WHEN n IS NOT NULL
                               THEN CAST(epoch(bucket) AS BIGINT) END
                          IGNORE NULLS) OVER wp AS prev_t,
               first_value(n IGNORE NULLS) OVER wn AS next_v,
               first_value(CASE WHEN n IS NOT NULL
                                THEN CAST(epoch(bucket) AS BIGINT) END
                           IGNORE NULLS) OVER wn AS next_t
        FROM dense
        WINDOW wp AS (PARTITION BY event_type ORDER BY bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY event_type ORDER BY bucket
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT bucket, event_type,
           n IS NOT NULL AS observed,
           CASE WHEN n IS NOT NULL THEN CAST(n AS DOUBLE)
                WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
                    CAST(prev_v AS DOUBLE)
                    + CAST(next_v - prev_v AS DOUBLE)
                      * (CAST(t - prev_t AS DOUBLE)
                         / CAST(next_t - prev_t AS DOUBLE))
           END AS n_filled
    FROM win ORDER BY bucket, event_type
"""


_EVENTS_EWMA_SQL = """
    WITH hourly AS MATERIALIZED (
        SELECT date_trunc('hour', ts) AS bucket, event_type,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    per AS MATERIALIZED (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
               list(CAST(n AS DOUBLE) ORDER BY bucket) AS xs
        FROM hourly GROUP BY event_type)
    SELECT event_type, n_hours,
           list_reduce(xs, (acc, x) -> 0.5 * x + 0.5 * acc) AS ewma
    FROM per
"""


_EVENTS_JSON_SQL = """
    SELECT event_type, count(*) AS n,
           count(CAST(json_extract(props, '$.k') AS BIGINT)) AS n_with_k,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
           max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type ORDER BY event_type
"""


_EVENTS_FUNNEL_SQL = """
    WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(ts) AS c_ts FROM events e JOIN v USING (user_id)
          WHERE event_type = 'click' AND ts >= v_ts GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(ts) AS p_ts FROM events e JOIN c USING (user_id)
          WHERE event_type = 'purchase' AND ts >= c_ts GROUP BY e.user_id)
    SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
    UNION ALL SELECT '2_click', CAST(count(*) AS BIGINT) FROM c
    UNION ALL SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM p
    ORDER BY stage
"""


_EVENTS_RETENTION_SQL = """
    WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    cohort AS (SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id)
    SELECT cohort_day, CAST(date_diff('day', cohort_day, day) AS BIGINT) AS day_offset,
           CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_active
    FROM days d JOIN cohort USING (user_id)
    GROUP BY 1, 2 ORDER BY 1, 2
"""


_EVENTS_STREAM_WINDOW_SQL = _EVENTS_WINDOW_SQL


_EVENTS_STREAM_TOTALS_SQL = f"""
    SELECT user_id, count(*) AS n_events, {unit_sum_sql("value", 2)} AS sum_value
    FROM events GROUP BY user_id ORDER BY user_id
"""


_EVENTS_STREAM_SESSIONS_SQL = """
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) >= 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events),
    sid AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM g)
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id, count(*) AS n_events
    FROM sid GROUP BY user_id, session_idx
    ORDER BY user_id, session_start
"""


_EVENTS_STREAM_DEDUP_SQL = f"""
    WITH d AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_id ORDER BY ts) AS rn
        FROM events)
    SELECT event_type, count(*) AS n, {unit_sum_sql("value", 2)} AS sum_value
    FROM d WHERE rn = 1 GROUP BY event_type ORDER BY event_type
"""


_EVENTS_STREAM_SLIDING_SQL = f"""
    WITH b AS (
        SELECT event_type, value,
               time_bucket(INTERVAL 30 MINUTE, ts) AS bucket
        FROM events),
    x AS (
        SELECT event_type, value, bucket AS window_start FROM b
        UNION ALL
        SELECT event_type, value, bucket - INTERVAL 30 MINUTE FROM b)
    SELECT window_start, event_type, count(*) AS n, {unit_sum_sql("value", 2)} AS sum_value,
           {unit_sum_sql("value", 2)} / count(*) AS avg_value
    FROM x GROUP BY 1, 2 ORDER BY 1, 2
"""


_EVENTS_STREAM_JOIN_SQL = """
    SELECT p.user_id AS user_id, p.event_id AS purchase_id, c.event_id AS click_id
    FROM events p JOIN events c
      ON p.event_type = 'purchase' AND c.event_type = 'click'
     AND p.user_id = c.user_id
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
    ORDER BY user_id, purchase_id, click_id
"""


_EVENTS_STREAM_ROLLUP_SQL = f"""
    WITH b AS (SELECT max(ts) AS mx FROM events)
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n, {unit_sum_sql("value", 2)} AS sum_value
    FROM events, b
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= mx - INTERVAL 2 HOUR
    GROUP BY 1, 2 ORDER BY 1, 2
"""


_EVENTS_STREAM_FILES_SQL = f"""
    SELECT event_type, count(*) AS n,
           {unit_sum_sql("value", 2)} AS sum_value
    FROM events GROUP BY event_type ORDER BY event_type
"""


_EVENTS_STREAM_ENRICH_SQL = f"""
    SELECT n_name, count(*) AS n,
           {unit_sum_sql("value", 2)} AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
"""


_DOCS_STREAM_QUALITY_SQL = f"""
    SELECT lang, count(*) AS n_docs,
           CAST(CAST(sum(CAST(floor({_SQL_QUALITY} * 1000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS DOUBLE) / 1000000.0 AS quality_sum
    FROM documents GROUP BY lang ORDER BY lang
"""


ORACLE: dict[str, str] = {
    "events_variant_props": _VARIANT_SQL,
    "events_hll_rollup": _HLL_SQL,
    "events_funnel": _EVENTS_FUNNEL_SQL,
    "events_json_props": _EVENTS_JSON_SQL,
    "events_resample": _EVENTS_RESAMPLE_SQL,
    "events_interpolate": _EVENTS_INTERPOLATE_SQL,
    "events_ewma": _EVENTS_EWMA_SQL,
    "events_anomaly": _EVENTS_ANOMALY_SQL,
    "events_retention": _EVENTS_RETENTION_SQL,
    "events_window": _EVENTS_WINDOW_SQL,
    "events_rolling": _EVENTS_ROLLING_SQL,
    "events_sessionize": _EVENTS_SESSION_SQL,
    "events_asof": _EVENTS_ASOF_SQL,
    "events_asof_forward": _EVENTS_ASOF_FWD_SQL,
    "events_range_join": _EVENTS_RANGE_SQL,
    "events_stream_window": _EVENTS_STREAM_WINDOW_SQL,
    "events_stream_totals": _EVENTS_STREAM_TOTALS_SQL,
    "events_stream_sessions": _EVENTS_STREAM_SESSIONS_SQL,
    "events_stream_dedup": _EVENTS_STREAM_DEDUP_SQL,
    "events_stream_sliding": _EVENTS_STREAM_SLIDING_SQL,
    "events_stream_join": _EVENTS_STREAM_JOIN_SQL,
    "events_stream_files": _EVENTS_STREAM_FILES_SQL,
    "events_stream_enrich": _EVENTS_STREAM_ENRICH_SQL,
    "events_stream_rollup": _EVENTS_STREAM_ROLLUP_SQL,
    "docs_stream_ingest": _DEDUP_INCR_SQL,
    "docs_stream_quality": _DOCS_STREAM_QUALITY_SQL,
    "events_stream_score": _EVENTS_ANOMALY_SQL,
}
