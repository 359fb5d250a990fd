"""DuckDB oracle twins for plans.core — ANSI SQL over the same parquet
views (region nation customer supplier part orders lineitem events
documents embeddings). Column names, rounding, DECIMAL casts, and tie
ordering match the Spark side exactly (see plans/core.py header).
"""

W_EVENTS = "PARTITION BY user_id ORDER BY ts, event_id"

CORE_ORACLES: dict[str, str] = {
    "prices_filter_range_limit": """
        SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
               round(value, 6) AS value
        FROM events
        WHERE event_type = 'click'
          AND ts >= TIMESTAMP '2024-01-05' AND ts <= TIMESTAMP '2024-01-20'
        ORDER BY ts DESC, event_id DESC
        LIMIT 100
    """,
    "prices_page2": """
        SELECT event_id, epoch_us(ts) AS ts_us, round(value, 6) AS value
        FROM events
        WHERE event_type = 'click'
        ORDER BY ts DESC, event_id DESC
        LIMIT 100 OFFSET 100
    """,
    "prices_keyset_page": """
        SELECT event_id, epoch_us(ts) AS ts_us, round(value, 6) AS value
        FROM events
        WHERE event_type = 'click'
          AND (ts < TIMESTAMP '2024-01-15'
               OR (ts = TIMESTAMP '2024-01-15' AND event_id < 500000))
        ORDER BY ts DESC, event_id DESC
        LIMIT 100
    """,
    # recent_n_tail oracle retired r13 with its registry row (subset of
    # prices_filter_range_limit's gated sort+limit machinery).
    "latest_per_key": f"""
        SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
               round(value, 6) AS value
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                    ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        WHERE rn = 1
    """,
    "lag_delta": f"""
        SELECT event_id,
               round(value - lag(value) OVER ({W_EVENTS}), 6) AS delta
        FROM events
    """,
    "rolling_min_volatility": f"""
        SELECT event_id,
               round(min(sd10) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4)
                 AS min_vol
        FROM (
          SELECT user_id, ts, event_id,
                 CASE WHEN row_number() OVER w >= 10 THEN
                   stddev_samp(value) OVER (w ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
                 END AS sd10
          FROM events WINDOW w AS ({W_EVENTS}))
        WINDOW w AS ({W_EVENTS})
    """,
    "ma_slope_trend": f"""
        SELECT event_id,
               round(sma5 - lag(sma5, 2) OVER w, 6) AS slope2,
               round(sma5 - lag(sma5, 5) OVER w, 6) AS slope5,
               CASE
                 WHEN (sma5 - lag(sma5, 2) OVER w) > 0 AND (sma5 - lag(sma5, 5) OVER w) > 0
                   THEN 'bullish'
                 WHEN (sma5 - lag(sma5, 2) OVER w) < 0 AND (sma5 - lag(sma5, 5) OVER w) < 0
                   THEN 'bearish'
                 ELSE 'neutral'
               END AS trend
        FROM (
          SELECT user_id, ts, event_id,
                 CASE WHEN row_number() OVER w >= 5 THEN
                   CAST(SUM(CAST(value AS DECIMAL(18,2)))
                     OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE) / 5
                 END AS sma5
          FROM events WINDOW w AS ({W_EVENTS}))
        WINDOW w AS ({W_EVENTS})
    """,
    "local_extrema": f"""
        SELECT event_id,
               CAST(value >= lag(value) OVER w AND value >= lead(value) OVER w AS INT)
                 AS is_high,
               CAST(value <= lag(value) OVER w AND value <= lead(value) OVER w AS INT)
                 AS is_low
        FROM events WINDOW w AS ({W_EVENTS})
    """,
    "equity_cumsum": f"""
        SELECT event_id,
               round(CAST(SUM(CAST(value AS DECIMAL(18,2)))
                 OVER ({W_EVENTS} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE), 4) AS equity
        FROM events
    """,
    "minmax_normalize": """
        SELECT event_id,
               round((value - lo) / greatest(hi - lo, 1e-9), 6) AS norm
        FROM (SELECT event_id, value,
                     min(value) OVER (PARTITION BY user_id) AS lo,
                     max(value) OVER (PARTITION BY user_id) AS hi
              FROM events)
    """,
    "window_delta_stats": f"""
        SELECT DISTINCT user_id,
               round(last_v - first_v, 6) AS diff,
               round((last_v - first_v) / first_v * 100, 6) AS pct
        FROM (SELECT user_id,
                     first_value(value) OVER ({W_EVENTS}) AS first_v,
                     last_value(value) OVER ({W_EVENTS}
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_v
              FROM events)
    """,
    "minmax_mid_premium": f"""
        SELECT DISTINCT user_id,
               round(hi, 6) AS hi, round(lo, 6) AS lo,
               round((hi + lo) / 2, 6) AS mid,
               CASE WHEN last_v >= (hi + lo) / 2 THEN 'premium' ELSE 'discount' END AS pd
        FROM (SELECT user_id,
                     max(value) OVER (PARTITION BY user_id) AS hi,
                     min(value) OVER (PARTITION BY user_id) AS lo,
                     last_value(value) OVER ({W_EVENTS}
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_v
              FROM events)
    """,
    "positions_agg": """
        SELECT user_id,
               CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value
                                  WHEN event_type = 'click' THEN -value
                                  ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS qty,
               CAST(SUM(CAST(CASE WHEN event_type = 'purchase'
                                  THEN value * (value / 10)
                                  ELSE 0.0 END AS DECIMAL(28,8))) AS DOUBLE) AS cost,
               CAST(SUM(CAST(CASE WHEN event_type IN ('purchase','click') THEN 0.5
                                  ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS fees,
               CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value
                                  ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS buys,
               round(COALESCE(
                 CAST(SUM(CAST(CASE WHEN event_type = 'purchase'
                                    THEN value * (value / 10)
                                    ELSE 0.0 END AS DECIMAL(28,8))) AS DOUBLE)
                 / NULLIF(CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value
                                             ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE), 0),
                 0.0), 6) AS avg_cost
        FROM events GROUP BY user_id
    """,
    "tpch_q1_style": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(1.0 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sum_disc_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(1.0 - l_discount AS DECIMAL(12,2))
                        * CAST(1.0 + l_tax AS DECIMAL(12,2))) AS DOUBLE) AS sum_charge,
               COUNT(*) AS count_order,
               round(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6)
                 AS avg_qty,
               round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6)
                 AS avg_price
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    """,
    "journal_stats": """
        SELECT COUNT(*) AS trades,
               CAST(SUM(CASE WHEN value - 50.0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS wins,
               round(100.0 * SUM(CASE WHEN value - 50.0 > 0 THEN 1 ELSE 0 END) / COUNT(*), 0)
                 AS winrate,
               CAST(SUM(CAST(value - 50.0 AS DECIMAL(18,6))) AS DOUBLE) AS total_pnl,
               round(CAST(SUM(CAST(value - 50.0 AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(*) / 50.0, 6) AS avg_r
        FROM events
    """,
    "value_quantiles": """
        SELECT event_type,
               round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.9), 6) AS p90,
               round(quantile_cont(value, 0.99), 6) AS p99
        FROM events GROUP BY event_type
    """,
    "histogram": """
        WITH s AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
                   FROM lineitem),
             b AS (SELECT CAST(least(9, greatest(0,
                     CAST(floor((l_extendedprice - lo) / ((hi - lo) / 10)) AS BIGINT)))
                     AS INT) AS bin, lo, hi
                   FROM lineitem, s)
        SELECT bin, COUNT(*) AS n,
               round(lo + bin * ((hi - lo) / 10), 6) AS bin_lo,
               round(lo + (bin + 1) * ((hi - lo) / 10), 6) AS bin_hi
        FROM b GROUP BY bin, lo, hi
    """,
    "pnl_r_scalars": """
        SELECT event_id,
               round(pnl, 6) AS pnl,
               round(CASE WHEN abs(value - value * 0.95) * abs(qty) = 0 THEN 0.0
                          ELSE pnl / (abs(value - value * 0.95) * abs(qty)) END, 6) AS r
        FROM (
          SELECT event_id, value,
                 CAST((event_id % 5) + 1 AS DOUBLE) AS qty,
                 (CASE WHEN event_id % 2 = 0 THEN value * 1.1 - value
                       ELSE value - value * 1.1 END)
                   * CAST((event_id % 5) + 1 AS DOUBLE) - 1.0 AS pnl
          FROM events)
    """,
    "latest_join_enrich": """
        WITH latest AS (
          SELECT user_id AS c_custkey, value AS last FROM (
            SELECT user_id, value, row_number() OVER (PARTITION BY user_id
                     ORDER BY ts DESC, event_id DESC) AS rn FROM events)
          WHERE rn = 1)
        SELECT c.c_custkey, round(l.last, 6) AS last,
               round(l.last * c.c_acctbal, 4) AS market_value
        FROM customer c LEFT JOIN latest l USING (c_custkey)
    """,
    "asof_join": """
        SELECT p.event_id, round(v.view_value, 6) AS view_value
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT user_id, ts, value AS view_value FROM events
                        WHERE event_type = 'view') v
          ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
    "multi_join_revenue": """
        SELECT r_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(1.0 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    "union_merge_dedup": """
        WITH server AS (SELECT event_id, user_id, ts, event_type, value
                        FROM events WHERE event_id % 3 <> 0),
             local AS (SELECT event_id, user_id, ts, event_type, value
                       FROM events WHERE user_id < 8)
        SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
               round(value, 6) AS value
        FROM server
        UNION ALL
        SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us, l.event_type,
               round(l.value, 6) AS value
        FROM local l
        WHERE NOT EXISTS (SELECT 1 FROM server s
                          WHERE s.user_id = l.user_id AND s.ts = l.ts
                            AND s.event_type = l.event_type)
    """,
    "group_topk": """
        SELECT event_type, event_id, round(value, 6) AS value
        FROM (SELECT event_type, event_id, value,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY value DESC, event_id ASC) AS rn
              FROM events)
        WHERE rn <= 3
    """,
    "dedup_latest_wins": """
        SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
               round(value, 6) AS value
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                     ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        WHERE rn = 1
    """,
    "json_extract_props": """
        SELECT (CAST(json_extract_string(props, '$.k') AS INT) % 10) AS k_bucket,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1
    """,
    "tumbling_window_agg": """
        SELECT epoch_us(time_bucket(INTERVAL '15 minutes', ts)) AS window_start_us,
               event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    "sliding_window_agg": """
        SELECT epoch_us(time_bucket(INTERVAL '15 minutes', ts)
                        - k.k * INTERVAL '15 minutes') AS window_start_us,
               event_type, COUNT(*) AS n
        FROM events CROSS JOIN (VALUES (0), (1)) k(k)
        GROUP BY 1, 2
    """,
    "session_window_agg": """
        WITH o AS (
          SELECT user_id, ts, value,
                 -- >= matches Spark session_window: an event landing exactly at
                 -- prev_ts + gap starts a NEW session (end-exclusive semantics)
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                      THEN 1 ELSE 0 END AS new_s
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             s AS (
          SELECT user_id, ts, value,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM o)
        SELECT epoch_us(min(ts)) AS session_start_us, user_id, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM s GROUP BY user_id, sid
    """,
}

CORE_ORACLES["session_stateful_replay"] = """
    WITH o AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, ts, value, event_id,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM o),
    agg AS (
      SELECT user_id, sid,
             epoch_us(min(ts)) AS session_start_us,
             epoch_us(max(ts)) + 1800 * 1000000 AS session_end_us,
             COUNT(*) AS n,
             round(list_reduce(list(value ORDER BY ts, event_id),
                               (a, x) -> a + x), 6) AS sum_value
      FROM s GROUP BY 1, 2),
    last AS (SELECT user_id, max(sid) AS maxsid FROM s GROUP BY 1)
    SELECT a.user_id, session_start_us, session_end_us, n, sum_value,
           'event' AS closed_by
    FROM agg a JOIN last l ON a.user_id = l.user_id AND a.sid < l.maxsid
"""

CORE_ORACLES["ema_stateful_replay"] = """
    WITH s AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS vs
      FROM events GROUP BY user_id)
    SELECT user_id,
           list_reduce(vs, (acc, x) -> 0.2 * x + 0.8 * acc) AS ema,
           CAST(len(vs) AS BIGINT) AS n_seen
    FROM s
"""

CORE_ORACLES["ict_analysis"] = f"""
    WITH s1 AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN row_number() OVER w >= 5
                  THEN avg(value) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
             END AS sma,
             (value >= lag(value) OVER w AND value >= lead(value) OVER w) AS ih,
             (value <= lag(value) OVER w AND value <= lead(value) OVER w) AS il
      FROM events WINDOW w AS ({W_EVENTS})),
    s2 AS (
      SELECT *, sma - lag(sma, 2) OVER w AS s2v, sma - lag(sma, 5) OVER w AS s5v
      FROM s1 WINDOW w AS ({W_EVENTS})),
    s3 AS (
      SELECT *,
             SUM(CASE WHEN ih THEN 1 ELSE 0 END)
               OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi_rank,
             SUM(CASE WHEN il THEN 1 ELSE 0 END)
               OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lo_rank,
             last_value(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
               AND UNBOUNDED FOLLOWING) AS last_v,
             last_value(s2v) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
               AND UNBOUNDED FOLLOWING) AS last_s2,
             last_value(s5v) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
               AND UNBOUNDED FOLLOWING) AS last_s5
      FROM s2 WINDOW w AS ({W_EVENTS})),
    pre AS (
      SELECT user_id,
             max(CASE WHEN ih THEN hi_rank END) AS nh,
             max(CASE WHEN il THEN lo_rank END) AS nl
      FROM s3 GROUP BY user_id),
    agg AS (
      SELECT s3.user_id,
             max(value) AS hi, min(value) AS lo,
             max(last_v) AS last_v, max(last_s2) AS last_s2, max(last_s5) AS last_s5,
             max(CASE WHEN ih AND hi_rank = nh THEN value END) AS h1,
             max(CASE WHEN ih AND hi_rank = nh - 1 THEN value END) AS h2,
             max(CASE WHEN il AND lo_rank = nl THEN value END) AS l1,
             max(CASE WHEN il AND lo_rank = nl - 1 THEN value END) AS l2,
             max(CASE WHEN ih AND hi_rank = nh THEN epoch_us(ts) END) AS hk_us,
             max(CASE WHEN il AND lo_rank = nl THEN epoch_us(ts) END) AS lk_us
      FROM s3 JOIN pre ON s3.user_id = pre.user_id
      GROUP BY s3.user_id)
    SELECT user_id, hi, lo, round((hi + lo) / 2, 6) AS mid, last_v AS last,
           CASE WHEN last_v >= (hi + lo) / 2 THEN 'premium' ELSE 'discount' END AS pd,
           CASE WHEN last_s2 > 0 AND last_s5 > 0 THEN 'bullish'
                WHEN last_s2 < 0 AND last_s5 < 0 THEN 'bearish'
                ELSE 'neutral' END AS bias,
           CAST(h1 IS NOT NULL AND h2 IS NOT NULL
                AND abs(h1 - h2) <= 5e-4 * (h1 + h2) / 2 AS INT) AS equal_highs,
           CAST(l1 IS NOT NULL AND l2 IS NOT NULL
                AND abs(l1 - l2) <= 5e-4 * (l1 + l2) / 2 AS INT) AS equal_lows,
           round(least(leg_end - 0.62 * (leg_end - leg_start),
                       leg_end - 0.79 * (leg_end - leg_start)), 6) AS ote_lo,
           round(greatest(leg_end - 0.62 * (leg_end - leg_start),
                          leg_end - 0.79 * (leg_end - leg_start)), 6) AS ote_hi
    FROM (SELECT *,
                 CASE WHEN hk_us >= lk_us THEN l1 ELSE h1 END AS leg_start,
                 CASE WHEN hk_us >= lk_us THEN h1 ELSE l1 END AS leg_end
          FROM agg)
"""

CORE_ORACLES["rollup_revenue"] = """
    SELECT r_name, n_name,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders,
           GROUPING(r_name, n_name) AS gid
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
"""

CORE_ORACLES["set_ops"] = """
    WITH clicks AS (SELECT DISTINCT user_id FROM events
                    WHERE event_type = 'click'),
         buys AS (SELECT DISTINCT user_id FROM events
                  WHERE event_type = 'purchase')
    SELECT user_id, 'click_only' AS set_kind FROM (SELECT user_id FROM clicks EXCEPT ALL SELECT user_id FROM buys)
    UNION ALL
    SELECT user_id, 'both' AS set_kind FROM (SELECT user_id FROM clicks INTERSECT SELECT user_id FROM buys)
"""

CORE_ORACLES["trailing_max_argmax"] = f"""
    SELECT event_id,
           mx % 10000000 AS argmax_id,
           round((mx // 10000000) / 100.0, 6) AS rolling_max
    FROM (SELECT event_id,
                 max(CAST(round(value * 100, 0) AS BIGINT) * 10000000 + event_id)
                   OVER (w ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS mx
          FROM events WINDOW w AS ({W_EVENTS}))
"""

CORE_ORACLES["range_join_sessions"] = """
    WITH o AS (
      SELECT user_id, event_id, ts,
             -- >= matches Spark session_window end-exclusive boundary semantics
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, event_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM o),
    sess AS (
      SELECT user_id, sid, min(ts) AS s_start,
             max(ts) + INTERVAL '30 minutes' AS s_end
      FROM s GROUP BY user_id, sid)
    SELECT e.event_id, epoch_us(sess.s_start) AS session_start_us
    FROM events e
    JOIN sess ON e.user_id = sess.user_id
             AND e.ts >= sess.s_start AND e.ts <= sess.s_end
"""

CORE_ORACLES["funnel_conversion"] = """
    WITH mins AS (
      SELECT user_id,
             min(ts) FILTER (WHERE event_type = 'signup')   AS m0,
             min(ts) FILTER (WHERE event_type = 'view')     AS m1,
             min(ts) FILTER (WHERE event_type = 'click')    AS m2,
             min(ts) FILTER (WHERE event_type = 'purchase') AS m3
      FROM events GROUP BY user_id),
    r AS (
      SELECT (m0 IS NOT NULL) AS r0,
             (m0 IS NOT NULL AND m1 IS NOT NULL AND m1 > m0) AS r1,
             (m0 IS NOT NULL AND m1 IS NOT NULL AND m1 > m0
              AND m2 IS NOT NULL AND m2 > m1) AS r2,
             (m0 IS NOT NULL AND m1 IS NOT NULL AND m1 > m0
              AND m2 IS NOT NULL AND m2 > m1
              AND m3 IS NOT NULL AND m3 > m2) AS r3
      FROM mins)
    SELECT 0 AS step_idx, 'signup' AS step,
           CAST(count(*) FILTER (WHERE r0) AS BIGINT) AS users FROM r
    UNION ALL
    SELECT 1, 'view',     CAST(count(*) FILTER (WHERE r1) AS BIGINT) FROM r
    UNION ALL
    SELECT 2, 'click',    CAST(count(*) FILTER (WHERE r2) AS BIGINT) FROM r
    UNION ALL
    SELECT 3, 'purchase', CAST(count(*) FILTER (WHERE r3) AS BIGINT) FROM r
"""

CORE_ORACLES["cohort_retention"] = """
    WITH act AS (
      SELECT DISTINCT user_id AS u,
             CAST(floor((CAST(ts AS DATE) - DATE '2024-01-01') / 7) AS BIGINT) AS p
      FROM events),
    fc AS (SELECT u, min(p) AS cohort FROM act GROUP BY u)
    SELECT cohort, p - cohort AS week_offset,
           CAST(count(DISTINCT act.u) AS BIGINT) AS users
    FROM act JOIN fc USING (u)
    GROUP BY cohort, p - cohort
"""

CORE_ORACLES["cube_agg"] = """
    WITH e AS (SELECT event_type, CAST(isodow(ts) AS INT) AS dow, value
               FROM events)
    SELECT event_type, dow, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
           GROUPING(event_type, dow) AS gid
    FROM e GROUP BY CUBE (event_type, dow)
"""

CORE_ORACLES["pivot_event_counts"] = """
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'view')     AS n_view,
           count(*) FILTER (WHERE event_type = 'click')    AS n_click,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
           count(*) FILTER (WHERE event_type = 'error')    AS n_error
    FROM events GROUP BY user_id
"""

CORE_ORACLES["salted_hot_agg"] = """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
           round(MAX(value), 6) AS vmax
    FROM events GROUP BY event_type
"""

CORE_ORACLES["click_attribution"] = """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS delta_us
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""

CORE_ORACLES["rsi14"] = f"""
    SELECT event_id,
           CASE WHEN rn >= 15 AND g + l > 0 THEN (100.0 * g) / (g + l) END AS rsi14
    FROM (
      SELECT event_id, rn,
             CAST(SUM(CASE WHEN delta > 0 THEN delta
                           ELSE CAST(0 AS DECIMAL(18,2)) END)
                  OVER (w2 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS DOUBLE) AS g,
             CAST(SUM(CASE WHEN delta < 0 THEN -delta
                           ELSE CAST(0 AS DECIMAL(18,2)) END)
                  OVER (w2 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS DOUBLE) AS l
      FROM (
        SELECT event_id, user_id, ts, row_number() OVER w AS rn,
               CAST(value AS DECIMAL(18,2))
                 - lag(CAST(value AS DECIMAL(18,2))) OVER w AS delta
        FROM events WINDOW w AS ({W_EVENTS}))
      WINDOW w2 AS ({W_EVENTS}))
"""

CORE_ORACLES["bollinger"] = f"""
    SELECT event_id,
           round(CASE WHEN rn >= 20 THEN mid + 2.0 * sd END, 4) AS bb_upper,
           round(CASE WHEN rn >= 20 THEN mid - 2.0 * sd END, 4) AS bb_lower,
           round(CASE WHEN rn >= 20 AND sd > 0
                 THEN (value - (mid - 2.0 * sd)) / (4.0 * sd) END, 4) AS pct_b
    FROM (
      SELECT event_id, value, row_number() OVER w AS rn,
             CAST(SUM(CAST(value AS DECIMAL(18,2)))
                  OVER (w ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS DOUBLE) / 20 AS mid,
             stddev_samp(value)
               OVER (w ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS sd
      FROM events WINDOW w AS ({W_EVENTS}))
"""

CORE_ORACLES["autocorr_lag1"] = f"""
    WITH pairs AS (
      SELECT user_id,
             CAST(value AS DECIMAL(18,2)) AS y,
             lag(CAST(value AS DECIMAL(18,2))) OVER ({W_EVENTS}) AS x
      FROM events),
    stats AS (
      SELECT user_id, COUNT(*) AS n_pairs,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
             SUM(x*x) AS sxx, SUM(y*y) AS syy
      FROM pairs WHERE x IS NOT NULL GROUP BY user_id)
    SELECT user_id, n_pairs,
           CASE WHEN sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                          * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) > 0
                THEN (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
           END AS corr_lag1
    FROM stats
"""


def _profile_col_sql(ordinal: int, col: str) -> str:
    return f"""
      SELECT {ordinal} AS ordinal, '{col}' AS "column",
             COUNT(*) AS n_rows,
             COUNT(*) - COUNT({col}) AS n_null,
             COUNT(DISTINCT {col}) AS n_distinct,
             CAST(MIN({col}) AS VARCHAR) AS min_str,
             CAST(MAX({col}) AS VARCHAR) AS max_str
      FROM events"""


CORE_ORACLES["table_profile"] = " UNION ALL ".join(
    _profile_col_sql(i, c)
    for i, c in enumerate(["event_id", "user_id", "event_type", "props"])
)

CORE_ORACLES["grouping_sets_revenue"] = """
    SELECT r_name, n_name,
           CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name, n_name), (n_name), ())
"""


def _ewma_term_sql(span: int) -> tuple[str, str]:
    """(numerator, denominator) SQL for the bounded EWMA fold — the
    SAME literal doubles the Spark plan embeds (operators/windows.
    ewma_weights), folded left exactly like F.aggregate."""
    from market_insights_app_spark.operators.windows import ewma_weights

    wts = ewma_weights(span)
    dens, acc = [], 0.0
    for x in wts:
        acc += x
        dens.append(acc)
    wl = "[" + ", ".join(repr(x) for x in wts) + "]"
    dl = "[" + ", ".join(repr(x) for x in dens) + "]"
    num = (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, len(rev{span}) + 1), "
        f"i -> rev{span}[i] * ({wl})[i])), (a, b) -> a + b)"
    )
    den = f"({dl})[len(rev{span})]"
    return num, den


_N12, _D12 = _ewma_term_sql(12)
_N26, _D26 = _ewma_term_sql(26)

CORE_ORACLES["ewma_macd"] = f"""
    WITH a AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             list_reverse(list(coalesce(value, 0.0)) OVER (w ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)) AS rev12,
             list_reverse(list(coalesce(value, 0.0)) OVER (w ROWS BETWEEN 25 PRECEDING AND CURRENT ROW)) AS rev26
      FROM events WINDOW w AS ({W_EVENTS})),
    e AS (
      SELECT user_id, event_id, ts_us,
             {_N12} / {_D12} AS e12,
             {_N26} / {_D26} AS e26
      FROM a)
    SELECT user_id, event_id, ts_us,
           round(e12, 6) AS ewma12,
           round(e26, 6) AS ewma26,
           round(e12 - e26, 6) AS macd
    FROM e
"""


# --- market analytics extensions (round 5) ---------------------------------

CORE_ORACLES["ohlc_resample"] = """
    WITH t AS (
      SELECT user_id, date_trunc('day', ts) AS b, value,
             CAST(json_extract_string(props, '$.k') AS INT) AS vol,
             row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events)
    SELECT user_id, epoch_us(b) AS bucket_us,
           round(MAX(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
           round(MAX(value), 6) AS high,
           round(MIN(value), 6) AS low,
           round(MAX(CASE WHEN rn_d = 1 THEN value END), 6) AS close,
           COUNT(*) AS n_ticks,
           CAST(SUM(CAST(vol AS BIGINT)) AS BIGINT) AS volume
    FROM t GROUP BY user_id, b
"""

CORE_ORACLES["ohlc_stream_replay"] = """
    WITH t AS (
      SELECT user_id, date_trunc('day', ts) AS b, value,
             row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events)
    SELECT user_id, epoch_us(b) AS bucket_us,
           round(MAX(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
           round(MAX(value), 6) AS high,
           round(MIN(value), 6) AS low,
           round(MAX(CASE WHEN rn_d = 1 THEN value END), 6) AS close,
           COUNT(*) AS n_ticks
    FROM t GROUP BY user_id, b
"""

CORE_ORACLES["vwap_daily"] = """
    WITH t AS (
      SELECT user_id, date_trunc('day', ts) AS b,
             CAST(value AS DECIMAL(18,2)) AS v,
             CAST(CAST(json_extract_string(props, '$.k') AS INT)
                  AS DECIMAL(9,0)) AS vol
      FROM events),
    g AS (
      SELECT user_id, b,
             SUM(v * vol) AS spv,
             CAST(SUM(vol) AS BIGINT) AS volume,
             COUNT(*) AS n_ticks
      FROM t GROUP BY user_id, b)
    -- vwap emitted UNROUNDED (r11): the 2-dp-decimal / integer quotient
    -- lands on true decimal half-way points where the engines' double
    -- round() implementations split 1 ulp apart; the raw doubles are
    -- bit-identical (see operators/market.vwap docstring)
    SELECT user_id, epoch_us(b) AS bucket_us,
           CASE WHEN volume > 0
                THEN CAST(spv AS DOUBLE) / CAST(volume AS DOUBLE) END
             AS vwap,
           volume, n_ticks
    FROM g
"""

CORE_ORACLES["max_drawdown"] = f"""
    WITH t AS (
      SELECT user_id, CAST(value AS DECIMAL(18,2)) AS v,
             MAX(CAST(value AS DECIMAL(18,2)))
               OVER ({W_EVENTS} ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS peak
      FROM events)
    SELECT user_id, COUNT(*) AS n_ticks,
           round(MAX(CASE WHEN peak > 0
                 THEN CAST(peak - v AS DOUBLE) / CAST(peak AS DOUBLE) END), 6)
             AS max_drawdown
    FROM t GROUP BY user_id
"""

CORE_ORACLES["pairwise_corr"] = """
    WITH b AS (
      SELECT user_id AS k, date_trunc('hour', ts) AS b,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS s
      FROM events GROUP BY 1, 2),
    p AS (
      SELECT a.k AS ka, c.k AS kb, a.s AS x, c.s AS y
      FROM b a JOIN b c ON a.b = c.b AND a.k < c.k),
    st AS (
      SELECT ka, kb, COUNT(*) AS n_buckets,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM p GROUP BY 1, 2),
    v AS (
      -- clamp each variance factor at 0 before the sqrt, mirroring the
      -- Spark lanes: the factors are >= 0 in exact arithmetic but are
      -- computed in DOUBLE where cancellation can land epsilon-negative,
      -- and DuckDB's sqrt RAISES on negatives (observed at sf0.1) where
      -- Spark yields NaN -> NULL.  greatest(0, x) changes no positive
      -- value, so the twins stay bit-identical.
      SELECT ka, kb, n_buckets,
             CAST(n_buckets AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
             greatest(0.0, CAST(n_buckets AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS vx,
             greatest(0.0, CAST(n_buckets AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS vy
      FROM st)
    SELECT ka, kb, n_buckets,
           CASE WHEN sqrt(vx * vy) > 0 THEN num / sqrt(vx * vy) END AS corr
    FROM v WHERE n_buckets >= 2
"""

CORE_ORACLES["series_moments"] = """
    WITH t AS (SELECT user_id, CAST(value AS DECIMAL(7,2)) AS v FROM events),
    -- staged power columns: each multiply is widened past DECIMAL(18)
    -- so DuckDB picks its HUGEINT physical type (a (15,4)x(7,2)
    -- product overflows the int64 lane), then cast back down exactly
    -- (v <= ~10^3 here, so v^k fits the declared widths). The Spark
    -- twin's (7,2)->(31,8) product chain is exact too, so both
    -- engines sum identical rationals.
    t4 AS (
      SELECT user_id, v,
             CAST(CAST(v AS DECIMAL(19,2)) * v AS DECIMAL(19,4)) AS p2,
             CAST(CAST(CAST(v AS DECIMAL(19,2)) * v AS DECIMAL(19,4)) * v
                  AS DECIMAL(19,6)) AS p3,
             CAST(CAST(CAST(v AS DECIMAL(19,2)) * v AS DECIMAL(19,4)) * v
                  AS DECIMAL(19,6)) * v AS p4
      FROM t),
    st AS (
      SELECT user_id, COUNT(*) AS n,
             SUM(v) AS s1, SUM(p2) AS s2, SUM(p3) AS s3, SUM(p4) AS s4
      FROM t4 GROUP BY user_id),
    d AS (
      SELECT user_id, n,
             CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS s1,
             CAST(s2 AS DOUBLE) AS s2, CAST(s3 AS DOUBLE) AS s3,
             CAST(s4 AS DOUBLE) AS s4
      FROM st),
    m AS (
      SELECT user_id, n, nd, s1, s2, s3, s4,
             s1 / nd AS mean,
             s2 / nd - (s1 / nd) * (s1 / nd) AS m2
      FROM d)
    SELECT user_id, n,
           round(mean, 6) AS mean,
           round(CASE WHEN nd > 1
                 THEN sqrt((s2 - s1 * s1 / nd) / (nd - 1)) END, 6) AS stddev,
           round(CASE WHEN nd > 2 AND m2 > 0
                 THEN (s3 / nd - 3 * mean * (s2 / nd)
                       + 2 * mean * mean * mean) / (m2 * sqrt(m2)) END, 6)
             AS skewness,
           round(CASE WHEN nd > 3 AND m2 > 0
                 THEN (s4 / nd - 4 * mean * (s3 / nd)
                       + 6 * mean * mean * (s2 / nd)
                       - 3 * mean * mean * mean * mean) / (m2 * m2) - 3.0
                 END, 6) AS kurtosis
    FROM m
"""

CORE_ORACLES["resample_ffill"] = """
    WITH hb AS (
      SELECT user_id, date_trunc('hour', ts) AS h, value,
             row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events),
    closes AS (SELECT user_id, h, value FROM hb WHERE rn = 1),
    bounds AS (SELECT user_id, min(h) AS lo, max(h) AS hi
               FROM hb GROUP BY user_id),
    grid AS (SELECT user_id,
                    unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
             FROM bounds),
    j AS (SELECT g.user_id, g.h, c.value
          FROM grid g LEFT JOIN closes c
            ON g.user_id = c.user_id AND g.h = c.h)
    SELECT user_id, epoch_us(h) AS hour_us,
           round(last_value(value IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY h
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 6) AS close_ffill,
           (value IS NULL) AS is_gap
    FROM j
"""

CORE_ORACLES["snapshot_diff"] = """
    WITH old_s AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 89 <> 0
    ),
    new_s AS (
        SELECT o_orderkey,
               CASE WHEN o_orderpriority = '1-URGENT'
                    THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice,
               o_orderstatus
        FROM orders WHERE o_orderkey % 97 <> 0
    ),
    diff AS (
        SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               CASE WHEN o.o_orderkey IS NULL THEN 'added'
                    WHEN n.o_orderkey IS NULL THEN 'removed'
                    WHEN o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                     AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
                    THEN 'unchanged' ELSE 'changed' END AS status,
               round(o.o_totalprice, 2) AS old_totalprice,
               round(n.o_totalprice, 2) AS new_totalprice,
               o.o_orderstatus AS old_status,
               n.o_orderstatus AS new_status
        FROM old_s o FULL OUTER JOIN new_s n USING (o_orderkey)
    )
    SELECT * FROM diff WHERE status <> 'unchanged'
"""

CORE_ORACLES["trend_ols"] = """
    WITH xy AS (
        SELECT event_type AS k,
               CAST((epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01'))
                    // 1000000 AS DECIMAL(9,0)) AS x,
               CAST(value AS DECIMAL(8,2)) AS y
        FROM events
    ),
    stats AS (
        SELECT k,
               CAST(count(*) AS DECIMAL(9,0))  AS n,
               CAST(sum(x) AS DECIMAL(19,0))   AS sx,  -- width>=19 forces DuckDB's int128 lane for sx*sx
               CAST(sum(y) AS DECIMAL(19,2))   AS sy,
               CAST(sum(x*y) AS DECIMAL(24,2)) AS sxy,
               CAST(sum(x*x) AS DECIMAL(26,0)) AS sxx,
               CAST(sum(y*y) AS DECIMAL(22,4)) AS syy
        FROM xy GROUP BY k
    )
    SELECT k AS event_type,
           CAST(n AS BIGINT) AS n_obs,
           round(CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) <> 0.0 THEN
                 CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
                 END, 12) AS slope_per_s,
           round(CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) <> 0.0 THEN
                 (CAST(sy AS DOUBLE)
                  - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
                 END, 6) AS intercept,
           round(CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) <> 0.0
                       AND CAST(n*syy - sy*sy AS DOUBLE) <> 0.0 THEN
                 CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE)
                 / (CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE))
                 END, 9) AS r2
    FROM stats
"""

CORE_ORACLES["cdc_apply_roundtrip"] = """
    SELECT o_orderkey,
           round(CASE WHEN o_orderpriority = '1-URGENT'
                      THEN o_totalprice + 10.0 ELSE o_totalprice END, 2)
             AS totalprice,
           o_orderstatus
    FROM orders WHERE o_orderkey % 97 <> 0
"""

CORE_ORACLES["validate_lineitem"] = """
    WITH checks(rule, violations) AS (
        SELECT 'not_null(l_orderkey)', count(*) FILTER (l_orderkey IS NULL) FROM lineitem
        UNION ALL
        SELECT 'not_null(l_quantity)', count(*) FILTER (l_quantity IS NULL) FROM lineitem
        UNION ALL
        SELECT 'not_null(l_shipdate)', count(*) FILTER (l_shipdate IS NULL) FROM lineitem
        UNION ALL
        SELECT 'in_range(l_quantity,1.0,50.0)',
               count(*) FILTER (l_quantity IS NOT NULL AND (l_quantity < 1.0 OR l_quantity > 50.0))
        FROM lineitem
        UNION ALL
        SELECT 'in_range(l_discount,0.0,0.1)',
               count(*) FILTER (l_discount IS NOT NULL AND (l_discount < 0.0 OR l_discount > 0.1))
        FROM lineitem
        UNION ALL
        SELECT 'accepted_values(l_returnflag)',
               count(*) FILTER (l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R'))
        FROM lineitem
        UNION ALL
        SELECT 'accepted_values(l_linestatus)',
               count(*) FILTER (l_linestatus IS NOT NULL AND l_linestatus NOT IN ('F','O'))
        FROM lineitem
        UNION ALL
        -- CAST: bare sum(BIGINT) is HUGEINT in DuckDB, and the UNION ALL
        -- would promote the whole `violations` column with it; the driver's
        -- value-hash distinguishes int128 from Spark's bigint (r6 red).
        SELECT 'unique(l_orderkey,l_linenumber)',
               CAST(coalesce(sum(n - 1), 0) AS BIGINT)
        FROM (SELECT count(*) AS n FROM lineitem GROUP BY l_orderkey, l_linenumber)
        UNION ALL
        SELECT 'foreign_key(l_orderkey)', count(*)
        FROM lineitem l WHERE l.l_orderkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    )
    SELECT rule, violations,
           CASE WHEN violations = 0 THEN 'pass' ELSE 'fail' END AS status
    FROM checks
"""

CORE_ORACLES["scd2_user_state"] = """
    WITH ev AS (SELECT * FROM events),
    marked AS (
        SELECT user_id, event_type, ts, event_id,
               (row_number() OVER w = 1
                OR NOT (event_type IS NOT DISTINCT FROM
                        lag(event_type) OVER w)) AS opens
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    opened AS (SELECT * FROM marked WHERE opens)
    SELECT user_id, event_type,
           epoch_us(ts) AS valid_from_us,
           epoch_us(lead(ts) OVER w2) AS valid_to_us,
           (lead(ts) OVER w2 IS NULL) AS is_current
    FROM opened
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
"""

CORE_ORACLES["pit_feature_lookup"] = """
    WITH ev AS (SELECT * FROM events),
    marked AS (
        SELECT user_id, event_type, ts, event_id,
               (row_number() OVER w = 1
                OR NOT (event_type IS NOT DISTINCT FROM
                        lag(event_type) OVER w)) AS opens
        FROM ev WHERE event_type <> 'purchase'
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    opened AS (SELECT * FROM marked WHERE opens),
    dim AS (
        SELECT user_id, event_type, ts AS valid_from,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS valid_to
        FROM opened
    ),
    dim2 AS (SELECT * FROM dim
             WHERE valid_to IS NULL OR valid_to > valid_from),
    f AS (SELECT user_id, event_id, ts, value FROM ev
          WHERE event_type = 'purchase')
    SELECT f.user_id, f.event_id, epoch_us(f.ts) AS ts_us,
           round(f.value, 6) AS value,
           CASE WHEN d.valid_to IS NOT NULL AND d.valid_to <= f.ts
                THEN NULL ELSE d.event_type END AS pit_event_type
    FROM f ASOF LEFT JOIN dim2 d
      ON f.user_id = d.user_id AND f.ts >= d.valid_from
"""

CORE_ORACLES["robust_outliers"] = """
    WITH med AS (
        SELECT event_type AS k, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY 1
    ),
    dev AS (
        SELECT e.event_type AS k, CAST(e.value AS DOUBLE) AS v, m.med
        FROM events e JOIN med m ON e.event_type = m.k
    ),
    mad AS (
        SELECT k, quantile_cont(abs(v - med), 0.5) AS mad
        FROM dev GROUP BY 1
    ),
    flagged AS (
        SELECT d.k, d.med, m.mad,
               (abs(d.v - d.med) > 3.0 * 1.4826 * m.mad) AS is_outlier
        FROM dev d JOIN mad m ON d.k = m.k
    )
    SELECT k AS event_type,
           count(*) AS n,
           round(any_value(med), 6) AS median,
           round(any_value(mad), 6) AS mad,
           -- CASTs: bare sum(int) is HUGEINT and sum(1.0)/count(*) is
           -- DECIMAL in DuckDB; Spark emits bigint/double (r6 red).
           CAST(coalesce(sum(CASE WHEN is_outlier THEN 1 END), 0) AS BIGINT)
             AS n_outliers,
           round(CAST(sum(CASE WHEN is_outlier THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6)
             AS outlier_rate
    FROM flagged GROUP BY k
"""

CORE_ORACLES["sketch_profile"] = """
    -- The approximate values themselves are engine-specific (Spark
    -- GK/HLL++ internals); the gate therefore verifies exact counts
    -- plus the Spark-side bound BOOLEANS, which must all be TRUE.
    SELECT event_type,
           count(*) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct,
           TRUE AS distinct_ok,
           TRUE AS p50_ok,
           TRUE AS p90_ok
    FROM events GROUP BY event_type
"""

CORE_ORACLES["quantile_binning"] = """
    WITH b AS (
        SELECT event_type, value,
               ntile(10) OVER (PARTITION BY event_type
                               ORDER BY value ASC, event_id ASC) AS bin
        FROM events
    )
    SELECT event_type, bin, count(*) AS n,
           round(min(value), 6) AS lo, round(max(value), 6) AS hi
    FROM b GROUP BY event_type, bin
"""

CORE_ORACLES["twap_daily"] = """
    WITH ev AS (SELECT * FROM events),
    t AS (
        SELECT user_id AS k, date_trunc('day', ts) AS d,
               CAST(value AS DECIMAL(8,2)) AS v,
               CAST(coalesce(
                        lead(epoch_us(ts)) OVER (
                            PARTITION BY user_id, date_trunc('day', ts)
                            ORDER BY epoch_us(ts) ASC, event_id ASC),
                        epoch_us(date_trunc('day', ts)) + 86400000000
                    ) - epoch_us(ts) AS DECIMAL(12,0)) AS dt
        FROM ev
    ),
    agg AS (
        SELECT k, d,
               CAST(sum(v * dt) AS DECIMAL(22,2)) AS svdt,
               CAST(sum(dt) AS DECIMAL(14,0)) AS sdt
        FROM t GROUP BY k, d
    )
    SELECT k AS user_id, epoch_us(d) AS day_us,
           round(CAST(svdt AS DOUBLE) / CAST(sdt AS DOUBLE), 6) AS twap
    FROM agg
"""

CORE_ORACLES["psi_drift"] = """
    WITH ref AS (SELECT event_type AS k, CAST(value AS DOUBLE) AS v
                 FROM events WHERE ts < TIMESTAMP '2024-01-16'),
    cur AS (SELECT event_type AS k, CAST(value AS DOUBLE) AS v
            FROM events WHERE ts >= TIMESTAMP '2024-01-16'),
    edges AS (
        SELECT k, quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])
                   AS edges
        FROM ref GROUP BY k
    ),
    rb AS (
        SELECT r.k, len(list_filter(e.edges, x -> r.v > x)) AS bin,
               count(*) AS n_ref
        FROM ref r JOIN edges e USING (k) GROUP BY 1, 2
    ),
    cb AS (
        SELECT c.k, len(list_filter(e.edges, x -> c.v > x)) AS bin,
               count(*) AS n_cur
        FROM cur c JOIN edges e USING (k) GROUP BY 1, 2
    ),
    merged AS (
        SELECT coalesce(rb.k, cb.k) AS k, coalesce(rb.bin, cb.bin) AS bin,
               coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
        FROM rb FULL OUTER JOIN cb ON rb.k = cb.k AND rb.bin = cb.bin
    ),
    shares AS (
        SELECT k,
               greatest(n_ref / sum(n_ref) OVER (PARTITION BY k), 1e-6) AS p,
               greatest(n_cur / sum(n_cur) OVER (PARTITION BY k), 1e-6) AS q
        FROM merged
    )
    SELECT k AS event_type, round(sum((q - p) * ln(q / p)), 6) AS psi
    FROM shares GROUP BY k
    UNION ALL
    -- new-segment sentinel: groups with no reference distribution
    SELECT k AS event_type, CAST(NULL AS DOUBLE) AS psi
    FROM (SELECT DISTINCT k FROM cur) c
    WHERE k NOT IN (SELECT DISTINCT k FROM ref)
"""

CORE_ORACLES["incremental_agg"] = """
    SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'U'
                ELSE o_orderstatus END AS o_orderstatus,
           CAST(sum(CAST(CASE WHEN o_orderpriority = '1-URGENT'
                              THEN CAST(o_totalprice AS DECIMAL(18,2))
                                   + CAST(10 AS DECIMAL(18,2))
                              ELSE CAST(o_totalprice AS DECIMAL(18,2)) END
                         AS DECIMAL(18,2)))
                AS DECIMAL(20,2)) AS revenue,
           count(*) AS n_orders
    FROM orders WHERE o_orderkey % 97 <> 0
    GROUP BY 1
"""

CORE_ORACLES["ab_welch_t"] = """
    -- v is DECIMAL(8,2) (|value| < 1e6, the ols_trend/twap domain);
    -- the v*v operand is widened to DECIMAL(19,2) so DuckDB's int128
    -- (HUGEINT) lane engages — an (8,2)x(8,2) product stays in the
    -- int64 lane, where a large-value sum could wrap (series_moments
    -- pattern).
    WITH s AS (
        SELECT event_type,
               CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS DECIMAL(12,0)) AS n1,
               CAST(sum(CASE WHEN user_id % 2 = 1
                             THEN CAST(value AS DECIMAL(8,2)) END)
                    AS DECIMAL(20,2)) AS s1,
               CAST(sum(CASE WHEN user_id % 2 = 1
                             THEN CAST(CAST(value AS DECIMAL(19,2))
                                  * CAST(value AS DECIMAL(8,2))
                                  AS DECIMAL(24,4)) END)
                    AS DECIMAL(24,4)) AS ss1,
               CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                    AS DECIMAL(12,0)) AS n0,
               CAST(sum(CASE WHEN user_id % 2 = 0
                             THEN CAST(value AS DECIMAL(8,2)) END)
                    AS DECIMAL(20,2)) AS s0,
               CAST(sum(CASE WHEN user_id % 2 = 0
                             THEN CAST(CAST(value AS DECIMAL(19,2))
                                  * CAST(value AS DECIMAL(8,2))
                                  AS DECIMAL(24,4)) END)
                    AS DECIMAL(24,4)) AS ss0
        FROM events GROUP BY event_type
    )
    SELECT event_type,
           CAST(n1 AS BIGINT) AS n_treat,
           CAST(n0 AS BIGINT) AS n_control,
           round(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                 - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) AS mean_diff,
           round(CASE WHEN CAST(n1 AS DOUBLE) > 1.0 AND CAST(n0 AS DOUBLE) > 1.0
                       AND ((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) / CAST(n1 AS DOUBLE)
                          + (CAST(ss0 AS DOUBLE) - CAST(s0 AS DOUBLE)*CAST(s0 AS DOUBLE)/CAST(n0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) - 1.0) / CAST(n0 AS DOUBLE)) > 0.0
                 THEN (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                       - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                      / sqrt((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) / CAST(n1 AS DOUBLE)
                           + (CAST(ss0 AS DOUBLE) - CAST(s0 AS DOUBLE)*CAST(s0 AS DOUBLE)/CAST(n0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) - 1.0) / CAST(n0 AS DOUBLE))
                 END, 6) AS welch_t
    FROM s
"""

CORE_ORACLES["ab_mann_whitney"] = """
    WITH ranked AS (
        SELECT event_type,
               CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS t,
               CAST(rank() OVER (PARTITION BY event_type ORDER BY value ASC)
                    AS DOUBLE)
               + (CAST(count(*) OVER (PARTITION BY event_type, value)
                       AS DOUBLE) - 1.0) / 2.0 AS r,
               count(*) OVER (PARTITION BY event_type, value) AS tie_n
        FROM events
    ),
    stats AS (
        SELECT event_type,
               sum(CASE WHEN t = 1 THEN r END) AS r1,
               CAST(sum(t) AS DOUBLE) AS n1,
               CAST(sum(1 - t) AS DOUBLE) AS n0,
               sum(CAST(tie_n * tie_n * tie_n - tie_n AS DOUBLE)
                   / CAST(tie_n AS DOUBLE)) AS tie_term
        FROM ranked GROUP BY event_type
    )
    SELECT event_type,
           CAST(n1 AS BIGINT) AS n_treat,
           CAST(n0 AS BIGINT) AS n_control,
           round(r1 - n1 * (n1 + 1.0) / 2.0, 1) AS u_stat,
           round(CASE WHEN (n1 * n0 / 12.0)
                           * ((n1 + n0 + 1.0)
                              - tie_term / ((n1 + n0) * (n1 + n0 - 1.0))) > 0.0
                 THEN (r1 - n1 * (n1 + 1.0) / 2.0 - n1 * n0 / 2.0)
                      / sqrt((n1 * n0 / 12.0)
                             * ((n1 + n0 + 1.0)
                                - tie_term / ((n1 + n0) * (n1 + n0 - 1.0))))
                 END, 6) AS z_approx
    FROM stats
"""

# -- round-6 additions: returns/sharpe/beta, transitions, anomalies, skew --

_DAILY_RET_CTE = """
    cl AS (
      SELECT user_id, date_trunc('day', ts) AS d, value AS close,
             row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events),
    c2 AS (SELECT user_id, d, close FROM cl WHERE rn = 1),
    -- 10^-9 grid fix by floor(x*1e9)/1e9, NOT round(): one IEEE
    -- multiply + floor is bit-identical cross-engine, while round at
    -- a perceived half-way diverges (Spark exact expansion vs DuckDB
    -- multiply-based)
    r0 AS (SELECT user_id, d, close,
                  lag(close) OVER (PARTITION BY user_id ORDER BY d) AS prev
           FROM c2),
    -- grid-domain guard mirrors daily_returns: a floored fixed-point
    -- value outside ±(10^13 - 1) cannot live in DECIMAL(13,9) -> NULL
    r AS (SELECT user_id, d,
                 CAST(CASE WHEN floor((close / prev - 1.0) * 1e9)
                           BETWEEN -9999999999999 AND 9999999999999
                      THEN floor((close / prev - 1.0) * 1e9) / 1e9 END
                      AS DECIMAL(13,9)) AS rd
          FROM r0 WHERE prev IS NULL OR prev <> 0.0),
    r2 AS (SELECT user_id, d, rd FROM r WHERE rd IS NOT NULL)
"""

CORE_ORACLES["daily_sharpe"] = f"""
    -- sufficient statistics in 10^9-scaled INTEGER fixed-point.  s1
    -- stays below 2^63 by domain (long->double is correctly rounded
    -- on both engines -> mean_ret unrounded), but the square sum s2
    -- can exceed 2^63, where DuckDB's int128->double conversion may
    -- sit one ulp off Spark's correctly-rounded decimal->double —
    -- vol/sharpe inherit s2 through the variance and are therefore
    -- rounded to 6 dp, exactly like beta/alpha.  var >= 0 guard
    -- mirrors the Spark twin (a -1-ulp variance would NaN there,
    -- error here).
    WITH {_DAILY_RET_CTE},
    fx AS (SELECT user_id, CAST(CAST(rd AS DECIMAL(19,9)) * 1000000000 AS BIGINT) AS rfx FROM r2),
    s AS (SELECT user_id, COUNT(*) AS n,
                 CAST(sum(rfx) AS DOUBLE) AS s1d,
                 CAST(sum(CAST(rfx AS DECIMAL(19,0))
                          * CAST(rfx AS DECIMAL(19,0))) AS DOUBLE) AS s2d
          FROM fx GROUP BY user_id),
    d AS (SELECT user_id, n, CAST(n AS DOUBLE) AS nd, s1d, s2d FROM s),
    v AS (SELECT user_id, n, nd, s1d,
                 (s2d - s1d * s1d / nd) / (nd - 1.0) AS var
          FROM d)
    SELECT user_id, n AS n_days,
           s1d / nd * 1e-9 AS mean_ret,
           round((CASE WHEN n > 1 AND var >= 0.0 THEN sqrt(var) END) * 1e-9,
                 6) AS vol,
           round(CASE WHEN n > 1 AND var > 0.0
                 THEN (s1d / nd) / sqrt(var) * sqrt(252.0) END, 6) AS sharpe
    FROM v
"""

CORE_ORACLES["beta_benchmark"] = f"""
    WITH {_DAILY_RET_CTE},
    m AS (SELECT d,
                 CAST(floor(CAST(CAST(sum(rd) AS DECIMAL(24,9)) AS DOUBLE)
                            / CAST(COUNT(*) AS DOUBLE) * 1e9)
                      AS BIGINT) AS xfx
          FROM r2 GROUP BY d),
    j AS (SELECT r2.user_id, m.xfx,
                 CAST(CAST(r2.rd AS DECIMAL(19,9)) * 1000000000 AS BIGINT) AS yfx
          FROM r2 JOIN m USING (d)),
    s AS (SELECT user_id, COUNT(*) AS n,
                 CAST(sum(xfx) AS DOUBLE) AS sxd,
                 CAST(sum(yfx) AS DOUBLE) AS syd,
                 CAST(sum(CAST(xfx AS DECIMAL(19,0))
                          * CAST(xfx AS DECIMAL(19,0))) AS DOUBLE) AS sxxd,
                 CAST(sum(CAST(xfx AS DECIMAL(19,0))
                          * CAST(yfx AS DECIMAL(19,0))) AS DOUBLE) AS sxyd
          FROM j GROUP BY user_id),
    d2 AS (SELECT user_id, n, CAST(n AS DOUBLE) AS nd,
                  sxd, syd, sxxd, sxyd
           FROM s),
    b AS (SELECT user_id, n, nd, syd, sxd,
                 nd * sxxd - sxd * sxd AS den,
                 nd * sxyd - sxd * syd AS num
          FROM d2)
    SELECT user_id, n AS n_days,
           round(CASE WHEN den <> 0.0 THEN num / den END, 6) AS beta,
           round(CASE WHEN den <> 0.0
                 THEN (syd - (num / den) * sxd) / nd * 1e-9 END, 9) AS alpha
    FROM b
"""

CORE_ORACLES["transition_matrix"] = """
    WITH seq AS (
      SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events),
    c AS (SELECT prev AS prev_state, event_type AS next_state,
                 COUNT(*) AS n
          FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2)
    SELECT prev_state, next_state, n,
           CAST(n AS DOUBLE)
           / CAST(sum(n) OVER (PARTITION BY prev_state) AS DOUBLE) AS p
    FROM c
"""

CORE_ORACLES["zscore_anomalies"] = """
    WITH w AS (
      SELECT user_id, ts, event_id, value,
             avg(value) OVER win AS m,
             stddev_samp(value) OVER win AS sd,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
    z AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
                 round(CASE WHEN rn > 20 AND sd > 0.0
                       THEN (value - m) / sd END, 6) AS z
          FROM w)
    SELECT user_id, ts_us, event_id, value, z
    FROM z WHERE abs(z) > 3.0
"""

CORE_ORACLES["key_skew"] = """
    WITH c AS (SELECT user_id, COUNT(*) AS n_rows FROM events GROUP BY 1),
    tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total,
                   COUNT(*) AS n_keys_total
            FROM c),
    top AS (SELECT * FROM c ORDER BY n_rows DESC, user_id ASC LIMIT 20)
    SELECT CAST(row_number() OVER (ORDER BY n_rows DESC, user_id ASC)
                AS INT) AS rank,
           user_id, n_rows,
           CAST(n_rows AS DOUBLE) / CAST(total AS DOUBLE) AS share,
           CAST(sum(n_rows) OVER (ORDER BY n_rows DESC, user_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share,
           n_keys_total
    FROM top, tot
"""

CORE_ORACLES["interval_join_stream_replay"] = """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS delta_us
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""

CORE_ORACLES["rolling_corr_market"] = f"""
    WITH {_DAILY_RET_CTE},
    m AS (SELECT d,
                 CAST(floor(CAST(CAST(sum(rd) AS DECIMAL(24,9)) AS DOUBLE)
                            / CAST(COUNT(*) AS DOUBLE) * 1e9)
                      AS BIGINT) AS xfx
          FROM r2 GROUP BY d),
    j AS (SELECT r2.user_id, r2.d, m.xfx,
                 CAST(CAST(r2.rd AS DECIMAL(19,9)) * 1000000000 AS BIGINT) AS yfx
          FROM r2 JOIN m USING (d)),
    wsum AS (SELECT user_id, d,
                    row_number() OVER w AS rn,
                    CAST(sum(xfx) OVER wf AS DOUBLE) AS sx,
                    CAST(sum(yfx) OVER wf AS DOUBLE) AS sy,
                    CAST(sum(CAST(xfx AS DECIMAL(19,0))
                             * CAST(xfx AS DECIMAL(19,0))) OVER wf AS DOUBLE) AS sxx,
                    CAST(sum(CAST(yfx AS DECIMAL(19,0))
                             * CAST(yfx AS DECIMAL(19,0))) OVER wf AS DOUBLE) AS syy,
                    CAST(sum(CAST(xfx AS DECIMAL(19,0))
                             * CAST(yfx AS DECIMAL(19,0))) OVER wf AS DOUBLE) AS sxy
             FROM j
             WINDOW w AS (PARTITION BY user_id ORDER BY d),
                    wf AS (PARTITION BY user_id ORDER BY d
                           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
    c AS (SELECT user_id, d, rn,
                 20.0 * sxx - sx * sx AS varx,
                 20.0 * syy - sy * sy AS vary,
                 20.0 * sxy - sx * sy AS num
          FROM wsum)
    SELECT user_id, epoch_us(d) AS day_us,
           round(CASE WHEN rn >= 20 AND varx > 0.0 AND vary > 0.0
                 THEN num / sqrt(varx * vary) END, 6) AS roll_corr
    FROM c
"""

CORE_ORACLES["var_cvar"] = f"""
    WITH {_DAILY_RET_CTE},
    fx AS (SELECT user_id, d,
                  CAST(CAST(rd AS DECIMAL(22,9)) * 1000000000 AS BIGINT) AS rfx
           FROM r2),
    ranked AS (SELECT user_id, rfx,
                      row_number() OVER (PARTITION BY user_id
                                         ORDER BY rfx ASC, d ASC) AS rn,
                      COUNT(*) OVER (PARTITION BY user_id) AS n
               FROM fx),
    tail AS (SELECT * FROM ranked
             -- CAST to DOUBLE: DuckDB parses 0.10 as DECIMAL(2,1) and
             -- would ceil the exact product, while Spark's lit(0.10)
             -- is a double (0.1*60 = 6.000000000000001 -> ceil 7);
             -- both engines must ride the same IEEE product
             WHERE rn <= CAST(ceil(CAST(0.10 AS DOUBLE) * n) AS INTEGER))
    SELECT user_id, max(n) AS n_days,
           COUNT(*) AS tail_n,
           CAST(max(rfx) AS DOUBLE) / 1e9 AS var_a,
           CAST(sum(rfx) AS DOUBLE)
           / (CAST(COUNT(*) AS DOUBLE) * 1e9) AS cvar_a
    FROM tail GROUP BY user_id
"""
