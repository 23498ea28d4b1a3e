"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every implemented SURVEY.md §2 row to a
(spark, sf_dir) -> DataFrame builder; ``oracle_sql()`` carries the
DuckDB-dialect equivalent for the value-hash correctness gate. Shared
conventions (identical aliases, string-formatted dates, decimal-stable
double aggregation, total deterministic ordering for top-k) are
documented in ``big_data_parallel_computing_hw2_spark/plans/tpch.py``
and ``functions/aggs.py``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from big_data_parallel_computing_hw2_spark.operators import (
    band_stats,
    dedup,
    similarity,
    textanalysis,
)
from big_data_parallel_computing_hw2_spark.plans import events, quality, tpch
from big_data_parallel_computing_hw2_spark.sources import layout

# ---------------------------------------------------------------------------
# oracle SQL fragments (DuckDB dialect) — kept next to the registry so a
# query and its oracle never drift apart.

from big_data_parallel_computing_hw2_spark.functions.aggs import (
    sql_davg as _davg,
)
from big_data_parallel_computing_hw2_spark.functions.aggs import (
    sql_dsum as _dsum,
)
from big_data_parallel_computing_hw2_spark.functions.aggs import (
    sql_stable_round,
)
from big_data_parallel_computing_hw2_spark.functions.hashing import (
    sql_base_hash,
)


_REV = "l_extendedprice * (1 - l_discount)"

_ORACLE: dict[str, str] = {}
_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}


def _register(name, fn, sql=None):
    _QUERIES[name] = fn
    if sql is not None:
        _ORACLE[name] = sql


# -- §2.2 analytics ---------------------------------------------------------

_register(
    "q1_pricing_summary",
    tpch.q1_pricing_summary,
    f"""
    SELECT l_returnflag, l_linestatus,
           {_dsum("l_quantity", "sum_qty")},
           {_dsum("l_extendedprice", "sum_base_price")},
           {_dsum(_REV, "sum_disc_price")},
           {_dsum(_REV + " * (1 + l_tax)", "sum_charge")},
           {_davg("l_quantity", "avg_qty")},
           {_davg("l_extendedprice", "avg_price")},
           {_davg("l_discount", "avg_disc")},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)

_register(
    "q3_shipping_priority",
    tpch.q3_shipping_priority,
    f"""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority,
           {_dsum(_REV, "revenue")}
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)

_register(
    "q5_local_supplier",
    tpch.q5_local_supplier,
    f"""
    SELECT n_name, {_dsum(_REV, "revenue")}
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)

_register(
    "q10_returned_items",
    tpch.q10_returned_items,
    f"""
    SELECT c_custkey, c_name, n_name,
           {_dsum(_REV, "revenue")},
           CAST(ROUND(CAST(MAX(c_acctbal) AS DECIMAL(38,12)), 2) AS DOUBLE) AS c_acctbal
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)

_register(
    "order_priority_check",
    tpch.order_priority_check,
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)

_register(
    "part_type_share",
    tpch.part_type_share,
    f"""
    SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
           CAST(ROUND(CAST(
               100.0 * CAST(SUM(CAST((CASE WHEN p_type = 'PROMO' THEN {_REV}
                                           ELSE 0.0 END) AS DECIMAL(38,6))) AS DOUBLE)
               / CAST(SUM(CAST(({_REV}) AS DECIMAL(38,6))) AS DOUBLE)
               AS DECIMAL(38,12)), 4) AS DOUBLE) AS promo_share,
           {_dsum(_REV, "total_revenue")}
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1
    ORDER BY 1
    """,
)

_register(
    "top_customers_per_nation",
    tpch.top_customers_per_nation,
    f"""
    WITH per_cust AS (
        SELECT o_custkey, {_dsum("o_totalprice", "revenue")}
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT n_name, c_custkey, c_name, revenue,
               ROW_NUMBER() OVER (PARTITION BY n_name
                                  ORDER BY revenue DESC, c_custkey) AS rnk
        FROM per_cust
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
    )
    SELECT n_name, c_custkey, c_name, revenue, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 3
    ORDER BY n_name, rnk
    """,
)

_register(
    "rollup_revenue",
    tpch.rollup_revenue,
    f"""
    SELECT r_name, n_name, {_dsum("o_totalprice", "revenue")},
           COUNT(*) AS order_count
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
    """,
)

_register(
    "q17_small_quantity_revenue",
    tpch.q17_small_quantity_revenue,
    f"""
    WITH per_part AS (
        SELECT l_partkey AS avg_partkey,
               {sql_stable_round("CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)", 6)}
                   AS avg_qty
        FROM lineitem GROUP BY 1
    )
    SELECT {_dsum("l_extendedprice", "total_extendedprice")},
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN per_part ON l_partkey = avg_partkey
    WHERE l_quantity < 0.2 * avg_qty
    """,
)

_register(
    "customer_quartiles",
    tpch.customer_quartiles,
    f"""
    WITH ranked AS (
        SELECT c_mktsegment, c_custkey,
               {sql_stable_round("c_acctbal", 2)} AS c_acctbal,
               CAST(NTILE(4) OVER w AS INT) AS quartile,
               {sql_stable_round("PERCENT_RANK() OVER w", 6)} AS pct_rank
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment
                     ORDER BY c_acctbal DESC, c_custkey)
    )
    SELECT * FROM ranked WHERE quartile = 1
    ORDER BY c_mktsegment, pct_rank, c_custkey
    """,
)

_register(
    "cube_status_month",
    tpch.cube_status_month,
    f"""
    SELECT o_orderstatus, strftime(o_orderdate, '%Y-%m') AS order_month,
           COUNT(*) AS n_orders,
           {_dsum("o_totalprice", "revenue")}
    FROM orders
    GROUP BY CUBE (o_orderstatus, strftime(o_orderdate, '%Y-%m'))
    ORDER BY o_orderstatus NULLS FIRST, order_month NULLS FIRST
    """,
)

_register(
    "pivot_status_priority",
    tpch.pivot_status_priority,
    """
    SELECT o_orderstatus,
           COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS p1_urgent,
           COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS p2_high,
           COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS p3_medium,
           COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4_not_specified,
           COUNT(*) FILTER (o_orderpriority = '5-LOW') AS p5_low
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)

_register(
    "q6_forecast_revenue",
    tpch.q6_forecast_revenue,
    f"""
    SELECT {_dsum("l_extendedprice * l_discount", "revenue")},
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 0.5
    """,
)

_register(
    "q7_nation_volume",
    tpch.q7_nation_volume,
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           {_dsum("l_extendedprice * (1 - l_discount)", "revenue")}
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = '{tpch.Q7_NATION_A}' AND n2.n_name = '{tpch.Q7_NATION_B}')
       OR (n1.n_name = '{tpch.Q7_NATION_B}' AND n2.n_name = '{tpch.Q7_NATION_A}')
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)

_register(
    "q8_market_share",
    tpch.q8_market_share,
    f"""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           -- NULL share on a zero-revenue year (every line fully
           -- discounted): share of nothing is undefined, not an error
           CASE WHEN SUM(CAST(({_REV}) AS DECIMAL(38,6))) > 0 THEN
           {sql_stable_round(
               f"CAST(SUM(CAST((CASE WHEN n2.n_name = '{tpch.Q8_NATION}' "
               f"THEN {_REV} ELSE 0.0 END) AS DECIMAL(38,6))) AS DOUBLE) "
               f"/ CAST(SUM(CAST(({_REV}) AS DECIMAL(38,6))) AS DOUBLE)", 6)}
           END AS mkt_share,
           {_dsum(_REV, "total_revenue")}
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region ON n1.n_regionkey = r_regionkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = '{tpch.Q8_REGION}'
    GROUP BY 1
    ORDER BY 1
    """,
)

_register(
    "q13_order_count_dist",
    tpch.q13_order_count_dist,
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey)
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)

_register(
    "q16_supplier_part_count",
    tpch.q16_supplier_part_count,
    """
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#5' AND p_size <= 25
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)

_register(
    "q18_large_orders",
    tpch.q18_large_orders,
    f"""
    WITH big AS (
        SELECT l_orderkey, {_dsum("l_quantity", "sum_qty")}
        FROM lineitem GROUP BY l_orderkey
        HAVING CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,6))), 4) AS DOUBLE)
               > {tpch.Q18_MIN_QTY}
    )
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           {sql_stable_round("o_totalprice", 2)} AS o_totalprice,
           sum_qty
    FROM big
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)

_register(
    "q19_disjunctive_revenue",
    tpch.q19_disjunctive_revenue,
    f"""
    SELECT {_dsum(_REV, "revenue")}, COUNT(*) AS n_lines
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 0.0 AND 0.4)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 30
           AND l_quantity BETWEEN 0.1 AND 0.5)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 50
           AND l_quantity BETWEEN 0.2 AND 0.6)
    """,
)

_register(
    "q22_idle_customers",
    tpch.q22_idle_customers,
    f"""
    WITH ab AS (
        SELECT {_davg("c_acctbal", "avg_bal")}
        FROM customer WHERE c_acctbal > 0
    )
    SELECT n_name, COUNT(*) AS numcust, {_dsum("c_acctbal", "totacctbal")}
    FROM customer
    CROSS JOIN ab
    JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1997-06-01')
    GROUP BY n_name
    ORDER BY n_name
    """,
)

_register(
    "nation_balance_full_outer",
    tpch.nation_balance_full_outer,
    f"""
    WITH cb AS (SELECT c_nationkey, {_dsum("c_acctbal", "cust_acctbal")}
                FROM customer GROUP BY 1),
    sb AS (SELECT s_nationkey, {_dsum("s_acctbal", "supp_acctbal")}
           FROM supplier GROUP BY 1)
    SELECT n_name,
           COALESCE(cust_acctbal, 0.0) AS cust_acctbal,
           COALESCE(supp_acctbal, 0.0) AS supp_acctbal
    FROM cb FULL OUTER JOIN sb ON c_nationkey = s_nationkey
    JOIN nation ON COALESCE(c_nationkey, s_nationkey) = n_nationkey
    ORDER BY n_name
    """,
)

_register(
    "avg_acctbal_by_segment",
    tpch.avg_acctbal_by_segment,
    f"""
    SELECT c_mktsegment, {_davg("c_acctbal", "avg_acctbal")},
           COUNT(*) AS n_customers
    FROM customer
    WHERE c_acctbal > 0
    GROUP BY c_mktsegment
    HAVING COUNT(*) > 5
    ORDER BY c_mktsegment
    """,
)

# -- §2.3 events ------------------------------------------------------------

_register(
    "events_hourly",
    events.events_hourly,
    f"""
    WITH ev AS (
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
               value, props
        FROM events
    )
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
           event_type,
           COUNT(*) AS n_events,
           {_dsum("value", "total_value")},
           COUNT(DISTINCT user_id) AS n_users
    FROM ev
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)

_register(
    "events_sessionize",
    events.events_sessionize,
    """
    WITH ev AS (
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
               value, props
        FROM events
    ), lagged AS (
        SELECT user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM ev
    ), flagged AS (
        SELECT user_id,
               CASE WHEN prev_ts IS NULL
                         OR ts > prev_ts + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM lagged
    )
    SELECT user_id,
           CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM flagged
    GROUP BY user_id
    ORDER BY user_id
    """,
)

_register(
    "events_top_users",
    events.events_top_users,
    f"""
    SELECT user_id, {_dsum("value", "total_value")}, COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    ORDER BY total_value DESC, user_id
    LIMIT 10
    """,
)

_register(
    "events_json",
    events.events_json,
    f"""
    SELECT event_type,
           {_davg(
               "CASE WHEN json_valid(props) THEN"
               " TRY_CAST(json_extract_string(props, '$.k') AS INT) END",
               "avg_k",
           )},
           MAX(CASE WHEN json_valid(props) THEN
                   TRY_CAST(json_extract_string(props, '$.k') AS INT)
               END) AS max_k,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)

# checkable HLL gate (round 3): the raw sketch estimate is
# engine-specific, so the registered shape carries exact counts plus a
# measured within-5% verdict; the oracle pins the verdict to TRUE, so
# the value-hash matches iff Spark's HLL landed inside the bound. The
# raw-estimate tolerance test stays in pytest
# (tests/test_extended_queries.py::test_approx_users_within_tolerance).
_register(
    "events_approx_users",
    events.events_approx_users,
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           COUNT(*) AS n_events,
           TRUE AS within_5pct
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)

_register(
    "events_asof_purchase",
    events.events_asof_purchase,
    """
    WITH ev AS (
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
        FROM events
    ),
    c AS (SELECT event_id, ts, user_id FROM ev WHERE event_type = 'click'),
    p AS (SELECT event_id, ts, user_id FROM ev WHERE event_type = 'purchase')
    SELECT c.event_id AS event_id, c.user_id AS user_id,
           p.event_id AS asof_purchase_id,
           epoch_us(c.ts) - epoch_us(p.ts) AS gap_us
    FROM c ASOF LEFT JOIN p
        ON c.user_id = p.user_id AND c.ts >= p.ts
    ORDER BY event_id
    """,
)

_register(
    "events_percentiles",
    events.events_percentiles,
    f"""
    SELECT event_type,
           {sql_stable_round("quantile_cont(value, 0.5)", 6)} AS p50,
           {sql_stable_round("quantile_cont(value, 0.9)", 6)} AS p90,
           {sql_stable_round("quantile_cont(value, 0.99)", 6)} AS p99,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)

_register(
    "events_range_buckets",
    events.events_range_buckets,
    f"""
    SELECT tier, COUNT(*) AS n_events, {_dsum("value", "total_value")}
    FROM events
    JOIN (VALUES ('small', 0.0, 50.0), ('medium', 50.0, 150.0),
                 ('large', 150.0, 300.0), ('huge', 300.0, 1e9))
         AS t(tier, lo, hi)
      ON value >= lo AND value < hi
    GROUP BY tier
    ORDER BY tier
    """,
)

_register(
    "events_funnel",
    events.events_funnel,
    """
    WITH ev AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    fv AS (SELECT user_id, MIN(ts) AS first_view FROM ev
           WHERE event_type = 'view' GROUP BY user_id),
    fc AS (SELECT ev.user_id AS user_id, MIN(ts) AS first_click
           FROM ev JOIN fv ON ev.user_id = fv.user_id
           WHERE event_type = 'click' AND ts > first_view GROUP BY ev.user_id),
    fp AS (SELECT ev.user_id AS user_id, MIN(ts) AS first_purchase
           FROM ev JOIN fc ON ev.user_id = fc.user_id
           WHERE event_type = 'purchase' AND ts > first_click GROUP BY ev.user_id)
    SELECT (SELECT COUNT(DISTINCT user_id) FROM ev) AS n_users,
           (SELECT COUNT(*) FROM fv) AS n_viewed,
           (SELECT COUNT(*) FROM fc) AS n_clicked_after_view,
           (SELECT COUNT(*) FROM fp) AS n_purchased_after_click
    """,
)

_register(
    "events_funnel_windowed",
    events.events_funnel_windowed,
    f"""
    WITH ev AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    fv AS (SELECT user_id, MIN(ts) AS first_view FROM ev
           WHERE event_type = 'view' GROUP BY user_id),
    fcu AS (SELECT ev.user_id, MIN(ts) AS fc_unb
            FROM ev JOIN fv ON ev.user_id = fv.user_id
            WHERE event_type = 'click' AND ts > first_view
            GROUP BY ev.user_id),
    fcb AS (SELECT ev.user_id, MIN(ts) AS fc
            FROM ev JOIN fv ON ev.user_id = fv.user_id
            WHERE event_type = 'click' AND ts > first_view
              AND ts <= first_view
                  + INTERVAL {events.FUNNEL_WINDOW_MIN} MINUTES
            GROUP BY ev.user_id),
    fpb AS (SELECT ev.user_id, MIN(ts) AS fp
            FROM ev
            JOIN fv ON ev.user_id = fv.user_id
            JOIN fcb ON ev.user_id = fcb.user_id
            WHERE event_type = 'purchase' AND ts > fc
              AND ts <= first_view
                  + INTERVAL {events.FUNNEL_WINDOW_MIN} MINUTES
            GROUP BY ev.user_id)
    SELECT (SELECT COUNT(*) FROM fv) AS n_view,
           (SELECT COUNT(*) FROM fcu) AS n_click_unbounded,
           (SELECT COUNT(*) FROM fcb) AS n_click_1h,
           (SELECT COUNT(*) FROM fpb) AS n_purchase_1h,
           {sql_stable_round(
               'CAST((SELECT COUNT(*) FROM fpb) AS DOUBLE)'
               ' / CAST((SELECT COUNT(*) FROM fv) AS DOUBLE)', 6)}
               AS conversion_1h
    """,
)

_register(
    "events_retention",
    events.events_retention,
    """
    WITH ev AS (
        SELECT user_id,
               strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d')
                   AS day
        FROM events GROUP BY 1, 2
    ),
    cohort AS (SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY 1)
    SELECT cohort_day,
           CAST(date_diff('day', CAST(cohort_day AS DATE), CAST(day AS DATE))
                AS INT) AS day_offset,
           COUNT(DISTINCT ev.user_id) AS n_active
    FROM ev JOIN cohort ON ev.user_id = cohort.user_id
    GROUP BY 1, 2
    ORDER BY cohort_day, day_offset
    """,
)

_register(
    "events_user_trend",
    events.events_user_trend,
    f"""
    WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
    ),
    base AS (
        SELECT user_id, value AS y,
               (epoch_us(ts) - MIN(epoch_us(ts))
                    OVER (PARTITION BY user_id)) / 3600000000.0 AS x
        FROM ev
    ),
    sums AS (
        SELECT user_id, COUNT(*) AS n,
               CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx
        FROM base GROUP BY 1
    )
    SELECT user_id, n,
           {sql_stable_round("(n * sxy - sx * sy) / (n * sxx - sx * sx)", 6)}
               AS slope_per_hour
    FROM sums
    WHERE n * sxx - sx * sx <> 0
    ORDER BY user_id
    """,
)

_register(
    "events_view_only_hours",
    events.events_view_only_hours,
    """
    WITH ev AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
    )
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour
    FROM ev WHERE event_type = 'view'
    EXCEPT
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour
    FROM ev WHERE event_type = 'purchase'
    ORDER BY hour
    """,
)

_register(
    "events_hourly_anomalies",
    events.events_hourly_anomalies,
    f"""
    WITH ev AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
    ),
    hourly AS (
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
               event_type, COUNT(*) AS n_events
        FROM ev GROUP BY 1, 2
    ),
    scored AS (
        SELECT hour, event_type, n_events,
               {sql_stable_round("(n_events - AVG(n_events) OVER (PARTITION BY event_type)) / STDDEV_SAMP(n_events) OVER (PARTITION BY event_type)", 4)}
                   AS z
        FROM hourly
    )
    SELECT hour, event_type, n_events, z
    FROM scored WHERE ABS(z) >= {events.ANOMALY_Z}
    ORDER BY hour, event_type
    """,
)

_register(
    "events_running_total",
    events.events_running_total,
    """
    WITH ev AS (
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
               value, props
        FROM events
    )
    SELECT event_id, user_id,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 4) AS DOUBLE) AS running_total
    FROM ev
    ORDER BY user_id, event_id
    """,
)

# -- §2.1 reference parity (band model: file = vec_id, 6 bands × 8 px) ------

_PX = """
    px AS (
        SELECT vec_id,
               CAST((gs.i - 1) // 8 AS INT) AS band,
               CAST(embedding[gs.i] AS DOUBLE) AS v
        FROM embeddings, generate_series(1, 48) AS gs(i)
    ),
    fm AS (
        SELECT vec_id, band,
               CASE WHEN COUNT(*) FILTER (v <> 0) > 0
                    THEN CAST(ROUND(CAST(
                             CAST(SUM(CAST(v AS DECIMAL(38,6))) FILTER (v <> 0)
                                  AS DOUBLE)
                             / COUNT(*) FILTER (v <> 0)
                             AS DECIMAL(38,12)), 6) AS DOUBLE)
                    ELSE 0.0 END AS file_mean
        FROM px GROUP BY vec_id, band
    )
"""

_register(
    "band_max",
    band_stats.band_max,
    f"WITH {_PX} SELECT band, CAST(ROUND(CAST(MAX(file_mean) AS DECIMAL(38,12)), 4) AS DOUBLE) AS band_max "
    "FROM fm GROUP BY band ORDER BY band",
)

_register(
    "band_min",
    band_stats.band_min,
    f"WITH {_PX} SELECT band, CAST(ROUND(CAST(MIN(file_mean) AS DECIMAL(38,12)), 4) AS DOUBLE) AS band_min "
    "FROM fm GROUP BY band ORDER BY band",
)

_register(
    "band_mean",
    band_stats.band_mean,
    f"""
    WITH {_PX}
    SELECT band,
           CAST(ROUND(CAST(
               CAST(SUM(CAST(file_mean AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
               AS DECIMAL(38,12)), 4) AS DOUBLE) AS band_mean
    FROM fm GROUP BY band ORDER BY band
    """,
)

_register(
    "band_stats_all",
    band_stats.band_stats_all,
    f"""
    WITH {_PX}
    SELECT band,
           CAST(ROUND(CAST(MAX(file_mean) AS DECIMAL(38,12)), 4) AS DOUBLE) AS band_max,
           CAST(ROUND(CAST(MIN(file_mean) AS DECIMAL(38,12)), 4) AS DOUBLE) AS band_min,
           CAST(ROUND(CAST(
               CAST(SUM(CAST(file_mean AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
               AS DECIMAL(38,12)), 4) AS DOUBLE) AS band_mean,
           COUNT(*) AS n_files
    FROM fm GROUP BY band ORDER BY band
    """,
)

_register(
    "color_composite",
    band_stats.color_composite,
    """
    SELECT vec_id,
           CAST(gs.i - 1 AS INT) AS pixel,
           CAST(ROUND(CAST(CAST(embedding[24 + gs.i] AS DOUBLE) AS DECIMAL(38,12)), 6) AS DOUBLE) AS r,
           CAST(ROUND(CAST(CAST(embedding[16 + gs.i] AS DOUBLE) AS DECIMAL(38,12)), 6) AS DOUBLE) AS g,
           CAST(ROUND(CAST(CAST(embedding[8 + gs.i] AS DOUBLE) AS DECIMAL(38,12)), 6) AS DOUBLE) AS b
    FROM embeddings, generate_series(1, 8) AS gs(i)
    ORDER BY vec_id, pixel
    """,
)

_register(
    "file_distribution",
    band_stats.file_distribution,
    """
    WITH f AS (
        SELECT vec_id,
               COUNT(*) OVER () AS total,
               ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS rn
        FROM embeddings
    )
    SELECT vec_id,
           CAST(CASE WHEN rn < ((total // 8) + 1) * (total % 8)
                     THEN rn // ((total // 8) + 1)
                     ELSE (total % 8)
                          + (rn - ((total // 8) + 1) * (total % 8))
                            // (total // 8)
                END AS INT) AS worker
    FROM f ORDER BY vec_id
    """,
)


# -- §2.4 dedup / §2.5 similarity / §2.6 text analysis ----------------------
# (oracle SQL lives next to each operator, generated from shared constants)

_register("dedup_exact", dedup.dedup_exact, dedup.ORACLES["dedup_exact"])
_register(
    "dedup_ngram_jaccard",
    dedup.ngram_jaccard_pairs,
    dedup.ORACLES["dedup_ngram_jaccard"],
)
_register(
    "dedup_minhash_lsh",
    dedup.minhash_lsh_pairs,
    dedup.ORACLES["dedup_minhash_lsh"],
)
_register("dedup_simhash", dedup.simhash_pairs, dedup.ORACLES["dedup_simhash"])
_register(
    "dedup_clusters", dedup.dedup_clusters, dedup.ORACLES["dedup_clusters"]
)
_register(
    "dedup_editdist", dedup.dedup_editdist_pairs, dedup.ORACLES["dedup_editdist"]
)
_register(
    # LSH-blocked + exact-rescore variant: the brute-force all-pairs
    # baseline (dedup.embedding_pairs) broadcasts the whole corpus to
    # the driver — pytest-only, loudly capped. The registered query has
    # no driver collect; its oracle mirrors the LSH candidate blocks.
    "dedup_embedding",
    similarity.embedding_dedup_lsh,
    similarity.ORACLES["embedding_dedup_lsh"],
)

_register(
    "knn_bruteforce",
    similarity.knn_bruteforce,
    similarity.ORACLES["knn_bruteforce"],
)
_register("ann_lsh", similarity.ann_lsh, similarity.ORACLES["ann_lsh"])
_register(
    "ann_filtered",
    similarity.ann_filtered,
    similarity.ORACLES["ann_filtered"],
)
_register(
    "lsh_index_roundtrip",
    similarity.lsh_index_roundtrip,
    similarity.ORACLES["lsh_index_roundtrip"],
)
_register(
    "knn_reverse_topk",
    similarity.knn_reverse_topk,
    similarity.ORACLES["knn_reverse_topk"],
)
_register("knn_ivf", similarity.knn_ivf, similarity.ORACLES["knn_ivf"])
_register("knn_pq", similarity.knn_pq, similarity.ORACLES["knn_pq"])
_register(
    "knn_ivfpq", similarity.knn_ivfpq, similarity.ORACLES["knn_ivfpq"]
)
_register(
    "knn_range_search",
    similarity.knn_range_search,
    similarity.ORACLES["knn_range_search"],
)
_register(
    "embedding_ivf_stats",
    similarity.embedding_ivf_stats,
    similarity.ORACLES["embedding_ivf_stats"],
)

_register(
    "orders_seasonality",
    tpch.orders_seasonality,
    f"""
    WITH ym AS (
        SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mth,
               {_dsum("o_totalprice", "rev")}
        FROM orders GROUP BY 1, 2
    ),
    ytot AS (
        SELECT yr,
               CAST(SUM(CAST(rev AS DECIMAL(38,6))) AS DOUBLE) AS yrev
        FROM ym GROUP BY 1
    ),
    shares AS (
        SELECT ym.yr, ym.mth,
               {sql_stable_round('ym.rev / ytot.yrev', 6)} AS share
        FROM ym JOIN ytot ON ym.yr = ytot.yr
    ),
    prof AS (
        SELECT CAST(mth AS INT) AS month,
               CAST(COUNT(DISTINCT yr) AS INT) AS n_years,
               {_davg("share", "avg_share")}
        FROM shares GROUP BY 1
    )
    SELECT month, n_years, avg_share,
           {sql_stable_round('avg_share * 12.0', 6)} AS seasonality_idx
    FROM prof
    ORDER BY month
    """,
)

_register(
    "discount_elasticity",
    tpch.discount_elasticity,
    f"""
    WITH sc AS (
        SELECT p_brand,
               CAST(round(l_discount * 100) AS BIGINT) AS xs,
               CAST(round(l_quantity) AS BIGINT) AS ys
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    agg AS (
        SELECT p_brand, COUNT(*) AS n0,
               SUM(xs) AS i_sx, SUM(ys) AS i_sy,
               SUM(xs * xs) AS i_sxx, SUM(ys * ys) AS i_syy,
               SUM(xs * ys) AS i_sxy
        FROM sc GROUP BY 1
    ),
    d AS (
        SELECT p_brand, n0,
               CAST(n0 AS DOUBLE) AS nd,
               CAST(i_sx AS DOUBLE) AS sx, CAST(i_sy AS DOUBLE) AS sy,
               CAST(i_sxx AS DOUBLE) AS sxx, CAST(i_syy AS DOUBLE) AS syy,
               CAST(i_sxy AS DOUBLE) AS sxy
        FROM agg
    )
    SELECT p_brand, CAST(n0 AS BIGINT) AS n_lines,
           {sql_stable_round(
               'CASE WHEN nd * sxx - sx * sx > 0 THEN'
               ' ((nd * sxy - sx * sy) / (nd * sxx - sx * sx)) * 100.0'
               ' END', 6)} AS slope,
           {sql_stable_round(
               'CASE WHEN nd * sxx - sx * sx > 0 THEN'
               ' (sy - ((nd * sxy - sx * sy) / (nd * sxx - sx * sx)) * sx)'
               ' / nd END', 6)} AS intercept,
           {sql_stable_round(
               'CASE WHEN nd * sxx - sx * sx > 0'
               ' AND nd * syy - sy * sy > 0 THEN'
               ' (nd * sxy - sx * sy) * (nd * sxy - sx * sy)'
               ' / ((nd * sxx - sx * sx) * (nd * syy - sy * sy)) END',
               6)} AS r2
    FROM d
    ORDER BY p_brand
    """,
)

_register(
    "text_tokens", textanalysis.text_tokens, textanalysis.ORACLES["text_tokens"]
)
_register(
    "text_quality",
    textanalysis.text_quality,
    textanalysis.ORACLES["text_quality"],
)
_register(
    "text_repetition",
    textanalysis.text_repetition,
    textanalysis.ORACLES["text_repetition"],
)
_register(
    "text_langid", textanalysis.text_langid, textanalysis.ORACLES["text_langid"]
)
_register(
    "text_fingerprint",
    textanalysis.text_fingerprint,
    textanalysis.ORACLES["text_fingerprint"],
)
_register(
    "text_tfidf", textanalysis.text_tfidf, textanalysis.ORACLES["text_tfidf"]
)
_register(
    "text_bpe_tokens",
    textanalysis.text_bpe_tokens,
    textanalysis.ORACLES["text_bpe_tokens"],
)
_register(
    "corpus_clean_pipeline",
    textanalysis.corpus_clean_pipeline,
    textanalysis.ORACLES["corpus_clean_pipeline"],
)
_register(
    "corpus_pack",
    textanalysis.corpus_pack,
    textanalysis.ORACLES["corpus_pack"],
)
_register(
    "sample_stratified",
    textanalysis.sample_stratified,
    textanalysis.ORACLES["sample_stratified"],
)
_register(
    "decontaminate",
    textanalysis.decontaminate,
    textanalysis.ORACLES["decontaminate"],
)
_register(
    "source_profile",
    textanalysis.source_profile,
    textanalysis.ORACLES["source_profile"],
)

# -- round-2 additions: sliding-window aggregation -------------------------

_register(
    "events_sliding_hourly",
    events.events_sliding_hourly,
    f"""
    WITH ev AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events
    ), assigned AS (
        -- each event belongs to the 4 epoch-aligned 15-min-slide windows
        -- covering it: start = floor(epoch_us / 900e6)*900 - k*900 seconds.
        -- Explicit floor(), not `//`: DuckDB `//` truncates toward zero
        -- while Spark's sliding windows floor-align, so the two diverge
        -- on pre-1970 timestamps
        SELECT make_timestamp(
                   (CAST(floor(epoch_us(ts) / 900000000.0) AS BIGINT) * 900
                    - k.k * 900) * 1000000
               ) AS w_start,
               event_type, value
        FROM ev, (SELECT UNNEST(generate_series(0, 3)) AS k) AS k
    )
    SELECT strftime(w_start, '%Y-%m-%d %H:%M') AS win_start,
           event_type,
           COUNT(*) AS n_events,
           {_dsum("value", "total_value")}
    FROM assigned
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)

# -- round-3 addition: CDC merge, oracle-gated ------------------------------

_register(
    "merge_upsert",
    layout.merge_upsert_query,
    layout.ORACLES["merge_upsert"],
)

_register(
    "events_hod_profile",
    events.events_hod_profile,
    f"""
    WITH agg AS (
        SELECT event_type,
               CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hod,
               COUNT(*) AS n_events,
               {_dsum("value", "total_value")}
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, hod, n_events, total_value,
           {sql_stable_round(
               "n_events / (SUM(n_events) OVER (PARTITION BY event_type))", 6
           )} AS type_share
    FROM agg ORDER BY event_type, hod
    """,
)

_register(
    "text_zipf_fit",
    textanalysis.text_zipf_fit,
    textanalysis.ORACLES["text_zipf_fit"],
)
_register(
    "tfidf_search",
    textanalysis.tfidf_search,
    textanalysis.ORACLES["tfidf_search"],
)
_register(
    "text_readability",
    textanalysis.text_readability,
    textanalysis.ORACLES["text_readability"],
)
_register(
    "dedup_containment",
    dedup.dedup_containment,
    dedup.ORACLES["dedup_containment"],
)
_register(
    "dedup_rate_by_source",
    dedup.dedup_rate_by_source,
    dedup.ORACLES["dedup_rate_by_source"],
)
_register(
    "dedup_similarity_hist",
    dedup.dedup_similarity_hist,
    dedup.ORACLES["dedup_similarity_hist"],
)
_register(
    "embedding_pca_power",
    similarity.embedding_pca_power,
    similarity.ORACLES["embedding_pca_power"],
)
_register(
    "embedding_clusters",
    similarity.embedding_clusters,
    similarity.ORACLES["embedding_clusters"],
)
_register(
    "embedding_cluster_stats",
    similarity.embedding_cluster_stats,
    similarity.ORACLES["embedding_cluster_stats"],
)

_register(
    "events_anomaly_seasonal",
    events.events_anomaly_seasonal,
    f"""
    WITH hourly AS (
        SELECT event_type,
               strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
                        '%Y-%m-%d %H:00') AS hour,
               CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hod,
               COUNT(*) AS n_events
        FROM events GROUP BY 1, 2, 3
    ),
    base AS (
        SELECT event_type, hod, COUNT(*) AS n_hours,
               CAST(SUM(CAST(n_events AS DECIMAL(38,6))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(n_events * n_events AS DECIMAL(38,6)))
                    AS DOUBLE) AS s2
        FROM hourly GROUP BY 1, 2
    ),
    scored AS (
        SELECT h.event_type, h.hour, h.hod, h.n_events,
               s1 / CAST(n_hours AS DOUBLE) AS mean,
               GREATEST(CAST(0.0 AS DOUBLE),
                        (s2 - s1 * s1 / CAST(n_hours AS DOUBLE))
                        / CAST(n_hours AS DOUBLE)) AS var
        FROM hourly h JOIN base b
          ON b.event_type = h.event_type AND b.hod = h.hod
    )
    SELECT event_type, hour, hod, n_events,
           {sql_stable_round("mean", 4)} AS hod_mean,
           {sql_stable_round(
               "(CAST(n_events AS DOUBLE) - mean) / sqrt(var)", 4
           )} AS z
    FROM scored
    WHERE var > 0
      AND abs({sql_stable_round(
          "(CAST(n_events AS DOUBLE) - mean) / sqrt(var)", 4
      )}) >= {events.SEASONAL_Z!r}
    ORDER BY event_type, hour
    """,
)
_register("orders_profile", tpch.orders_profile, tpch.sql_orders_profile())

_register(
    "revenue_grouping_sets",
    tpch.revenue_grouping_sets,
    f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
           COUNT(*) AS n_orders,
           {_dsum("o_totalprice", "total_price")}
    FROM orders
    GROUP BY GROUPING SETS (
        (o_orderstatus), (o_orderpriority),
        (o_orderstatus, o_orderpriority))
    ORDER BY gid, o_orderstatus, o_orderpriority
    """,
)

_register(
    "events_trailing_window",
    events.events_trailing_window,
    """
    WITH ev AS (
        SELECT event_id, user_id, value,
               epoch_us(CAST(ts AS TIMESTAMP)) AS epoch_us
        FROM events
    )
    SELECT event_id, user_id,
           COUNT(*) OVER w AS n_trailing_1h,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))) OVER w, 4)
                AS DOUBLE) AS value_trailing_1h
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
)

_register(
    "supplier_pareto",
    tpch.supplier_pareto,
    f"""
    WITH rev AS (
        SELECT l_suppkey, {_dsum(_REV, "revenue")}
        FROM lineitem GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(CAST(revenue AS DECIMAL(38,6))) AS DOUBLE)
                   AS total_rev
        FROM rev
    ),
    ranked AS (
        SELECT l_suppkey, revenue,
               CAST(SUM(CAST(revenue AS DECIMAL(38,6))) OVER (
                   ORDER BY revenue DESC, l_suppkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS cum_rev,
               tot.total_rev
        FROM rev, tot
    )
    SELECT s_suppkey, s_name, revenue,
           {sql_stable_round("cum_rev / total_rev", 6)} AS cum_share,
           {sql_stable_round("cum_rev / total_rev", 6)}
               <= {tpch.PARETO_SHARE} AS in_core
    FROM ranked JOIN supplier ON s_suppkey = l_suppkey
    ORDER BY revenue DESC, s_suppkey
    """,
)

_register(
    "events_dwell_time",
    events.events_dwell_time,
    f"""
    WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        FROM events
    ),
    nxt AS (
        SELECT event_type, ts,
               LEAD(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS next_ts
        FROM ev
    ),
    d AS (
        SELECT event_type,
               (epoch_us(next_ts) - epoch_us(ts)) / 1000000.0 AS dwell_s
        FROM nxt WHERE next_ts IS NOT NULL
    )
    SELECT event_type, COUNT(*) AS n_dwells,
           {_davg("dwell_s", "avg_dwell_s")},
           {sql_stable_round("quantile_cont(dwell_s, 0.5)", 4)}
               AS p50_dwell_s,
           {sql_stable_round("quantile_cont(dwell_s, 0.9)", 4)}
               AS p90_dwell_s
    FROM d
    GROUP BY event_type
    ORDER BY event_type
    """,
)

_register(
    "events_concurrency",
    events.events_concurrency,
    f"""
    WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events
    ), lagd AS (
        SELECT *, LAG(ts) OVER (
            PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM ev
    ), sess AS (
        SELECT *, SUM(CASE WHEN prev_ts IS NULL
                           OR ts > prev_ts
                                   + INTERVAL {events.SESSION_GAP_MINUTES}
                                     MINUTE
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      AS session_seq
        FROM lagd
    ), spans AS (
        SELECT user_id, session_seq,
               MIN(ts) AS start_ts, MAX(ts) AS end_ts
        FROM sess GROUP BY 1, 2
    ), bounds AS (
        SELECT start_ts AS bts, 1 AS delta, user_id, session_seq FROM spans
        UNION ALL
        SELECT end_ts AS bts, -1 AS delta, user_id, session_seq FROM spans
    ), live AS (
        SELECT bts, SUM(delta) OVER (
            ORDER BY bts, delta, user_id, session_seq
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS live
        FROM bounds
    )
    SELECT strftime(date_trunc('day', bts), '%Y-%m-%d') AS day,
           COUNT(*) AS n_boundaries,
           CAST(MAX(live) AS BIGINT) AS max_concurrent
    FROM live
    GROUP BY 1
    ORDER BY day
    """,
)

_register(
    "events_hourly_incremental",
    events.events_hourly_incremental,
    # the oracle IS the full recompute: merged decimal partials must be
    # bit-identical to aggregating all rows at once (associativity of
    # the DECIMAL(38,6) monoid — the property incremental maintenance
    # at 100 TB depends on)
    f"""
    WITH ev AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events
    )
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
           event_type,
           COUNT(*) AS n_events,
           {_dsum("value", "total_value")}
    FROM ev
    GROUP BY 1, 2
    ORDER BY hour, event_type
    """,
)

_register(
    "events_common_hours",
    events.events_common_hours,
    """
    SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
                    '%Y-%m-%d %H:00') AS hour
    FROM events WHERE event_type = 'view'
    INTERSECT
    SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
                    '%Y-%m-%d %H:00') AS hour
    FROM events WHERE event_type = 'purchase'
    ORDER BY hour
    """,
)

_register(
    "events_bot_detection",
    events.events_bot_detection,
    f"""
    WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events
    ),
    nxt AS (
        SELECT user_id, ts,
               LEAD(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS next_ts
        FROM ev
    ),
    g AS (
        SELECT user_id,
               (epoch_us(next_ts) - epoch_us(ts)) / 1000000.0 AS gap_s
        FROM nxt WHERE next_ts IS NOT NULL
    ),
    st AS (
        SELECT user_id, COUNT(*) AS n_gaps,
               CAST(SUM(CAST(gap_s AS DECIMAL(38,6))) AS DOUBLE) AS sum_gap,
               CAST(SUM(CAST(gap_s * gap_s AS DECIMAL(38,6))) AS DOUBLE)
                   AS sum_gap2
        FROM g GROUP BY 1 HAVING COUNT(*) >= 2
    ),
    m AS (
        -- guards mirror the Spark side: variance clamped at 0 (decimal
        -- rounding of gap_s^2 can go a hair negative and DuckDB
        -- hard-errors on sqrt(<0)); zero-span users (all gaps 0) ship
        -- NULL rate/cv and flag directly
        SELECT user_id, n_gaps, sum_gap,
               CASE WHEN sum_gap > 0
                    THEN 3600.0 * CAST(n_gaps AS DOUBLE) / sum_gap
               END AS rate,
               CASE WHEN sum_gap > 0
                    THEN sqrt(GREATEST(CAST(0.0 AS DOUBLE),
                              (sum_gap2 - sum_gap * sum_gap
                                          / CAST(n_gaps AS DOUBLE))
                              / CAST(n_gaps AS DOUBLE)))
                         / (sum_gap / CAST(n_gaps AS DOUBLE))
               END AS cv
        FROM st
    )
    SELECT user_id, n_gaps,
           {sql_stable_round("rate", 4)} AS events_per_hour,
           {sql_stable_round("cv", 4)} AS gap_cv,
           (NOT sum_gap > 0
            OR (rate > {events.BOT_RATE_PER_HOUR!r}
                AND cv < {events.BOT_CV_MAX!r})) AS is_bot
    FROM m
    ORDER BY user_id
    """,
)
_register(
    "sample_importance",
    textanalysis.sample_importance,
    textanalysis.ORACLES["sample_importance"],
)
_register(
    "dedup_jaccard_est",
    dedup.dedup_jaccard_est,
    dedup.ORACLES["dedup_jaccard_est"],
)
_register(
    "dedup_cluster_stats",
    dedup.dedup_cluster_stats,
    dedup.ORACLES["dedup_cluster_stats"],
)

_register(
    "events_transitions",
    events.events_transitions,
    f"""
    WITH steps AS (
        SELECT prev_type, event_type AS next_type FROM (
            SELECT event_type,
                   LAG(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ) AS prev_type
            FROM events)
        WHERE prev_type IS NOT NULL
    ), agg AS (
        SELECT prev_type, next_type, COUNT(*) AS n_transitions
        FROM steps GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n_transitions,
           {sql_stable_round(
               "n_transitions /"
               " (SUM(n_transitions) OVER (PARTITION BY prev_type))", 6
           )} AS p_next
    FROM agg ORDER BY prev_type, next_type
    """,
)

_register(
    "embedding_quantize_int8",
    similarity.embedding_quantize_int8,
    similarity.ORACLES["embedding_quantize_int8"],
)
_register(
    "knn_join",
    similarity.knn_join,
    similarity.ORACLES["knn_join"],
)

_register(
    "band_histogram",
    band_stats.band_histogram,
    band_stats.ORACLES["band_histogram"],
)

_register(
    "part_copurchase",
    tpch.part_copurchase,
    f"""
    WITH grid AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           COUNT(*) AS n_orders
    FROM grid a
    JOIN grid b ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= {tpch.COP_MIN_SUPPORT}
    ORDER BY n_orders DESC, part_a, part_b
    """,
)

_register(
    "events_session_paths",
    events.events_session_paths,
    f"""
    WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        FROM events
    ), lagd AS (
        SELECT *, LAG(ts) OVER (
            PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM ev
    ), sess AS (
        SELECT *, SUM(CASE WHEN prev_ts IS NULL
                           OR ts > prev_ts
                                   + INTERVAL {events.SESSION_GAP_MINUTES}
                                     MINUTE
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      AS session_seq
        FROM lagd
    ), first_n AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id, session_seq
                ORDER BY ts, event_id) AS rn
            FROM sess)
        WHERE rn <= {events.PATH_PREFIX_LEN}
    ), paths AS (
        SELECT user_id, session_seq,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM first_n GROUP BY 1, 2
    )
    SELECT path, COUNT(*) AS n_sessions
    FROM paths GROUP BY 1
    ORDER BY n_sessions DESC, path
    LIMIT {events.PATH_TOP_K}
    """,
)

_register(
    "events_rolling_active_users",
    events.events_rolling_active_users,
    """
    WITH grid AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
        FROM events
    ), dau AS (
        SELECT day, COUNT(DISTINCT user_id) AS dau FROM grid GROUP BY 1
    ), contrib AS (
        SELECT user_id, day + CAST(k.k AS INT) AS target_day
        FROM grid, (SELECT UNNEST(generate_series(0, 6)) AS k) AS k
    ), wau AS (
        SELECT target_day, COUNT(DISTINCT user_id) AS wau
        FROM contrib GROUP BY 1
    )
    SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau, wau
    FROM dau JOIN wau ON wau.target_day = dau.day
    ORDER BY day
    """,
)

_register(
    "events_attribution",
    events.events_attribution,
    f"""
    WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
               value
        FROM events
    ), touched AS (
        SELECT *,
            LAST_VALUE(CASE WHEN event_type <> 'purchase'
                            THEN event_type END IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS attr_type,
            LAST_VALUE(CASE WHEN event_type <> 'purchase'
                            THEN ts END IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS attr_ts
        FROM ev
    )
    SELECT COALESCE(attr_type, 'direct') AS attr_type,
           COUNT(*) AS n_purchases,
           {_dsum("value", "total_value")},
           {_davg("epoch_us(ts) - epoch_us(attr_ts)", "avg_gap_us")}
    FROM touched
    WHERE event_type = 'purchase'
    GROUP BY 1
    ORDER BY 1
    """,
)

_register(
    "events_cooccurrence",
    events.events_cooccurrence,
    f"""
    WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        FROM events
    ), lagd AS (
        SELECT *, LAG(ts) OVER (
            PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM ev
    ), sess AS (
        SELECT *, SUM(CASE WHEN prev_ts IS NULL
                           OR ts > prev_ts
                                   + INTERVAL {events.SESSION_GAP_MINUTES}
                                     MINUTE
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      AS session_seq
        FROM lagd
    ), grid AS (
        SELECT DISTINCT user_id, session_seq, event_type FROM sess
    ), tot AS (
        SELECT COUNT(*) AS n_sessions
        FROM (SELECT DISTINCT user_id, session_seq FROM grid)
    ), per_type AS (
        SELECT event_type, COUNT(*) AS n_type FROM grid GROUP BY 1
    ), pairs AS (
        SELECT a.event_type AS ta, b.event_type AS tb, COUNT(*) AS n_both
        FROM grid a
        JOIN grid b ON a.user_id = b.user_id
                   AND a.session_seq = b.session_seq
                   AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT ta, tb, n_both, pa.n_type AS n_a, pb.n_type AS n_b,
           {sql_stable_round(
               "CAST(n_both AS DOUBLE) * CAST(tot.n_sessions AS DOUBLE)"
               " / (CAST(pa.n_type AS DOUBLE) * CAST(pb.n_type AS DOUBLE))",
               6,
           )} AS lift
    FROM pairs
    JOIN per_type pa ON pa.event_type = ta
    JOIN per_type pb ON pb.event_type = tb, tot
    ORDER BY ta, tb
    """,
)

_register(
    "part_basket_rules",
    tpch.part_basket_rules,
    f"""
    WITH grid AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM grid),
    item AS (SELECT l_partkey, COUNT(*) AS n_item FROM grid GROUP BY 1),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS n_both
        FROM grid a JOIN grid b USING (l_orderkey)
        WHERE a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {tpch.RULE_MIN_SUPPORT}
    )
    SELECT part_a, part_b, n_both,
           ia.n_item AS n_a, ib.n_item AS n_b,
           {sql_stable_round(
               "CAST(n_both AS DOUBLE) / CAST(ia.n_item AS DOUBLE)", 6
           )} AS confidence,
           {sql_stable_round(
               "CAST(n_both AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE)"
               " / (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE))",
               6,
           )} AS lift
    FROM pairs
    JOIN item ia ON ia.l_partkey = part_a
    JOIN item ib ON ib.l_partkey = part_b, nb
    ORDER BY lift DESC, part_a, part_b
    LIMIT 100
    """,
)


def _pagerank_oracle() -> str:
    """Unrolled power-iteration CTEs mirroring tpch.part_pagerank.
    Float constants are interpolated via repr() so 1.0 - 0.85 =
    0.15000000000000002 matches Spark's Python-side literal bit-exactly."""
    d = float(tpch.PAGERANK_DAMPING)
    teleport = repr(1.0 - d)
    prev = "r0"
    iters = []
    for i in range(1, tpch.PAGERANK_ITERS + 1):
        iters.append(f"""
    r{i} AS (
        SELECT n.node,
               CAST({teleport} AS DOUBLE) / CAST(nn.n_nodes AS DOUBLE)
               + CAST({d!r} AS DOUBLE) * CAST(SUM(CAST(
                     r.rank / CAST(dg.deg AS DOUBLE)
                 AS DECIMAL(38,18))) AS DOUBLE) AS rank
        FROM edges e
        JOIN {prev} r ON r.node = e.src
        JOIN deg dg ON dg.src = e.src
        JOIN nodes n ON n.node = e.dst, nn
        GROUP BY n.node, nn.n_nodes
    )""")
        prev = f"r{i}"
    return f"""
    WITH grid AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM grid a JOIN grid b USING (l_orderkey)
        WHERE a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT COUNT(*) AS n_nodes FROM nodes),
    r0 AS (
        SELECT node, CAST(1.0 AS DOUBLE) / CAST(nn.n_nodes AS DOUBLE) AS rank
        FROM nodes, nn
    ),{",".join(iters)}
    SELECT node, {sql_stable_round("rank", 9)} AS pagerank
    FROM {prev}
    ORDER BY pagerank DESC, node
    LIMIT 50
    """


_register("part_pagerank", tpch.part_pagerank, _pagerank_oracle())

_register(
    "part_similarity_cosine",
    tpch.part_similarity_cosine,
    f"""
    WITH grid AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    item AS (SELECT l_partkey, COUNT(*) AS n_item FROM grid GROUP BY 1),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS n_both
        FROM grid a JOIN grid b USING (l_orderkey)
        WHERE a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {tpch.SIM_MIN_SUPPORT}
    )
    SELECT part_a, part_b, n_both, ia.n_item AS n_a, ib.n_item AS n_b,
           {sql_stable_round(
               "CAST(n_both AS DOUBLE)"
               " / sqrt(CAST(ia.n_item AS DOUBLE)"
               "        * CAST(ib.n_item AS DOUBLE))", 6
           )} AS cosine
    FROM pairs
    JOIN item ia ON ia.l_partkey = part_a
    JOIN item ib ON ib.l_partkey = part_b
    ORDER BY cosine DESC, part_a, part_b
    LIMIT {tpch.SIM_TOP_K}
    """,
)

_register(
    "customer_rfm",
    tpch.customer_rfm,
    f"""
    WITH ref AS (SELECT MAX(o_orderdate) AS ref_date FROM orders),
    per_cust AS (
        SELECT o_custkey,
               date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                         CAST(ref.ref_date AS DATE)) AS recency_days,
               COUNT(*) AS frequency,
               {_dsum("o_totalprice", "monetary")}
        FROM orders, ref
        GROUP BY o_custkey, ref.ref_date
    ),
    scored AS (
        -- equal-mass split (t*(rank-1)) // n + 1 mirrors the Spark
        -- plan's two-phase global_rank arithmetic exactly (operands
        -- non-negative, so // == Spark's div)
        SELECT *,
               CAST(({tpch.RFM_TILES} * (ROW_NUMBER() OVER (
                   ORDER BY recency_days, o_custkey) - 1))
                   // (COUNT(*) OVER ()) AS INT) + 1 AS r_score,
               CAST(({tpch.RFM_TILES} * (ROW_NUMBER() OVER (
                   ORDER BY frequency DESC, o_custkey) - 1))
                   // (COUNT(*) OVER ()) AS INT) + 1 AS f_score,
               CAST(({tpch.RFM_TILES} * (ROW_NUMBER() OVER (
                   ORDER BY monetary DESC, o_custkey) - 1))
                   // (COUNT(*) OVER ()) AS INT) + 1 AS m_score
        FROM per_cust
    )
    SELECT o_custkey, CAST(recency_days AS INT) AS recency_days, frequency,
           monetary, r_score, f_score, m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
               || CAST(m_score AS VARCHAR) AS segment
    FROM scored
    ORDER BY o_custkey
    """,
)

_register(
    "part_triangles",
    tpch.part_triangles,
    f"""
    WITH grid AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM grid a JOIN grid b USING (l_orderkey)
        WHERE a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {tpch.TRI_MIN_SUPPORT}
    ),
    tri AS (
        SELECT e1.u AS x, e1.v AS y, e2.v AS z
        FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    member AS (
        SELECT x AS part FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    )
    SELECT part, COUNT(*) AS n_triangles
    FROM member
    GROUP BY part
    ORDER BY n_triangles DESC, part
    LIMIT {tpch.TRI_TOP_K}
    """,
)

# -- round-2 additions: LLM-pipeline widening ------------------------------

_register(
    "dedup_incremental",
    dedup.dedup_incremental,
    dedup.ORACLES["dedup_incremental"],
)
_register(
    "dedup_cross_source",
    dedup.dedup_cross_source,
    dedup.ORACLES["dedup_cross_source"],
)
_register(
    "knn_ivf_multiprobe",
    similarity.knn_ivf_multiprobe,
    similarity.ORACLES["knn_ivf_multiprobe"],
)
_register(
    "corpus_mix_rebalance",
    textanalysis.corpus_mix_rebalance,
    textanalysis.ORACLES["corpus_mix_rebalance"],
)
_register(
    "text_ngram_topk",
    textanalysis.text_ngram_topk,
    textanalysis.ORACLES["text_ngram_topk"],
)
_register(
    "corpus_length_hist",
    textanalysis.corpus_length_hist,
    textanalysis.ORACLES["corpus_length_hist"],
)
_register(
    "text_pii_scrub",
    textanalysis.text_pii_scrub,
    textanalysis.ORACLES["text_pii_scrub"],
)
_register(
    "embedding_centroids",
    similarity.embedding_centroids,
    similarity.ORACLES["embedding_centroids"],
)
_register(
    "embedding_outliers",
    similarity.embedding_outliers,
    similarity.ORACLES["embedding_outliers"],
)

# -- round-2 additions: remaining TPC-H query shapes (see plans/tpch.py
# for the adapted-schema notes — no partsupp / commit / receipt dates).

_register(
    "q2_min_cost_supplier",
    tpch.q2_min_cost_supplier,
    f"""
    WITH offers AS (
      -- unit cost is defined only for positive quantities (mirrors
      -- the Spark plan's filter): a zero-quantity line has no
      -- observable per-unit price and is excluded, not an error
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem
      WHERE l_quantity > 0
      GROUP BY 1, 2
    ), j AS (
      SELECT s_acctbal, s_name, n_name, p_partkey, p_name, unit_cost,
             ROW_NUMBER() OVER (
               PARTITION BY p_partkey ORDER BY unit_cost, s_suppkey
             ) AS rn
      FROM offers
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE p_type = 'STANDARD' AND p_size <= 15 AND r_name = 'EUROPE'
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
           {sql_stable_round("unit_cost", 4)} AS unit_cost
    FROM j WHERE rn = 1
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)

_register(
    "q9_product_profit",
    tpch.q9_product_profit,
    f"""
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INT) AS o_year,
           {_dsum(_REV + " - 0.6 * p_retailprice * l_quantity", "sum_profit")}
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY 1, 2
    ORDER BY nation, o_year DESC
    """,
)

_register(
    "q11_important_parts",
    tpch.q11_important_parts,
    f"""
    WITH scoped AS (
      SELECT l_partkey, l_extendedprice
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = '{tpch.Q11_NATION}'
    ), per_part AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS value_dec
      FROM scoped GROUP BY 1
    ), tot AS (
      SELECT SUM(value_dec) AS total_dec FROM per_part
    )
    SELECT l_partkey, CAST(ROUND(value_dec, 4) AS DOUBLE) AS part_value
    FROM per_part, tot
    WHERE CAST(value_dec AS DOUBLE) > {tpch.Q11_FRACTION} * CAST(total_dec AS DOUBLE)
    ORDER BY part_value DESC, l_partkey
    """,
)

_register(
    "q12_late_priority_lines",
    tpch.q12_late_priority_lines,
    """
    SELECT l_returnflag,
           COUNT(CASE WHEN COALESCE(o_orderpriority IN ('1-URGENT', '2-HIGH'),
                           FALSE)
                 THEN 1 END) AS high_line_count,
           COUNT(CASE WHEN NOT COALESCE(o_orderpriority IN ('1-URGENT',
                           '2-HIGH'), FALSE)
                 THEN 1 END) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    GROUP BY 1 ORDER BY 1
    """,
)

_register(
    "q15_top_supplier",
    tpch.q15_top_supplier,
    f"""
    WITH revenue AS (
      SELECT l_suppkey, {_dsum(_REV, "total_revenue")}
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY 1
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM revenue JOIN supplier ON l_suppkey = s_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)

_register(
    "q20_excess_parts",
    tpch.q20_excess_parts,
    f"""
    WITH per_ps AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(38,6))) AS qty_dec
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY 1, 2
    ), per_part AS (
      SELECT l_partkey, SUM(qty_dec) AS part_qty_dec FROM per_ps GROUP BY 1
    ), dominant AS (
      SELECT DISTINCT l_suppkey
      FROM per_ps JOIN per_part USING (l_partkey)
      WHERE CAST(qty_dec AS DOUBLE) > {tpch.Q20_SHARE} * CAST(part_qty_dec AS DOUBLE)
    )
    SELECT s_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = '{tpch.Q20_NATION}'
      AND s_suppkey IN (SELECT l_suppkey FROM dominant)
    ORDER BY s_name
    """,
)

_register(
    "q21_waiting_suppliers",
    tpch.q21_waiting_suppliers,
    """
    WITH per_os AS (
      SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS s_max
      FROM lineitem GROUP BY 1, 2
    ), w1 AS (
      SELECT l_orderkey, l_suppkey, s_max,
             MAX(s_max) OVER (PARTITION BY l_orderkey) AS o_max,
             COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp
      FROM per_os
    ), w2 AS (
      SELECT *, SUM(CASE WHEN s_max = o_max THEN 1 ELSE 0 END)
                OVER (PARTITION BY l_orderkey) AS n_latest
      FROM w1
    )
    -- GROUP BY the supplier KEY (mirroring the Spark plan's l_suppkey
    -- aggregation), not the name: duplicate supplier names must stay
    -- separate rows. A boundary tie at LIMIT 10 is harmless — tied rows
    -- are identical (s_name, numwait) tuples, so the multiset is stable.
    SELECT s_name, COUNT(*) AS numwait
    FROM w2 JOIN supplier ON l_suppkey = s_suppkey
    WHERE s_max = o_max AND n_supp >= 2 AND n_latest = 1
    GROUP BY s_suppkey, s_name ORDER BY numwait DESC, s_name LIMIT 10
    """,
)

# -- round-4 additions ------------------------------------------------------

_register(
    "embedding_mmr",
    similarity.embedding_mmr,
    similarity.ORACLES["embedding_mmr"],
)

_register(
    "knn_recall_report",
    similarity.knn_recall_report,
    similarity.ORACLES["knn_recall_report"],
)

_register(
    "embedding_silhouette",
    similarity.embedding_silhouette,
    similarity.ORACLES["embedding_silhouette"],
)

_register("dq_checks", quality.dq_checks, quality.ORACLES["dq_checks"])
_register(
    "fk_coverage", quality.fk_coverage, quality.ORACLES["fk_coverage"]
)

_register(
    "supplier_hhi",
    tpch.supplier_hhi,
    f"""
    WITH rev AS (
        SELECT n_name, s_suppkey, {_dsum(_REV, "rev")}
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT n_name,
               CAST(SUM(CAST(rev AS DECIMAL(38,6))) AS DOUBLE) AS nrev,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers
        FROM rev GROUP BY 1
    ),
    shares AS (
        SELECT rev.n_name, tot.n_suppliers,
               {sql_stable_round('rev.rev / tot.nrev', 6)} AS share
        FROM rev JOIN tot ON rev.n_name = tot.n_name
    )
    SELECT n_name, n_suppliers,
           CAST(ROUND(SUM(CAST(share * share AS DECIMAL(38,12))), 6)
                AS DOUBLE) AS hhi,
           MAX(share) AS top_share
    FROM shares
    GROUP BY 1, 2
    ORDER BY n_name
    """,
)

_register(
    "customer_scd2",
    tpch.customer_scd2,
    """
    WITH seq AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
               ROW_NUMBER() OVER w AS rn,
               LAG(o_orderpriority) OVER w AS prev_prio,
               COUNT(*) OVER (PARTITION BY o_custkey) AS n_tot
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)
    ),
    ch AS (
        SELECT * FROM seq
        WHERE prev_prio IS NULL OR prev_prio != o_orderpriority
    )
    SELECT CAST(o_custkey AS BIGINT) AS c_custkey,
           CAST(ROW_NUMBER() OVER w2 AS INT) AS version,
           o_orderpriority AS priority,
           strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
           strftime(LEAD(o_orderdate) OVER w2, '%Y-%m-%d') AS valid_to,
           CAST(COALESCE(LEAD(rn) OVER w2, n_tot + 1) - rn AS BIGINT)
               AS n_orders,
           LEAD(rn) OVER w2 IS NULL AS is_current
    FROM ch
    WINDOW w2 AS (PARTITION BY o_custkey ORDER BY rn)
    ORDER BY c_custkey, version
    """,
)

_register(
    "customer_migration",
    tpch.customer_migration,
    f"""
    WITH p1 AS (
        SELECT o_custkey, COUNT(*) AS c1 FROM orders
        WHERE o_orderdate < TIMESTAMP '1998-07-01' GROUP BY 1
    ),
    p2 AS (
        SELECT o_custkey, COUNT(*) AS c2 FROM orders
        WHERE o_orderdate >= TIMESTAMP '1998-07-01' GROUP BY 1
    ),
    m AS (
        SELECT
            CASE WHEN c1 IS NULL THEN 'none'
                 WHEN c1 >= 4 THEN 'loyal'
                 WHEN c1 >= 2 THEN 'repeat'
                 ELSE 'one' END AS tier_before,
            CASE WHEN c2 IS NULL THEN 'none'
                 WHEN c2 >= 4 THEN 'loyal'
                 WHEN c2 >= 2 THEN 'repeat'
                 ELSE 'one' END AS tier_after
        FROM p1 FULL OUTER JOIN p2 USING (o_custkey)
    ),
    mat AS (
        SELECT tier_before, tier_after,
               CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM m GROUP BY 1, 2
    )
    SELECT tier_before, tier_after, n_customers,
           {sql_stable_round(
               'n_customers / (SELECT CAST(SUM(n_customers) AS DOUBLE)'
               ' FROM mat)', 6)} AS pct
    FROM mat
    ORDER BY tier_before, tier_after
    """,
)
_register(
    "corpus_split",
    textanalysis.corpus_split,
    textanalysis.ORACLES["corpus_split"],
)

_register(
    "part_khop",
    tpch.part_khop,
    f"""
    WITH grid AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    und AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS n_orders
        FROM grid a JOIN grid b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {tpch.KHOP_MIN_SUPPORT}
    ),
    edges AS (
        SELECT part_a AS src, part_b AS dst FROM und
        UNION ALL SELECT part_b, part_a FROM und
    ),
    one AS (SELECT src, COUNT(DISTINCT dst) AS n_1hop FROM edges GROUP BY 1),
    reach AS (
        SELECT DISTINCT src, reach FROM (
            SELECT e1.src AS src, e2.dst AS reach
            FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
            UNION ALL SELECT src, dst FROM edges
        ) WHERE src <> reach
    ),
    two AS (SELECT src, COUNT(*) AS n_2hop FROM reach GROUP BY 1)
    SELECT src AS p_partkey, CAST(n_1hop AS INT) AS n_1hop,
           CAST(n_2hop AS INT) AS n_2hop
    FROM one JOIN two USING (src)
    ORDER BY p_partkey
    """,
)

_register(
    "part_skyline",
    tpch.part_skyline,
    f"""
    WITH by_price AS (
        SELECT p_retailprice, MAX(p_size) AS grp_max_size
        FROM part GROUP BY 1
    ),
    fr AS (
        SELECT p_retailprice, grp_max_size,
               MAX(grp_max_size) OVER (
                   ORDER BY p_retailprice
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS cheaper_max_size
        FROM by_price
    )
    SELECT p_partkey, p_name,
           {sql_stable_round('p_retailprice', 2)} AS price,
           CAST(p_size AS INT) AS size
    FROM part JOIN fr USING (p_retailprice)
    WHERE p_size = grp_max_size
      AND (cheaper_max_size IS NULL OR p_size > cheaper_max_size)
    ORDER BY price, p_partkey
    """,
)

_register(
    "part_itemsets3",
    tpch.part_itemsets3,
    f"""
    WITH grid AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    fp AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
        FROM grid a JOIN grid b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {tpch.COP_MIN_SUPPORT}
    ),
    fitems AS (
        SELECT DISTINCT part_a AS l_partkey FROM fp
        UNION SELECT DISTINCT part_b FROM fp
    ),
    g AS (SELECT g0.* FROM grid g0 JOIN fitems USING (l_partkey)),
    pruned AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, c.l_partkey AS pc
        FROM g a
        JOIN g b ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey
        JOIN g c ON b.l_orderkey = c.l_orderkey
                AND b.l_partkey < c.l_partkey
        WHERE EXISTS (SELECT 1 FROM fp WHERE part_a = a.l_partkey
                                         AND part_b = b.l_partkey)
          AND EXISTS (SELECT 1 FROM fp WHERE part_a = a.l_partkey
                                         AND part_b = c.l_partkey)
          AND EXISTS (SELECT 1 FROM fp WHERE part_a = b.l_partkey
                                         AND part_b = c.l_partkey)
    )
    SELECT pa AS part_a, pb AS part_b, pc AS part_c,
           COUNT(*) AS n_orders
    FROM pruned
    GROUP BY 1, 2, 3
    HAVING COUNT(*) >= {tpch.COP_MIN_SUPPORT}
    ORDER BY n_orders DESC, part_a, part_b, part_c
    LIMIT {tpch.ITEMSET3_TOP}
    """,
)

_register(
    "part_abc_xyz",
    tpch.part_abc_xyz,
    f"""
    WITH monthly AS (
        SELECT l_partkey, date_trunc('month', l_shipdate) AS month,
               SUM(CAST(l_quantity AS DECIMAL(38,6))) AS qty,
               SUM(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(38,6))) AS rev
        FROM lineitem GROUP BY 1, 2
    ),
    per_part AS (
        SELECT l_partkey, COUNT(*) AS n_months,
               SUM(CAST(qty AS DECIMAL(38,6))) AS sq,
               SUM(CAST(qty * qty AS DECIMAL(38,6))) AS sq2,
               CAST(SUM(CAST(rev AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        FROM monthly GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(CAST(revenue AS DECIMAL(38,6))) AS DOUBLE)
                   AS total_rev
        FROM per_part
    ),
    classed AS (
        SELECT p.l_partkey, p.revenue, t.total_rev,
               {sql_stable_round(
                   'CAST(SUM(CAST(p.revenue AS DECIMAL(38,6))) OVER ('
                   'ORDER BY p.revenue DESC, p.l_partkey '
                   'ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW'
                   ') AS DOUBLE) / t.total_rev', 6)} AS cum_share,
               CASE
                   WHEN sqrt(greatest(
                            CAST(sq2 AS DOUBLE) / n_months
                            - (CAST(sq AS DOUBLE) / n_months)
                              * (CAST(sq AS DOUBLE) / n_months), 0.0))
                        / (CAST(sq AS DOUBLE) / n_months) < {tpch.XYZ_X}
                       THEN 'X'
                   WHEN sqrt(greatest(
                            CAST(sq2 AS DOUBLE) / n_months
                            - (CAST(sq AS DOUBLE) / n_months)
                              * (CAST(sq AS DOUBLE) / n_months), 0.0))
                        / (CAST(sq AS DOUBLE) / n_months) < {tpch.XYZ_Y}
                       THEN 'Y'
                   ELSE 'Z'
               END AS xyz
        FROM per_part p CROSS JOIN tot t
    )
    SELECT CASE WHEN cum_share <= {tpch.ABC_A} THEN 'A'
                WHEN cum_share <= {tpch.ABC_B} THEN 'B'
                ELSE 'C' END AS abc,
           xyz,
           COUNT(*) AS n_parts,
           {sql_stable_round(
               'CAST(SUM(CAST(revenue AS DECIMAL(38,6))) AS DOUBLE)'
               ' / ANY_VALUE(total_rev)', 6)} AS revenue_share
    FROM classed
    GROUP BY 1, 2
    ORDER BY abc, xyz
    """,
)

_register(
    "customer_cohort_ltv",
    tpch.customer_cohort_ltv,
    f"""
    WITH cohort AS (
        SELECT o_custkey,
               MIN(EXTRACT(year FROM o_orderdate)) AS cohort_year
        FROM orders GROUP BY 1
    ),
    sizes AS (
        SELECT cohort_year, COUNT(*) AS cohort_size FROM cohort GROUP BY 1
    ),
    cells AS (
        SELECT c.cohort_year,
               EXTRACT(year FROM o.o_orderdate) AS order_year,
               COUNT(DISTINCT o.o_custkey) AS n_active,
               SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS rev
        FROM orders o JOIN cohort c USING (o_custkey)
        GROUP BY 1, 2
    )
    SELECT CAST(cohort_year AS INT) AS cohort_year,
           CAST(order_year AS INT) AS order_year,
           cohort_size,
           CAST(n_active AS BIGINT) AS n_active,
           {sql_stable_round('CAST(rev AS DOUBLE)', 2)} AS revenue,
           {sql_stable_round(
               'CAST(SUM(rev) OVER (PARTITION BY cohort_year'
               ' ORDER BY order_year ROWS BETWEEN UNBOUNDED PRECEDING'
               ' AND CURRENT ROW) AS DOUBLE)'
               ' / CAST(cohort_size AS DOUBLE)', 4)}
               AS cum_revenue_per_customer
    FROM cells JOIN sizes USING (cohort_year)
    ORDER BY cohort_year, order_year
    """,
)

_register(
    "orders_unpivot",
    tpch.orders_unpivot,
    """
    SELECT o_orderpriority, s AS status,
           CAST(SUM(CASE WHEN o_orderstatus = s THEN 1 ELSE 0 END)
                AS BIGINT) AS n_orders
    FROM orders, (SELECT UNNEST(['F', 'O', 'P']) AS s)
    GROUP BY 1, 2
    ORDER BY o_orderpriority, status
    """,
)

_register(
    "events_session_native",
    events.events_session_native,
    f"""
    WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events
    ), lagged AS (
        SELECT user_id, ts, event_id,
               LAG(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev_ts
        FROM ev
    ), flagged AS (
        -- session_window boundary rule (pinned by
        -- test_session_native_gap_boundary): windows touching at
        -- exactly ts + gap still MERGE, so a NEW session needs a gap
        -- STRICTLY greater than the gap duration — same strict > as
        -- the manual islands form
        SELECT user_id, ts, event_id,
               CASE WHEN prev_ts IS NULL
                      OR ts > prev_ts + INTERVAL 30 MINUTES
                    THEN 1 ELSE 0 END AS new_s
        FROM lagged
    ), sess AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS sid
        FROM flagged
    ), per_session AS (
        SELECT user_id, sid, COUNT(*) AS n_events,
               (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0 AS span_s
        FROM sess GROUP BY user_id, sid
    )
    SELECT user_id, CAST(COUNT(*) AS INT) AS n_sessions,
           CAST(MAX(n_events) AS INT) AS max_session_events,
           {_davg("span_s", "avg_span_s")}
    FROM per_session
    GROUP BY user_id
    ORDER BY user_id
    """,
)

_register(
    "events_asof_next",
    events.events_asof_next,
    """
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE event_type = 'purchase'
    ), c AS (
        SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE event_type = 'click'
    ), j AS (
        SELECT p.purchase_id, p.user_id, c.click_id,
               epoch_us(c.ts) - epoch_us(p.ts) AS gap_us,
               ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                                  ORDER BY c.ts, c.click_id) AS rn
        FROM p LEFT JOIN c
          ON p.user_id = c.user_id AND c.ts > p.ts
    )
    SELECT purchase_id, user_id, click_id AS next_click_id, gap_us
    FROM j WHERE rn = 1
    ORDER BY purchase_id
    """,
)

_register(
    "events_approx_median",
    events.events_approx_median,
    f"""
    SELECT event_type, COUNT(*) AS n_events,
           {sql_stable_round('quantile_cont(value, 0.5)', 6)} AS exact_p50,
           TRUE AS within_tol
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)

_register(
    "text_unigram_logprob",
    textanalysis.text_unigram_logprob,
    textanalysis.ORACLES["text_unigram_logprob"],
)
_register(
    "text_quality_classifier",
    textanalysis.text_quality_classifier,
    textanalysis.ORACLES["text_quality_classifier"],
)
_register(
    "bpe_pair_stats",
    textanalysis.bpe_pair_stats,
    textanalysis.ORACLES["bpe_pair_stats"],
)
_register(
    "bpe_train_merges",
    textanalysis.bpe_train_merges,
    textanalysis.ORACLES["bpe_train_merges"],
)
_register(
    "bpe_compression",
    textanalysis.bpe_compression,
    textanalysis.ORACLES["bpe_compression"],
)
_register(
    "text_vocab_coverage",
    textanalysis.text_vocab_coverage,
    textanalysis.ORACLES["text_vocab_coverage"],
)
_register(
    "text_winnowing",
    textanalysis.text_winnowing,
    textanalysis.ORACLES["text_winnowing"],
)
_register(
    "corpus_quality_vs_dup",
    textanalysis.corpus_quality_vs_dup,
    textanalysis.ORACLES["corpus_quality_vs_dup"],
)
_register(
    "dedup_passage",
    dedup.dedup_passage,
    dedup.ORACLES["dedup_passage"],
)
_register(
    "dedup_prefix_filter",
    dedup.dedup_prefix_filter,
    dedup.ORACLES["dedup_prefix_filter"],
)
_register(
    "dedup_lsh_tuning",
    dedup.dedup_lsh_tuning,
    dedup.ORACLES["dedup_lsh_tuning"],
)


def _cms_oracle() -> str:
    """DuckDB replay of the count-min sketch: identical portable hash
    family, identical d-by-w counter grid, identical min-over-rows
    estimate — so n_cms itself is value-hash-checked, not just a
    bound."""
    from big_data_parallel_computing_hw2_spark.functions.hashing import (
        P,
        seeds,
        sql_base_hash,
    )
    from big_data_parallel_computing_hw2_spark.plans.events import (
        CMS_D,
        CMS_TOPK,
        CMS_W,
    )

    h = sql_base_hash("CAST(user_id AS VARCHAR)")
    ss = seeds(CMS_D)
    bucket = [
        f"((({a} * {h} + {b}) % {P}) % {CMS_W})" for (a, b) in ss
    ]
    cell_rows = "\n        UNION ALL\n".join(
        f"        SELECT {j} AS j, {bucket[j]} AS b, COUNT(*) AS cell"
        f" FROM events GROUP BY 1, 2"
        for j in range(CMS_D)
    )
    probe_rows = "\n        UNION ALL\n".join(
        f"        SELECT user_id, n_exact, {j} AS j, bkt{j} AS b FROM top"
        for j in range(CMS_D)
    )
    bkts = ",\n               ".join(
        f"{bucket[j]} AS bkt{j}" for j in range(CMS_D)
    )
    return f"""
    WITH cells AS (
{cell_rows}
    ),
    top AS (
        SELECT user_id, COUNT(*) AS n_exact,
               {bkts}
        FROM events
        GROUP BY user_id
        ORDER BY n_exact DESC, user_id
        LIMIT {CMS_TOPK}
    ),
    probes AS (
{probe_rows}
    )
    SELECT p.user_id, p.n_exact, MIN(c.cell) AS n_cms,
           MIN(c.cell) >= p.n_exact AS no_underestimate
    FROM probes p JOIN cells c ON c.j = p.j AND c.b = p.b
    GROUP BY p.user_id, p.n_exact
    ORDER BY p.n_exact DESC, p.user_id
    """


_register(
    "events_cms_heavy_hitters",
    events.events_cms_heavy_hitters,
    _cms_oracle(),
)


def _ewma_oracle() -> str:
    """Identical fixed-order LAG chain (same Python float literals)."""
    from big_data_parallel_computing_hw2_spark.plans.events import (
        EWMA_HORIZON,
        EWMA_LAMBDA,
    )

    lag = (
        lambda i: "n_events"
        if i == 0
        else f"LAG(n_events, {i}) OVER "
        "(PARTITION BY event_type ORDER BY hour)"
    )
    num = " + ".join(
        f"CASE WHEN {lag(i)} IS NOT NULL"
        f" THEN {EWMA_LAMBDA**i!r} * {lag(i)} ELSE 0.0 END"
        for i in range(EWMA_HORIZON)
    )
    den = " + ".join(
        f"CASE WHEN {lag(i)} IS NOT NULL"
        f" THEN {EWMA_LAMBDA**i!r} ELSE 0.0 END"
        for i in range(EWMA_HORIZON)
    )
    return f"""
    WITH hourly AS (
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
               event_type, COUNT(*) AS n_events
        FROM events
        GROUP BY 1, 2
    )
    SELECT hour, event_type, n_events,
           {sql_stable_round(f'({num}) / ({den})', 6)} AS ewma_events
    FROM hourly
    ORDER BY hour, event_type
    """


_register(
    "events_hourly_ewma",
    events.events_hourly_ewma,
    _ewma_oracle(),
)

_MOM = {
    "mu": "CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)",
}
_MOM["m2"] = f"CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - ({_MOM['mu']}) * ({_MOM['mu']})"
_MOM["m3"] = (
    f"CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - 3.0 * ({_MOM['mu']}) * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
    f" + 2.0 * ({_MOM['mu']}) * ({_MOM['mu']}) * ({_MOM['mu']})"
)
_MOM["m4"] = (
    f"CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - 4.0 * ({_MOM['mu']}) * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))"
    f" + 6.0 * ({_MOM['mu']}) * ({_MOM['mu']})"
    f" * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
    f" - 3.0 * ({_MOM['mu']}) * ({_MOM['mu']}) * ({_MOM['mu']}) * ({_MOM['mu']})"
)

_register(
    "events_moments",
    events.events_moments,
    f"""
    WITH agg AS (
        SELECT event_type, COUNT(*) AS n,
               SUM(CAST(value AS DECIMAL(38,6))) AS s1,
               SUM(CAST(value * value AS DECIMAL(38,6))) AS s2,
               SUM(CAST(value * value * value AS DECIMAL(38,6))) AS s3,
               SUM(CAST(value * value * value * value AS DECIMAL(38,6)))
                   AS s4
        FROM events GROUP BY event_type
    )
    SELECT event_type, n AS n_events,
           {sql_stable_round(_MOM['mu'], 6)} AS mean_value,
           {sql_stable_round(f"sqrt({_MOM['m2']})", 6)} AS std_value,
           {sql_stable_round(
               f"CASE WHEN ({_MOM['m2']}) > 0.0 THEN"
               f" ({_MOM['m3']}) / (({_MOM['m2']}) * sqrt({_MOM['m2']}))"
               f" END", 6)}
               AS skewness,
           {sql_stable_round(
               f"CASE WHEN ({_MOM['m2']}) > 0.0 THEN"
               f" ({_MOM['m4']}) / (({_MOM['m2']}) * ({_MOM['m2']})) - 3.0"
               f" END",
               6)} AS excess_kurtosis
    FROM agg
    ORDER BY event_type
    """,
)

_register(
    "dedup_source_overlap",
    dedup.dedup_source_overlap,
    dedup.ORACLES["dedup_source_overlap"],
)

_register(
    "events_stickiness",
    events.events_stickiness,
    f"""
    WITH ev AS (
        SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)),
                        '%Y-%m-%d') AS day,
               strftime(date_trunc('month', CAST(ts AS TIMESTAMP)),
                        '%Y-%m') AS month,
               user_id
        FROM events
    ),
    daily AS (
        SELECT month, day, COUNT(*) AS dau
        FROM (SELECT DISTINCT month, day, user_id FROM ev)
        GROUP BY 1, 2
    ),
    ad AS (
        SELECT month, CAST(COUNT(*) AS INT) AS n_days,
               CAST(SUM(CAST(dau AS DECIMAL(38,12))) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS avg_dau_raw
        FROM daily GROUP BY 1
    ),
    mau AS (
        SELECT month, COUNT(*) AS mau
        FROM (SELECT DISTINCT month, user_id FROM ev)
        GROUP BY 1
    )
    SELECT month, n_days,
           {sql_stable_round('avg_dau_raw', 6)} AS avg_dau,
           mau,
           {sql_stable_round('avg_dau_raw / CAST(mau AS DOUBLE)', 6)}
               AS stickiness
    FROM ad JOIN mau USING (month)
    ORDER BY month
    """,
)

_register(
    "events_entropy",
    events.events_entropy,
    f"""
    WITH ut AS (
        SELECT user_id, event_type, COUNT(*) AS n_t
        FROM events GROUP BY 1, 2
    ),
    per_user AS (
        SELECT user_id, SUM(n_t) AS n_events, COUNT(*) AS n_types
        FROM ut GROUP BY 1
    ),
    ent AS (
        SELECT u.user_id, CAST(p.n_events AS BIGINT) AS n_events,
               CAST(p.n_types AS INT) AS n_types,
               {sql_stable_round(
                   'CAST(SUM(CAST(-(CAST(n_t AS DOUBLE)'
                   ' / CAST(p.n_events AS DOUBLE))'
                   ' * ln(CAST(n_t AS DOUBLE)'
                   ' / CAST(p.n_events AS DOUBLE))'
                   ' AS DECIMAL(38,12))) AS DOUBLE)', 6)} AS entropy
        FROM ut u JOIN per_user p USING (user_id)
        GROUP BY u.user_id, p.n_events, p.n_types
        HAVING p.n_events >= {events.ENTROPY_MIN_EVENTS}
    )
    SELECT * FROM ent
    ORDER BY entropy DESC, user_id
    LIMIT {events.ENTROPY_TOP}
    """,
)

_register(
    "events_equidepth_hist",
    events.events_equidepth_hist,
    f"""
    SELECT event_type, bucket, COUNT(*) AS n_rows,
           {sql_stable_round('MIN(value)', 6)} AS lo,
           {sql_stable_round('MAX(value)', 6)} AS hi
    FROM (
        -- same equal-mass arithmetic as the Spark two-phase rank:
        -- bucket = (B*(pos-1)) div n + 1 over the total
        -- (value, event_id) order; // is floor division and both
        -- operands are non-negative, so it equals Spark's `div`.
        -- NULLS FIRST pins DuckDB to Spark's ASC default.
        SELECT event_type, value,
               CAST(({events.EQUIDEPTH_BUCKETS}
                     * (ROW_NUMBER() OVER (
                            PARTITION BY event_type
                            ORDER BY value NULLS FIRST, event_id) - 1))
                    // (COUNT(*) OVER (PARTITION BY event_type))
                    AS INT) + 1 AS bucket
        FROM events
    )
    GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """,
)


def _acf_oracle() -> str:
    from big_data_parallel_computing_hw2_spark.plans.events import ACF_LAGS

    parts = []
    for k in ACF_LAGS:
        num = (
            f"CAST(SUM(CASE WHEN lag{k} IS NOT NULL THEN "
            f"CAST((CAST(n_events AS DOUBLE) - mu)"
            f" * (CAST(lag{k} AS DOUBLE) - mu) AS DECIMAL(38,12))"
            f" END) AS DOUBLE)"
        )
        den = (
            "CAST(SUM(CAST((CAST(n_events AS DOUBLE) - mu)"
            " * (CAST(n_events AS DOUBLE) - mu) AS DECIMAL(38,12)))"
            " AS DOUBLE)"
        )
        parts.append(
            f"{sql_stable_round(f'({num}) / ({den})', 6)} AS acf_{k}"
        )
    lag_cols = ",\n               ".join(
        f"LAG(n_events, {k}) OVER"
        f" (PARTITION BY event_type ORDER BY hour) AS lag{k}"
        for k in ACF_LAGS
    )
    sel = ",\n           ".join(parts)
    return f"""
    WITH hourly AS (
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
               event_type, COUNT(*) AS n_events
        FROM events GROUP BY 1, 2
    ),
    mu AS (
        SELECT event_type,
               CAST(SUM(CAST(n_events AS DECIMAL(38,12))) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS mu,
               COUNT(*) AS n_hours
        FROM hourly GROUP BY 1
    ),
    lagged AS (
        SELECT h.*, m.mu, m.n_hours,
               {lag_cols}
        FROM hourly h JOIN mu m USING (event_type)
    )
    SELECT event_type, CAST(n_hours AS INT) AS n_hours,
           {sel}
    FROM lagged
    GROUP BY event_type, n_hours
    ORDER BY event_type
    """


_register(
    "events_autocorr",
    events.events_autocorr,
    _acf_oracle(),
)

_register(
    "events_throttle",
    events.events_throttle,
    f"""
    WITH kept AS (
        SELECT event_type,
               CASE WHEN ROW_NUMBER() OVER (
                   PARTITION BY user_id, event_type,
                       CAST(floor(epoch_us(ts)
                           / {events.THROTTLE_MINUTES * 60 * 1_000_000}.0)
                           AS BIGINT)
                   ORDER BY ts, event_id
               ) = 1 THEN 1 ELSE 0 END AS keep
        FROM events
    )
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(keep) AS BIGINT) AS n_kept,
           {sql_stable_round(
               '1.0 - CAST(SUM(keep) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)',
               6)} AS suppression_rate
    FROM kept
    GROUP BY event_type
    ORDER BY event_type
    """,
)

_register(
    "events_trimmed_mean",
    events.events_trimmed_mean,
    f"""
    WITH bounds AS (
        -- rounded BEFORE the BETWEEN/clamp, mirroring the Spark plan:
        -- percentile() vs quantile_cont() interpolate independently and
        -- a 1-ULP divergence would flip boundary rows
        SELECT event_type,
               {sql_stable_round(
                   f'quantile_cont(value, {events.TRIM_FRAC})', 6)} AS lo,
               {sql_stable_round(
                   f'quantile_cont(value, {1 - events.TRIM_FRAC})', 6)} AS hi
        FROM events GROUP BY event_type
    )
    SELECT e.event_type, COUNT(*) AS n_events,
           {sql_stable_round(
               'CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)'
               ' / CAST(COUNT(*) AS DOUBLE)', 6)} AS mean_value,
           {sql_stable_round(
               'CAST(SUM(CASE WHEN value BETWEEN lo AND hi'
               ' THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE)'
               ' / CAST(SUM(CASE WHEN value BETWEEN lo AND hi'
               ' THEN 1 ELSE 0 END) AS DOUBLE)', 6)} AS trimmed_mean,
           {sql_stable_round(
               'CAST(SUM(CAST(least(greatest(value, lo), hi)'
               ' AS DECIMAL(38,6))) AS DOUBLE)'
               ' / CAST(COUNT(*) AS DOUBLE)', 6)} AS winsorized_mean
    FROM events e JOIN bounds b ON b.event_type = e.event_type
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
)


# -- round-4 additions: chunk-granularity curation --------------------------

_register(
    "corpus_chunk",
    textanalysis.corpus_chunk,
    textanalysis.ORACLES["corpus_chunk"],
)

_register(
    "chunk_dedup_by_source",
    textanalysis.chunk_dedup_by_source,
    textanalysis.ORACLES["chunk_dedup_by_source"],
)

_register(
    "embedding_knn_classify",
    similarity.embedding_knn_classify,
    similarity.ORACLES["embedding_knn_classify"],
)

_register(
    "text_bigram_logprob",
    textanalysis.text_bigram_logprob,
    textanalysis.ORACLES["text_bigram_logprob"],
)

_register(
    "dedup_chunk_pairs",
    textanalysis.dedup_chunk_pairs,
    textanalysis.ORACLES["dedup_chunk_pairs"],
)

_register(
    "supplier_fulfillment",
    tpch.supplier_fulfillment,
    f"""
    WITH d AS (
        SELECT l_suppkey,
               date_diff('day', CAST(o_orderdate AS DATE),
                         CAST(l_shipdate AS DATE)) AS dd
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    agg AS (
        SELECT l_suppkey AS s_suppkey, COUNT(*) AS n_lines,
               {sql_stable_round(
                   'CAST(SUM(CAST(dd AS DECIMAL(38,6))) AS DOUBLE)'
                   ' / CAST(COUNT(*) AS DOUBLE)', 6)} AS avg_delay_days,
               {sql_stable_round('quantile_cont(dd, 0.9)', 6)}
                   AS p90_delay_days,
               {sql_stable_round(
                   f'CAST(SUM(CASE WHEN dd > {tpch.FULFILL_LATE_DAYS}'
                   ' THEN 1 ELSE 0 END) AS DOUBLE)'
                   ' / CAST(COUNT(*) AS DOUBLE)', 6)} AS late_frac
        FROM d GROUP BY 1
    )
    SELECT a.s_suppkey, s.s_name, a.n_lines, a.avg_delay_days,
           a.p90_delay_days, a.late_frac
    FROM agg a JOIN supplier s ON s.s_suppkey = a.s_suppkey
    ORDER BY a.s_suppkey
    """,
)

def _corr_oracle() -> str:
    cols = tpch._CORR_COLS
    pair_rows = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            r = (
                f"(sp_{a}_{b} / n - (s_{a} / n) * (s_{b} / n))"
                f" / sqrt((ss_{a} / n - (s_{a} / n) * (s_{a} / n))"
                f" * (ss_{b} / n - (s_{b} / n) * (s_{b} / n)))"
            )
            guard = (
                f"CASE WHEN (ss_{a} / n - (s_{a} / n) * (s_{a} / n)) > 0"
                f" AND (ss_{b} / n - (s_{b} / n) * (s_{b} / n)) > 0"
                f" THEN {r} END"
            )
            pair_rows.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b,"
                f" CAST(agg.n0 AS BIGINT) AS n_rows,"
                f" {sql_stable_round(guard, 6)} AS pearson_r FROM agg"
            )
    # mirror the Spark plan's EXACT scaled-integer power sums: the
    # measures are 2-decimal, so q_c = round(c*100) is an exact bigint;
    # DuckDB's SUM(BIGINT) accumulates in HUGEINT (int128, exact) —
    # the twin of Spark's three-limb bigint sums — and the single
    # correctly-rounded CAST(... AS DOUBLE) lands on the identical
    # double on both engines (scale cancels: corr(100x,100y)=corr(x,y))
    scaled = [f"CAST(round({c} * 100) AS BIGINT) AS q_{c}" for c in cols]
    sums = ["COUNT(*) AS n0"]
    for c in cols:
        sums.append(f"SUM(q_{c}) AS i_s_{c}")
        sums.append(f"SUM(q_{c} * q_{c}) AS i_ss_{c}")
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            sums.append(f"SUM(q_{a} * q_{b}) AS i_sp_{a}_{b}")
    casts = ["CAST(n0 AS DOUBLE) AS n", "n0"]
    for c in cols:
        casts.append(f"CAST(i_s_{c} AS DOUBLE) AS s_{c}")
        casts.append(f"CAST(i_ss_{c} AS DOUBLE) AS ss_{c}")
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            casts.append(f"CAST(i_sp_{a}_{b} AS DOUBLE) AS sp_{a}_{b}")
    return (
        "WITH sc AS (SELECT "
        + ", ".join(scaled)
        + " FROM lineitem), raw AS (SELECT "
        + ", ".join(sums)
        + " FROM sc), agg AS (SELECT "
        + ", ".join(casts)
        + " FROM raw) "
        + " UNION ALL ".join(pair_rows)
        + " ORDER BY col_a, col_b"
    )


_register("lineitem_corr", tpch.lineitem_corr, _corr_oracle())

_register(
    "text_keyphrase_rake",
    textanalysis.text_keyphrase_rake,
    textanalysis.ORACLES["text_keyphrase_rake"],
)

_register(
    "revenue_yoy",
    tpch.revenue_yoy,
    f"""
    WITH monthly AS (
        SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS month,
               COUNT(*) AS n_orders,
               {_dsum("o_totalprice", "revenue")}
        FROM orders GROUP BY 1
    )
    SELECT m.month, m.n_orders, m.revenue,
           {sql_stable_round(
               'CASE WHEN p.revenue IS NOT NULL AND p.revenue <> 0'
               ' THEN m.revenue / p.revenue - 1.0 END', 6)} AS yoy_growth
    FROM monthly m
    LEFT JOIN monthly p
      ON p.month = strftime(CAST(m.month || '-01' AS DATE)
                            - INTERVAL 12 MONTH, '%Y-%m')
    ORDER BY m.month
    """,
)

_register(
    "part_substitutes",
    tpch.part_substitutes,
    f"""
    WITH cgrid AS (
        SELECT DISTINCT o_custkey, l_partkey
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    common AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS n_common_cust
        FROM cgrid a JOIN cgrid b USING (o_custkey)
        WHERE a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {tpch.SUB_MIN_CUST}
    ),
    co_ordered AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
          USING (l_orderkey)
        WHERE a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    )
    SELECT c.part_a, c.part_b,
           CAST(c.n_common_cust AS BIGINT) AS n_common_cust,
           pa.p_type = pb.p_type AS same_type
    FROM common c
    LEFT JOIN co_ordered o
      ON o.part_a = c.part_a AND o.part_b = c.part_b
    JOIN part pa ON pa.p_partkey = c.part_a
    JOIN part pb ON pb.p_partkey = c.part_b
    WHERE o.part_a IS NULL
    ORDER BY n_common_cust DESC, c.part_a, c.part_b
    LIMIT {tpch.SUB_TOP}
    """,
)

_register(
    "sample_weighted",
    textanalysis.sample_weighted,
    textanalysis.ORACLES["sample_weighted"],
)
_register(
    "doc_mad_outliers",
    textanalysis.doc_mad_outliers,
    textanalysis.ORACLES["doc_mad_outliers"],
)

_register(
    "part_link_prediction",
    tpch.part_link_prediction,
    f"""
    WITH grid AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n_orders
        FROM grid a
        JOIN grid b ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT pa AS u, pb AS v FROM pairs
        WHERE n_orders >= {tpch.TRI_MIN_SUPPORT}
    ),
    adj AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
    deg AS (SELECT u AS node, COUNT(*) AS d FROM adj GROUP BY 1),
    cand AS (
        SELECT a1.v AS part_a, a2.v AS part_b, COUNT(*) AS n_common
        FROM adj a1 JOIN adj a2 ON a1.u = a2.u AND a1.v < a2.v
        GROUP BY 1, 2
    ),
    fresh AS (
        SELECT c.part_a, c.part_b, c.n_common
        FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM edges e
                          WHERE e.u = c.part_a AND e.v = c.part_b)
    )
    SELECT f.part_a, f.part_b,
           CAST(f.n_common AS BIGINT) AS n_common,
           {sql_stable_round(
               'CAST(f.n_common AS DOUBLE)'
               ' / CAST(da.d + db.d - f.n_common AS DOUBLE)', 6)}
               AS jaccard
    FROM fresh f
    JOIN deg da ON f.part_a = da.node
    JOIN deg db ON f.part_b = db.node
    ORDER BY jaccard DESC, f.part_a, f.part_b
    LIMIT {tpch.LINK_TOP_K}
    """,
)

_register(
    "events_markov2",
    events.events_markov2,
    f"""
    WITH steps AS (
        SELECT event_type,
               LAG(event_type, 1) OVER w AS prev1,
               LAG(event_type, 2) OVER w AS prev2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    agg AS (
        SELECT prev2, prev1, event_type AS next_type,
               COUNT(*) AS n_transitions
        FROM steps WHERE prev2 IS NOT NULL
        GROUP BY 1, 2, 3
    )
    SELECT prev2, prev1, next_type, n_transitions,
           {sql_stable_round(
               'n_transitions / SUM(n_transitions)'
               ' OVER (PARTITION BY prev2, prev1)', 6)} AS p_next
    FROM agg
    ORDER BY prev2, prev1, next_type
    """,
)
_register(
    "source_kl_divergence",
    textanalysis.source_kl_divergence,
    textanalysis.ORACLES["source_kl_divergence"],
)

from big_data_parallel_computing_hw2_spark.functions.hashing import (  # noqa: E402
    sql_hash60,
)

_register(
    "events_kmv_distinct",
    events.events_kmv_distinct,
    f"""
    WITH pairs AS (
        SELECT DISTINCT event_type,
               {sql_hash60("CAST(user_id AS VARCHAR)")} AS h
        FROM events WHERE user_id IS NOT NULL
    ),
    ranked AS (
        SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
        FROM pairs
    ),
    stats AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_exact,
               MAX(CASE WHEN rk = {events.KMV_K} THEN h END) AS kth
        FROM ranked GROUP BY 1
    )
    SELECT event_type, n_exact,
           CAST(kth AS BIGINT) AS kth_hash,
           {sql_stable_round(
               "CASE WHEN kth IS NULL THEN CAST(n_exact AS DOUBLE)"
               f" ELSE {events.KMV_K - 1}.0 * 1152921504606846976.0"
               " / CAST(kth AS DOUBLE) END", 6)} AS kmv_estimate,
           {sql_stable_round(
               "(CASE WHEN kth IS NULL THEN CAST(n_exact AS DOUBLE)"
               f" ELSE {events.KMV_K - 1}.0 * 1152921504606846976.0"
               " / CAST(kth AS DOUBLE) END"
               " - n_exact) / n_exact", 6)} AS rel_err
    FROM stats
    ORDER BY event_type
    """,
)

_register(
    "events_late_arrivals",
    events.events_late_arrivals,
    f"""
    WITH x AS (
        -- same deterministic md5 jitter as the Spark plan: simulated
        -- arrival = event time + 0-2 min network delay
        SELECT event_id, event_type, epoch_us(ts) AS t,
               epoch_us(ts)
                   + {sql_base_hash("CAST(event_id AS VARCHAR)")}
                     % {events.LATE_JITTER_US} AS arr
        FROM events
    ), y AS (
        SELECT event_type, t,
               MAX(t) OVER (ORDER BY arr, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS rm
        FROM x
    )
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN t < rm - {events.LATE_WATERMARK_US}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           {sql_stable_round(
               f'CAST(SUM(CASE WHEN t < rm - {events.LATE_WATERMARK_US}'
               ' THEN 1 ELSE 0 END) AS DOUBLE)'
               ' / CAST(COUNT(*) AS DOUBLE)', 6)} AS late_rate,
           {sql_stable_round(
               'CAST(MAX(rm - t) AS DOUBLE) / 1e6', 6)} AS max_disorder_s
    FROM y
    GROUP BY event_type
    ORDER BY event_type
    """,
)

_register(
    "events_changepoint",
    events.events_changepoint,
    f"""
    WITH hourly AS (
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
               event_type, COUNT(*) AS n_events
        FROM events
        GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type, COUNT(*) AS n_hours,
               {sql_stable_round(
                   'CAST(SUM(CAST(n_events AS DECIMAL(38,6))) AS DOUBLE)'
                   ' / CAST(COUNT(*) AS DOUBLE)', 6)} AS mean_all
        FROM hourly GROUP BY 1
    ),
    swept AS (
        SELECT h.event_type, h.hour, h.n_events,
               abs({sql_stable_round(
                   'CAST(SUM(CAST(h.n_events - s.mean_all'
                   ' AS DECIMAL(38,12))) OVER ('
                   ' PARTITION BY h.event_type ORDER BY h.hour'
                   ' ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)'
                   ' AS DOUBLE)', 6)}) AS acusum
        FROM hourly h JOIN stats s USING (event_type)
    ),
    cp AS (
        SELECT event_type, hour AS cp_hour, acusum AS cusum_peak
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY event_type
                  ORDER BY acusum DESC, hour) AS rn
              FROM swept)
        WHERE rn = 1
    ),
    sides AS (
        SELECT h.event_type,
               {_davg(
                   "CASE WHEN h.hour <= c.cp_hour THEN h.n_events END",
                   "mean_before")},
               {_davg(
                   "CASE WHEN h.hour > c.cp_hour THEN h.n_events END",
                   "mean_after")}
        FROM hourly h JOIN cp c USING (event_type)
        GROUP BY 1
    )
    SELECT s.event_type, s.n_hours, c.cp_hour, c.cusum_peak,
           d.mean_before, d.mean_after,
           {sql_stable_round('d.mean_after - d.mean_before', 6)} AS shift
    FROM stats s
    JOIN cp c USING (event_type)
    JOIN sides d USING (event_type)
    ORDER BY s.event_type
    """,
)


# -- round 10: distribution/inequality analytics, prefix dedup, pair-sample
# similarity geometry, lexical richness, token-budget selection ---------------

_register(
    "supplier_gini",
    tpch.supplier_gini,
    tpch.ORACLES_TPCH["supplier_gini"],
)
_register(
    "orders_benford",
    tpch.orders_benford,
    tpch.ORACLES_TPCH["orders_benford"],
)
_register(
    "part_price_dispersion",
    tpch.part_price_dispersion,
    tpch.ORACLES_TPCH["part_price_dispersion"],
)
_register(
    "customer_order_gap",
    tpch.customer_order_gap,
    tpch.ORACLES_TPCH["customer_order_gap"],
)
_register(
    "events_interarrival",
    events.events_interarrival,
    events.ORACLES["events_interarrival"],
)
_register(
    "events_lorenz",
    events.events_lorenz,
    events.ORACLES["events_lorenz"],
)
_register(
    "events_dow_hour",
    events.events_dow_hour,
    events.ORACLES["events_dow_hour"],
)
_register(
    "dedup_doc_prefix",
    dedup.dedup_doc_prefix,
    dedup.ORACLES["dedup_doc_prefix"],
)
_register(
    "embedding_pair_sim_hist",
    similarity.embedding_pair_sim_hist,
    similarity.ORACLES["embedding_pair_sim_hist"],
)
_register(
    "text_ttr_hapax",
    textanalysis.text_ttr_hapax,
    textanalysis.ORACLES["text_ttr_hapax"],
)
_register(
    "text_token_entropy",
    textanalysis.text_token_entropy,
    textanalysis.ORACLES["text_token_entropy"],
)
_register(
    "corpus_token_budget",
    textanalysis.corpus_token_budget,
    textanalysis.ORACLES["corpus_token_budget"],
)


# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q5 shape, exercises scan+filter+6-way join+
    agg+sort) on /root/testdata/sf0.001."""
    return tpch.q5_local_supplier(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLE)
