"""Relational engine surface: TPC-H-style joins/aggregations, window
functions, grouping sets, sessionization, set operations.

The reference implements none of these (SURVEY.md §2.6) — they come "for
free" from the DataFrame/SQL surface; this module pins their semantics with
DuckDB oracles and encodes the scale decisions (broadcast the dimension
tables, keep aggregates partial-aggregatable, derive deterministic top-k via
rank-over-rounded rather than LIMIT so float summation order can't flip the
cut line).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from kafka_stream_unify_order_messages_spark.registry import query
from kafka_stream_unify_order_messages_spark.sources.files import load_table


# ---------------------------------------------------------------------------
# Multi-way join with broadcast dimensions (TPC-H Q5 flavor)
# ---------------------------------------------------------------------------


@query(
    "region_revenue",
    """
SELECT r.r_name AS region_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       count(*) AS n_lineitems
FROM lineitem l
JOIN orders o    ON l.l_orderkey = o.o_orderkey
JOIN customer c  ON o.o_custkey = c.c_custkey
JOIN nation n    ON c.c_nationkey = n.n_nationkey
JOIN region r    ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
)
def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # dimension tables are tiny at every sf -> broadcast, no shuffle join
    cust = F.broadcast(load_table(spark, sf_dir, "customer"))
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# ---------------------------------------------------------------------------
# Join + deterministic top-k (TPC-H Q3 flavor, rank instead of LIMIT)
# ---------------------------------------------------------------------------


@query(
    "top_orders_by_revenue",
    """
WITH order_rev AS (
    SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
)
SELECT o_orderkey, o_orderdate, o_orderpriority, revenue
FROM (
    SELECT *, row_number() OVER (
        ORDER BY revenue DESC, o_orderkey
    ) AS rnk
    FROM order_rev
)
WHERE rnk <= 20
""",
)
def top_orders_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").filter(
            F.col("c_mktsegment") == "BUILDING"
        )
    )
    order_rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    # rank over the *rounded* revenue so the cut line is float-drift-proof
    w = Window.orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
    return (
        order_rev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 20)
        .drop("rnk")
    )


# ---------------------------------------------------------------------------
# Simple predicate aggregation (TPC-H Q6 flavor: forecast revenue change)
# ---------------------------------------------------------------------------


@query(
    "filtered_revenue",
    """
SELECT round(sum(l_extendedprice * l_discount), 2) AS promo_revenue,
       count(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def filtered_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "promo_revenue"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Window functions: lag/lead/rank/running aggregate per key
# ---------------------------------------------------------------------------


@query(
    "window_functions",
    """
SELECT event_id, user_id, ts, value,
       lag(event_id)  OVER w AS prev_event_id,
       lead(event_id) OVER w AS next_event_id,
       row_number()   OVER w AS seq_no,
       round(sum(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ), 2) AS running_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return events.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.lag("event_id").over(w).alias("prev_event_id"),
        F.lead("event_id").over(w).alias("next_event_id"),
        F.row_number().over(w).alias("seq_no"),
        F.round(F.sum("value").over(wsum), 2).alias("running_value"),
    )


# ---------------------------------------------------------------------------
# Time-RANGE window frame: trailing 1-hour rolling aggregates per key —
# the rangeBetween complement to window_functions' ROWS frames (peers
# enter the frame by timestamp distance, not row position). Epoch-second
# ordering keys keep the frame boundaries integer-exact on both engines.
# ---------------------------------------------------------------------------


@query(
    "rolling_time_window",
    """
SELECT event_id, user_id,
       epoch_us(ts) // 1000000 AS epoch_s,
       CAST(count(*) OVER w AS BIGINT) AS n_1h,
       round(sum(value) OVER w, 2) AS sum_1h
FROM events
WINDOW w AS (
    PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
    RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW
)
""",
)
def rolling_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    epoch_s = F.col("ts").cast("timestamp").cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_s)
        .rangeBetween(-3599, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        epoch_s.alias("epoch_s"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_1h"),
        F.round(F.sum("value").over(w), 2).alias("sum_1h"),
    )


# ---------------------------------------------------------------------------
# Sliding-window aggregation: each event lands in window/slide overlapping
# windows (F.window with slide in Spark; explicit 2-window expansion in the
# oracle). Epoch-second window keys dodge timestamp-type mismatches.
# ---------------------------------------------------------------------------


@query(
    "sliding_window_agg",
    """
WITH expanded AS (
    SELECT (CAST(floor(epoch(ts) / 43200) AS BIGINT) - k) * 43200
               AS window_start_epoch,
           event_type, value
    FROM events, unnest(generate_series(0, 1)) AS t(k)
)
SELECT window_start_epoch, event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM expanded
GROUP BY window_start_epoch, event_type
""",
)
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 day", "12 hours").alias("window"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").cast("timestamp").cast("long")
            .alias("window_start_epoch"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Trending top-k per tumbling window (streaming/windowed.py:trending_topk
# batch path; the streaming path aggregates in the stream and ranks in
# foreachBatch — tests/test_windowed_stream.py drives that wiring)
# ---------------------------------------------------------------------------


@query(
    "trending_topk",
    """
WITH counts AS (
    SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT)
               AS window_start_epoch,
           event_type, count(*) AS n
    FROM events GROUP BY 1, 2
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY window_start_epoch ORDER BY n DESC, event_type
    ) AS rnk
    FROM counts
)
SELECT window_start_epoch, event_type, n, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 3
""",
)
def trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.streaming.windowed import (
        trending_topk as _tt,
    )

    events = load_table(spark, sf_dir, "events")
    out = _tt(events, ts_col="ts", key_col="event_type",
              window="1 day", k=3)
    return out.select(
        F.col("window_start").cast("timestamp").cast("long").alias(
            "window_start_epoch"
        ),
        "event_type",
        "n",
        "rnk",
    )


# ---------------------------------------------------------------------------
# Tumbling-window aggregation (batch analogue of streaming windowed aggs)
# ---------------------------------------------------------------------------


@query(
    "tumbling_window_agg",
    """
SELECT date_trunc('day', ts) AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value,
       round(avg(value), 4) AS avg_value
FROM events
GROUP BY date_trunc('day', ts), event_type
""",
)
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("day", "ts").cast("timestamp_ntz").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


# ---------------------------------------------------------------------------
# Rollup / grouping sets
# ---------------------------------------------------------------------------


@query(
    "rollup_agg",
    """
SELECT event_type, user_id,
       count(*) AS n,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY ROLLUP (event_type, user_id)
""",
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.rollup("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Sessionization (gaps-and-islands, 30-minute inactivity gap) — the batch
# analogue of streaming session windows, and a core training-data op
# ---------------------------------------------------------------------------


@query(
    "sessionize",
    """
WITH gaps AS (
    SELECT user_id, event_id, ts,
           CASE WHEN ts - lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                ) > INTERVAL 30 MINUTE
                OR lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                ) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
), sessions AS (
    SELECT user_id, event_id, ts,
           CAST(sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS session_no
    FROM gaps
)
SELECT user_id, session_no,
       count(*) AS n_events,
       min(ts) AS session_start,
       max(ts) AS session_end
FROM sessions
GROUP BY user_id, session_no
""",
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ has no direct long cast; go through LTZ (session tz = UTC) seconds
    secs = F.col("ts").cast("timestamp").cast("long")
    gap = secs - F.lag(secs).over(w)
    new_session = F.when(
        gap.isNull() | (gap > 30 * 60), F.lit(1)
    ).otherwise(F.lit(0))
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = events.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(new_session).over(wsum).alias("session_no"),
    )
    return sessions.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


# ---------------------------------------------------------------------------
# Set operations: EXCEPT / INTERSECT
# ---------------------------------------------------------------------------


@query(
    "set_ops",
    """
(SELECT DISTINCT user_id FROM events
 WHERE event_type = 'click' AND value > 150
 INTERSECT
 SELECT DISTINCT user_id FROM events
 WHERE event_type = 'purchase' AND value > 150)
EXCEPT
SELECT DISTINCT user_id FROM events
WHERE event_type = 'error' AND value > 195
""",
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")

    def users(t: str, threshold: float) -> DataFrame:
        return (
            events.filter((F.col("event_type") == t) & (F.col("value") > threshold))
            .select("user_id")
            .distinct()
        )

    return (
        users("click", 150.0)
        .intersect(users("purchase", 150.0))
        .exceptAll(users("error", 195.0))
    )


# ---------------------------------------------------------------------------
# Top-k per group (window rank) — classic per-partition selection
# ---------------------------------------------------------------------------


@query(
    "topk_per_group",
    """
SELECT user_id, event_id, value, rnk
FROM (
    SELECT user_id, event_id, value,
           row_number() OVER (
               PARTITION BY user_id ORDER BY value DESC, event_id
           ) AS rnk
    FROM events
)
WHERE rnk <= 3
""",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    return (
        events.select(
            "user_id", "event_id", "value", F.row_number().over(w).alias("rnk")
        )
        .filter(F.col("rnk") <= 3)
    )


# ---------------------------------------------------------------------------
# Anti/semi joins (orders without any lineitem shipped after a date, etc.)
# ---------------------------------------------------------------------------


@query(
    "semi_anti_join",
    """
SELECT o.o_orderkey, 'has_late_ship' AS tag
FROM orders o
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > TIMESTAMP '2000-01-01 00:00:00'
)
UNION ALL
SELECT o.o_orderkey, 'no_lineitems' AS tag
FROM orders o
WHERE NOT EXISTS (
    SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
)
""",
)
def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = li.filter(
        F.col("l_shipdate") > F.lit("2000-01-01").cast("timestamp_ntz")
    )
    has_late = (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .select("o_orderkey", F.lit("has_late_ship").alias("tag"))
    )
    no_items = (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_anti")
        .select("o_orderkey", F.lit("no_lineitems").alias("tag"))
    )
    return has_late.unionByName(no_items)


# ---------------------------------------------------------------------------
# As-of join (operators.temporal): for each purchase, the latest prior (or
# simultaneous) click of the same user. Spark shape: tagged union + running
# last-ignorenulls — one shuffle, no row multiplication (vs DuckDB's native
# ASOF JOIN / inequality join).
# ---------------------------------------------------------------------------


@query(
    "asof_join_events",
    """
WITH l AS (
    SELECT event_id, user_id, ts, value FROM events
    WHERE event_type = 'purchase'
), r AS (
    SELECT event_id, user_id, ts, value FROM events
    WHERE event_type = 'click'
), ranked AS (
    SELECT l.event_id, l.user_id, l.ts, l.value,
           r.event_id AS event_id_r, r.ts AS ts_r, r.value AS value_r,
           row_number() OVER (
               PARTITION BY l.event_id ORDER BY r.ts DESC, r.event_id DESC
           ) AS rn
    FROM l LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
)
SELECT event_id, user_id, ts, value, event_id_r, ts_r, value_r
FROM ranked WHERE rn = 1
""",
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.operators.temporal import asof_join

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    return asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["event_id", "ts", "value"],
        tiebreak="event_id",
    )


# ---------------------------------------------------------------------------
# Range (band) join via interval bucketing: clicks within 2 h after each
# purchase, same user. The bucket trick turns the band predicate into an
# equi-join on (key, bucket) — the only shape that scales on a cluster.
# ---------------------------------------------------------------------------


@query(
    "range_join_events",
    """
SELECT a.event_id AS l_event_id, a.user_id AS l_user_id, a.ts AS l_ts,
       b.event_id AS r_event_id, b.ts AS r_ts
FROM events a
JOIN events b ON a.user_id = b.user_id
WHERE a.event_type = 'purchase' AND b.event_type = 'click'
  AND epoch_us(b.ts) >= epoch_us(a.ts)
  AND epoch_us(b.ts) < epoch_us(a.ts) + 7200000000
""",
)
def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.operators.temporal import range_join

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    joined = range_join(
        purchases, clicks, on="user_id", lower_s=0.0, upper_s=7200.0
    )
    return joined.select(
        "l_event_id", "l_user_id", "l_ts", "r_event_id", "r_ts"
    )


# ---------------------------------------------------------------------------
# Skew-resilient two-phase salted aggregation (operators.skew): result is
# identical to a direct groupBy — the salt only reshapes the shuffle.
# ---------------------------------------------------------------------------


@query(
    "salted_user_totals",
    """
SELECT user_id,
       count(*) AS n_events,
       round(sum(value), 4) AS total_value,
       min(event_id) AS first_event
FROM events
GROUP BY user_id
""",
)
def salted_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.operators.skew import salted_agg

    events = load_table(spark, sf_dir, "events")
    out = salted_agg(
        events,
        ["user_id"],
        {
            "n_events": ("event_id", "count"),
            "total_value": ("value", "sum"),
            "first_event": ("event_id", "min"),
        },
        n_salts=16,
    )
    return out.select(
        "user_id",
        "n_events",
        F.round("total_value", 4).alias("total_value"),
        "first_event",
    )


# ---------------------------------------------------------------------------
# TPC-H Q17-style correlated aggregate: lineitems below 20% of their
# part's average quantity (broadcast the per-part averages).
# ---------------------------------------------------------------------------


@query(
    "small_quantity_revenue",
    """
WITH part_avg AS (
    SELECT l_partkey, avg(l_quantity) AS avg_qty
    FROM lineitem GROUP BY l_partkey
)
SELECT count(*) AS n_items,
       round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem l
JOIN part_avg p ON l.l_partkey = p.l_partkey
WHERE l.l_quantity < 0.2 * p.avg_qty
""",
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part_avg = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    joined = li.join(F.broadcast(part_avg), "l_partkey").filter(
        F.col("l_quantity") < 0.2 * F.col("avg_qty")
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q15-style: top suppliers by quarterly revenue (agg + global max
# via a broadcast single-row join, not a driver collect).
# ---------------------------------------------------------------------------


@query(
    "top_supplier_revenue",
    """
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY l_suppkey
)
SELECT r.supplier_no, s.s_name, r.total_revenue
FROM revenue r
JOIN supplier s ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        revenue.join(F.broadcast(max_rev), revenue.total_revenue == F.col("mx"))
        .join(
            F.broadcast(supplier),
            revenue.supplier_no == F.col("s_suppkey"),
        )
        .select("supplier_no", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# CUBE aggregation (all grouping-set combinations) — completes the
# grouping-sets family next to rollup_agg.
# ---------------------------------------------------------------------------


@query(
    "cube_agg",
    """
SELECT coalesce(event_type, '<all>') AS event_type,
       coalesce(CAST(user_id % 10 AS VARCHAR), '<all>') AS user_bucket,
       count(*) AS n,
       round(sum(value), 4) AS total
FROM events
GROUP BY CUBE (event_type, CAST(user_id % 10 AS VARCHAR))
""",
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    bucket = (F.col("user_id") % 10).cast("string")
    return (
        events.cube(F.col("event_type"), bucket.alias("user_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total"),
        )
        .select(
            F.coalesce("event_type", F.lit("<all>")).alias("event_type"),
            F.coalesce("user_bucket", F.lit("<all>")).alias("user_bucket"),
            "n",
            "total",
        )
    )


# ---------------------------------------------------------------------------
# Approximate quantiles (the sketch path for 100 TB percentile queries).
# Sketch outputs are engine-specific, so the oracle checks EXACT quantiles
# and the pytest suite bounds the sketch's rank error against them; the
# registry query returns the exact-interpolated percentile on both engines
# (Spark percentile == DuckDB quantile_cont).
# ---------------------------------------------------------------------------


@query(
    "value_percentiles",
    """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events
GROUP BY event_type
""",
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q4-style: order-priority counts for orders with at least one late
# lineitem (EXISTS -> left-semi join).
# ---------------------------------------------------------------------------


@query(
    "order_priority_counts",
    """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o_orderpriority
""",
)
def order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


# ---------------------------------------------------------------------------
# TPC-H Q12-style: shipmode-bucketed priority counts (conditional sums).
# The events table lacks shipmode; bucket lineitems by a derived mode.
# ---------------------------------------------------------------------------


@query(
    "shipmode_priority",
    """
SELECT CASE CAST(l_orderkey % 3 AS INTEGER)
           WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP' ELSE 'RAIL' END AS mode,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1
""",
)
def shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    orders = load_table(spark, sf_dir, "orders")
    mode = (
        F.when(F.col("l_orderkey") % 3 == 0, "MAIL")
        .when(F.col("l_orderkey") % 3 == 1, "SHIP")
        .otherwise("RAIL")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(mode.alias("mode"))
        .agg(
            F.sum(high.cast("long")).alias("high_line_count"),
            F.sum((~high).cast("long")).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q14-style: promo revenue share — a conditional-aggregate ratio.
# ---------------------------------------------------------------------------


@query(
    "promo_revenue_share",
    """
SELECT round(
    100.0 * sum(CASE WHEN p.p_type LIKE 'PROMO%'
                     THEN l.l_extendedprice * (1 - l.l_discount)
                     ELSE 0 END)
    / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_share
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
""",
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_share")
        )
    )


# ---------------------------------------------------------------------------
# PIVOT: event counts per user bucket x event type (wide reshaping).
# ---------------------------------------------------------------------------


@query(
    "pivot_event_counts",
    """
SELECT user_bucket,
       coalesce("click", 0) AS click,
       coalesce("view", 0) AS view,
       coalesce("signup", 0) AS signup,
       coalesce("purchase", 0) AS purchase,
       coalesce("error", 0) AS error
FROM (
    SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket, event_type
    FROM events
) PIVOT (count(*) FOR event_type IN
         ('click', 'view', 'signup', 'purchase', 'error'))
""",
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    types = ["click", "view", "signup", "purchase", "error"]
    out = (
        events.select(
            (F.col("user_id") % 10).alias("user_bucket"), "event_type"
        )
        .groupBy("user_bucket")
        .pivot("event_type", types)
        .count()
    )
    return out.select(
        "user_bucket",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types],
    )


# ---------------------------------------------------------------------------
# UNPIVOT (melt): wide per-part metrics back to long form.
# ---------------------------------------------------------------------------


@query(
    "unpivot_part_metrics",
    """
SELECT p_partkey, metric, value
FROM (
    SELECT p_partkey,
           CAST(p_size AS DOUBLE) AS size,
           p_retailprice AS retailprice
    FROM part
) UNPIVOT (value FOR metric IN (size, retailprice))
""",
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    wide = part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").alias("retailprice"),
    )
    return wide.unpivot(
        "p_partkey", ["size", "retailprice"], "metric", "value"
    )


# ---------------------------------------------------------------------------
# Scalar-function parity sweep: date arithmetic + string functions in one
# deterministic projection (broad built-in coverage, oracle-checked).
# ---------------------------------------------------------------------------


@query(
    "scalar_function_sweep",
    """
SELECT o_orderkey,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
       CAST(extract(year FROM o_orderdate) AS INTEGER) AS yr,
       CAST(extract(dow FROM o_orderdate) AS INTEGER) AS dow,
       CAST(o_orderdate + INTERVAL 90 DAY AS TIMESTAMP) AS due_date,
       upper(substr(o_orderpriority, 1, 1)) AS prio_initial,
       replace(o_orderstatus, 'O', 'OPEN') AS status_word,
       lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS padded_key,
       length(o_orderpriority) AS prio_len,
       CAST(floor(o_totalprice / 100.0) AS BIGINT) AS price_hundreds
FROM orders
WHERE o_orderkey % 10 = 0
""",
)
def scalar_function_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 10 == 0
    )
    # DuckDB dow: Sunday=0; Spark dayofweek: Sunday=1
    return orders.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").cast("timestamp_ntz").alias("month_start"),
        F.year("o_orderdate").alias("yr"),
        (F.dayofweek("o_orderdate") - 1).alias("dow"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")).alias("due_date"),
        F.upper(F.substring("o_orderpriority", 1, 1)).alias("prio_initial"),
        F.replace(F.col("o_orderstatus"), F.lit("O"), F.lit("OPEN")).alias(
            "status_word"
        ),
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0").alias("padded_key"),
        F.length("o_orderpriority").cast("long").alias("prio_len"),
        F.floor(F.col("o_totalprice") / 100.0).cast("long").alias("price_hundreds"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q13 shape: order-count-per-customer distribution (left outer join
# preserving zero-order customers, then a histogram of the counts).
# ---------------------------------------------------------------------------


@query(
    "cust_order_distribution",
    """
WITH c_orders AS (
    SELECT c.c_custkey, count(o.o_orderkey) AS c_count
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
)
SELECT c_count, count(*) AS custdist
FROM c_orders
GROUP BY c_count
""",
)
def cust_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    c_orders = (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey, "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return c_orders.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# TPC-H Q18 shape: large-volume orders — orders whose total quantity
# exceeds a threshold, joined back to customer. The IN-subquery form
# becomes aggregate -> filter -> two broadcast-able joins.
# ---------------------------------------------------------------------------


@query(
    "big_orders",
    """
WITH big AS (
    SELECT l_orderkey, sum(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY l_orderkey
    HAVING sum(l_quantity) > 250
)
SELECT c.c_name, o.o_custkey, o.o_orderkey,
       CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
       o.o_totalprice, big.sum_qty
FROM big
JOIN orders o ON o.o_orderkey = big.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
""",
)
def big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    # `big` is the post-aggregate, post-filter side — tiny; broadcasting
    # it turns both probe joins into broadcast hash joins over one
    # orders/customer scan each (no shuffle of the fact tables)
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_name",
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty",
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q22 shape: "idle rich customers" — above-average account balance
# (scalar subquery) with no URGENT order (anti join on a filtered fact
# side; in this synthetic data every customer has *some* order), grouped
# by segment.
# ---------------------------------------------------------------------------


@query(
    "idle_rich_customers",
    """
SELECT c_mktsegment,
       count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer c
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
""",
)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    # scalar subquery -> a literal computed by a 1-row aggregate; Spark
    # supports correlated scalar subqueries in SQL, but expressing it as
    # a cross-joined 1-row frame keeps the whole plan in one DataFrame
    avg_bal = customer.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("_avg_bal")
    )
    rich = customer.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("_avg_bal")
    )
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    idle_rich = rich.join(
        urgent, rich.c_custkey == urgent.o_custkey, "left_anti"
    )
    return idle_rich.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
    )


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS (the general form rollup/cube specialize):
# per-(type,bucket) cells plus per-type and per-bucket margins — but NOT
# the grand total, which neither rollup nor cube can omit. Uses the SQL
# surface directly; grouping_id() disambiguates margin rows from real
# NULL-valued groups on both engines.
# ---------------------------------------------------------------------------


@query(
    "grouping_sets_agg",
    """
SELECT coalesce(event_type, '<margin>') AS event_type,
       coalesce(CAST(user_id % 7 AS VARCHAR), '<margin>') AS user_bucket,
       CAST(grouping(event_type) * 2 + grouping(user_id % 7) AS BIGINT)
           AS gid,
       count(*) AS n,
       round(sum(value), 2) AS total
FROM events
GROUP BY GROUPING SETS ((event_type, user_id % 7), (event_type),
                        (user_id % 7))
""",
)
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    events.createOrReplaceTempView("events_gs")
    return spark.sql(
        """
        SELECT coalesce(event_type, '<margin>') AS event_type,
               coalesce(CAST(user_id % 7 AS STRING), '<margin>')
                   AS user_bucket,
               CAST(grouping(event_type) * 2 + grouping(user_id % 7)
                   AS BIGINT) AS gid,
               count(*) AS n,
               round(sum(value), 2) AS total
        FROM events_gs
        GROUP BY GROUPING SETS ((event_type, user_id % 7), (event_type),
                                (user_id % 7))
        """
    )


# ---------------------------------------------------------------------------
# TPC-H Q2 shape: correlated min — for each part, the supplier(s) whose
# mean unit price is the part's minimum. The correlated subquery becomes
# a window min over the per-(part,supplier) aggregate: one shuffle, no
# join back to the fact table.
# ---------------------------------------------------------------------------


@query(
    "min_cost_supplier",
    """
WITH ps AS (
    SELECT l_partkey, l_suppkey,
           CAST(round(CAST(sum(l_extendedprice) / sum(l_quantity)
                      AS DECIMAL(38,10)), 4) AS DOUBLE) AS unit_price
    FROM lineitem
    GROUP BY l_partkey, l_suppkey
)
SELECT p.l_partkey AS partkey, p.l_suppkey AS suppkey, p.unit_price,
       s.s_name
FROM ps p
JOIN supplier s ON s.s_suppkey = p.l_suppkey
WHERE p.unit_price = (SELECT min(unit_price) FROM ps p2
                      WHERE p2.l_partkey = p.l_partkey)
  AND p.l_partkey % 50 = 0
""",
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supplier = F.broadcast(load_table(spark, sf_dir, "supplier"))
    ps = (
        li.filter(F.col("l_partkey") % 50 == 0)
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            # the ratio is rounded THROUGH decimal(38,10): rounding the
            # raw double hits engine-dependent halfway behavior (Spark
            # rounds the shortest string repr, DuckDB the binary value)
            # once the data is big enough to land on an x.xxxx5 boundary
            F.round(
                (F.sum("l_extendedprice") / F.sum("l_quantity")).cast(
                    "decimal(38,10)"
                ),
                4,
            )
            .cast("double")
            .alias("unit_price")
        )
    )
    # correlated `= (SELECT min ... WHERE p2.partkey = p.partkey)` as a
    # window min — evaluated on the already-aggregated frame, so the
    # second pass over lineitem the subquery implies never happens
    w = Window.partitionBy("l_partkey")
    return (
        ps.withColumn("_min_price", F.min("unit_price").over(w))
        .filter(F.col("unit_price") == F.col("_min_price"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
            "unit_price",
            "s_name",
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q11 shape: groups whose share of a global total exceeds a
# threshold — scalar subquery in HAVING, evaluated as a broadcast 1-row
# cross join against the per-group aggregate.
# ---------------------------------------------------------------------------


@query(
    "significant_parts",
    """
SELECT l_partkey AS partkey,
       round(sum(l_extendedprice), 2) AS part_value
FROM lineitem
GROUP BY l_partkey
HAVING sum(l_extendedprice) > (
    SELECT 0.0005 * sum(l_extendedprice) FROM lineitem
)
""",
)
def significant_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum("l_extendedprice").alias("_raw_value")
    )
    total = li.agg(
        (F.sum("l_extendedprice") * 0.0005).alias("_threshold")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("_raw_value") > F.col("_threshold"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.round("_raw_value", 2).alias("part_value"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q7 shape: bilateral shipping volume between two nations, by the
# supplier-nation x customer-nation pair and ship year. The nation pair
# predicate is a disjunction across the two joined dimensions; both
# nation lookups broadcast, so the only shuffles are the lineitem-orders
# join and the final partial-aggregatable groupBy.
# ---------------------------------------------------------------------------


@query(
    "nation_volume_shipping",
    """
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
""",
)
def nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = F.broadcast(load_table(spark, sf_dir, "supplier"))
    cust = F.broadcast(load_table(spark, sf_dir, "customer"))
    n1 = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("n1_key"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    n2 = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("n2_key"),
            F.col("n_name").alias("cust_nation"),
        )
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q8 shape: national market share — one nation's fraction of a
# region's revenue for one part type, per order year. The per-year ratio
# of two sums is computed in a single aggregate pass (conditional sum /
# total sum), not two scans.
# ---------------------------------------------------------------------------


@query(
    "national_market_share",
    """
WITH all_n AS (
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
           l.l_extendedprice * (1 - l.l_discount) AS volume,
           n2.n_name AS supp_nation
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = n1.n_regionkey
    JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
    WHERE r.r_name = 'AMERICA' AND p.p_type = 'PROMO'
)
SELECT o_year,
       round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
             / sum(volume), 4) AS mkt_share
FROM all_n
GROUP BY o_year
""",
)
def national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = F.broadcast(
        load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    )
    supp = F.broadcast(load_table(spark, sf_dir, "supplier"))
    cust = F.broadcast(load_table(spark, sf_dir, "customer"))
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    # customer-side nation restricted to the region BEFORE the join: the
    # region filter prunes the broadcast build side, not the fact scan
    cust_nation = F.broadcast(
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "AMERICA")
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    supp_nation = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("sn_key"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(cust_nation, F.col("c_nationkey") == F.col("cn_key"))
        .join(supp_nation, F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
                        F.lit(0.0)
                    )
                )
                / F.sum(vol),
                4,
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q9 shape: product-line profit by supplier nation and year. The
# reference dataset has no partsupp table, so supply cost is proxied by
# p_retailprice * l_quantity * 0.4 (same plan shape: 4-way join + LIKE
# filter on part name + two-key aggregate).
# ---------------------------------------------------------------------------


@query(
    "product_profit",
    """
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
       CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                 - 0.4 * p.p_retailprice * l.l_quantity
                 AS DECIMAL(38,10))), 2) AS DOUBLE) AS sum_profit
FROM lineitem l
JOIN part p     ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%bolt%'
GROUP BY n.n_name, year(o.o_orderdate)
""",
)
def product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = F.broadcast(
        load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    )
    supp = F.broadcast(load_table(spark, sf_dir, "supplier"))
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.4 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nation, F.col("s_nationkey") == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            # per-row cast to decimal(38,10) then exact decimal sum:
            # double summation is order-dependent across engines, and a
            # last-ulp difference crosses the .xx5 rounding boundary at
            # scale; decimal addition is exact and order-independent
            F.round(F.sum(profit.cast("decimal(38,10)")), 2)
            .cast("double")
            .alias("sum_profit")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q10 shape: returned-item reporting — top 20 customers by revenue
# lost to returns in one quarter. Deterministic top-k via row_number over
# the rounded revenue (same discipline as top_orders_by_revenue).
# ---------------------------------------------------------------------------


@query(
    "returned_item_customers",
    """
WITH rev AS (
    SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name AS nation,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(22, 6))), 2) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
)
SELECT c_custkey, c_name, c_acctbal, nation, revenue
FROM (
    SELECT *, row_number() OVER (ORDER BY revenue DESC, c_custkey) AS rnk
    FROM rev
)
WHERE rnk <= 20
""",
)
def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    cust = F.broadcast(load_table(spark, sf_dir, "customer"))
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, F.col("c_nationkey") == nation.n_nationkey)
        .groupBy(
            "c_custkey", "c_name", "c_acctbal", F.col("n_name").alias("nation")
        )
        .agg(
            # exact decimal accumulation: double sums are order-dependent in
            # the last ulps, and a 0.005-boundary flip after round(2) breaks
            # value-parity with the oracle; decimal addition is associative
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(22,6)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("c_custkey"))
    return (
        rev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 20)
        .drop("rnk")
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 shape: distinct-supplier counts per part attribute bucket,
# excluding a supplier blacklist (NOT IN -> broadcast left-anti join; the
# dataset has no partsupp, so supplier-part pairs come from lineitem).
# ---------------------------------------------------------------------------


@query(
    "part_supplier_counts",
    """
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#10'
  AND p.p_size IN (5, 10, 15, 20, 25, 30)
  AND l.l_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
  )
GROUP BY p.p_brand, p.p_type, p.p_size
""",
)
def part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = F.broadcast(
        load_table(spark, sf_dir, "part").filter(
            (F.col("p_brand") != "Brand#10")
            & F.col("p_size").isin(5, 10, 15, 20, 25, 30)
        )
    )
    bad_supp = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(bad_supp, li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity bands.
# The part-side conjuncts (brand, size) reduce the broadcast build side;
# the cross-side OR is evaluated post-join. Catalyst extracts the common
# l_quantity <= 30 bound for scan-level pushdown.
# ---------------------------------------------------------------------------


@query(
    "banded_discount_revenue",
    """
SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
""",
)
def banded_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # only the three named brands can ever satisfy the OR: prune the
    # broadcast build side to them before the join
    part = F.broadcast(
        load_table(spark, sf_dir, "part").filter(
            F.col("p_brand").isin("Brand#2", "Brand#3", "Brand#4")
        )
    )
    band = (
        (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#4")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(band)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q20 shape: suppliers with excess shipped volume of one part
# family — a semi-join chain gated by a global scalar threshold (no
# partsupp availqty in this dataset, so the threshold is half the mean
# shipped quantity across (supplier, part) pairs).
# ---------------------------------------------------------------------------


@query(
    "excess_volume_suppliers",
    """
WITH shipped AS (
    SELECT l.l_suppkey, l.l_partkey, sum(l.l_quantity) AS qty
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_name LIKE 'small%'
    GROUP BY l.l_suppkey, l.l_partkey
)
SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE s.s_suppkey IN (
    SELECT l_suppkey FROM shipped
    WHERE qty > (SELECT 0.5 * avg(qty) FROM shipped)
)
""",
)
def excess_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = F.broadcast(
        load_table(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    )
    shipped = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    threshold = shipped.agg((0.5 * F.avg("qty")).alias("_thr"))
    over = (
        shipped.crossJoin(F.broadcast(threshold))
        .filter(F.col("qty") > F.col("_thr"))
        .select("l_suppkey")
    )
    supp = load_table(spark, sf_dir, "supplier")
    return supp.join(
        F.broadcast(over), supp.s_suppkey == over.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


# ---------------------------------------------------------------------------
# TPC-H Q21 shape: suppliers who kept finished orders waiting — the only
# late shipper in a multi-supplier order. No commit/receipt dates in this
# dataset: "late" = shipped > 60 days after the order date. EXISTS
# (another supplier in the order) and NOT EXISTS (another LATE supplier)
# become left-semi / left-anti self-joins of lineitem on the order key.
# ---------------------------------------------------------------------------


@query(
    "waiting_suppliers",
    """
WITH li AS (
    SELECT l.l_orderkey, l.l_suppkey,
           l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY AS late
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus = 'F'
), sole_late AS (
    SELECT DISTINCT a.l_orderkey, a.l_suppkey
    FROM li a
    WHERE a.late
      AND EXISTS (SELECT 1 FROM li b
                  WHERE b.l_orderkey = a.l_orderkey
                    AND b.l_suppkey <> a.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM li c
                      WHERE c.l_orderkey = a.l_orderkey
                        AND c.l_suppkey <> a.l_suppkey AND c.late)
)
SELECT s.s_name, count(*) AS numwait
FROM sole_late sl
JOIN supplier s ON s.s_suppkey = sl.l_suppkey
GROUP BY s.s_name
""",
)
def waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ).alias("late"),
        )
    )
    # per-order supplier profile in ONE aggregate instead of two
    # self-joins: a late supplier is "sole late in a multi-supplier
    # order" iff the order has >1 distinct supplier and exactly one
    # distinct late supplier — computed from a single shuffle of li.
    profile = li.groupBy("l_orderkey").agg(
        F.collect_set("l_suppkey").alias("supps"),
        F.collect_set(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "late_supps"
        ),
    )
    sole = profile.filter(
        (F.size("supps") > 1) & (F.size("late_supps") == 1)
    ).select(F.explode("late_supps").alias("l_suppkey"), "l_orderkey")
    supp = F.broadcast(load_table(spark, sf_dir, "supplier"))
    return (
        sole.join(supp, sole.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Ranking-function sweep: the window ranking surface beyond
# window_functions' lag/lead/row_number — ntile, percent_rank,
# cume_dist, dense_rank, nth/first value. Unique (ts, event_id)
# ordering makes every peer group a single row, so the default RANGE
# frame agrees bit-for-bit across engines.
# ---------------------------------------------------------------------------


@query(
    "ranking_function_sweep",
    """
SELECT event_id, user_id,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       CAST(dense_rank() OVER w AS BIGINT) AS drank,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cdist,
       first_value(event_id) OVER w AS first_event,
       nth_value(event_id, 2) OVER w AS second_event
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def ranking_function_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "event_id",
        "user_id",
        F.ntile(4).over(w).alias("quartile"),
        F.dense_rank().over(w).cast("long").alias("drank"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.first("event_id").over(w).alias("first_event"),
        F.nth_value("event_id", 2).over(w).alias("second_event"),
    )


# ---------------------------------------------------------------------------
# Array / higher-order function sweep: transform, filter, aggregate,
# sort+distinct+slice — the list-processing surface over a bound token
# array (materialized once per row; see the HOF binding note in
# operators/dedup.shingles_from_tokens).
# ---------------------------------------------------------------------------


@query(
    "array_function_sweep",
    """
WITH t AS (
    SELECT doc_id,
           regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
    FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       CAST(list_max(list_transform(toks, x -> length(x))) AS INTEGER)
           AS max_len,
       CAST(len(list_filter(toks, x -> length(x) >= 6)) AS INTEGER)
           AS n_long,
       CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
           AS sum_len,
       array_to_string(
           list_slice(list_sort(list_distinct(toks)), 1, 5), ' '
       ) AS first_uniq
FROM t
""",
)
def array_function_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_stream_unify_order_messages_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    bound = docs.select("doc_id", tokens("text").alias("toks"))
    lens = F.transform(F.col("toks"), lambda x: F.length(x))
    return bound.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.array_max(lens).alias("max_len"),
        F.size(
            F.filter(F.col("toks"), lambda x: F.length(x) >= 6)
        ).alias("n_long"),
        F.aggregate(
            lens, F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("sum_len"),
        F.array_join(
            F.slice(F.array_sort(F.array_distinct("toks")), 1, 5), " "
        ).alias("first_uniq"),
    )


# ---------------------------------------------------------------------------
# Semi-structured VARIANT path: each order serializes to a nested JSON
# payload, parses into Spark's VARIANT type, and is read back with typed
# path extraction (variant_get / try_variant_get). The oracle computes
# the same values straight from the base table — hash equality proves
# the JSON -> VARIANT -> typed-read round-trip is lossless, including
# doubles (Jackson shortest-round-trip printing) and missing-path null
# semantics.
# ---------------------------------------------------------------------------


@query(
    "variant_extract",
    """
SELECT o_orderkey,
       o_orderstatus AS status,
       o_totalprice AS total,
       o_orderkey % 7 AS code0,
       CAST(NULL AS VARCHAR) AS missing
FROM orders
WHERE o_orderkey % 5 = 0
""",
)
def variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 5 == 0
    )
    payload = F.to_json(
        F.struct(
            F.col("o_orderkey").alias("k"),
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.col("o_totalprice").alias("total"),
            ).alias("meta"),
            F.array(
                F.col("o_orderkey") % 7, F.col("o_orderkey") % 11
            ).alias("codes"),
        )
    )
    v = orders.select(
        "o_orderkey", F.parse_json(payload).alias("v")
    )
    return v.select(
        "o_orderkey",
        F.variant_get("v", "$.meta.status", "string").alias("status"),
        F.variant_get("v", "$.meta.total", "double").alias("total"),
        F.variant_get("v", "$.codes[0]", "bigint").alias("code0"),
        F.try_variant_get("v", "$.nope.deep", "string").alias("missing"),
    )


# ---------------------------------------------------------------------------
# RFM segmentation: recency / frequency / monetary quartiles per
# customer — the classic CRM cut. Quartiles via ntile with a customer-
# id tiebreak so bucket edges are deterministic on both engines; one
# aggregation shuffle on the customer key, three windows sharing one
# ordering exchange each.
# ---------------------------------------------------------------------------


@query(
    "rfm_segments",
    """
WITH maxd AS (SELECT max(o_orderdate) AS d FROM orders),
base AS (
    SELECT o_custkey AS custkey,
           date_diff('day', max(o_orderdate), (SELECT d FROM maxd))
               AS recency_days,
           count(*) AS frequency,
           round(sum(o_totalprice), 2) AS monetary
    FROM orders GROUP BY o_custkey
), scored AS (
    SELECT custkey,
           CAST(recency_days AS BIGINT) AS recency_days,
           CAST(frequency AS BIGINT) AS frequency,
           monetary,
           CAST(ntile(4) OVER (ORDER BY recency_days, custkey) AS INTEGER)
               AS r_quartile,
           CAST(ntile(4) OVER (ORDER BY frequency DESC, custkey) AS INTEGER)
               AS f_quartile,
           CAST(ntile(4) OVER (ORDER BY monetary DESC, custkey) AS INTEGER)
               AS m_quartile
    FROM base
)
SELECT custkey, recency_days, frequency, monetary,
       r_quartile, f_quartile, m_quartile,
       CAST(r_quartile AS VARCHAR) || CAST(f_quartile AS VARCHAR)
           || CAST(m_quartile AS VARCHAR) AS rfm
FROM scored
""",
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    maxd = orders.agg(F.max("o_orderdate").alias("d"))
    scored = base.crossJoin(F.broadcast(maxd)).select(
        "custkey",
        F.datediff("d", "last_order").cast("long").alias("recency_days"),
        "frequency",
        "monetary",
    )
    # NOTE: global ntile single-partition-sorts the per-customer frame;
    # acceptable because the input is one row per customer (already the
    # aggregate, not the fact table) — the same license as funnel
    # rollups. For per-segment parallel quantiles use quality_rank_
    # normalize's within-group exact-percentile pattern instead.
    wr = Window.orderBy("recency_days", "custkey")
    wf = Window.orderBy(F.desc("frequency"), "custkey")
    wm = Window.orderBy(F.desc("monetary"), "custkey")
    out = scored.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(4).over(wr).alias("r_quartile"),
        F.ntile(4).over(wf).alias("f_quartile"),
        F.ntile(4).over(wm).alias("m_quartile"),
    )
    return out.withColumn(
        "rfm",
        F.concat(
            F.col("r_quartile").cast("string"),
            F.col("f_quartile").cast("string"),
            F.col("m_quartile").cast("string"),
        ),
    )


# ---------------------------------------------------------------------------
# Market-basket co-occurrence with lift: part pairs bought in the same
# order, lift = P(a,b) / (P(a)·P(b)). The pair space comes from a self-
# join on the order key — bounded by (items per order)^2, ~7 lines per
# TPC-H order, never |parts|^2 — and the per-part supports broadcast
# back onto the tiny pair frame. min_support prunes before lift math.
# ---------------------------------------------------------------------------


@query(
    "basket_lift",
    """
WITH items AS (
    SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
), n_orders AS (
    SELECT count(DISTINCT okey) AS n FROM items
), pairs AS (
    SELECT a.part AS part_a, b.part AS part_b, count(*) AS n_both
    FROM items a JOIN items b
      ON a.okey = b.okey AND a.part < b.part
    GROUP BY a.part, b.part
    HAVING count(*) >= 2
), support AS (
    SELECT part, count(*) AS n_part FROM items GROUP BY part
)
SELECT p.part_a, p.part_b, CAST(p.n_both AS BIGINT) AS n_both,
       CAST(sa.n_part AS BIGINT) AS n_a,
       CAST(sb.n_part AS BIGINT) AS n_b,
       round(p.n_both * (SELECT n FROM n_orders)
             / CAST(sa.n_part * sb.n_part AS DOUBLE), 4) AS lift
FROM pairs p
JOIN support sa ON sa.part = p.part_a
JOIN support sb ON sb.part = p.part_b
""",
)
def basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # ONE shuffle on okey builds per-order item SETS (collect_set dedups
    # (okey, part) exactly like the old DISTINCT); pairs are then
    # generated scan-locally by exploding within each ~7-item set
    # instead of a hash self-join — the old shape shuffled the items
    # frame twice more (both join sides) to meet rows that already sat
    # in the same order (guide §2.3/§2.4: shuffle once, pair locally).
    # Pair blowup per order is (items/order)^2 either way; the bound is
    # the basket size, never |parts|^2.
    # Nulls as in the oracle: a null part never pairs, so collect_set may
    # drop it; a null order adds support only (a filter would split the scan)
    sets = li.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.collect_set("l_partkey").alias("ps")
    )
    n_orders = sets.agg(F.count("okey").alias("n"))
    keyed_ps = F.when(F.col("okey").isNotNull(), F.col("ps"))
    pairs = (
        sets.select(F.col("ps"), F.explode(keyed_ps).alias("part_a"))
        .select(
            "part_a",
            F.explode(
                F.filter(F.col("ps"), lambda x: x > F.col("part_a"))
            ).alias("part_b"),
        )
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 2)
    )
    support = (
        sets.select(F.explode("ps").alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("n_part"))
    )
    return (
        # support joins stay un-hinted: |parts| scales with the data,
        # so AQE should pick broadcast at bench scale and hash at 100 TB
        pairs.join(
            support.select(F.col("part").alias("part_a"),
                           F.col("n_part").alias("n_a")),
            "part_a",
        )
        .join(
            support.select(F.col("part").alias("part_b"),
                           F.col("n_part").alias("n_b")),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_both",
            "n_a",
            "n_b",
            F.round(
                F.col("n_both") * F.col("n")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                4,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Shipping SLA attainment: per ship mode, the on-time rate and the
# p50/p95 breach size in days — the logistics counterpart of a latency
# SLO report. The testdata lineitem carries no commit/receipt dates, so
# both engines derive the same deterministic offsets from the line keys
# (the shipmode_priority convention); the query's shape — one mode-key
# aggregation, exact percentiles over the breach subset — is what a
# real table would run unchanged.
# ---------------------------------------------------------------------------


@query(
    "shipping_sla",
    """
WITH scored AS (
    SELECT CASE CAST(l_orderkey % 3 AS INTEGER)
               WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP' ELSE 'RAIL' END
               AS ship_mode,
           7 + l_orderkey % 5 AS commit_days,
           5 + (l_linenumber * 3) % 11 AS receipt_days
    FROM lineitem
), flagged AS (
    SELECT ship_mode,
           CASE WHEN receipt_days <= commit_days THEN 1 ELSE 0 END
               AS on_time,
           CASE WHEN receipt_days > commit_days
                THEN receipt_days - commit_days END AS late_days
    FROM scored
)
SELECT ship_mode,
       count(*) AS n_shipments,
       round(avg(CAST(on_time AS DOUBLE)), 4) AS on_time_rate,
       CAST(round(quantile_cont(late_days, 0.5), 1) * 10 AS BIGINT)
           AS p50_late_tenths,
       CAST(round(quantile_cont(late_days, 0.95), 1) * 10 AS BIGINT)
           AS p95_late_tenths,
       CAST(max(late_days) AS BIGINT) AS max_late_days
FROM flagged
GROUP BY ship_mode
""",
)
def shipping_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    mode = (
        F.when(F.col("l_orderkey") % 3 == 0, "MAIL")
        .when(F.col("l_orderkey") % 3 == 1, "SHIP")
        .otherwise("RAIL")
    )
    commit_days = F.lit(7) + F.col("l_orderkey") % 5
    receipt_days = F.lit(5) + (F.col("l_linenumber") * 3) % 11
    flagged = li.select(
        mode.alias("ship_mode"),
        (receipt_days <= commit_days).cast("int").alias("on_time"),
        F.when(
            receipt_days > commit_days, receipt_days - commit_days
        ).alias("late_days"),
    )
    return flagged.groupBy("ship_mode").agg(
        F.count(F.lit(1)).alias("n_shipments"),
        F.round(F.avg(F.col("on_time").cast("double")), 4).alias(
            "on_time_rate"
        ),
        (F.round(F.expr("percentile(late_days, 0.5)"), 1) * 10)
        .cast("long")
        .alias("p50_late_tenths"),
        (F.round(F.expr("percentile(late_days, 0.95)"), 1) * 10)
        .cast("long")
        .alias("p95_late_tenths"),
        F.max("late_days").cast("long").alias("max_late_days"),
    )


# ---------------------------------------------------------------------------
# Open-orders backlog over time (concurrent-intervals counting): +1 at
# each order's open day, -1 the day after its close, prefix-summed over
# the tiny day frame — O(orders) deltas, never days x orders. The same
# shape answers concurrent sessions / active tickets / live
# connections. Close dates are derived deterministically (the testdata
# carries none): close = open + (orderkey % 90) days.
# ---------------------------------------------------------------------------


@query(
    "orders_backlog",
    """
WITH spans AS (
    SELECT date_trunc('day', o_orderdate) AS open_day,
           date_trunc('day', o_orderdate)
               + INTERVAL 1 DAY * CAST(o_orderkey % 90 + 1 AS INTEGER)
               AS close_next_day
    FROM orders
), deltas AS (
    SELECT open_day AS day, 1 AS d FROM spans
    UNION ALL
    SELECT close_next_day AS day, -1 AS d FROM spans
), daily AS (
    SELECT day, CAST(sum(d) AS BIGINT) AS net FROM deltas GROUP BY day
)
SELECT day,
       net,
       CAST(sum(net) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS open_orders
FROM daily
""",
)
def orders_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    open_day = F.date_trunc("day", "o_orderdate")
    close_next = F.date_add(
        open_day.cast("date"), (F.col("o_orderkey") % 90 + 1).cast("int")
    ).cast("timestamp_ntz")
    spans = orders.select(
        open_day.alias("open_day"), close_next.alias("close_next_day")
    )
    deltas = spans.select(
        F.col("open_day").alias("day"), F.lit(1).alias("d")
    ).unionByName(
        spans.select(
            F.col("close_next_day").alias("day"), F.lit(-1).alias("d")
        )
    )
    daily = deltas.groupBy("day").agg(F.sum("d").cast("long").alias("net"))
    # the day frame is |distinct days| rows (~years of days, thousands),
    # so the single-partition running-sum window is licensed — the same
    # reasoning as the bucket-offset cumsum in operators/packing.py
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        "day", "net", F.sum("net").over(w).cast("long").alias("open_orders")
    )
