"""Relational coverage queries over the TPC-H-ish tables + events.

These exercise the Spark primitives that SURVEY.md §2 maps the
reference's capabilities onto: equi-join / broadcast join (J1,
`top_customers_revenue`), left-anti join (J2/J3 — the failed-rows and
resume anti-joins, `orders_no_bigline`), group-by collect (A1,
blocks/simplestrat.py:141-145, `users_by_event_type`), scan + agg
(A2, `pricing_summary`), ordering + limit (W1/W2), and analytic
windows that the reference lacks but the Spark engine provides as
first-class operators: row_number (`latest_event_per_user`), a
moving-average frame (`value_moving_avg`) and lag + running sum over
timestamps (`sessionize`). The JSON-unpack histogram (A6/F3) lives in
advancedq's `json_repair_stats`.

Scale notes: `top_customers_revenue` broadcasts the dimension side
(customer/nation are small dims); `orders_no_bigline` is a shuffle
anti-join AQE can convert to broadcast when the filtered right side is
small; the windowed queries shuffle once on the partition key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from curator_spark.queries.common import t


# ---------------------------------------------------------------------------
# pricing_summary — TPC-H Q1-shaped scan+agg (whole-stage codegen path).
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))),
                2,
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# top_customers_revenue — 3-way join with broadcast dims + top-k.
# ---------------------------------------------------------------------------

def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    rev = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))),
                2,
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )
    return rev.orderBy(F.col("revenue").desc(), F.col("c_custkey")).limit(10)


SQL_TOP_CUSTOMERS = """
SELECT c_custkey, c_name,
       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
       count(*)::BIGINT AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey
LIMIT 10
"""


# ---------------------------------------------------------------------------
# orders_no_bigline — left-anti join (reference J2 failed-rows /
# J3 resume semantics, base_request_processor.py:512-537, :609-651).
# ---------------------------------------------------------------------------

def q_orders_no_bigline(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    big = li.where(F.col("l_quantity") > 45).select("l_orderkey")
    return (
        orders.join(big, orders["o_orderkey"] == big["l_orderkey"], "left_anti")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_totalprice"),
        )
    )


SQL_ORDERS_NO_BIGLINE = """
SELECT o_orderstatus,
       count(*)::BIGINT AS n_orders,
       round(sum(o_totalprice), 2) AS sum_totalprice
FROM orders
WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# users_by_event_type — group-by collect (reference A1,
# blocks/simplestrat.py:141-145: groupby + list aggregation).
# ---------------------------------------------------------------------------

def q_users_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    # `users` is emitted as a comma-joined scalar (not array<string>):
    # the driver's oracle canonicalizer sorts/hashes column values and
    # cannot handle list cells.
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("user_id"))).alias("users"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


SQL_USERS_BY_EVENT_TYPE = """
SELECT event_type,
       array_to_string(list_sort(list(DISTINCT user_id)), ',') AS users,
       count(*)::BIGINT AS n_events,
       round(sum(value), 2) AS sum_value
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# latest_event_per_user — row_number window (order-restoring sort W1
# generalized to per-key latest).
# ---------------------------------------------------------------------------

def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", F.round("value", 2).alias("value"))
    )


SQL_LATEST_EVENT_PER_USER = """
SELECT user_id, event_id, event_type, round(value, 2) AS value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# sessionize — gap-based sessionization via lag + cumulative sum
# (stateful-op capability the reference lacks; batch analog of
# Structured Streaming session windows).
# ---------------------------------------------------------------------------

SESSION_GAP_MIN = 30


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    new_sess = F.when(
        gap.isNull() | (gap > SESSION_GAP_MIN * 60), F.lit(1)
    ).otherwise(F.lit(0))
    sess = ev.withColumn("new_sess", new_sess).withColumn(
        "session_id", F.sum("new_sess").over(w)
    )
    return sess.groupBy("user_id").agg(
        F.max("session_id").cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


SQL_SESSIONIZE = f"""
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('second', lag(ts) OVER w, ts) > {SESSION_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id,
         sum(new_sess) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS session_id
  FROM g
)
SELECT user_id, max(session_id)::BIGINT AS n_sessions,
       count(*)::BIGINT AS n_events
FROM s GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# value_moving_avg — per-user 5-event moving average over event time
# (the reference's deque(50) output-token MVA, base_online:32,581-585,
# as a proper window frame). One shuffle on user_id; the frame scan is
# a single ordered pass per partition.
# ---------------------------------------------------------------------------

def q_value_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    return (
        t(spark, sf_dir, "events")
        .withColumn("mva", F.round(F.avg("value").over(w), 6))
        .select("event_id", "user_id", "mva")
    )


SQL_VALUE_MOVING_AVG = """
SELECT event_id, user_id,
       round(avg(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS mva
FROM events
"""


QUERIES = {
    "pricing_summary": q_pricing_summary,
    "value_moving_avg": q_value_moving_avg,
    "top_customers_revenue": q_top_customers,
    "orders_no_bigline": q_orders_no_bigline,
    "users_by_event_type": q_users_by_event_type,
    "latest_event_per_user": q_latest_event_per_user,
    "sessionize": q_sessionize,
}

ORACLES = {
    "pricing_summary": SQL_PRICING_SUMMARY,
    "value_moving_avg": SQL_VALUE_MOVING_AVG,
    "top_customers_revenue": SQL_TOP_CUSTOMERS,
    "orders_no_bigline": SQL_ORDERS_NO_BIGLINE,
    "users_by_event_type": SQL_USERS_BY_EVENT_TYPE,
    "latest_event_per_user": SQL_LATEST_EVENT_PER_USER,
    "sessionize": SQL_SESSIONIZE,
}
