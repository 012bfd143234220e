"""Standard relational surface over the TPC-H-ish fixture tables.

The reference has no value joins or numeric aggregation (SURVEY.md
§2.6-2.7); Spark provides the full surface. These queries exercise
joins (broadcast + shuffle), grouped aggregation, windows, and date
logic — the shapes a 100 TB batch pipeline is made of.

Float determinism: double addition is not associative, so a naive
sum(double) can differ between Spark's partial-agg order and DuckDB's.
Every money sum here accumulates in DECIMAL (exact, associative) and
casts the final value to DOUBLE — bit-identical on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import catalog


def _dsum(col, scale: int = 6):
    """Exact decimal accumulation -> double result (order-insensitive)."""
    return F.sum(col.cast(f"decimal(25,{scale})")).cast("double")


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape over lineitem: the groupBy-agg workhorse.

    Plan shape at scale: parquet scan with shipdate filter pushed
    down, partial hash agg map-side, one shuffle on (returnflag,
    linestatus) — cardinality 6, so AQE coalesces to a handful of
    reducers.
    """
    li = catalog.load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(disc_price).alias("sum_disc_price"),
            _dsum(charge).alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE)
            AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
            AS DECIMAL(25,6))) AS DOUBLE) AS sum_charge,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + top-k.

    customer is tiny → broadcast; orders⋈lineitem is the real shuffle
    join on orderkey. Top-10 with a deterministic tiebreak.
    """
    cust = catalog.load_table(spark, sf_dir, "customer")
    orders = catalog.load_table(spark, sf_dir, "orders")
    li = catalog.load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(cust.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .filter(F.col("o_orderdate") < F.lit("2000-03-15"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6)))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '2000-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join chain through the dimension
    hierarchy. region/nation/supplier/customer are all broadcastable;
    only orders⋈lineitem shuffles."""
    region = catalog.load_table(spark, sf_dir, "region")
    nation = catalog.load_table(spark, sf_dir, "nation")
    cust = catalog.load_table(spark, sf_dir, "customer")
    sup = catalog.load_table(spark, sf_dir, "supplier")
    orders = catalog.load_table(spark, sf_dir, "orders")
    li = catalog.load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(sup),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


Q5_SQL = """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6)))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function surface: rank customers by lifetime order value
    within each nation; keep the top 3. One shuffle for the agg, one
    for the window partition — both on low-skew keys."""
    cust = catalog.load_table(spark, sf_dir, "customer")
    orders = catalog.load_table(spark, sf_dir, "orders")
    totals = (
        orders.groupBy("o_custkey")
        .agg(_dsum(F.col("o_totalprice")).alias("total_spent"), F.count("*").alias("n_orders"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("total_spent"), F.col("c_custkey")
    )
    return (
        totals.withColumn("rank_in_nation", F.row_number().over(w))
        .filter(F.col("rank_in_nation") <= 3)
        .select("c_nationkey", "c_custkey", "c_name", "total_spent", "n_orders", "rank_in_nation")
    )


TOP_CUSTOMERS_SQL = """
WITH totals AS (
  SELECT o_custkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total_spent,
         count(*) AS n_orders
  FROM orders GROUP BY o_custkey
)
SELECT c_nationkey, c_custkey, c_name, total_spent, n_orders,
       CAST(rank_in_nation AS INT) AS rank_in_nation
FROM (
  SELECT c_nationkey, c_custkey, c_name, total_spent, n_orders,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY total_spent DESC, c_custkey) AS rank_in_nation
  FROM totals JOIN customer ON o_custkey = c_custkey
) WHERE rank_in_nation <= 3
"""


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregation (batch form of the
    streaming hourly rollup in streaming/batchcheck.py): per (hour,
    event_type) counts + exact-decimal value sum."""
    from .. import catalog as _cat
    ev = _cat.load_events(spark, sf_dir)
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"), _dsum(F.col("value")).alias("sum_value"))
        .orderBy("hour", "event_type")
    )


EVENTS_HOURLY_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY hour, event_type
"""


def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar-function surface: extract props.k (regexp-based so
    both engines share one semantic) and aggregate per event_type."""
    from .. import catalog as _cat
    ev = _cat.load_events(spark, sf_dir)
    k = F.regexp_extract(F.col("props"), r'"k":\s*(-?\d+)', 1).cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


EVENTS_JSON_SQL = """
SELECT event_type, count(*) AS n,
       CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k
FROM (
  SELECT event_type,
         CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS BIGINT) AS k
  FROM events
) WHERE k IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""


def orders_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-sum window per customer over order time — the classic
    cumulative-metric shape. Decimal accumulation keeps the running
    values exact so every prefix matches the oracle bit-for-bit."""
    orders = catalog.load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
    )


ORDERS_RUNNING_SQL = """
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       CAST(sum(CAST(o_totalprice AS DECIMAL(25,6)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS running_total
FROM orders
"""
