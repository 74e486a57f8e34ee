"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps SURVEY.md §2 operator IDs to DataFrame callables;
``oracle_sql()`` holds the DuckDB-equivalent SQL for each.  Both sides
alias computed columns identically (the driver hash-compares values
column-name-sorted).  Implementations live in ``hpaste_spark``; this
module only wires them to the driver fixtures.
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel as _SL

from hpaste_spark.session import configure_session
from hpaste_spark.sources.catalog import load_table
from hpaste_spark.sources.driver_tables import driver_htable
from hpaste_spark.functions import text as X
from hpaste_spark.functions import vectors as V
from hpaste_spark.functions.money import (davg, dsum, dsum_disc, dsum_mul,
    dsum_units_total, money, sql_avg2, sql_money, sql_sum2)
from hpaste_spark.functions.timeutil import epoch_us
from hpaste_spark.operators.artifacts import (append_artifact, compact_artifact,
                                              ensure_artifact, scratch_dir)

SF0001 = "/root/testdata/sf0.001"

#: O(corpus) intermediates are cut/persisted DISK_ONLY (SCALE.md
#: corpus-memory rule: executor storage memory is for dimension-sized
#: tables only)
_DISK_ONLY = _SL.DISK_ONLY

#: root of every standing artifact tree (ensure_artifact) and every
#: stream staging / landing dir (scratch_dir); gitignored
_SCRATCH = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".scratch")

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def q(name: str, oracle: str | None = None):
    def deco(fn):
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    configure_session(spark)
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# A1/A3 — group-by aggregation with partial (map-side) agg: the flagship.
# Reference shape: WebSearchAggregationJob scan→map→combine→reduce
# (WebCrawlSchemaTest.scala:82-130); here the canonical pricing summary.
# ---------------------------------------------------------------------------
@q(
    "a1_groupby_rollup_sum",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_sum2(sql_money('l_quantity'))}                           AS sum_qty,
           {sql_sum2(sql_money('l_extendedprice'))}                      AS sum_base_price,
           {sql_sum2(sql_money('l_extendedprice') + " * (1 - l_discount)::DECIMAL(4,2)")} AS sum_disc_price,
           {sql_sum2(sql_money('l_extendedprice') + " * (1 - l_discount)::DECIMAL(4,2) * (1 + l_tax)::DECIMAL(4,2)")} AS sum_charge,
           {sql_avg2('l_quantity')}                                      AS avg_qty,
           {sql_avg2('l_extendedprice')}                                 AS avg_price,
           {sql_avg2('l_discount')}                                      AS avg_disc,
           COUNT(*)                                                      AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def a1_groupby_rollup_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # exact integer-unit arithmetic end to end: ext·(1-d) at scale 4 is
    # cents·percent, ext·(1-d)·(1+t) at scale 6 is cents·percent·percent
    # — identical exact values to the oracle's decimal sums, but the
    # per-row math and agg buffers are primitive longs (codegen), which
    # recovered the round-2 decimal regression (VERDICT r2 #5)
    from hpaste_spark.functions.money import dsum_units, sql_cents

    e, d, t = sql_cents("l_extendedprice"), sql_cents("l_discount"), sql_cents("l_tax")
    disc_units4 = f"({e}) * (100 - {d})"
    charge_units6 = f"({e}) * (100 - {d}) * (100 + {t})"
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum_units(disc_units4, 4).alias("sum_disc_price"),
            dsum_units(charge_units6, 6).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# O1 — global sort / top-k (SURVEY §2.5)
@q(
    "o1_topk_orders",
    """
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS total_price
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def o1_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total_price"))
    )


# J1/J2 — the five-way dimension join (multi-get join generalization).
# Small dims broadcast (region/nation/customer at driver SFs; on a real
# cluster AQE confirms the choice).
@q(
    "j1_join5_revenue_by_nation",
    """
    SELECT n_name, ROUND(SUM(l_extendedprice::DECIMAL(12,2) * (1 - l_discount)::DECIMAL(4,2)), 2)::DOUBLE AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE')
    GROUP BY n_name
    """,
)
def j1_join5_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    dims = F.broadcast(
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(dims, orders.o_custkey == dims.c_custkey)
        .groupBy("n_name")
        .agg(
            dsum_disc().alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# S1 — point get via the Query2 DSL (Query2.scala:330-333, :458)
@q(
    "s1_point_get",
    "SELECT c_custkey, c_name, c_nationkey, ROUND(c_acctbal, 2) AS acctbal "
    "FROM customer WHERE CAST(c_custkey AS VARCHAR) = '42'",
)
def s1_point_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = driver_htable(spark, sf_dir, "customer")
    return (
        t.query2(spark)
        .with_key("42")
        .with_columns("c_custkey", "c_name", "c_nationkey", "c_acctbal")
        .to_df()
        .select("c_custkey", "c_name", "c_nationkey", F.round("c_acctbal", 2).alias("acctbal"))
    )


# S2 — multi-get (batched key fetch, Query2.scala:690-825)
@q(
    "s2_multi_get",
    "SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS acctbal FROM customer "
    "WHERE CAST(c_custkey AS VARCHAR) IN ('1','2','3','5','8','13','21','34','55','89')",
)
def s2_multi_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = driver_htable(spark, sf_dir, "customer")
    keys = ["1", "2", "3", "5", "8", "13", "21", "34", "55", "89"]
    return (
        t.query2(spark)
        .with_keys(keys)
        .with_columns("c_custkey", "c_name", "c_acctbal")
        .to_df()
        .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"))
    )


# S3/F19 — rowkey-range scan with byte(lexicographic)-order semantics,
# exactly HBase's sorted-region scan (Query2.scala:903-908).
@q(
    "s3_rowkey_range_scan",
    """
    SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS total_price
    FROM orders
    WHERE CAST(o_orderkey AS VARCHAR) >= '1000' AND CAST(o_orderkey AS VARCHAR) < '2000'
    """,
)
def s3_rowkey_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = driver_htable(spark, sf_dir, "orders")
    return (
        t.query2(spark)
        .with_start_row("1000")
        .with_end_row("2000")
        .with_columns("o_orderkey", "o_orderstatus", "o_totalprice")
        .to_df()
        .select("o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("total_price"))
    )


# F1+F3 — equality / IN filters with filter-if-missing null semantics
@q(
    "f1_f3_eq_in_filter",
    """
    SELECT c_custkey, c_mktsegment, c_nationkey FROM customer
    WHERE c_mktsegment IS NOT NULL AND c_mktsegment = 'BUILDING'
      AND c_nationkey IS NOT NULL AND c_nationkey IN (1, 2, 3, 4, 5)
    """,
)
def f1_f3_eq_in_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = driver_htable(spark, sf_dir, "customer")
    return (
        t.query2(spark)
        .with_columns("c_custkey", "c_mktsegment", "c_nationkey")
        .filter(
            lambda c: c.column_value_must_equal("c_mktsegment", "BUILDING").column_value_must_be_in(
                "c_nationkey", [1, 2, 3, 4, 5]
            )
        )
        .to_df()
        .select("c_custkey", "c_mktsegment", "c_nationkey")
    )


# F4/F5 — byte-order comparison filters
@q(
    "f4_f5_range_filter",
    """
    SELECT s_suppkey, s_name, ROUND(s_acctbal, 2) AS acctbal FROM supplier
    WHERE s_acctbal IS NOT NULL AND s_acctbal > 1000.0
      AND s_acctbal IS NOT NULL AND s_acctbal < 8000.0
    """,
)
def f4_f5_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = driver_htable(spark, sf_dir, "supplier")
    return (
        t.query2(spark)
        .with_columns("s_suppkey", "s_name", "s_acctbal")
        .filter(
            lambda c: c.column_value_must_be_greater_than("s_acctbal", 1000.0)
            .column_value_must_be_less_than("s_acctbal", 8000.0)
        )
        .to_df()
        .select("s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal"))
    )


# F7/F8/F10 — prefix / substring / regex filters (OR across clauses)
@q(
    "f7_f8_f10_string_filters",
    """
    SELECT p_partkey, p_name, p_brand FROM part
    WHERE (p_name IS NOT NULL AND p_name LIKE 'small%')
       OR (p_name IS NOT NULL AND p_name LIKE '%widget%')
       OR (p_brand IS NOT NULL AND regexp_matches(p_brand, '^Brand#1[0-9]$'))
    """,
)
def f7_f8_f10_string_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = driver_htable(spark, sf_dir, "part")
    return (
        t.query2(spark)
        .with_columns("p_partkey", "p_name", "p_brand")
        .filter_or(
            lambda c: c.column_value_must_start_with("p_name", "small"),
            lambda c: c.column_value_must_contain("p_name", "widget"),
            lambda c: c.column_value_must_pass_regex("p_brand", "^Brand#1[0-9]$"),
        )
        .to_df()
        .select("p_partkey", "p_name", "p_brand")
    )


# F9 — negative substring (NULL-safe)
@q(
    "f9_not_contains",
    """
    SELECT p_partkey, p_type FROM part
    WHERE p_type IS NOT NULL AND p_type NOT LIKE '%ECONOMY%' AND p_size IS NOT NULL AND p_size > 40
    """,
)
def f9_not_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = driver_htable(spark, sf_dir, "part")
    return (
        t.query2(spark)
        .with_columns("p_partkey", "p_type")
        .filter(
            lambda c: c.column_value_must_not_contain("p_type", "ECONOMY")
            .column_value_must_be_greater_than("p_size", 40)
        )
        .to_df()
        .select("p_partkey", "p_type")
    )


# F20 — time-range predicate (orders date window)
@q(
    "f20_time_range",
    """
    SELECT o_orderkey, o_orderdate, o_orderpriority FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderstatus = 'O'
    """,
)
def f20_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderstatus") == "O")
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")


# F17/S5 — exact global limit (documented divergence from per-server)
@q(
    "f17_limit_scan",
    "SELECT o_orderkey, o_orderstatus FROM orders ORDER BY o_orderkey LIMIT 25",
)
def f17_limit_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders").orderBy("o_orderkey").limit(25).select("o_orderkey", "o_orderstatus")
    )


# A5 — distinct / count-distinct (free in Spark, absent in reference)
@q(
    "a5_count_distinct",
    """
    SELECT c_mktsegment, COUNT(DISTINCT c_nationkey) AS n_nations, COUNT(*) AS n_customers
    FROM customer GROUP BY c_mktsegment
    """,
)
def a5_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


# A5 — ROLLUP grouping sets
@q(
    "a5_rollup",
    """
    SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity::DECIMAL(12,2)), 2)::DOUBLE AS sum_qty, COUNT(*) AS cnt
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def a5_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("cnt"))
    )


# W1 — secondary sort (values ordered within group): lag() shape
@q(
    "w1_secondary_sort_lag",
    """
    SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS total_price,
           ROUND(LAG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2) AS prev_price
    FROM orders
    """,
)
def w1_secondary_sort_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
            F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        )
    )


# W2 — ranking window: top-3 orders per customer
@q(
    "w2_topn_per_group",
    """
    SELECT o_custkey, o_orderkey, rn FROM (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) t
    WHERE rn <= 3
    """,
)
def w2_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


# U1 — set operators
@q(
    "u1_set_ops",
    """
    SELECT n_nationkey AS nationkey FROM nation
    WHERE n_nationkey IN (SELECT c_nationkey FROM customer)
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def u1_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust_nations = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    nat = _t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("nationkey"))
    sup = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return nat.join(cust_nations.distinct(), "nationkey", "left_semi").intersect(sup)


# M8/A1 — increment-style rollup (write-time agg as read-time groupBy)
@q(
    "m8_increment_rollup",
    """
    SELECT user_id, ROUND(SUM(value::DECIMAL(12,2)), 2)::DOUBLE AS total_value, COUNT(*) AS n_events
    FROM events WHERE event_type = 'click' GROUP BY user_id
    """,
)
def m8_increment_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(dsum("value").alias("total_value"), F.count(F.lit(1)).alias("n_events"))
    )


# §2.9 — batch time-window aggregation (tumbling 1h)
@q(
    "tw_tumbling_1h",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events, ROUND(SUM(value::DECIMAL(12,2)), 2)::DOUBLE AS total_value
    FROM events GROUP BY date_trunc('hour', ts), event_type
    """,
)
def tw_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
    )


# JSON extraction over the props map-family analog (events.props)
@q(
    "json_props_extract",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
    FROM events WHERE props IS NOT NULL
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("props").isNotNull())
        .select(
            "event_id", F.get_json_object("props", "$.k").cast("bigint").alias("k_value")
        )
    )


# Ordered conversion funnel: users who viewed, then clicked at-or-after
# their first view, then purchased at-or-after that click.  Each stage
# is a per-user MIN-timestamp aggregate joined into the next on
# user_id — per-user state is one timestamp, never an event list, so a
# power-law user costs the same as any other, and the join keys are
# already hash-partitioned by the preceding groupBy (AQE broadcasts
# when the aggregate is small, reuses the exchange when it isn't).
@q(
    "funnel_view_click_purchase",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS tv FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS tc
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts >= v.tv
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS tp
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts >= c.tc
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_click,
           (SELECT COUNT(*) FROM p) AS n_full_funnel
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tv"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("tv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("tc"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_full_funnel")))
    )


# Point-in-time (as-of) join: purchase → most recent prior click by the
# same user (attribution).  Spark side is the union+window streaming
# merge (operators/asof.py — ONE hash exchange on user_id, linear
# per-key cost; never the quadratic key-equi + range-filter join);
# oracle is DuckDB's native ASOF LEFT JOIN.
@q(
    "asof_click_attribution",
    """
    SELECT l.event_id, l.user_id, r.event_id AS click_event_id,
           epoch_us(l.ts) - epoch_us(r.ts) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hpaste_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    right = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", "ts", F.col("event_id").alias("click_event_id"))
    )
    j = asof_join(left, right, on=["user_id"], ts_col="ts", payload_cols=["click_event_id"])
    return j.select(
        "event_id",
        "user_id",
        F.col("click_event_id_right").alias("click_event_id"),
        (epoch_us(F.col("ts")) - epoch_us(F.col("ts_right"))).alias("gap_us"),
    )


# Bucketed range (interval) join: clicks inside the 1-hour window
# before each purchase by the same user.  Spark side quantizes time
# into buckets and equi-joins on (user_id, bucket) — a hash join with
# bounded fan-out (operators/rangejoin.py) instead of the quadratic
# key-equi + BETWEEN-filter plan; oracle is the plain inequality join.
@q(
    "range_join_click_windows",
    """
    SELECT p.event_id AS purchase_id, p.user_id,
           COUNT(*) AS n_clicks, MIN(epoch_us(p.ts) - epoch_us(c.ts)) AS min_gap_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    GROUP BY p.event_id, p.user_id
    """,
)
def range_join_click_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hpaste_spark.operators.rangejoin import range_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("w_start"),
        F.col("ts").alias("w_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    j = range_join(
        clicks,
        purchases,
        on=["user_id"],
        ts_col="ts",
        start_col="w_start",
        end_col="w_end",
        bucket_us=3_600_000_000,
    )
    return j.groupBy("purchase_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.min(epoch_us(F.col("w_end")) - epoch_us(F.col("ts"))).alias("min_gap_us"),
    )


# Dedup (exact): hash-groupBy keeper selection (north star)
@q(
    "dedup_exact",
    """
    SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# Text analysis: token counting + quality ratios (north star)
@q(
    "text_token_stats",
    """
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
           length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
           len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
               t -> t IN ('the','a','an','of','and','or','to','in','is','it'))) AS n_stopwords
    FROM documents WHERE length(trim(text)) > 0
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    return d.select(
        "doc_id",
        X.token_count(F.col("text")).alias("n_tokens"),
        X.punct_count(F.col("text")).alias("n_punct"),
        X.stopword_count(F.col("text")).alias("n_stopwords"),
    )


# Language-ID heuristic (north star; deterministic marker-word rule)
@q(
    "text_lang_guess",
    """
    SELECT doc_id,
      CASE
        WHEN len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t IN ('el','la','de','que'))) > 0 THEN 'es'
        WHEN len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t IN ('der','die','das','und'))) > 0 THEN 'de'
        WHEN len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t IN ('le','les','des','est'))) > 0 THEN 'fr'
        WHEN len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t IN ('the','and','is','of'))) > 0 THEN 'en'
        ELSE 'unknown'
      END AS lang_guess
    FROM documents WHERE length(trim(text)) > 0
    """,
)
def text_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    return d.select("doc_id", X.lang_guess(F.col("text")).alias("lang_guess"))


@q(
    "text_langid_eval",
    """
    WITH g AS (
      SELECT lang,
        CASE
          WHEN len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t IN ('el','la','de','que'))) > 0 THEN 'es'
          WHEN len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t IN ('der','die','das','und'))) > 0 THEN 'de'
          WHEN len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t IN ('le','les','des','est'))) > 0 THEN 'fr'
          WHEN len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t IN ('the','and','is','of'))) > 0 THEN 'en'
          ELSE 'unknown'
        END AS lang_guess
      FROM documents WHERE length(trim(text)) > 0
    )
    SELECT lang, lang_guess, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM g GROUP BY lang, lang_guess
    """,
)
def text_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the n-gram-heuristic lang_guess
    graded cell-by-cell against the fixture's ground-truth lang column
    — the classifier-quality telemetry a multilingual pipeline reads
    before trusting per-language routing (same grade-the-approximation
    posture as the ANN recall rows and dedup_lsh_eval).  One
    map-side-combined hash-agg over a narrow projection; the matrix is
    |langs|² rows regardless of corpus size."""
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    return (
        d.select("lang", X.lang_guess(F.col("text")).alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# Document fingerprinting: polynomial rolling hash (north star)
@q(
    "text_fingerprint",
    """
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(regexp_split_to_array(text, ''),
               c -> CAST(unicode(c) AS BIGINT))), (acc, cp) -> (acc * 31 + cp) % 1000000007) AS fingerprint
    FROM documents WHERE length(text) > 0
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    return d.select("doc_id", X.poly_hash(F.col("text")).alias("fingerprint"))


@q(
    "text_tfidf_top_terms",
    """
    WITH d AS (
      SELECT doc_id, text FROM documents WHERE length(trim(text)) > 0
    ),
    toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term FROM d
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM d),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0), 6) AS score
      FROM tf JOIN dfreq USING (term), n
    )
    SELECT doc_id, term, score, CAST(rk AS INT) AS rank FROM (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
      FROM scored) t
    WHERE rk <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 salient terms by smoothed TF-IDF; scores rounded
    to 6 dp BEFORE ranking with a term tie-break, so the top-k can't
    flip on last-ulp log differences between engines."""
    from hpaste_spark.operators.tfidf import tfidf_top_terms

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    return tfidf_top_terms(d, k=3)


@q(
    "text_bm25_topk",
    """
    WITH d AS (SELECT doc_id, text FROM documents WHERE length(trim(text)) > 0),
    toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term FROM d
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
    st AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    m AS (SELECT * FROM tf WHERE term IN ('hash', 'join', 'vector')),
    dfq AS (SELECT term, COUNT(*) AS df FROM m GROUP BY term),
    sc AS (
      SELECT m.doc_id,
             ROUND(SUM(ROUND(
               ln(1.0 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
               * m.tf * (1.2 + 1.0)
               / (m.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)), 6)), 4) AS score
      FROM m JOIN dfq USING (term) JOIN dl USING (doc_id), st
      GROUP BY m.doc_id)
    SELECT doc_id, score, CAST(rk AS INT) AS rank FROM (
      SELECT doc_id, score,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rk FROM sc) t
    WHERE rk <= 10
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval: top-10 docs for a 3-term query.  Scores
    rounded (6 dp per-term, 4 dp per-doc) before ranking with a doc-id
    tie-break — top-k can't flip on double-addition order."""
    from hpaste_spark.operators.tfidf import bm25_topk

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    return bm25_topk(d, ["hash", "join", "vector"], k=10)


@q(
    "text_bigram_pmi",
    """
    WITH d AS (
      SELECT regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    toks AS (SELECT unnest(t) AS w FROM d),
    uni AS (SELECT w, COUNT(*) AS cu FROM toks GROUP BY w),
    tt AS (SELECT CAST(SUM(cu) AS DOUBLE) AS v FROM uni),
    bi AS (
      SELECT unnest(list_transform(range(1, greatest(len(t)-1, 0)+1),
          i -> concat_ws(' ', t[i], t[i+1]))) AS bg
      FROM d
    ),
    tb AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM bi),
    pairs AS (
      SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
             COUNT(*) AS n_pair
      FROM bi GROUP BY bg
      HAVING COUNT(*) >= 5
    )
    SELECT p.w1, p.w2, CAST(p.n_pair AS BIGINT) AS n_pair,
           ROUND(ln((p.n_pair / tb.v)
                    / ((u1.cu / tt.v) * (u2.cu / tt.v))), 6) AS pmi
    FROM pairs p
    JOIN uni u1 ON p.w1 = u1.w
    JOIN uni u2 ON p.w2 = u2.w, tb, tt
    """,
)
def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-word PMI collocation scores (pairs with >= 5
    occurrences) — two hash-aggs, broadcast totals, unigram joins onto
    the surviving pair table only."""
    from hpaste_spark.operators.tfidf import bigram_pmi

    return bigram_pmi(_t(spark, sf_dir, "documents"), min_count=5)


@q(
    "text_bigram_counts",
    """
    WITH d AS (
      SELECT regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    grams AS (
      SELECT unnest(list_transform(range(1, greatest(len(t)-1, 0)+1),
          i -> concat_ws(' ', t[i], t[i+1]))) AS ngram
      FROM d WHERE len(t) >= 2
    )
    SELECT ngram, COUNT(*) AS n_occurrences
    FROM grams GROUP BY ngram
    ORDER BY n_occurrences DESC, ngram LIMIT 20
    """,
)
def text_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus bigrams — boilerplate/template detection.  Pure
    integer counts, (count desc, ngram) order: bit-deterministic."""
    from hpaste_spark.operators.tfidf import corpus_ngram_counts

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    return corpus_ngram_counts(d, n=2, top=20)


# Similarity search: brute-force cosine top-k (north star baseline)
@q(
    "sim_cosine_topk",
    """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, ROUND(
        list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
        / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
           * sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))), 6) AS cos_sim
    FROM embeddings e, q
    WHERE e.vec_id != 0
    ORDER BY list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
        / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
           * sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))) DESC, e.vec_id
    LIMIT 10
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qv = F.broadcast(emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv")))
    cos = V.cosine(F.col("embedding"), F.col("qv"))
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(qv)
        .select("vec_id", cos.alias("cos_raw"))
        .orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
        .limit(10)
        .select("vec_id", F.round("cos_raw", 6).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# Map-family qualifier operators expressed over driver data: build a
# per-order MAP<linenumber, quantity>, apply the F13/F14 cell filter and
# F16 pagination, explode back to rows (oracle = the equivalent row
# filter, proving the map pipeline is lossless).
# ---------------------------------------------------------------------------
@q(
    "f13_map_qualifier_range",
    """
    SELECT l_orderkey, l_linenumber, ROUND(SUM(l_quantity::DECIMAL(12,2)), 2)::DOUBLE AS quantity
    FROM lineitem WHERE l_linenumber BETWEEN 2 AND 4 GROUP BY l_orderkey, l_linenumber
    """,
)
def f13_map_qualifier_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    cells = li.groupBy("l_orderkey", "l_linenumber").agg(
        dsum("l_quantity").alias("quantity")
    )
    m = (
        cells.groupBy("l_orderkey")
        .agg(F.map_from_entries(F.collect_list(F.struct("l_linenumber", "quantity"))).alias("fam"))
        .select(
            "l_orderkey",
            F.map_filter(F.col("fam"), lambda k, v: (k >= 2) & (k <= 4)).alias("fam"),
        )
    )
    return m.select("l_orderkey", F.explode("fam").alias("l_linenumber", "quantity"))


@q(
    "f16_family_pagination",
    """
    SELECT l_orderkey, l_linenumber, quantity FROM (
      SELECT l_orderkey, l_linenumber, quantity,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS rn
      FROM (SELECT l_orderkey, l_linenumber, ROUND(SUM(l_quantity::DECIMAL(12,2)), 2)::DOUBLE AS quantity
            FROM lineitem GROUP BY l_orderkey, l_linenumber)) t
    WHERE rn IN (3, 4)
    """,
)
def f16_family_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    cells = li.groupBy("l_orderkey", "l_linenumber").agg(
        dsum("l_quantity").alias("quantity")
    )
    page = F.slice(F.array_sort(F.map_entries(F.col("fam"))), 3, 2)  # page_size=2, offset=1
    return (
        cells.groupBy("l_orderkey")
        .agg(F.map_from_entries(F.collect_list(F.struct("l_linenumber", "quantity"))).alias("fam"))
        .select("l_orderkey", F.explode(F.map_from_entries(page)).alias("l_linenumber", "quantity"))
    )


# A5 — CUBE grouping sets
@q(
    "a5_cube",
    """
    SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity::DECIMAL(12,2)), 2)::DOUBLE AS sum_qty, COUNT(*) AS cnt
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def a5_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("cnt"))
    )


# J1 variants — semi/anti join shapes (multi-get returnEmptyRows analog)
@q(
    "j2_anti_join",
    "SELECT p_partkey FROM part WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)",
)
def j2_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return part.join(li, part.p_partkey == li.l_partkey, "left_anti").select("p_partkey")


@q(
    "u1_except",
    "SELECT DISTINCT c_nationkey AS nationkey FROM customer EXCEPT SELECT DISTINCT s_nationkey FROM supplier",
)
def u1_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey")).distinct()
    return c.exceptAll(s)


# §2.9 — sliding time window (1h window, 30min slide)
@q(
    "tw_sliding_1h_30m",
    """
    SELECT ws AS window_start, event_type, COUNT(*) AS n_events, ROUND(SUM(value::DECIMAL(12,2)), 2)::DOUBLE AS total_value
    FROM (
      SELECT ts, event_type, value,
             unnest([time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
                     time_bucket(INTERVAL '30 minutes', ts)]) AS ws
      FROM events) t
    WHERE ts >= ws AND ts < ws + INTERVAL '1 hour'
    GROUP BY ws, event_type
    """,
)
def tw_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


# ---------------------------------------------------------------------------
# Dedup suite (north star)
# ---------------------------------------------------------------------------
@q(
    "dedup_minhash_lsh",
    """
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    tokh AS (
      SELECT doc_id, list_transform(t, tok ->
          CAST(('0x' || substr(md5(tok), 1, 13)) AS BIGINT)) AS th
      FROM d
    ),
    h AS (
      SELECT doc_id, list_transform(range(1, greatest(len(th)-2, 0)+1), i ->
          list_reduce(list_prepend(CAST(0 AS BIGINT), th[i:i+2]),
            (acc, x) -> (acc*31 + x) % 1000000007)) AS hs
      FROM tokh WHERE len(th) >= 3
    ),
    sig AS (
      SELECT doc_id, list_transform(range(0, 16), i ->
          list_min(list_transform(hs, hh -> ((2*i+1)*hh + 7919*i) % 1000000007))) AS sig
      FROM h
    ),
    bands AS (
      SELECT doc_id, b AS band_idx,
        list_reduce(list_prepend(CAST(0 AS BIGINT), sig[b*4+1 : b*4+4]),
                    (acc, x) -> (acc*31 + x) % 1000000007) AS band_key
      FROM sig CROSS JOIN unnest(range(0, 4)) AS u(b)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_bands
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hpaste_spark.operators.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(_t(spark, sf_dir, "documents"), num_hashes=16, bands=4, shingle=3)


#: DuckDB twin of minhash_lsh_candidates(16, 4, 3) → connected
#: components: the candidate-pair chain shared by dedup_cluster_assign
#: (+_star), dedup_near_keep, dedup_near_keep_best, and the split_*
#: queries — ONE copy, so a shingle/signature/closure change can never
#: silently leave a stale twin behind.  mc_comp = (node, cluster_id =
#: min node of the component); docs in no pair are absent from it;
#: mc_ck = every non-empty doc with its cluster key (singletons key on
#: their own id).
_MINHASH_CC = """
    mc_d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    mc_tokh AS (
      SELECT doc_id, list_transform(t, tok ->
          CAST(('0x' || substr(md5(tok), 1, 13)) AS BIGINT)) AS th
      FROM mc_d
    ),
    mc_h AS (
      SELECT doc_id, list_transform(range(1, greatest(len(th)-2, 0)+1), i ->
          list_reduce(list_prepend(CAST(0 AS BIGINT), th[i:i+2]),
            (acc, x) -> (acc*31 + x) % 1000000007)) AS hs
      FROM mc_tokh WHERE len(th) >= 3
    ),
    mc_sig AS (
      SELECT doc_id, list_transform(range(0, 16), i ->
          list_min(list_transform(hs, hh -> ((2*i+1)*hh + 7919*i) % 1000000007))) AS sig
      FROM mc_h
    ),
    mc_bands AS (
      SELECT doc_id, b AS band_idx,
        list_reduce(list_prepend(CAST(0 AS BIGINT), sig[b*4+1 : b*4+4]),
                    (acc, x) -> (acc*31 + x) % 1000000007) AS band_key
      FROM mc_sig CROSS JOIN unnest(range(0, 4)) AS u(b)
    ),
    mc_pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM mc_bands a JOIN mc_bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    mc_edges AS (
      SELECT id_a AS s, id_b AS dd FROM mc_pairs
      UNION SELECT id_b, id_a FROM mc_pairs
    ),
    mc_reach AS (
      SELECT s AS root, s AS node FROM mc_edges
      UNION
      SELECT r.root, e.dd FROM mc_reach r JOIN mc_edges e ON r.node = e.s
    ),
    mc_comp AS (SELECT root AS node, MIN(node) AS cluster_id FROM mc_reach GROUP BY root),
    mc_ck AS (
      SELECT mc_d.doc_id, COALESCE(c.cluster_id, mc_d.doc_id) AS ckey
      FROM mc_d LEFT JOIN mc_comp c ON c.node = mc_d.doc_id
    )
"""


# Duplicate-cluster assignment: connected components over the LSH pair
# graph (operators/graph.py — iterative min-label propagation, one
# shuffle per round, localCheckpoint lineage cuts).  Oracle: recursive
# CTE transitive closure over the same pairs, min reachable id.
@q(
    "dedup_cluster_assign",
    f"""
    WITH RECURSIVE {_MINHASH_CC}
    SELECT node, cluster_id FROM mc_comp
    """,
)
def dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hpaste_spark.operators.dedup import minhash_lsh_candidates
    from hpaste_spark.operators.graph import connected_components

    pairs = minhash_lsh_candidates(
        _t(spark, sf_dir, "documents"), num_hashes=16, bands=4, shingle=3
    )
    return connected_components(pairs, src="id_a", dst="id_b")


_ORACLES["dedup_cluster_assign_star"] = _ORACLES["dedup_cluster_assign"]


@q("dedup_cluster_assign_star", None)
def dedup_cluster_assign_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering, O(log d) large-star/small-star rounds
    (operators/graph.py:connected_components_star) — the adversarial-
    diameter escape hatch, checked against the identical recursive-CTE
    oracle as the min-label variant."""
    from hpaste_spark.operators.dedup import minhash_lsh_candidates
    from hpaste_spark.operators.graph import connected_components_star

    pairs = minhash_lsh_candidates(
        _t(spark, sf_dir, "documents"), num_hashes=16, bands=4, shingle=3
    )
    return connected_components_star(pairs, src="id_a", dst="id_b")


# Near-dedup survivor set: every document except non-representative
# members of a duplicate cluster (representative = smallest doc_id).
# This is the actual output a corpus cleaner ships.  Spark: broadcast
# anti-join of the tiny victim list against the corpus — the victim
# side is bounded by the duplicate count, never the corpus size.
@q(
    "dedup_near_keep",
    f"""
    WITH RECURSIVE {_MINHASH_CC}
    SELECT doc_id, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT node FROM mc_comp WHERE node != cluster_id)
    """,
)
def dedup_near_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hpaste_spark.operators.dedup import minhash_lsh_candidates
    from hpaste_spark.operators.graph import connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(docs, num_hashes=16, bands=4, shingle=3)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    victims = comp.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(F.broadcast(victims), "doc_id", "left_anti").select("doc_id", "n_chars")


@q(
    "dedup_near_keep_best",
    f"""
    WITH RECURSIVE {_MINHASH_CC},
    qual AS (
      SELECT doc_id, ROUND(
        0.5 * LEAST(len(regexp_split_to_array(trim(text), '\\s+')) / 100.0, 1.0)
        + 0.3 * (CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) = 0 THEN 0.0
                 ELSE CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                      t -> t IN ('the','a','an','of','and','or','to','in','is','it'))) AS DOUBLE)
                      / len(regexp_split_to_array(trim(text), '\\s+')) END)
        + 0.2 * (1 - (CASE WHEN length(text) = 0 THEN 0.0
                      ELSE CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                           / length(text) END)), 4) AS quality
      FROM documents WHERE length(trim(text)) > 0
    ),
    kb AS (
      SELECT q.doc_id, q.quality, k.ckey
      FROM qual q JOIN mc_ck k USING (doc_id)
    )
    SELECT doc_id, quality FROM (
      SELECT doc_id, quality,
             row_number() OVER (PARTITION BY ckey ORDER BY quality DESC, doc_id) AS rn
      FROM kb) t WHERE rn = 1
    """,
)
def dedup_near_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection by QUALITY: each duplicate cluster keeps its
    highest-quality member (4-dp composite score, doc-id tie-break) —
    what a production pipeline actually wants, vs near_keep's min-id
    rule.  Singletons survive as their own cluster."""
    from hpaste_spark.operators.dedup import keep_best_per_cluster, minhash_lsh_candidates

    docs = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    pairs = minhash_lsh_candidates(docs, num_hashes=16, bands=4, shingle=3)
    return keep_best_per_cluster(docs, pairs, X.quality_score(F.col("text")))




@q(
    "split_leakage_free",
    f"""
    WITH RECURSIVE {_MINHASH_CC}
    SELECT doc_id,
           CASE WHEN ('0x' || substr(md5(CAST(ckey AS VARCHAR)), 1, 4))::BIGINT % 100 < 20
                THEN 'holdout' ELSE 'train' END AS split
    FROM mc_ck
    """,
)
def split_leakage_free(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware train/holdout split: near-duplicate documents must
    land on the SAME side or the holdout leaks into training through
    its surviving twins.  The split key is the MinHash-LSH connected-
    component id (singletons key on their own id), hashed with the
    same deterministic md5 bucket as hash_split — whole duplicate
    clusters move as one unit, cross-cut leakage is structurally zero
    (split_leakage_eval prices the naive split against this)."""
    from hpaste_spark.operators.dedup import minhash_lsh_candidates
    from hpaste_spark.operators.sampling import leakage_free_split

    docs = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    pairs = minhash_lsh_candidates(docs, num_hashes=16, bands=4, shingle=3)
    return leakage_free_split(docs, pairs, holdout_pct=20).select("doc_id", "split")


@q(
    "split_leakage_eval",
    f"""
    WITH RECURSIVE {_MINHASH_CC},
    sl_c AS (
      SELECT doc_id,
             CASE WHEN ('0x' || substr(md5(CAST(ckey AS VARCHAR)), 1, 4))::BIGINT % 100 < 20
                  THEN 'holdout' ELSE 'train' END AS split
      FROM mc_ck
    ),
    sl_n AS (
      SELECT doc_id,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 20
                  THEN 'holdout' ELSE 'train' END AS split
      FROM mc_d
    ),
    sl AS (SELECT
      (SELECT COUNT(*) FROM mc_pairs) AS n_pairs,
      (SELECT COUNT(*) FROM mc_pairs p
         JOIN sl_n a ON a.doc_id = p.id_a JOIN sl_n b ON b.doc_id = p.id_b
       WHERE a.split <> b.split) AS n_leaky_naive,
      (SELECT COUNT(*) FROM mc_pairs p
         JOIN sl_c a ON a.doc_id = p.id_a JOIN sl_c b ON b.doc_id = p.id_b
       WHERE a.split <> b.split) AS n_leaky_clustered,
      (SELECT COUNT(*) FROM sl_c WHERE split = 'holdout') AS n_holdout)
    SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(n_leaky_naive AS BIGINT) AS n_leaky_naive,
           CAST(n_leaky_clustered AS BIGINT) AS n_leaky_clustered,
           CAST(n_holdout AS BIGINT) AS n_holdout
    FROM sl
    """,
)
def split_leakage_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grades the split the way the recall rows grade the ANN ladder:
    count LSH candidate pairs whose ends fall on opposite sides of the
    cut, for the naive id-hash split vs the cluster-keyed one.
    n_leaky_clustered MUST be 0 — both ends of every pair share a
    connected component, so they share a split key by construction —
    while n_leaky_naive prices what eval contamination a pipeline
    silently eats by splitting per-document."""
    from hpaste_spark.operators.dedup import minhash_lsh_candidates
    from hpaste_spark.operators.sampling import hash_split, leakage_free_split

    docs = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    # materialize once: pairs feeds four separate actions (the CC
    # rounds, the pair count, and both leak joins) — without the cut
    # the full MinHash-LSH pass would re-execute per consumer
    pairs = minhash_lsh_candidates(
        docs, num_hashes=16, bands=4, shingle=3
    ).localCheckpoint()
    naive = hash_split(docs, "doc_id", holdout_pct=20).select("doc_id", "split")
    clus = leakage_free_split(docs, pairs, holdout_pct=20).select("doc_id", "split")

    def leaks(split_df: DataFrame) -> DataFrame:
        a = split_df.select(F.col("doc_id").alias("id_a"), F.col("split").alias("_sa"))
        b = split_df.select(F.col("doc_id").alias("id_b"), F.col("split").alias("_sb"))
        return pairs.join(a, "id_a").join(b, "id_b").filter(F.col("_sa") != F.col("_sb"))

    np_ = pairs.agg(F.count(F.lit(1)).alias("n_pairs"))
    ln = leaks(naive).agg(F.count(F.lit(1)).alias("n_leaky_naive"))
    lc = leaks(clus).agg(F.count(F.lit(1)).alias("n_leaky_clustered"))
    nh = clus.filter(F.col("split") == "holdout").agg(
        F.count(F.lit(1)).alias("n_holdout")
    )
    return np_.crossJoin(ln).crossJoin(lc).crossJoin(nh)


@q(
    "dedup_edit_distance",
    f"""
    WITH RECURSIVE {_MINHASH_CC}
    SELECT p.id_a, p.id_b,
           CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_distance
    FROM mc_pairs p
    JOIN documents da ON da.doc_id = p.id_a
    JOIN documents db ON db.doc_id = p.id_b
    WHERE levenshtein(da.text, db.text) <= 20
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-VERIFIED near-dup pairs (the RETSim posture:
    ANN/LSH recall stage, exact verify stage): MinHash-LSH candidates
    pay one exact Levenshtein each, pairs within 20 character edits
    survive.  Shingle Jaccard can't see block moves (two swapped
    halves keep Jaccard ≈ 1 at half-a-document of edits) — the DP
    distance is character ground truth, affordable only AFTER
    blocking (O(len²) per pair).  Spark's levenshtein runs with the
    threshold argument so the DP early-exits past 20; on sf0.01 the
    25 planted near-dup pairs sit at 2-20 edits with the background
    ≥ 21 — the same 25 pairs ExactSubstr finds by shared run, agreeing
    through a completely different distance."""
    from hpaste_spark.operators.dedup import edit_distance_pairs

    docs = _t(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    return edit_distance_pairs(docs, max_edits=20)


@q(
    "dedup_ngram_jaccard",
    """
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    sh AS (
      SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-2, 0)+1),
          i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingles
      FROM d WHERE len(t) >= 3
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))), 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.1
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hpaste_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), n=3, threshold=0.1)


@q(
    "dedup_minhash_est_error",
    """
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    sh AS (
      SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-2, 0)+1),
          i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingles
      FROM d WHERE len(t) >= 3
    ),
    tp AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                   / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))), 6) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.5
    ),
    tokh AS (
      SELECT doc_id, list_transform(t, tok ->
          CAST(('0x' || substr(md5(tok), 1, 13)) AS BIGINT)) AS th
      FROM d
    ),
    h AS (
      SELECT doc_id, list_transform(range(1, greatest(len(th)-2, 0)+1), i ->
          list_reduce(list_prepend(CAST(0 AS BIGINT), th[i:i+2]),
            (acc, x) -> (acc*31 + x) % 1000000007)) AS hs
      FROM tokh WHERE len(th) >= 3
    ),
    sg AS (
      SELECT doc_id, list_transform(range(0, 16), i ->
          list_min(list_transform(hs, hh -> ((2*i+1)*hh + 7919*i) % 1000000007))) AS sig
      FROM h
    ),
    ee AS (
      SELECT tp.id_a, tp.id_b, jaccard,
             CAST(len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 16.0 AS est
      FROM tp JOIN sg sa ON sa.doc_id = tp.id_a JOIN sg sb ON sb.doc_id = tp.id_b
    ),
    u AS (SELECT CAST(ROUND(ABS(est - jaccard) * 1000000) AS BIGINT) AS err_u FROM ee)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(err_u) AS BIGINT) / (COUNT(*) * 1000000.0), 4) AS mean_abs_err,
           ROUND(MAX(err_u) / 1000000.0, 4) AS max_abs_err,
           (CAST(SUM(err_u) AS BIGINT) < COUNT(*) * 150000) AND (MAX(err_u) < 450000)
             AS within_band
    FROM u
    """,
)
def dedup_minhash_est_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grades the MinHash SKETCH itself (the recall rows grade the LSH
    blocking): over the exact-Jaccard ≥ 0.5 truth pairs, compare the
    16-hash signature-agreement estimate k/16 against the true Jaccard
    — mean/max absolute error, plus the theory band (mean < 0.15,
    max < 0.45 ≈ 3.9σ for k=16).  Per-pair errors quantize to exact
    integer micro-units BEFORE aggregation, so the cross-row sums are
    order-free and the oracle matches bit-for-bit (same trick as
    temperature_mixture's weight quantum)."""
    from hpaste_spark.operators.dedup import minhash_signatures, ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    truth = ngram_jaccard_pairs(d, n=3, threshold=0.5, max_shingle_df=None)
    # r13: a DISK_ONLY cut on sigs (it feeds both pair sides) measured
    # 1.12x SLOWER at sf0.1 (3.19 -> 3.59 best-of-3) — the replayed
    # signature pass rides idle cores while the cut serializes.  r14:
    # size-gated like _ivfadc_model (VERDICT ask #5/#7): above the
    # threshold a replayed signature pass is a paid corpus scan, so
    # the cut flips on; at every local fixture it stays off and the
    # r13 measurement governs.
    from hpaste_spark.operators.similarity import (IVFADC_CUT_BYTES,
                                                   _plan_size_bytes)

    sigs = minhash_signatures(d)
    if _plan_size_bytes(d) >= IVFADC_CUT_BYTES:
        sigs = sigs.persist(_DISK_ONLY)
    sa = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("_sa"))
    sb = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("_sb"))
    est = (
        truth.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "jaccard",
            (
                F.aggregate(
                    F.zip_with(
                        F.col("_sa"),
                        F.col("_sb"),
                        lambda x, y: (x == y).cast("int"),
                    ),
                    F.lit(0),
                    lambda acc, v: acc + v,
                ).cast("double")
                / 16.0
            ).alias("est"),
        )
        .select(
            F.round(F.abs(F.col("est") - F.col("jaccard")) * 1000000)
            .cast("long")
            .alias("err_u")
        )
    )
    return est.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.sum("err_u") / (F.count(F.lit(1)) * 1000000.0), 4).alias(
            "mean_abs_err"
        ),
        F.round(F.max("err_u") / 1000000.0, 4).alias("max_abs_err"),
        (
            (F.sum("err_u") < F.count(F.lit(1)) * 150000)
            & (F.max("err_u") < 450000)
        ).alias("within_band"),
    )


@q(
    "dedup_containment",
    """
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    sh AS (
      SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-2, 0)+1),
          i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingles
      FROM d WHERE len(t) >= 3
    ),
    pairs AS (
      SELECT a.doc_id AS id_x, b.doc_id AS id_y,
             len(list_intersect(a.shingles, b.shingles)) AS n_inter,
             len(a.shingles) AS size_x, len(b.shingles) AS size_y
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.shingles, b.shingles)) > 0
    ),
    oriented AS (
      SELECT CASE WHEN size_x <= size_y THEN id_x ELSE id_y END AS id_a,
             CASE WHEN size_x <= size_y THEN id_y ELSE id_x END AS id_b,
             n_inter, LEAST(size_x, size_y) AS size_a
      FROM pairs
    )
    SELECT id_a, id_b, ROUND(CAST(n_inter AS DOUBLE) / size_a, 6) AS containment
    FROM oriented
    WHERE ROUND(CAST(n_inter AS DOUBLE) / size_a, 6) >= 0.5
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric excerpt dedup: |A∩B|/|A| ≥ 0.5 with A the smaller
    shingle set — catches a short doc pasted inside a long one, which
    symmetric Jaccard scores near zero."""
    from hpaste_spark.operators.dedup import containment_pairs

    return containment_pairs(_t(spark, sf_dir, "documents"), n=3, threshold=0.5)


@q(
    "dedup_winnow_overlap",
    """
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    tokh AS (
      SELECT doc_id, list_transform(t, tok ->
          CAST(('0x' || substr(md5(tok), 1, 13)) AS BIGINT)) AS th
      FROM d
    ),
    h AS (
      SELECT doc_id, list_transform(range(1, greatest(len(th)-2, 0)+1), i ->
          list_reduce(list_prepend(CAST(0 AS BIGINT), th[i:i+2]),
            (acc, x) -> (acc*31 + x) % 1000000007)) AS hs
      FROM tokh WHERE len(th) >= 3
    ),
    win AS (
      SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(hs)-3, 0)+1),
          i -> list_min(hs[i:i+3]))) AS fps
      FROM h WHERE len(hs) >= 4
    ),
    fp AS (SELECT doc_id, unnest(fps) AS f FROM win)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
    FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """,
)
def dedup_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing overlap: pairs sharing >= 2 selected fingerprints
    (window-min of w=4 consecutive 3-gram hashes).  Same bucket-grouped
    pair counting as the shingle paths, at ~2/(w+1) the row density."""
    from hpaste_spark.operators.dedup import winnow_overlap_pairs

    return winnow_overlap_pairs(
        _t(spark, sf_dir, "documents"), n=3, w=4, min_common=2
    )


@q(
    "dedup_prefix_jaccard",
    """
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    sh AS (
      SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-2, 0)+1),
          i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingles
      FROM d WHERE len(t) >= 3
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / (len(a.shingles) + len(b.shingles)
                    - len(list_intersect(a.shingles, b.shingles))), 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                / (len(a.shingles) + len(b.shingles)
                   - len(list_intersect(a.shingles, b.shingles))), 6) >= 0.5
    """,
)
def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless prefix-filtered exact Jaccard >= 0.5 (PPJoin-style):
    output identical to the all-pairs truth (the oracle IS the naive
    all-pairs formulation) from rare-prefix candidates only."""
    from hpaste_spark.operators.dedup import prefix_jaccard_pairs

    return prefix_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.5
    )


@q(
    "dedup_weighted_jaccard",
    """
    WITH wj_d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    wj_s AS (
      SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-2, 0)+1),
          i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shs
      FROM wj_d WHERE len(t) >= 3
    ),
    wj_td AS (
      SELECT DISTINCT doc_id,
             CAST(('0x' || substr(md5(sh), 1, 13)) AS BIGINT) AS sk
      FROM (SELECT doc_id, unnest(shs) AS sh FROM wj_s)
    ),
    wj_df AS (SELECT sk, CAST(COUNT(*) AS BIGINT) AS df FROM wj_td GROUP BY sk),
    wj_n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM wj_td),
    wj_tw AS (SELECT t.doc_id, t.sk,
                     CAST(length(bin(n // df)) AS BIGINT) AS w
              FROM wj_td t JOIN wj_df USING (sk), wj_n),
    wj_dw AS (SELECT doc_id, SUM(w) AS wd FROM wj_tw GROUP BY doc_id),
    wj_i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.w) AS inter_w
             FROM wj_tw a JOIN wj_tw b ON a.sk = b.sk AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
    SELECT id_a, id_b, CAST(inter_w AS BIGINT) AS inter_w,
           CAST(wa.wd + wb.wd - inter_w AS BIGINT) AS union_w,
           CAST(1000000 * inter_w // (wa.wd + wb.wd - inter_w) AS BIGINT)
             AS wj_ppm
    FROM wj_i JOIN wj_dw wa ON wa.doc_id = wj_i.id_a
              JOIN wj_dw wb ON wb.doc_id = wj_i.id_b
    WHERE 2 * inter_w >= wa.wd + wb.wd - inter_w
    """,
)
def dedup_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-weighted Jaccard near-dup pairs at θ=1/2 —
    dedup.weighted_jaccard_pairs: integer bit-length idf weights per
    3-gram shingle, lossless weighted prefix filtering for candidates,
    exact integer verify.  The oracle is the naive all-pairs weighted
    formulation over the same md5-52bit shingle keys; the Spark path
    must reproduce it exactly from prefix candidates only."""
    from hpaste_spark.operators.dedup import weighted_jaccard_pairs

    return weighted_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold_num=1, threshold_den=2
    )


@q(
    "dedup_lsh_eval",
    """
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    tokh AS (
      SELECT doc_id, list_transform(t, tok ->
          CAST(('0x' || substr(md5(tok), 1, 13)) AS BIGINT)) AS th
      FROM d
    ),
    h AS (
      SELECT doc_id, list_transform(range(1, greatest(len(th)-2, 0)+1), i ->
          list_reduce(list_prepend(CAST(0 AS BIGINT), th[i:i+2]),
            (acc, x) -> (acc*31 + x) % 1000000007)) AS hs
      FROM tokh WHERE len(th) >= 3
    ),
    sig AS (
      SELECT doc_id, list_transform(range(0, 16), i ->
          list_min(list_transform(hs, hh -> ((2*i+1)*hh + 7919*i) % 1000000007))) AS sig
      FROM h
    ),
    bands AS (
      SELECT doc_id, b AS band_idx,
        list_reduce(list_prepend(CAST(0 AS BIGINT), sig[b*4+1 : b*4+4]),
                    (acc, x) -> (acc*31 + x) % 1000000007) AS band_key
      FROM sig CROSS JOIN unnest(range(0, 4)) AS u(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    sh AS (
      SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-2, 0)+1),
          i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingles
      FROM d WHERE len(t) >= 3
    ),
    truth AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / (len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles))) >= 0.5
    ),
    m AS (SELECT (SELECT COUNT(*) FROM cand) AS nc,
                 (SELECT COUNT(*) FROM truth) AS nt,
                 (SELECT COUNT(*) FROM cand JOIN truth USING (id_a, id_b)) AS nh)
    SELECT CAST(nc AS BIGINT) AS n_candidates, CAST(nt AS BIGINT) AS n_truth,
           CAST(nh AS BIGINT) AS n_hit,
           ROUND(CASE WHEN nc > 0 THEN CAST(nh AS DOUBLE) / nc ELSE 0.0 END, 6) AS precision,
           ROUND(CASE WHEN nt > 0 THEN CAST(nh AS DOUBLE) / nt ELSE 0.0 END, 6) AS recall,
           ROUND(CASE WHEN (CASE WHEN nc > 0 THEN CAST(nh AS DOUBLE) / nc ELSE 0.0 END)
                         + (CASE WHEN nt > 0 THEN CAST(nh AS DOUBLE) / nt ELSE 0.0 END) > 0
                      THEN 2 * (CASE WHEN nc > 0 THEN CAST(nh AS DOUBLE) / nc ELSE 0.0 END)
                             * (CASE WHEN nt > 0 THEN CAST(nh AS DOUBLE) / nt ELSE 0.0 END)
                           / ((CASE WHEN nc > 0 THEN CAST(nh AS DOUBLE) / nc ELSE 0.0 END)
                              + (CASE WHEN nt > 0 THEN CAST(nh AS DOUBLE) / nt ELSE 0.0 END))
                      ELSE 0.0 END, 6) AS f1
    FROM m
    """,
)
def dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-pipeline QA: precision/recall/F1 of the banded MinHash-LSH
    candidate set against exact shingle-Jaccard >= 0.5 ground truth —
    one full-outer pair join + one global aggregate."""
    from hpaste_spark.operators.dedup import (minhash_lsh_candidates,
                                              ngram_jaccard_pairs, pair_eval)

    docs = _t(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(docs).select("id_a", "id_b")
    truth = ngram_jaccard_pairs(docs, threshold=0.5).select("id_a", "id_b")
    return pair_eval(cand, truth)


@q(
    "dedup_simhash",
    """
    WITH d AS (
      SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks
      FROM documents WHERE length(trim(text)) > 0
    ),
    h AS (
      SELECT doc_id, list_transform(toks, t ->
          CAST(('0x' || substr(md5(t), 1, 13)) AS BIGINT)) AS hs
      FROM d
    )
    SELECT doc_id,
      CAST(list_sum(list_transform(range(0, 30), i ->
        CASE WHEN list_sum(list_transform(hs, hh ->
            CASE WHEN (hh // CAST(pow(2, i) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END)) > 0
          THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
    FROM h
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hpaste_spark.operators.dedup import simhash

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    return simhash(d)


@q(
    "dedup_embedding_neardup",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    dims AS (
      SELECT vec_id, generate_subscripts(v, 1) - 1 AS pos, round(unnest(v) * 1000000) AS xq
      FROM e
    ),
    pl AS (
      SELECT j, pos, ((j*2654435761 + pos*40503) % 10007) - 5003 AS comp
      FROM range(32) r(j), (SELECT DISTINCT pos FROM dims) d
    ),
    dots AS (
      SELECT vec_id, j, SUM(xq * comp) AS dot
      FROM dims JOIN pl USING (pos) GROUP BY vec_id, j
    ),
    bk AS (
      SELECT vec_id, j // 4 AS band_idx,
             SUM(CASE WHEN dot > 0 THEN CAST(pow(2, j % 4) AS BIGINT) ELSE 0 END) AS band_key
      FROM dots GROUP BY vec_id, j // 4
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bk a JOIN bk b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b,
      ROUND(list_dot_product(ea.v, eb.v)
            / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 6) AS cos_sim
    FROM cand JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b
    WHERE list_dot_product(ea.v, eb.v)
          / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.4
    """,
)
def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-1 scale-killer fixed: banded hyperplane-LSH blocking (8
    bands × 4 planes, integer-quantized sign bits) replaces the n²/2
    inequality join; exact cosine verifies candidates.  The oracle
    replicates the same deterministic plane formula, so blocked recall
    is part of the contract (36/59 = 0.61 of brute-force pairs at this
    loose 0.4 threshold ≈ 66° on the sf0.01 fixture — the hard end of
    hyperplane LSH; near-identical vectors are found with prob ≥ 0.95;
    see operators/dedup.py)."""
    from hpaste_spark.operators.dedup import embedding_neardup_pairs

    return embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"),
        threshold=0.4,
        bands=8,
        planes_per_band=4,
        max_bucket=2000,
    )


@q(
    "dedup_simhash_pairs",
    """
    WITH d AS (
      SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks
      FROM documents WHERE length(trim(text)) > 0
    ),
    h AS (
      SELECT doc_id, list_transform(toks, t ->
          CAST(('0x' || substr(md5(t), 1, 13)) AS BIGINT)) AS hs
      FROM d
    ),
    s AS (
      SELECT doc_id,
        CAST(list_sum(list_transform(range(0, 30), i ->
          CASE WHEN list_sum(list_transform(hs, hh ->
              CASE WHEN (hh // CAST(pow(2, i) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END)) > 0
            THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
      FROM h
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via bit-band blocking.  The ORACLE is the
    brute-force n² hamming join: with 4 bands over 30 bits, any pair
    within hamming 3 shares at least one exact band (pigeonhole), so
    the blocked plan must return EXACTLY the brute-force result — the
    oracle match proves the blocking lossless, while the Spark plan
    never materializes a cartesian."""
    from hpaste_spark.operators.dedup import simhash_pairs

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    return simhash_pairs(d, max_hamming=3, bands=4)


# ---------------------------------------------------------------------------
# ANN similarity search via deterministic hyperplane LSH (north star)
# ---------------------------------------------------------------------------
# shared by sim_ann_lsh_topk and its recall grader sim_lsh_recall
_LSH_CHAIN = """
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    b AS (
      SELECT vec_id, v,
        CAST(list_sum(list_transform(range(0, 8), j ->
          CASE WHEN list_sum(list_transform(range(1, len(v)+1), d ->
              v[d] * ((((j*2654435761 + (d-1)*40503) % 10007) - 5003) / 5003.0))) > 0
            THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket
      FROM e
    ),
    q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
"""


@q(
    "sim_ann_lsh_topk",
    f"""
    WITH {_LSH_CHAIN}
    SELECT vec_id, ROUND(cos_raw, 6) AS cos_sim FROM (
      SELECT b.vec_id,
        list_dot_product(b.v, q.qv)
          / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos_raw
      FROM b, q WHERE b.bucket = q.qbucket AND b.vec_id != 0) t
    ORDER BY cos_raw DESC, vec_id LIMIT 10
    """,
)
def sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hpaste_spark.operators.similarity import ann_topk

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return ann_topk(emb.filter(F.col("vec_id") != 0), qv, k=10, n_planes=8)


# shared by sim_ivf_topk (in-plan clustering), sim_ivf_topk_stored
# (prebuilt index), and the recall grader sim_ivf_recall
_IVF_CHAIN = """
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, vec_id % 8 AS scid
               FROM embeddings),
    pc AS (SELECT scid, i, AVG(e[i]) AS m
           FROM v, range(1, 65) AS r(i) GROUP BY scid, i),
    cent AS (SELECT scid AS cid, list(round(m, 6) ORDER BY i) AS cvec FROM pc GROUP BY scid),
    scored AS (
      SELECT v.vec_id, c.cid,
             list_dot_product(v.e, c.cvec)
               / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(c.cvec, c.cvec))) AS cc
      FROM v, cent c),
    assign AS (SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
        FROM scored) WHERE rn = 1),
    q AS (SELECT e AS qv FROM v WHERE vec_id = 0),
    probes AS (SELECT cid FROM (
        SELECT c.cid, row_number() OVER (ORDER BY
            list_dot_product(q.qv, c.cvec)
              / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cvec, c.cvec)))
            DESC, c.cid) AS rn
        FROM cent c, q) WHERE rn <= 2)
    """

_IVF_TOPK_ORACLE = f"""
    WITH {_IVF_CHAIN}
    SELECT vec_id, ROUND(cos_raw, 6) AS cos_sim FROM (
      SELECT v.vec_id,
             list_dot_product(v.e, q.qv)
               / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos_raw
      FROM v JOIN assign a USING (vec_id) JOIN probes p ON a.cid = p.cid, q)
    ORDER BY cos_raw DESC, vec_id LIMIT 10
    """


@q("sim_ivf_topk", _IVF_TOPK_ORACLE)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN: deterministic coarse centroids (seed partition
    mean, rounded 6dp), nearest-centroid inverted lists, nprobe=2 probe
    — exact cosine only over the probed lists."""
    from hpaste_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return ivf_topk(emb, qv, k=10, k_centroids=8, nprobe=2)


#: bump to invalidate stored IVF indexes when centroid/assignment code changes
_IVF_INDEX_VERSION = 5  # r16: meta pins vec_col/id_col


@q("sim_ivf_topk_stored", _IVF_TOPK_ORACLE)
def sim_ivf_topk_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k over a STORED index (similarity.build_ivf_index):
    centroids + the corpus parquet-partitioned by assigned cid, built
    write-once (here: on first call per fixture, into a gitignored
    scratch dir) and then queried with the probe restriction planned as
    a dynamicpruningexpression PartitionFilter on cid — the query scans
    ~nprobe/k_centroids of the stored corpus instead of re-clustering.
    Same parameters as sim_ivf_topk, hence the same oracle."""
    from hpaste_spark.operators.similarity import build_ivf_index, ivf_topk_indexed

    emb = _t(spark, sf_dir, "embeddings")
    idx = ensure_artifact(
        _SCRATCH, "ivf_index", sf_dir, "embeddings", _IVF_INDEX_VERSION,
        lambda path: build_ivf_index(emb, path, k_centroids=8),
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return ivf_topk_indexed(spark, idx, qv, k=10, nprobe=2)


@q(
    "sim_ivf_recall",
    f"""
    WITH {_IVF_CHAIN},
    ivf AS (SELECT vec_id FROM (
      SELECT v.vec_id, row_number() OVER (ORDER BY
             list_dot_product(v.e, q.qv)
               / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.qv, q.qv)))
             DESC, v.vec_id) AS rk
      FROM v JOIN assign a USING (vec_id) JOIN probes p ON a.cid = p.cid, q)
      WHERE rk <= 10),
    ex AS (SELECT vec_id FROM (
      SELECT v.vec_id, row_number() OVER (ORDER BY
             list_dot_product(v.e, q.qv)
               / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.qv, q.qv)))
             DESC, v.vec_id) AS rk
      FROM v, q) WHERE rk <= 10)
    SELECT 10 AS k, CAST(COUNT(*) AS BIGINT) AS n_hit,
           ROUND(COUNT(*) / 10.0, 2) AS recall_at_k
    FROM ivf JOIN ex USING (vec_id)
    """,
)
def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 for IVF-Flat at nprobe=2/8 vs the exact cosine top-10
    over the whole corpus — prices the probe's coverage loss for the
    PRUNING leg the way sim_pq_recall/sim_ivfadc_recall price the
    compression legs.  With the LSH grader below, every approximate
    retrieval path in the engine now carries a recall row."""
    from hpaste_spark.functions.vectors import as_double, cosine
    from hpaste_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    ivf = ivf_topk(emb, qv, k=10, k_centroids=8, nprobe=2).select("vec_id")
    e = emb.select("vec_id", as_double(F.col("embedding")).alias("e"))
    qe = e.filter(F.col("vec_id") == 0).select(F.col("e").alias("qe"))
    exact = (
        e.crossJoin(F.broadcast(qe))
        .withColumn("cs", cosine(F.col("e"), F.col("qe")))
        .orderBy(F.col("cs").desc(), "vec_id")
        .limit(10)
        .select("vec_id")
    )
    return ivf.join(exact, "vec_id").agg(
        F.lit(10).alias("k"),
        F.count(F.lit(1)).alias("n_hit"),
        (F.round(F.count(F.lit(1)) / 10.0, 2)).alias("recall_at_k"),
    )


@q(
    "sim_lsh_recall",
    f"""
    WITH {_LSH_CHAIN},
    lsh AS (SELECT vec_id FROM (
      SELECT b.vec_id, row_number() OVER (ORDER BY
        list_dot_product(b.v, q.qv)
          / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(q.qv, q.qv)))
        DESC, b.vec_id) AS rk
      FROM b, q WHERE b.bucket = q.qbucket AND b.vec_id != 0) WHERE rk <= 10),
    ex AS (SELECT vec_id FROM (
      SELECT e.vec_id, row_number() OVER (ORDER BY
        list_dot_product(e.v, q.qv)
          / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)))
        DESC, e.vec_id) AS rk
      FROM e, q WHERE e.vec_id != 0) WHERE rk <= 10)
    SELECT 10 AS k, CAST(COUNT(*) AS BIGINT) AS n_hit,
           ROUND(COUNT(*) / 10.0, 2) AS recall_at_k
    FROM lsh JOIN ex USING (vec_id)
    """,
)
def sim_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 for single-table hyperplane-LSH top-k (the
    sim_ann_lsh_topk path, 8 planes = 1/256 of the corpus scanned in
    expectation) vs the exact cosine top-10 — the one approximate
    retrieval leg that had no recall row.  Both sides exclude the
    query vector itself, matching the ANN query's contract."""
    from hpaste_spark.functions.vectors import as_double, cosine
    from hpaste_spark.operators.similarity import ann_topk

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    lsh = ann_topk(emb.filter(F.col("vec_id") != 0), qv, k=10, n_planes=8).select(
        "vec_id"
    )
    e = emb.filter(F.col("vec_id") != 0).select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    )
    qe = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select(as_double(F.col("embedding")).alias("qe"))
    )
    exact = (
        e.crossJoin(F.broadcast(qe))
        .withColumn("cs", cosine(F.col("e"), F.col("qe")))
        .orderBy(F.col("cs").desc(), "vec_id")
        .limit(10)
        .select("vec_id")
    )
    return lsh.join(exact, "vec_id").agg(
        F.lit(10).alias("k"),
        F.count(F.lit(1)).alias("n_hit"),
        (F.round(F.count(F.lit(1)) / 10.0, 2)).alias("recall_at_k"),
    )


@q(
    "sim_knn_join",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    dims AS (
      SELECT vec_id, generate_subscripts(v, 1) - 1 AS pos, round(unnest(v) * 1000000) AS xq
      FROM e
    ),
    pl AS (
      SELECT j, pos, ((j*2654435761 + pos*40503) % 10007) - 5003 AS comp
      FROM range(32) r(j), (SELECT DISTINCT pos FROM dims) d
    ),
    dots AS (
      SELECT vec_id, j, SUM(xq * comp) AS dot
      FROM dims JOIN pl USING (pos) GROUP BY vec_id, j
    ),
    bk AS (
      SELECT vec_id, j // 4 AS band_idx,
             SUM(CASE WHEN dot > 0 THEN CAST(pow(2, j % 4) AS BIGINT) ELSE 0 END) AS band_key
      FROM dots GROUP BY vec_id, j // 4
    ),
    cand AS (
      SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
      FROM bk qb JOIN bk cb
        ON qb.band_idx = cb.band_idx AND qb.band_key = cb.band_key
      WHERE qb.vec_id % 25 = 0 AND qb.vec_id != cb.vec_id
    ),
    scored AS (
      SELECT query_id, neighbor_id,
        ROUND(list_dot_product(eq.v, ec.v)
              / (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(ec.v, ec.v))), 6) AS cos_sim
      FROM cand JOIN e eq ON eq.vec_id = query_id JOIN e ec ON ec.vec_id = neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rk AS INT) AS rank FROM (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
      FROM scored) t
    WHERE rk <= 5
    """,
)
def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join (every query row → its top-5 cosine neighbors)
    via banded hyperplane-LSH blocking; the oracle reproduces the same
    deterministic integer-quantized plane formula, so blocked recall is
    part of the contract.  Queries = every 25th vector; corpus = all."""
    from hpaste_spark.operators.similarity import knn_join

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return knn_join(emb, qs, k=5, bands=8, planes_per_band=4, max_bucket=2000)


# shared by sim_ivf_knn_join (in-plan) and sim_ivf_knn_join_stored
# (prebuilt index): identical IVF batch k-NN result
_IVF_KNN_ORACLE = """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, vec_id % 8 AS scid
               FROM embeddings),
    pc AS (SELECT scid, i, AVG(e[i]) AS m
           FROM v, range(1, 65) AS r(i) GROUP BY scid, i),
    cent AS (SELECT scid AS cid, list(round(m, 6) ORDER BY i) AS cvec FROM pc GROUP BY scid),
    ascore AS (
      SELECT v.vec_id, c.cid,
             list_dot_product(v.e, c.cvec)
               / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(c.cvec, c.cvec))) AS cc
      FROM v, cent c),
    assign AS (SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
        FROM ascore) WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id % 25 = 0),
    probes AS (SELECT query_id, cid FROM (
        SELECT q.query_id, c.cid, row_number() OVER (PARTITION BY q.query_id ORDER BY
            list_dot_product(q.qv, c.cvec)
              / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cvec, c.cvec)))
            DESC, c.cid) AS rn
        FROM q, cent c) WHERE rn <= 2),
    cand AS (
      SELECT p.query_id, a.vec_id FROM probes p JOIN assign a USING (cid)
      WHERE p.query_id != a.vec_id),
    sc AS (
      SELECT cand.query_id, cand.vec_id AS neighbor_id,
             ROUND(list_dot_product(q.qv, v.e)
                   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(v.e, v.e))), 6) AS cos_sim
      FROM cand JOIN q ON q.query_id = cand.query_id JOIN v ON v.vec_id = cand.vec_id)
    SELECT query_id, neighbor_id, cos_sim, CAST(rk AS INT) AS rank FROM (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
      FROM sc) t
    WHERE rk <= 5
    """


@q("sim_ivf_knn_join", _IVF_KNN_ORACLE)
def sim_ivf_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN down the IVF path: per-query probe of the 2 nearest
    centroid lists, exact cosine inside — the cluster-structure
    complement to sim_knn_join's banded LSH.  Same deterministic
    centroid/assignment formulas as sim_ivf_topk, generalized to every
    25th vector as a query."""
    from hpaste_spark.operators.similarity import ivf_knn_join

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_knn_join(emb, qs, k=5, k_centroids=8, nprobe=2)


@q("sim_ivf_knn_join_stored", _IVF_KNN_ORACLE)
def sim_ivf_knn_join_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch IVF k-NN over the STORED index: the per-query probe set
    reaches the cid-partitioned vectors table via a broadcast equi-join
    (dynamic partition pruning), and the pruned scan carries the
    embeddings so scoring never re-reads the corpus.  Same parameters
    as sim_ivf_knn_join, hence the same oracle."""
    from hpaste_spark.operators.similarity import build_ivf_index, ivf_knn_join_indexed

    emb = _t(spark, sf_dir, "embeddings")
    idx = ensure_artifact(
        _SCRATCH, "ivf_index", sf_dir, "embeddings", _IVF_INDEX_VERSION,
        lambda path: build_ivf_index(emb, path, k_centroids=8),
    )
    qs = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_knn_join_indexed(spark, idx, qs, k=5, nprobe=2)


# the appended index equals "cluster the ORIGINAL slice, assign
# everything (old at build, delta at append) under those centroids" —
# the oracle is the stored-index SQL with the centroid CTEs restricted
# to the build slice (vec_id % 5 != 1); assignment/probing still
# covers every vector
_IVF_KNN_APPENDED_ORACLE = _IVF_KNN_ORACLE.replace(
    """pc AS (SELECT scid, i, AVG(e[i]) AS m
           FROM v, range(1, 65) AS r(i) GROUP BY scid, i),""",
    """pc AS (SELECT scid, i, AVG(e[i]) AS m
           FROM v, range(1, 65) AS r(i)
           WHERE vec_id % 5 != 1 GROUP BY scid, i),""",
)
assert _IVF_KNN_APPENDED_ORACLE != _IVF_KNN_ORACLE


@q("sim_ivf_knn_join_appended", _IVF_KNN_APPENDED_ORACLE)
def sim_ivf_knn_join_appended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch IVF k-NN over an APPEND-refreshED index (the round-9
    standing-artifact posture at the ANN layer): the index is built on
    the standing corpus slice (vec_id % 5 != 1), then
    artifacts.append_artifact assigns ONLY the delta slice under the
    artifact's STORED centroids and appends it into the existing cid
    partitions — no re-cluster, no rescan of the standing corpus, and
    probe-side dynamic partition pruning is unchanged.  The honest
    semantics (stated in the operator docstring): an appended index ==
    "cluster the original slice, assign everything under those
    centroids", which is exactly what the oracle replays — centroid
    CTEs over the build slice, assignment over all vectors.  Centroid
    drift under heavy appends is real; the periodic re-cluster (a
    fresh build) is the compaction step, like an LSM major
    compaction.  A crash between build and append rebuilds instead
    of serving the half-index (ensure_artifact's completion marker)."""
    from hpaste_spark.operators.similarity import (
        build_ivf_index,
        ivf_knn_join_indexed,
    )

    emb = _t(spark, sf_dir, "embeddings")

    def build(path: str) -> None:
        build_ivf_index(
            emb.filter(F.col("vec_id") % 5 != 1), path, k_centroids=8
        )
        append_artifact(spark, path, emb.filter(F.col("vec_id") % 5 == 1))

    path = ensure_artifact(
        _SCRATCH, "ivf_index_appended", sf_dir, "embeddings", _IVF_INDEX_VERSION, build
    )
    qs = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_knn_join_indexed(spark, path, qs, k=5, nprobe=2)


# compaction re-clusters the WHOLE stored corpus, so the compacted
# index == a one-shot build on the full table — the oracle is the
# ORIGINAL full-corpus chain, unchanged.  That identity (vs the
# appended query's build-slice-centroids oracle) is precisely what
# distinguishes the two artifact states under the hash gate.
@q("sim_ivf_knn_join_compacted", _IVF_KNN_ORACLE)
def sim_ivf_knn_join_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPACTION leg of the standing-IVF lifecycle under the hash
    gate (round-11; closes the loop the drift monitor opens): build on
    the standing slice (vec_id % 5 != 1), append_artifact the delta —
    at this point the artifact answers with BUILD-SLICE centroids (the
    sim_ivf_knn_join_appended oracle) — then similarity.compact_ivf_index
    re-clusters the whole stored corpus.  The compacted index must now
    answer with FULL-CORPUS centroids, i.e. the ORIGINAL
    sim_ivf_knn_join oracle, bit-for-bit: same probe code, different
    oracle than the appended query, which is exactly the recall-
    restoration claim made executable.  k_centroids passed explicitly
    (8 — the full corpus seeds all 8 groups; the build slice does too,
    but the maintenance job states its target k rather than inheriting
    whatever the artifact currently has).  A crash mid-lifecycle
    rebuilds instead of serving a half-state."""
    from hpaste_spark.operators.similarity import (
        build_ivf_index,
        compact_ivf_index,
        ivf_knn_join_indexed,
    )

    emb = _t(spark, sf_dir, "embeddings")

    def build(path: str) -> None:
        build_ivf_index(
            emb.filter(F.col("vec_id") % 5 != 1), path, k_centroids=8
        )
        append_artifact(spark, path, emb.filter(F.col("vec_id") % 5 == 1))
        compact_ivf_index(spark, path, k_centroids=8)

    path = ensure_artifact(
        _SCRATCH, "ivf_index_compacted", sf_dir, "embeddings", _IVF_INDEX_VERSION, build
    )
    qs = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_knn_join_indexed(spark, path, qs, k=5, nprobe=2)


# the minor pass is layout-only — geometry frozen, so the artifact
# still answers with BUILD-SLICE centroids: the oracle is the APPENDED
# oracle, unchanged.  Against sim_ivf_knn_join_compacted (whose oracle
# flips to full-corpus centroids) this is the minor/major split made
# executable under the hash gate: consolidating files must change
# NOTHING, re-clustering must change the geometry.
@q("sim_ivf_knn_join_minor_compacted", _IVF_KNN_APPENDED_ORACLE)
def sim_ivf_knn_join_minor_compacted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The MINOR-compaction leg of the standing-IVF lifecycle (round
    13 — artifacts.compact_artifact): build on the standing slice
    (vec_id % 5 != 1), append_artifact the delta (one parquet
    fragment per (append, cid) pair — the small-files growth
    artifact_stats signals on), then consolidate the vectors tree
    repartitioned on the STORED cid under the frozen standing
    centroids.  Unlike compact_ivf_index (the major pass, which
    re-clusters and whose oracle flips to full-corpus centroids), the
    minor pass must leave every probe result bit-identical — this
    query pins that by answering the APPENDED oracle after the
    rewrite.  This is the pass maintain_artifact's hygiene trigger runs
    when the drift monitor says the geometry is still good but
    artifact_stats says the file count is not (the measured it1
    re-cluster recall hazard makes 'just re-cluster on small-files'
    wrong).  Reference context: the HBase minor/major compaction
    split (store-file consolidation vs full rewrite) the reference's
    standing tables rely on."""
    from hpaste_spark.operators.similarity import (
        build_ivf_index,
        ivf_knn_join_indexed,
    )

    emb = _t(spark, sf_dir, "embeddings")

    def build(path: str) -> None:
        build_ivf_index(
            emb.filter(F.col("vec_id") % 5 != 1), path, k_centroids=8
        )
        append_artifact(spark, path, emb.filter(F.col("vec_id") % 5 == 1))
        compact_artifact(spark, path)

    path = ensure_artifact(
        _SCRATCH, "ivf_index_minor", sf_dir, "embeddings", _IVF_INDEX_VERSION, build
    )
    qs = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_knn_join_indexed(spark, path, qs, k=5, nprobe=2)


# Drift-recall monitor for the appended-IVF posture (round-11 verdict
# ask #2).  The DuckDB twin replays the whole pipeline: the reversed
# delta, seed-mean centroids over the build slice (appended) and the
# union (compact_it1), one full Lloyd step over the union (compact_it2),
# nearest-centroid assignment, per-query nprobe=2 probing, approximate
# and exact top-10, and the hit counts — so the three recall numbers
# hash-gate exactly, not in a band.
_IVF_DRIFT_ORACLE = """
    WITH v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    dl AS (SELECT vec_id + 1000001 AS vec_id, list_reverse(e) AS e FROM v0),
    u AS (SELECT * FROM v0 UNION ALL SELECT * FROM dl),
    q AS (SELECT vec_id AS qid, e AS qe FROM dl
          WHERE (vec_id - 1000001) % 50 = 0 AND (vec_id - 1000001) < 5000),
    nq AS (SELECT COUNT(*) AS n FROM q),
    capp AS (
      SELECT scid AS cid, list(round(m, 6) ORDER BY i) AS cvec FROM (
        SELECT vec_id % 8 AS scid, i, AVG(e[i]) AS m
        FROM v0, range(1, 65) AS r(i) GROUP BY scid, i) GROUP BY scid),
    cit1 AS (
      SELECT scid AS cid, list(round(m, 6) ORDER BY i) AS cvec FROM (
        SELECT vec_id % 8 AS scid, i, AVG(e[i]) AS m
        FROM u, range(1, 65) AS r(i) GROUP BY scid, i) GROUP BY scid),
    a1 AS (SELECT vec_id, cid FROM (
      SELECT u.vec_id, c.cid, row_number() OVER (PARTITION BY u.vec_id ORDER BY
        list_dot_product(u.e, c.cvec)
          / (sqrt(list_dot_product(u.e, u.e)) * sqrt(list_dot_product(c.cvec, c.cvec)))
        DESC, c.cid) AS rn
      FROM u, cit1 c) WHERE rn = 1),
    cit2 AS (
      SELECT a1cid AS cid, list(round(m, 6) ORDER BY i) AS cvec FROM (
        SELECT a1.cid AS a1cid, i, AVG(u.e[i]) AS m
        FROM u JOIN a1 USING (vec_id), range(1, 65) AS r(i)
        GROUP BY a1.cid, i) GROUP BY a1cid),
    cents AS (
      SELECT 'appended' AS variant, cid, cvec FROM capp
      UNION ALL SELECT 'compact_it1', cid, cvec FROM cit1
      UNION ALL SELECT 'compact_it2', cid, cvec FROM cit2),
    assign AS (SELECT variant, vec_id, cid FROM (
      SELECT c.variant, u.vec_id, c.cid, row_number() OVER (
        PARTITION BY c.variant, u.vec_id ORDER BY
        list_dot_product(u.e, c.cvec)
          / (sqrt(list_dot_product(u.e, u.e)) * sqrt(list_dot_product(c.cvec, c.cvec)))
        DESC, c.cid) AS rn
      FROM u, cents c) WHERE rn = 1),
    probes AS (SELECT variant, qid, cid FROM (
      SELECT c.variant, q.qid, c.cid, row_number() OVER (
        PARTITION BY c.variant, q.qid ORDER BY
        list_dot_product(q.qe, c.cvec)
          / (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(c.cvec, c.cvec)))
        DESC, c.cid) AS rn
      FROM q, cents c) WHERE rn <= 2),
    approx AS (SELECT variant, qid, vec_id FROM (
      SELECT p.variant, p.qid, u.vec_id, row_number() OVER (
        PARTITION BY p.variant, p.qid ORDER BY
        list_dot_product(u.e, q.qe)
          / (sqrt(list_dot_product(u.e, u.e)) * sqrt(list_dot_product(q.qe, q.qe)))
        DESC, u.vec_id) AS rk
      FROM u
      JOIN assign a ON a.vec_id = u.vec_id
      JOIN probes p ON p.variant = a.variant AND p.cid = a.cid
      JOIN q ON q.qid = p.qid
      WHERE u.vec_id != p.qid) WHERE rk <= 10),
    exact AS (SELECT qid, vec_id FROM (
      SELECT q.qid, u.vec_id, row_number() OVER (PARTITION BY q.qid ORDER BY
        list_dot_product(u.e, q.qe)
          / (sqrt(list_dot_product(u.e, u.e)) * sqrt(list_dot_product(q.qe, q.qe)))
        DESC, u.vec_id) AS rk
      FROM u, q WHERE u.vec_id != q.qid) WHERE rk <= 10),
    hits AS (
      SELECT a.variant, CAST(COUNT(*) AS BIGINT) AS n_hit
      FROM approx a JOIN exact e ON a.qid = e.qid AND a.vec_id = e.vec_id
      GROUP BY a.variant)
    SELECT v.variant,
           CAST(nq.n AS BIGINT)             AS n_queries,
           10                                AS k,
           COALESCE(h.n_hit, 0)              AS n_hit,
           ROUND(COALESCE(h.n_hit, 0) / (nq.n * 10.0), 4) AS recall_at_k
    FROM (SELECT DISTINCT variant FROM cents) v
    LEFT JOIN hits h ON h.variant = v.variant, nq
    ORDER BY v.variant
    """


@q("sim_ivf_appended_drift_recall", _IVF_DRIFT_ORACLE)
def sim_ivf_appended_drift_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DRIFT-RECALL MONITOR the appended-IVF posture needs (round-11
    verdict ask #2; round-12 ask #3 rewired it through the OPERATIONAL
    helper similarity.drift_recall, which grades a LIVE stored
    artifact): append_artifact assigns deltas under FROZEN build-time
    centroids, and its docstring names periodic re-cluster
    (similarity.compact_ivf_index) as the compaction step — but a daily
    ingest loop needs the NUMBER that says when.  This query builds a
    REAL standing artifact (build on the corpus, then append a
    distribution-shifted delta — the corpus with reversed embedding
    axes: drift that preserves the delta's internal neighbor structure,
    the 'new domain arrives' shape), takes delta vectors as queries,
    and calls drift_recall to grade recall@10 (nprobe=2,
    k_centroids=8) against exact cosine truth over the stored corpus
    for THREE geometries:

    - ``appended``    — the artifact as it stands (stored centroids +
                        stored per-vector cids),
    - ``compact_it1`` — seed-mean re-cluster of the stored corpus (what
                        compact_ivf_index(iterations=1) would give),
    - ``compact_it2`` — one full Lloyd step (iterations=2).

    The decision rule: re-cluster when compact_itN's recall exceeds
    appended's by more than the rebuild is worth.  MEASURED finding
    this fixture pins (SCALE.md 'Appended-IVF drift recall'): on
    structureless synthetic embeddings the frozen-centroid appended
    index does NOT decay for structure-preserving drift, and a
    seed-only it1 re-cluster of the drifted union actively HURTS
    (0.47 vs 0.54 appended at sf0.01) while Lloyd it2 recovers to
    0.53 — so compaction must refine, never just re-seed; the monitor
    exists precisely because the gap's sign is not assumable.  The
    helper caps the query sample at a FIXED ≤100 budget (ORDER BY qid
    LIMIT 100 — linear grader cost; the uncapped corpus-proportional
    form was the round-11 O(n²) scale bug, measured in SCALE.md),
    invisible at the gated SFs (sf0.01: 10 queries, sf0.1: exactly
    100).  All three recalls hash-gate against the full DuckDB replay
    — exact twins, not bands."""
    from hpaste_spark.functions.vectors import as_double
    from hpaste_spark.operators.similarity import (
        build_ivf_index,
        drift_recall,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    )
    delta = emb.select(
        (F.col("vec_id") + 1_000_001).alias("vec_id"),
        F.reverse(F.col("e")).alias("e"),
    )

    def build(path: str) -> None:
        build_ivf_index(emb, path, k_centroids=8, vec_col="e")
        append_artifact(spark, path, delta)

    path = ensure_artifact(
        _SCRATCH, "ivf_index_drift", sf_dir, "embeddings", _IVF_INDEX_VERSION, build
    )
    q_df = delta.filter(
        ((F.col("vec_id") - 1_000_001) % 50 == 0)
        & ((F.col("vec_id") - 1_000_001) < 5000)
    ).select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"))
    return drift_recall(
        spark, path, q_df, k=10, nprobe=2, candidate_iterations=(1, 2),
        budget=100,
    )


# ---------------------------------------------------------------------------
# Skew mitigation (beyond-parity, SURVEY §8): hot keys are the dominant
# failure mode of shuffles at 100 TB; these queries prove the salted
# two-stage agg and replicated salted join return bit-identical results
# to the plain plans the oracle runs.
# ---------------------------------------------------------------------------
@q(
    "skew_salted_rollup",
    f"""
    SELECT l_returnflag,
           {sql_sum2(sql_money('l_quantity'))} AS sum_qty,
           COUNT(l_quantity)                   AS n_rows,
           MAX(l_extendedprice)                AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def skew_salted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l_returnflag has 3 distinct values over the whole fact table —
    the canonical hot-key aggregation.  Salted two-stage plan: shuffle 1
    on (flag, salt16), shuffle 2 over ≤ 3×16 rows; exact-decimal sums
    keep the merge order-independent so the oracle hash is stable."""
    from hpaste_spark.operators.skew import salted_groupby

    li = _t(spark, sf_dir, "lineitem")
    out = salted_groupby(
        li,
        keys=["l_returnflag"],
        aggs={
            "sum_qty": ("sum", money("l_quantity")),
            "n_rows": ("count", F.col("l_quantity")),
            "max_price": ("max", F.col("l_extendedprice")),
        },
        salt_from=F.struct("l_orderkey", "l_linenumber"),
        n_salts=16,
    )
    return out.select(
        "l_returnflag",
        F.round(F.col("sum_qty"), 2).cast("double").alias("sum_qty"),
        "n_rows",
        "max_price",
    )


@q(
    "skew_salted_join",
    f"""
    SELECT o_orderpriority,
           {sql_sum2(sql_money('l_extendedprice') + " * (1 - l_discount)::DECIMAL(4,2)")} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replicated salted join (orders ×8 replicas, lineitem scattered by
    a row-unique salt) must reproduce the plain join's revenue rollup
    exactly — the oracle runs the unsalted join."""
    from hpaste_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "cast(round(l_extendedprice*100) as long) * (100 - cast(round(l_discount*100) as long))"
        ).alias("_rev_u4"),
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    j = salted_join(
        li, orders, on="l_orderkey",
        salt_from=F.struct("l_orderkey", "l_linenumber"), n_salts=8,
    )
    from hpaste_spark.functions.money import dsum_units

    return j.groupBy("o_orderpriority").agg(
        dsum_units("_rev_u4", 4).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (north star): binary payload + metadata through a
# real mapInPandas decode stage (codec faked deterministically — the
# oracle reproduces the fake from byte lengths, proving the plumbing).
# ---------------------------------------------------------------------------
@q(
    "mm_decode_meta",
    """
    SELECT doc_id,
      16 + (octet_length(CAST(text AS BLOB)) % 320) AS width,
      16 + ((octet_length(CAST(text AS BLOB)) // 7) % 240) AS height,
      CAST(1 + (octet_length(CAST(text AS BLOB)) % 8) AS INT) AS n_frames
    FROM documents
    """,
)
def mm_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hpaste_spark.operators.multimodal import attach_media, decode_media

    media = attach_media(_t(spark, sf_dir, "documents"))
    return decode_media(media).select("doc_id", "width", "height", "n_frames")


@q(
    "mm_frame_sample",
    """
    WITH d AS (SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n FROM documents),
    f AS (SELECT doc_id, n, GREATEST(CAST(ceil(n / 64.0) AS BIGINT), 1) AS nf FROM d)
    SELECT doc_id, CAST(fr AS INT) AS frame_no, LEAST(64, n - fr*64) AS frame_bytes
    FROM f CROSS JOIN unnest(range(0, nf)) AS u(fr)
    WHERE fr % 4 = 0
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hpaste_spark.operators.multimodal import attach_media, sample_frames

    media = attach_media(_t(spark, sf_dir, "documents"))
    return sample_frames(media, frame_bytes=64, every_k=4).select("doc_id", "frame_no", "frame_bytes")


@q(
    "mm_extract_features",
    """
    SELECT doc_id, to_json(list_transform(range(0, 16), i ->
      CAST((octet_length(CAST(text AS BLOB)) * (2*i+1)
            + ('0x' || substr(md5(text), 1, 8))::BIGINT * (i+1)) % 1000 AS BIGINT)))::VARCHAR AS features
    FROM documents
    """,
)
def mm_extract_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over the binary media column —
    the embedding-model integration point, fake model deterministic
    from (byte length, md5 prefix) so the oracle reproduces it."""
    from hpaste_spark.operators.multimodal import attach_media, extract_features

    media = attach_media(_t(spark, sf_dir, "documents"))
    feats = extract_features(media, dim=16)
    # driver harness can't hash LIST cells — serialize (VERDICT r2 #4)
    return feats.withColumn("features", F.to_json(F.col("features")))


@q(
    "mm_shared_frames",
    """
    -- DuckDB substr only takes VARCHAR; the fixture is pure ASCII
    -- (oracle-asserted: octet_length == length for every doc), so the
    -- char slice IS the byte slice Spark takes on the binary column
    WITH f AS (SELECT doc_id, text AS m, octet_length(CAST(text AS BLOB)) AS n
               FROM documents WHERE octet_length(CAST(text AS BLOB)) > 0),
    fr AS (SELECT DISTINCT doc_id,
                  md5(substr(m, CAST(i * 64 + 1 AS BIGINT), 64)) AS fh
           FROM f, unnest(range(0, CAST(ceil(n / 64.0) AS BIGINT))) AS u(i)),
    p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM fr a JOIN fr b ON a.fh = b.fh AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared_frames
    FROM p GROUP BY doc_a, doc_b
    """,
)
def mm_shared_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level copy detection over the binary media column: every
    payload chunked into 64-byte frames (sample_frames, every frame),
    each frame md5-hashed, pairs reported per shared identical frame —
    the video/audio segment-dedup primitive (re-posted clips, copied
    intros) next to the text dedup stack.  Pairs expand only through
    the frame-hash equi-join; at corpus scale a max_frame_df cap
    bounds the fan-out of ubiquitous frames the way the shingle-df
    caps do."""
    from hpaste_spark.operators.multimodal import attach_media, shared_frame_pairs

    media = attach_media(_t(spark, sf_dir, "documents"))
    return shared_frame_pairs(media, frame_bytes=64)


@q(
    "mm_shared_frame_run",
    """
    WITH sfr AS (
      SELECT doc_id, fno, md5(substr(text, CAST(fno*64+1 AS BIGINT), 64)) AS fh
      FROM documents,
           unnest(range(0, CAST(ceil(length(text)/64.0) AS BIGINT))) AS u(fno)
      WHERE length(text) > 0
        AND length(substr(text, CAST(fno*64+1 AS BIGINT), 64)) > 0),
    sfr_h AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.fno AS fa,
                     a.fno - b.fno AS diag
              FROM sfr a JOIN sfr b ON a.fh = b.fh AND a.doc_id < b.doc_id),
    sfr_r AS (SELECT doc_a, doc_b, diag, fa,
                     fa - row_number() OVER (
                       PARTITION BY doc_a, doc_b, diag ORDER BY fa) AS grp
              FROM sfr_h),
    sfr_s AS (SELECT doc_a, doc_b, COUNT(*) AS run
              FROM sfr_r GROUP BY doc_a, doc_b, diag, grp)
    SELECT doc_a, doc_b, CAST(MAX(run) AS BIGINT) AS run_frames
    FROM sfr_s GROUP BY doc_a, doc_b HAVING MAX(run) >= 2
    """,
)
def mm_shared_frame_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL frame alignment: longest run of CONSECUTIVE identical
    frames per doc pair (≥2) — the clip-copy signal mm_shared_frames'
    bag count can't express (40 scattered stock frames ≠ a 40-frame
    copied segment).  The text ExactSubstr diagonal-island machinery
    at frame granularity: positions ride the md5 equi-join, shared
    runs have constant position difference, maximal islands measure
    the run.  Fixture pairs align at runs 2-8 frames."""
    from hpaste_spark.operators.multimodal import (attach_media,
                                                   shared_frame_run_pairs)

    media = attach_media(_t(spark, sf_dir, "documents"))
    return shared_frame_run_pairs(media, frame_bytes=64, min_run=2)


# frame dHash signature chain shared by the perceptual-frame oracles
# (mm_near_frames brute-force verify + prof_band_entropy): the
# DISTINCT (doc_id, fsig) relation of multimodal.frame_signatures.
# Fixture is pure ASCII, so ord() == the byte Spark reads via hex.
_NF_SIG_CHAIN = """
    nf_f AS (SELECT doc_id, substr(text, CAST(fno*64+1 AS BIGINT), 64) AS f
                  FROM documents,
                       unnest(range(0, CAST(ceil(length(text)/64.0) AS BIGINT))) AS u(fno)
                  WHERE length(text) > 0),
    nf_seg AS (SELECT doc_id,
        list_transform(range(0,32), i -> CAST(CASE
          WHEN length(f) >= i*2+2 THEN 256*ord(substr(f, CAST(i*2+1 AS BIGINT), 1))
                                       + ord(substr(f, CAST(i*2+2 AS BIGINT), 1))
          WHEN length(f) = i*2+1 THEN ord(substr(f, CAST(i*2+1 AS BIGINT), 1))
          ELSE 0 END AS BIGINT)) AS sv
      FROM nf_f WHERE length(f) > 0),
    nf_sig AS (SELECT DISTINCT doc_id,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(0,31), i ->
              CAST(CASE WHEN sv[i+1] > sv[i+2] THEN 1 ELSE 0 END AS BIGINT))),
          (acc, x) -> acc*2 + x) AS fsig
      FROM nf_seg)
"""


@q(
    "mm_near_frames",
    f"""
    -- brute-force Hamming oracle: banding with bands = max_hamming+1
    -- contiguous slices is pigeonhole-LOSSLESS, so the blocked Spark
    -- plan and this quadratic verify emit the identical relation.
    WITH {_NF_SIG_CHAIN},
    nf_p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM nf_sig a JOIN nf_sig b
               ON a.doc_id < b.doc_id
              AND bit_count(xor(a.fsig, b.fsig)) <= 2)
    SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS n_near_frames
    FROM nf_p GROUP BY doc_a, doc_b
    """,
)
def mm_near_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCEPTUAL (Hamming-tolerant) frame dedup (VERDICT r7 #4):
    mm_shared_frames' md5 equi-join catches only bit-identical frames;
    here each 64-byte frame gets a 31-bit dHash (adjacent 2-byte
    segment comparison — a byte edit perturbs only its own segment,
    the locality property real image dHash has over brightness cells)
    and doc pairs are reported per DISTINCT signature pair within
    Hamming distance 2.  Candidates block on 3 contiguous bit slices
    (pigeonhole: ≤2 differing bits can't touch all 3 bands, so
    banding is lossless and the brute-force oracle is exact), expand
    only through the (band_idx, band_key) equi-join, and verify with
    one bit_count(xor) — never all-pairs.

    max_bucket=4000 is the saturation guardrail: the fixture's 31-word
    vocabulary gives the signature low per-bit entropy, so band keys
    concentrate (measured max bucket 315 at sf0.01 / 3145 at sf0.1 —
    both BELOW the cap, so the gate compares the exact uncapped
    relation) and in-bucket pair work would grow quadratically past
    these scales.  With the cap, total candidate work is bounded by
    cap·bands·n_signatures — linear — at the documented cost of
    dropping saturated (non-discriminative) buckets; see SCALE.md
    'Perceptual banding saturation'.  Because THIS query is graded
    against an UNCAPPED brute-force oracle, it runs with
    on_capped='error': if a larger fixture ever pushes a bucket past
    the cap, the job fails with an explicit message instead of
    silently hash-mismatching (bucket growth is ~10× per SF step —
    the next step would cross the cap; prof_band_entropy is the
    user-facing diagnostic for sizing it)."""
    from hpaste_spark.operators.multimodal import attach_media, near_frame_pairs

    media = attach_media(_t(spark, sf_dir, "documents"))
    return near_frame_pairs(
        media, frame_bytes=64, max_hamming=2, max_bucket=4000,
        on_capped="error",
    )


@q(
    "prof_band_entropy",
    f"""
    WITH {_NF_SIG_CHAIN},
    pbe_b AS (
      SELECT b.band_idx,
             CASE b.band_idx WHEN 0 THEN fsig % 2048
                             WHEN 1 THEN (fsig >> 11) % 1024
                             ELSE (fsig >> 21) % 1024 END AS k
      FROM nf_sig, (VALUES (0),(1),(2)) b(band_idx)),
    pbe_c AS (SELECT band_idx, k, COUNT(*) AS c FROM pbe_b GROUP BY 1, 2),
    pbe_st AS (SELECT band_idx, SUM(c) AS n_rows, COUNT(*) AS n_buckets,
                      MAX(c) AS max_bucket, SUM(c * log2(c)) AS clogc
               FROM pbe_c GROUP BY 1),
    pbe_sc AS (SELECT band_idx, c, COUNT(*) AS nb FROM pbe_c GROUP BY 1, 2),
    pbe_cw AS (SELECT band_idx, c,
                      SUM(nb) OVER (PARTITION BY band_idx ORDER BY c) AS cum,
                      SUM(nb) OVER (PARTITION BY band_idx) AS tot
               FROM pbe_sc),
    pbe_p AS (SELECT band_idx,
                     MIN(CASE WHEN cum*100 >= 99*tot THEN c END) AS p99_bucket
              FROM pbe_cw GROUP BY 1)
    SELECT band_idx, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_buckets AS BIGINT) AS n_buckets,
           CAST(max_bucket AS BIGINT) AS max_bucket,
           CAST(p99_bucket AS BIGINT) AS p99_bucket,
           CAST(FLOOR((log2(n_rows) - clogc / n_rows) * 1000.0) AS BIGINT)
             AS entropy_millibits
    FROM pbe_st JOIN pbe_p USING (band_idx)
    """,
)
def prof_band_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-key concentration diagnostic (round-8 verdict ask #5),
    run over the SAME banded frame-signature table mm_near_frames
    joins on (multimodal.frame_band_keys — one shared code path, so
    the diagnostic measures exactly what the join will see): per band,
    bucket-count extremes (max / exact type-1 p99) and the Shannon
    entropy of the key distribution in milli-bits.  This is the
    measurement behind SCALE.md 'Perceptual banding saturation',
    promoted from by-hand prose to a query a user runs on THEIR data
    to size max_bucket: entropy far below the band's key width (11 or
    10 bits here) means keys are concentrating and the banded join is
    approaching its quadratic regime — on the 31-word fixture the
    measured ~5-6 bits against 10-11-bit keys is the saturation the
    cap guards.  Generic over any banded table (MinHash bands,
    hyperplane bands) via profile.band_entropy."""
    from hpaste_spark.operators.multimodal import attach_media, frame_band_keys
    from hpaste_spark.operators.profile import band_entropy

    media = attach_media(_t(spark, sf_dir, "documents"))
    return band_entropy(
        frame_band_keys(media, frame_bytes=64, max_hamming=2)
    )


# ---------------------------------------------------------------------------
# Analytics extensions round 2: percentiles, sessionization, TPC-H Q3
# shape, conditional/date aggregation, string projections, composite-key
# multi-get, left-join multi-get, applyInPandas group fold.
# ---------------------------------------------------------------------------
@q(
    "w_percentiles",
    """
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 2) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.95), 2) AS p95,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def w_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 2).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.95)), 2).alias("p95"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Time-series reshaping + wide pivot + correlation profiling
# (operators/timeseries.py, groups.pivot_counts, profile.numeric_corr).
# ---------------------------------------------------------------------------
@q(
    "ts_resample_gapfill",
    """
    WITH ev AS (
      SELECT CAST(FLOOR(epoch_us(ts) / (15 * 60 * CAST(1000000 AS BIGINT))) AS BIGINT) AS b,
             value
      FROM events
    ),
    agg AS (SELECT b, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
            FROM ev GROUP BY b),
    bounds AS (SELECT MIN(b) AS lo, MAX(b) AS hi FROM ev),
    spine AS (SELECT unnest(generate_series(lo, hi)) AS b FROM bounds)
    SELECT CAST(b * (15 * 60 * CAST(1000000 AS BIGINT)) AS BIGINT) AS bucket_start_us,
           CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
           sum_value
    FROM spine LEFT JOIN agg USING (b)
    """,
)
def ts_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-minute resample with a dense sequence-exploded bucket spine:
    empty buckets appear with n_events=0 / sum_value NULL."""
    from hpaste_spark.operators.timeseries import resample_gapfill

    return resample_gapfill(_t(spark, sf_dir, "events"), bucket_minutes=15)


@q(
    "ts_rolling_range",
    """
    SELECT user_id, epoch_us(ts) AS ts_us,
           CAST(COUNT(*) OVER w AS BIGINT) AS rolling_n,
           ROUND(SUM(value) OVER w, 2) AS rolling_sum
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def ts_rolling_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-hour per-user rolling count/sum with a RANGE frame on
    epoch micros — ties share a frame, so output is deterministic
    without a row tie-break."""
    from hpaste_spark.operators.timeseries import rolling_range_agg

    return rolling_range_agg(_t(spark, sf_dir, "events"), window_minutes=60)


@q(
    "a_pivot_event_type_counts",
    """
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
    FROM events GROUP BY user_id
    """,
)
def a_pivot_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide per-user event-type matrix via explicit-values pivot — a
    single conditional-agg hash-agg, no distinct-collect pre-pass."""
    from hpaste_spark.operators.groups import pivot_counts

    return pivot_counts(
        _t(spark, sf_dir, "events"),
        "user_id",
        "event_type",
        ["view", "click", "purchase", "signup", "error"],
    )


@q(
    "prof_numeric_corr",
    """
    SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS corr FROM lineitem
    UNION ALL
    SELECT 'l_quantity', 'l_discount', ROUND(corr(l_quantity, l_discount), 6) FROM lineitem
    UNION ALL
    SELECT 'l_quantity', 'l_tax', ROUND(corr(l_quantity, l_tax), 6) FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', 'l_discount', ROUND(corr(l_extendedprice, l_discount), 6) FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', 'l_tax', ROUND(corr(l_extendedprice, l_tax), 6) FROM lineitem
    UNION ALL
    SELECT 'l_discount', 'l_tax', ROUND(corr(l_discount, l_tax), 6) FROM lineitem
    """,
)
def prof_numeric_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of the lineitem numerics in ONE
    fused aggregate pass (the oracle's 6 scans collapse to 1 here)."""
    from hpaste_spark.operators.profile import numeric_corr

    return numeric_corr(
        _t(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


@q(
    "a_argmax_order_per_priority",
    """
    SELECT o_orderpriority,
           arg_max(o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT)
                               * 10000000000 + o_orderkey) AS max_orderkey,
           ROUND(MAX(o_totalprice), 2) AS max_price,
           arg_min(o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT)
                               * 10000000000 + o_orderkey) AS min_orderkey,
           ROUND(MIN(o_totalprice), 2) AS min_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def a_argmax_order_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax/argmin WITHOUT a window or self-join: Spark max_by /
    min_by (DuckDB arg_max/arg_min) — single hash-agg.  The ordering
    key is composite (price-cents, orderkey) packed into one BIGINT
    (DuckDB arg_max keys are scalar-only): ties on price resolve to
    the HIGHEST orderkey on the max side and the LOWEST on the min
    side — deterministic on both engines.  1e10 multiplier: TPC-H
    o_orderkey tops out at 6e9 at sf1000 (< 1e10, never bleeds into
    the cents field) and cents max ~6e7, so the packed key peaks at
    ~6e17 — inside BIGINT at every published scale factor."""
    o = _t(spark, sf_dir, "orders")
    key = (
        F.round(F.col("o_totalprice") * 100).cast("long") * 10000000000
        + F.col("o_orderkey")
    )
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", key).alias("max_orderkey"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.min_by("o_orderkey", key).alias("min_orderkey"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
    )


@q(
    "sess_gap_sessionize",
    """
    -- CAST: DuckDB widens SUM(int) to HUGEINT, which the driver harness
    -- fetches via pandas as float64 and hash-compares against Spark's
    -- long — bit-exact values still hash-mismatch (VERDICT r2 #3).
    SELECT event_id, user_id, CAST(session_idx AS BIGINT) AS session_idx FROM (
      SELECT event_id, user_id,
             SUM(CASE WHEN prev_ts IS NULL
                       OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM (SELECT event_id, user_id, ts,
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
            FROM events) t) s
    """,
)
def sess_gap_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hpaste_spark.operators.groups import sessionize

    ev = _t(spark, sf_dir, "events")
    return sessionize(ev, "user_id", "ts", gap_minutes=30, tiebreak_cols=["event_id"]).select(
        "event_id", "user_id", "session_idx"
    )


# ---------------------------------------------------------------------------
# Ordered-step funnel (single-shuffle fold; contrast with the
# join-chain funnel_view_click_purchase above) + cohort retention —
# the per-user ordered-replay reducer shapes HPaste's secondary-sort
# MR jobs express (mapreduce2.scala:1040 sort/grouping comparators),
# as one shuffle + a JVM array fold / two hash aggs.  operators/funnel.py.
# ---------------------------------------------------------------------------
@q(
    "funnel_ordered_steps",
    """
    WITH s0 AS (SELECT user_id, MIN(ts) AS t FROM events
                WHERE event_type = 'view' GROUP BY user_id),
    s1 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN s0 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY e.user_id),
    s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY e.user_id),
    c AS (
      SELECT 1 AS step, 'view' AS step_name, (SELECT COUNT(*) FROM s0) AS n_users
      UNION ALL
      SELECT 2, 'click', (SELECT COUNT(*) FROM s1)
      UNION ALL
      SELECT 3, 'purchase', (SELECT COUNT(*) FROM s2)
    )
    SELECT CAST(step AS INT) AS step, step_name, CAST(n_users AS BIGINT) AS n_users,
           ROUND(CASE WHEN (SELECT COUNT(*) FROM s0) > 0
                      THEN n_users * 100.0 / (SELECT COUNT(*) FROM s0)
                      ELSE 0.0 END, 2) AS pct_of_first
    FROM c
    """,
)
def funnel_ordered_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered view→click→purchase funnel: one shuffle + fold,
    not the oracle's k self-joins (semantics proven equal — greedy
    earliest matching; see funnel.py docstring)."""
    from hpaste_spark.operators.funnel import funnel_counts

    ev = _t(spark, sf_dir, "events")
    return funnel_counts(ev, ["view", "click", "purchase"])


@q(
    "funnel_cohort_retention",
    """
    WITH ev AS (SELECT user_id,
                       CAST(FLOOR(epoch_us(ts) / (7 * 86400 * CAST(1000000 AS BIGINT))) AS BIGINT) AS p
                FROM events),
    f AS (SELECT user_id, MIN(p) AS cohort FROM ev GROUP BY user_id),
    a AS (SELECT DISTINCT user_id, p FROM ev),
    g AS (SELECT cohort AS cohort_period, p - cohort AS period_offset,
                 COUNT(*) AS n_active
          FROM a JOIN f USING (user_id) GROUP BY 1, 2),
    b AS (SELECT cohort_period, n_active AS base FROM g WHERE period_offset = 0)
    SELECT g.cohort_period, CAST(g.period_offset AS BIGINT) AS period_offset,
           CAST(g.n_active AS BIGINT) AS n_active,
           ROUND(g.n_active * 100.0 / b.base, 2) AS retention_pct
    FROM g JOIN b USING (cohort_period)
    """,
)
def funnel_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hpaste_spark.operators.funnel import cohort_retention

    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev, period_days=7)


@q(
    "sess_top_paths",
    """
    WITH s AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM (SELECT user_id, ts, event_id, event_type,
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
            FROM events) t),
    p AS (SELECT user_id, session_idx,
                 string_agg(event_type, '>' ORDER BY ts, event_id) AS path
          FROM s GROUP BY user_id, session_idx),
    c AS (SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY path)
    SELECT path, CAST(n_sessions AS BIGINT) AS n_sessions
    FROM c ORDER BY n_sessions DESC, path LIMIT 20
    """,
)
def sess_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 within-session event-type paths over 30-min gap
    sessions — sessionize composed with a sorted-struct path agg and a
    TakeOrdered head."""
    from hpaste_spark.operators.funnel import session_paths

    return session_paths(
        _t(spark, sf_dir, "events"), gap_minutes=30, top=20,
        tiebreak_cols=["event_id"],
    )


@q(
    "vec_pca_top_component",
    """
    WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings
               WHERE embedding IS NOT NULL),
    mur AS (SELECT i, ROUND(AVG(e[i]), 9) AS m FROM v, range(1, 65) r(i) GROUP BY i),
    mu AS (SELECT list(m ORDER BY i) AS mu FROM mur),
    c AS (SELECT list_transform(range(1, 65), i -> e[i] - mu.mu[i]) AS x FROM v, mu),
    v0 AS (SELECT list_transform(range(1, 65), i -> 0.125) AS vv),
    w1r AS (SELECT i, SUM(x[i] * list_dot_product(x, v0.vv)) AS w
            FROM c, v0, range(1, 65) r(i) GROUP BY i),
    n1 AS (SELECT SQRT(SUM(w * w)) AS nm FROM w1r),
    v1 AS (SELECT list(ROUND(w / n1.nm, 7) ORDER BY i) AS vv FROM w1r, n1),
    w2r AS (SELECT i, SUM(x[i] * list_dot_product(x, v1.vv)) AS w
            FROM c, v1, range(1, 65) r(i) GROUP BY i),
    n2 AS (SELECT SQRT(SUM(w * w)) AS nm FROM w2r),
    v2 AS (SELECT list(ROUND(w / n2.nm, 7) ORDER BY i) AS vv FROM w2r, n2),
    w3r AS (SELECT i, SUM(x[i] * list_dot_product(x, v2.vv)) AS w
            FROM c, v2, range(1, 65) r(i) GROUP BY i),
    n3 AS (SELECT SQRT(SUM(w * w)) AS nm FROM w3r),
    v3 AS (SELECT list(ROUND(w / n3.nm, 6) ORDER BY i) AS vv FROM w3r, n3),
    sg AS (SELECT CASE WHEN vv[1] < 0 THEN -1.0 ELSE 1.0 END AS s, vv FROM v3)
    SELECT CAST(i - 1 AS INT) AS pos, vv[i] * s AS loading
    FROM sg, range(1, 65) r(i)
    """,
)
def vec_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embeddings by 3 power
    iterations — posexplode/hash-agg updates, broadcast mean and
    vector, 9dp/7dp intermediate rounding so the unrolled DuckDB twin
    iterates on identical vectors."""
    from hpaste_spark.operators.linalg import pca_top_component

    return pca_top_component(_t(spark, sf_dir, "embeddings"), iterations=3)


@q(
    "vec_pca_two_components",
    """
    WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings
               WHERE embedding IS NOT NULL),
    mur AS (SELECT i, ROUND(AVG(e[i]), 9) AS m FROM v, range(1, 65) r(i) GROUP BY i),
    mu AS (SELECT list(m ORDER BY i) AS mu FROM mur),
    c AS (SELECT list_transform(range(1, 65), i -> e[i] - mu.mu[i]) AS x FROM v, mu),
    v0 AS (SELECT list_transform(range(1, 65), i -> 0.125) AS vv),
    w1r AS (SELECT i, SUM(x[i] * list_dot_product(x, v0.vv)) AS w
            FROM c, v0, range(1, 65) r(i) GROUP BY i),
    n1 AS (SELECT SQRT(SUM(w * w)) AS nm FROM w1r),
    v1 AS (SELECT list(ROUND(w / n1.nm, 7) ORDER BY i) AS vv FROM w1r, n1),
    w2r AS (SELECT i, SUM(x[i] * list_dot_product(x, v1.vv)) AS w
            FROM c, v1, range(1, 65) r(i) GROUP BY i),
    n2 AS (SELECT SQRT(SUM(w * w)) AS nm FROM w2r),
    v2 AS (SELECT list(ROUND(w / n2.nm, 7) ORDER BY i) AS vv FROM w2r, n2),
    w3r AS (SELECT i, SUM(x[i] * list_dot_product(x, v2.vv)) AS w
            FROM c, v2, range(1, 65) r(i) GROUP BY i),
    n3 AS (SELECT SQRT(SUM(w * w)) AS nm FROM w3r),
    v3 AS (SELECT list(ROUND(w / n3.nm, 6) ORDER BY i) AS vv FROM w3r, n3),
    sg1 AS (SELECT CASE WHEN vv[1] < 0 THEN -1.0 ELSE 1.0 END AS s, vv FROM v3),
    -- deflation: sign cancels in (x·v)·v_i, so the raw v3 vector works
    d AS (SELECT list_transform(range(1, 65),
              i -> x[i] - list_dot_product(x, v3.vv) * v3.vv[i]) AS x
          FROM c, v3),
    w1b AS (SELECT i, SUM(x[i] * list_dot_product(x, v0.vv)) AS w
            FROM d, v0, range(1, 65) r(i) GROUP BY i),
    n1b AS (SELECT SQRT(SUM(w * w)) AS nm FROM w1b),
    v1b AS (SELECT list(ROUND(w / n1b.nm, 7) ORDER BY i) AS vv FROM w1b, n1b),
    w2b AS (SELECT i, SUM(x[i] * list_dot_product(x, v1b.vv)) AS w
            FROM d, v1b, range(1, 65) r(i) GROUP BY i),
    n2b AS (SELECT SQRT(SUM(w * w)) AS nm FROM w2b),
    v2b AS (SELECT list(ROUND(w / n2b.nm, 7) ORDER BY i) AS vv FROM w2b, n2b),
    w3b AS (SELECT i, SUM(x[i] * list_dot_product(x, v2b.vv)) AS w
            FROM d, v2b, range(1, 65) r(i) GROUP BY i),
    n3b AS (SELECT SQRT(SUM(w * w)) AS nm FROM w3b),
    v3b AS (SELECT list(ROUND(w / n3b.nm, 6) ORDER BY i) AS vv FROM w3b, n3b),
    sg2 AS (SELECT CASE WHEN vv[1] < 0 THEN -1.0 ELSE 1.0 END AS s, vv FROM v3b)
    SELECT CAST(1 AS INT) AS component, CAST(i - 1 AS INT) AS pos,
           vv[i] * s AS loading
    FROM sg1, range(1, 65) r(i)
    UNION ALL
    SELECT CAST(2 AS INT), CAST(i - 1 AS INT), vv[i] * s
    FROM sg2, range(1, 65) r(i)
    """,
)
def vec_pca_two_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 principal components by power iteration with deflation:
    v2 is extracted from the v1-orthogonal residual.  The deflation
    projection materializes as an attribute before the elementwise
    lambda (per-element re-evaluation hazard)."""
    from hpaste_spark.operators.linalg import pca_top_components

    return pca_top_components(
        _t(spark, sf_dir, "embeddings"), n_components=2, iterations=3
    )


@q(
    "vec_remove_top_component",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
               WHERE embedding IS NOT NULL),
    mur AS (SELECT i, ROUND(AVG(e[i]), 9) AS m FROM v, range(1, 65) r(i) GROUP BY i),
    mu AS (SELECT list(m ORDER BY i) AS mu FROM mur),
    c AS (SELECT vec_id, list_transform(range(1, 65), i -> e[i] - mu.mu[i]) AS x
          FROM v, mu),
    v0 AS (SELECT list_transform(range(1, 65), i -> 0.125) AS vv),
    w1r AS (SELECT i, SUM(x[i] * list_dot_product(x, v0.vv)) AS w
            FROM c, v0, range(1, 65) r(i) GROUP BY i),
    n1 AS (SELECT SQRT(SUM(w * w)) AS nm FROM w1r),
    v1 AS (SELECT list(ROUND(w / n1.nm, 7) ORDER BY i) AS vv FROM w1r, n1),
    w2r AS (SELECT i, SUM(x[i] * list_dot_product(x, v1.vv)) AS w
            FROM c, v1, range(1, 65) r(i) GROUP BY i),
    n2 AS (SELECT SQRT(SUM(w * w)) AS nm FROM w2r),
    v2 AS (SELECT list(ROUND(w / n2.nm, 7) ORDER BY i) AS vv FROM w2r, n2),
    w3r AS (SELECT i, SUM(x[i] * list_dot_product(x, v2.vv)) AS w
            FROM c, v2, range(1, 65) r(i) GROUP BY i),
    n3 AS (SELECT SQRT(SUM(w * w)) AS nm FROM w3r),
    v3 AS (SELECT list(ROUND(w / n3.nm, 6) ORDER BY i) AS vv FROM w3r, n3),
    sg AS (SELECT CASE WHEN vv[1] < 0 THEN -1.0 ELSE 1.0 END AS s, vv FROM v3)
    SELECT c.vec_id,
           ROUND(SQRT(list_dot_product(c.x, c.x)), 6) AS centered_norm,
           ROUND(list_dot_product(c.x, sg.vv) * sg.s, 6) AS proj,
           ROUND(SQRT(GREATEST(list_dot_product(c.x, c.x)
                 - (list_dot_product(c.x, sg.vv) * sg.s)
                   * (list_dot_product(c.x, sg.vv) * sg.s), 0)), 6) AS resid_norm
    FROM c, sg
    """,
)
def vec_remove_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABTT diagnostics: per-vector centered norm, projection onto the
    corpus top component, residual norm via the dot identity (residual
    vector never materialized)."""
    from hpaste_spark.operators.linalg import remove_top_component

    return remove_top_component(_t(spark, sf_dir, "embeddings"), iterations=3)


@q(
    "prof_drift_psi",
    """
    WITH tagged AS (
      SELECT n_chars,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 20
                  THEN 'holdout' ELSE 'train' END AS split
      FROM documents
    ),
    b AS (SELECT quantile_cont(n_chars, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bl
          FROM tagged WHERE split = 'train'),
    binned AS (
      SELECT split, CAST(len(list_filter(b.bl, x -> n_chars > x)) + 1 AS INT) AS bin
      FROM tagged, b
    ),
    r AS (SELECT bin, COUNT(*) AS n_ref FROM binned WHERE split = 'train' GROUP BY bin),
    c AS (SELECT bin, COUNT(*) AS n_cur FROM binned WHERE split = 'holdout' GROUP BY bin),
    j AS (SELECT COALESCE(r.bin, c.bin) AS bin,
                 COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
          FROM r FULL OUTER JOIN c ON r.bin = c.bin),
    tot AS (SELECT CAST(SUM(n_ref) AS DOUBLE) AS tr, CAST(SUM(n_cur) AS DOUBLE) AS tc FROM j)
    SELECT bin, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
           ROUND(n_ref / tot.tr, 6) AS p_ref,
           ROUND(n_cur / tot.tc, 6) AS p_cur,
           CASE WHEN n_ref > 0 AND n_cur > 0
                THEN ROUND((n_ref / tot.tr - n_cur / tot.tc)
                           * ln((n_ref / tot.tr) / (n_cur / tot.tc)), 6)
                END AS psi_term
    FROM j, tot
    """,
)
def prof_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the doc-length distribution
    between the md5 train split (reference) and the 20% holdout —
    reference-decile boundaries, windowless, two scans."""
    from hpaste_spark.operators.profile import drift_psi
    from hpaste_spark.operators.sampling import hash_split

    d = hash_split(
        _t(spark, sf_dir, "documents").select("doc_id", "n_chars"),
        "doc_id",
        holdout_pct=20,
    )
    ref = d.filter(F.col("split") == "train")
    cur = d.filter(F.col("split") == "holdout")
    return drift_psi(ref, cur, "n_chars", n_bins=10)


@q(
    "repair_impute_value",
    """
    WITH t AS (
      SELECT event_id, event_type,
             CASE WHEN ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 10
                  THEN NULL ELSE value END AS v
      FROM events),
    m AS (SELECT event_type, ROUND(AVG(v), 6) AS gm FROM t GROUP BY event_type)
    SELECT t.event_id, t.event_type, COALESCE(t.v, m.gm) AS v,
           (t.v IS NULL) AS v_imputed
    FROM t JOIN m USING (event_type)
    """,
)
def repair_impute_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-mean null imputation over deterministic simulated
    missingness (~10% of values nulled by event-id md5 bucket — the
    fixtures ship no nulls), means broadcast back in one join."""
    from hpaste_spark.operators.repair import impute_group_mean
    from hpaste_spark.operators.sampling import hash_bucket

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(hash_bucket(F.col("event_id"), 100) < 10, F.lit(None))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    return impute_group_mean(ev, "v", "event_type").select(
        "event_id", "event_type", "v", "v_imputed"
    )


@q(
    "repair_iqr_outliers",
    """
    WITH q AS (SELECT o_orderpriority AS g,
                      ROUND(quantile_cont(o_totalprice, 0.25), 6) AS q1,
                      ROUND(quantile_cont(o_totalprice, 0.75), 6) AS q3
               FROM orders GROUP BY 1)
    SELECT o.o_orderpriority, o.o_totalprice AS value,
           ROUND(q1 - 0.5 * (q3 - q1), 6) AS lo_fence,
           ROUND(q3 + 0.5 * (q3 - q1), 6) AS hi_fence,
           CASE WHEN o.o_totalprice < ROUND(q1 - 0.5 * (q3 - q1), 6)
                THEN 'low' ELSE 'high' END AS side
    FROM orders o JOIN q ON o.o_orderpriority = q.g
    WHERE o.o_totalprice < ROUND(q1 - 0.5 * (q3 - q1), 6)
       OR o.o_totalprice > ROUND(q3 + 0.5 * (q3 - q1), 6)
    """,
)
def repair_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority IQR-fence outliers of order totals (k=0.5 — the
    fixture's uniform totals clear the classic 1.5 fence, so the query
    tightens it to exercise both tails) — one percentile agg broadcast
    onto the scan, no windows."""
    from hpaste_spark.operators.repair import iqr_outliers

    return iqr_outliers(
        _t(spark, sf_dir, "orders"), "o_totalprice", "o_orderpriority", k=0.5
    )


@q(
    "prof_drift_psi_cat",
    """
    WITH tagged AS (
      SELECT lang,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 20
                  THEN 'holdout' ELSE 'train' END AS split
      FROM documents
    ),
    r AS (SELECT lang AS category, COUNT(*) AS n_ref FROM tagged
          WHERE split = 'train' GROUP BY 1),
    c AS (SELECT lang AS category, COUNT(*) AS n_cur FROM tagged
          WHERE split = 'holdout' GROUP BY 1),
    j AS (SELECT COALESCE(r.category, c.category) AS category,
                 COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
          FROM r FULL OUTER JOIN c ON r.category = c.category),
    tot AS (SELECT CAST(SUM(n_ref) AS DOUBLE) AS tr,
                   CAST(SUM(n_cur) AS DOUBLE) AS tc FROM j)
    SELECT category, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
           ROUND(n_ref / tot.tr, 6) AS p_ref,
           ROUND(n_cur / tot.tc, 6) AS p_cur,
           CASE WHEN n_ref > 0 AND n_cur > 0
                THEN ROUND((n_ref / tot.tr - n_cur / tot.tc)
                           * ln((n_ref / tot.tr) / (n_cur / tot.tc)), 6)
                END AS psi_term
    FROM j, tot
    """,
)
def prof_drift_psi_cat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical PSI: language-mix drift between the md5 train split
    and the 20% holdout."""
    from hpaste_spark.operators.profile import drift_psi_categorical
    from hpaste_spark.operators.sampling import hash_split

    d = hash_split(
        _t(spark, sf_dir, "documents").select("doc_id", "lang"),
        "doc_id",
        holdout_pct=20,
    )
    return drift_psi_categorical(
        d.filter(F.col("split") == "train"),
        d.filter(F.col("split") == "holdout"),
        "lang",
    )


@q(
    "a_regr_trend",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(regr_slope(value, (epoch_us(ts) - 1704067200000000) / 3600000000.0), 6) AS slope,
           ROUND(regr_intercept(value, (epoch_us(ts) - 1704067200000000) / 3600000000.0), 6) AS intercept,
           ROUND(regr_r2(value, (epoch_us(ts) - 1704067200000000) / 3600000000.0), 6) AS r2
    FROM events GROUP BY event_type
    """,
)
def a_regr_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of value over hours-since-2024-01-01
    (offset x to the data epoch: regressing against raw epoch hours
    puts a ~473k offset under the intercept's catastrophic
    cancellation) — one regr_* hash-agg pass."""
    from hpaste_spark.operators.profile import group_trend

    ev = _t(spark, sf_dir, "events")
    hours = (epoch_us(F.col("ts")) - F.lit(1704067200000000)) / 3.6e9
    return group_trend(ev, "event_type", hours, "value")


@q(
    "funnel_time_to_convert",
    """
    WITH ev AS (SELECT user_id, epoch_us(ts) AS ts, event_type FROM events),
    a AS (SELECT user_id, MIN(ts) AS ta FROM ev WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts - a.ta) AS lat
          FROM ev e JOIN a USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > a.ta GROUP BY e.user_id)
    SELECT CAST(FLOOR(lat / (24 * 3600 * CAST(1000000 AS BIGINT))) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM c GROUP BY 1
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-view → first-subsequent-purchase latency histogram in
    24-hour buckets (time-to-convert survival substrate)."""
    from hpaste_spark.operators.funnel import time_to_conversion

    return time_to_conversion(
        _t(spark, sf_dir, "events"), "view", "purchase", bucket_hours=24
    )


@q(
    "basket_brand_lift",
    """
    WITH ob AS (SELECT DISTINCT l_orderkey AS o, p_brand AS b
                FROM lineitem JOIN part ON l_partkey = p_partkey),
    n AS (SELECT CAST(COUNT(DISTINCT o) AS DOUBLE) AS nb FROM ob),
    ic AS (SELECT b, COUNT(*) AS c FROM ob GROUP BY b),
    pc AS (SELECT x.b AS item_a, y.b AS item_b, COUNT(*) AS np
           FROM ob x JOIN ob y ON x.o = y.o AND x.b < y.b GROUP BY 1, 2)
    SELECT pc.item_a, pc.item_b, CAST(pc.np AS BIGINT) AS n_pairs,
           ROUND(pc.np / n.nb, 6) AS support,
           ROUND(pc.np * n.nb / (ca.c * cb.c), 6) AS lift
    FROM pc JOIN ic ca ON pc.item_a = ca.b JOIN ic cb ON pc.item_b = cb.b, n
    WHERE pc.np >= 2
    """,
)
def basket_brand_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket support/lift over brands-per-order: capped
    bucket-grouped pair expansion (never a basket self-join),
    broadcast marginals, broadcast basket-count scalar."""
    from hpaste_spark.operators.basket import cooccurrence_lift

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = li.join(p, li["l_partkey"] == p["p_partkey"]).select(
        F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b")
    )
    return cooccurrence_lift(ob, "o", "b", min_pairs=2)


@q(
    "graph_pagerank_supplier_customer",
    """
    WITH e0 AS (SELECT DISTINCT l_suppkey AS a, o_custkey + 100000 AS b
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    e AS (SELECT a AS s, b AS t FROM e0 UNION ALL SELECT b AS s, a AS t FROM e0),
    deg AS (SELECT s AS v, COUNT(*) AS d FROM e GROUP BY s),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM deg),
    r0 AS (SELECT v, d, 1.0 / n.nn AS r FROM deg, n),
    c1 AS (SELECT e.t AS v, SUM(r0.r / r0.d) AS inn FROM e JOIN r0 ON e.s = r0.v GROUP BY e.t),
    r1 AS (SELECT deg.v, deg.d, ROUND(0.15 / n.nn + 0.85 * COALESCE(c1.inn, 0.0), 12) AS r
           FROM deg LEFT JOIN c1 ON deg.v = c1.v, n),
    c2 AS (SELECT e.t AS v, SUM(r1.r / r1.d) AS inn FROM e JOIN r1 ON e.s = r1.v GROUP BY e.t),
    r2 AS (SELECT deg.v, deg.d, ROUND(0.15 / n.nn + 0.85 * COALESCE(c2.inn, 0.0), 12) AS r
           FROM deg LEFT JOIN c2 ON deg.v = c2.v, n),
    c3 AS (SELECT e.t AS v, SUM(r2.r / r2.d) AS inn FROM e JOIN r2 ON e.s = r2.v GROUP BY e.t),
    r3 AS (SELECT deg.v, ROUND(0.15 / n.nn + 0.85 * COALESCE(c3.inn, 0.0), 12) AS r
           FROM deg LEFT JOIN c3 ON deg.v = c3.v, n)
    SELECT v AS node, ROUND(r, 6) AS pr FROM r3
    """,
)
def graph_pagerank_supplier_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank over the undirected supplier↔customer
    supply graph (customers offset +100000 into a shared id space).
    Per-iteration 12dp rounding keeps the unrolled DuckDB twin
    bit-comparable at the final 6dp."""
    from hpaste_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.col("l_suppkey").alias("a"),
            (F.col("o_custkey") + 100000).alias("b"),
        )
        .distinct()
    )
    edges = e0.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        e0.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    return pagerank(edges, iterations=3).select(
        "node", F.col("rank").alias("pr")
    )


@q(
    "prof_equifreq_bins",
    """
    WITH b AS (SELECT quantile_cont(o_totalprice,
                 [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bl FROM orders),
    t AS (SELECT o_totalprice AS v,
                 CAST(len(list_filter(b.bl, x -> o_totalprice > x)) + 1 AS INT) AS bin
          FROM orders, b)
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(v), 2) AS min_val, ROUND(MAX(v), 2) AS max_val,
           ROUND(AVG(v), 2) AS avg_val
    FROM t GROUP BY bin
    """,
)
def prof_equifreq_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile binning of order totals WITHOUT a global-sort NTILE:
    boundaries from one percentile agg, bin = 1 + |bounds below|."""
    from hpaste_spark.operators.profile import equifreq_bins

    return equifreq_bins(_t(spark, sf_dir, "orders"), "o_totalprice", 10)


@q(
    "ts_decay_weighted_mean",
    """
    WITH ev AS (SELECT user_id, epoch_us(ts) AS e, value AS v FROM events),
    snap AS (SELECT MAX(e) AS t FROM ev)
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(POWER(2.0, -((snap.t - e) / 3600000000.0) / 24.0) * v)
                 / SUM(POWER(2.0, -((snap.t - e) / 3600000000.0) / 24.0)), 6) AS decayed_mean,
           ROUND(SUM(POWER(2.0, -((snap.t - e) / 3600000000.0) / 24.0)), 6) AS decayed_weight
    FROM ev, snap GROUP BY user_id
    """,
)
def ts_decay_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially time-decayed value mean (24h half-life)
    as of the corpus max timestamp — closed-form EWMA, one hash-agg,
    no window."""
    from hpaste_spark.operators.timeseries import decay_weighted_mean

    return decay_weighted_mean(
        _t(spark, sf_dir, "events"), half_life_hours=24.0
    )


@q(
    "sess_transition_matrix",
    """
    WITH t AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      FROM events)
    SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
    FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2
    """,
)
def sess_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over per-user timelines —
    one lead window + a |types|^2-keyed hash-agg."""
    from hpaste_spark.operators.funnel import event_transitions

    return event_transitions(
        _t(spark, sf_dir, "events"), tiebreak_cols=["event_id"]
    )


@q(
    "split_weighted_sample",
    """
    WITH t AS (
      SELECT doc_id, lang, n_chars,
             CASE WHEN n_chars > 0 THEN
               -ln((CAST(('0x' || substr(md5('ws1' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1.0)
                   / 4503599627370496.0) / n_chars
             ELSE CAST('infinity' AS DOUBLE) END AS sk
      FROM documents)
    SELECT doc_id, lang, n_chars, CAST(rn AS INT) AS sample_rank FROM (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY sk, doc_id) AS rn
      FROM t) x
    WHERE rn <= 20
    """,
)
def split_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling without replacement:
    20 docs per language, inclusion probability ∝ n_chars, md5-keyed
    (rand()-free, engine/partitioning-stable)."""
    from hpaste_spark.operators.sampling import weighted_sample

    d = _t(spark, sf_dir, "documents")
    return weighted_sample(
        d.select("doc_id", "lang", "n_chars"),
        k=20,
        weight_col="n_chars",
        id_col="doc_id",
        group_col="lang",
    ).select("doc_id", "lang", "n_chars", "sample_rank")


@q(
    "q3_shipping_priority",
    """
    SELECT o_orderkey, ROUND(SUM(l_extendedprice::DECIMAL(12,2) * (1 - l_discount)::DECIMAL(4,2)), 2)::DOUBLE AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY SUM(l_extendedprice::DECIMAL(12,2) * (1 - l_discount)::DECIMAL(4,2)) DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        # exact integer-unit sum: the top-10 cut orders on the exact
        # un-rounded unit total (matching the oracle's ORDER BY on the
        # raw SUM), so membership can't flip with partition layout —
        # while the emitted revenue is the half-up round at 2 decimals
        .agg(
            dsum_disc().alias("revenue"),
            dsum_units_total(
                "cast(round(l_extendedprice*100) as long) * (100 - cast(round(l_discount*100) as long))"
            ).alias("_rev_units"),
        )
        .orderBy(F.col("_rev_units").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@q(
    "a_conditional_agg",
    f"""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
           {sql_avg2("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS avg_finished
    FROM orders GROUP BY o_orderpriority
    """,
)
def a_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-1 hash flake: AVG(double) folds partials in partition order,
    flipping ROUND at a .xx5 boundary per run.  Money aggregates now run
    in exact decimal (functions/money.py) — order-independent."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(F.col("o_totalprice") > 200000, 1).otherwise(0)).alias("n_big"),
            davg(F.when(F.col("o_orderstatus") == "F", money("o_totalprice"))).alias(
                "avg_finished"
            ),
        )
    )


@q(
    "a_date_rollup",
    """
    SELECT EXTRACT(year FROM o_orderdate) AS order_year,
           EXTRACT(month FROM o_orderdate) AS order_month,
           ROUND(SUM(o_totalprice::DECIMAL(12,2)), 2)::DOUBLE AS revenue, COUNT(*) AS n
    FROM orders GROUP BY 1, 2
    """,
)
def a_date_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.month("o_orderdate").cast("long").alias("order_month"),
        )
        .agg(dsum("o_totalprice").alias("revenue"), F.count(F.lit(1)).alias("n"))
    )


@q(
    "proj_string_funcs",
    """
    SELECT p_partkey, UPPER(p_name) AS up_name, SUBSTR(p_type, 1, 3) AS type3,
           LENGTH(p_name) AS name_len, CONCAT(p_brand, ':', p_type) AS brand_type
    FROM part
    """,
)
def proj_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.upper("p_name").alias("up_name"),
        F.substring("p_type", 1, 3).alias("type3"),
        F.length("p_name").cast("long").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
    )


@q(
    "s2_composite_key_multiget",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, ROUND(l_extendedprice, 2) AS extprice
    FROM lineitem
    WHERE (l_orderkey = 15 AND l_linenumber = 2) OR (l_orderkey = 100 AND l_linenumber = 1)
       OR (l_orderkey = 250 AND l_linenumber = 3)
    """,
)
def s2_composite_key_multiget(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = driver_htable(spark, sf_dir, "lineitem")
    return (
        t.query2(spark)
        .with_keys(["15_2", "100_1", "250_3"])
        .with_columns("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .to_df()
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            F.round("l_extendedprice", 2).alias("extprice"),
        )
    )


@q(
    "s2_multiget_empty_rows",
    """
    SELECT k.rowkey, c.c_name
    FROM (VALUES ('1'), ('2'), ('999999'), ('888888')) AS k(rowkey)
    LEFT JOIN customer c ON CAST(c.c_custkey AS VARCHAR) = k.rowkey
    """,
)
def s2_multiget_empty_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """returnEmptyRows=true multi-get as the left-outer-join shape
    (WebCrawlSchemaTest.scala:372-389 semantics, S2)."""
    cust = _t(spark, sf_dir, "customer")
    keys = spark.createDataFrame([("1",), ("2",), ("999999",), ("888888",)], "rowkey string")
    return keys.join(
        cust, F.col("c_custkey").cast("string") == F.col("rowkey"), "left"
    ).select("rowkey", "c_name")


@q(
    "x2_group_zscore",
    """
    SELECT event_id, user_id,
           ROUND(CASE WHEN sd > 0 THEN (value - m) / sd ELSE 0.0 END, 4) + 0.0 AS zscore
    FROM (SELECT event_id, user_id, value,
                 AVG(value) OVER (PARTITION BY user_id) AS m,
                 STDDEV_POP(value) OVER (PARTITION BY user_id) AS sd
          FROM events) t
    """,
)
def x2_group_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hpaste_spark.operators.groups import zscore_normalize

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    out = zscore_normalize(ev, ["user_id"], "value", "event_id")
    # + 0.0 collapses IEEE -0.0 (DuckDB ROUND keeps the sign on tiny
    # negatives, Spark doesn't — first observable at sf0.1 row counts)
    return out.select(
        "event_id", "user_id", (F.round("zscore", 4) + F.lit(0.0)).alias("zscore")
    )


@q(
    "x2_group_zscore_native",
    """
    SELECT event_id, user_id,
           ROUND(CASE WHEN sd > 0 THEN (value - m) / sd ELSE 0.0 END, 4) + 0.0 AS zscore
    FROM (SELECT event_id, user_id, value,
                 AVG(value) OVER (PARTITION BY user_id) AS m,
                 STDDEV_POP(value) OVER (PARTITION BY user_id) AS sd
          FROM events) t
    """,
)
def x2_group_zscore_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXPRESSIBLE twin of x2_group_zscore (VERDICT r4 #5): same
    oracle, but pure window expressions — one exchange on user_id,
    whole-stage codegen, no Arrow round-trip.  The pair documents the
    rule: applyInPandas is for folds built-ins can't express; when the
    fold IS expressible, this is the plan to copy."""
    from hpaste_spark.operators.groups import zscore_normalize_native

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    out = zscore_normalize_native(ev, ["user_id"], "value", "event_id")
    return out.select(
        "event_id", "user_id", (F.round("zscore", 4) + F.lit(0.0)).alias("zscore")
    )


# ---------------------------------------------------------------------------
# Round 3: HAVING, semi join, scalar subquery, array aggregation,
# quality scoring, MinHash signature export.
# ---------------------------------------------------------------------------
@q(
    "a_having",
    "SELECT c_nationkey, COUNT(*) AS n FROM customer GROUP BY c_nationkey HAVING COUNT(*) > 50",
)
def a_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 50)
    )


@q(
    "j2_semi_join",
    """
    SELECT s_suppkey, s_name FROM supplier
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_quantity > 45)
    """,
)
def j2_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return sup.join(li, sup.s_suppkey == li.l_suppkey, "left_semi").select("s_suppkey", "s_name")


@q(
    "a_scalar_subquery",
    """
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS total_price FROM orders
    WHERE o_totalprice > (SELECT AVG(o_totalprice) * 1.8 FROM orders)
    """,
)
def a_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    threshold = orders.agg((F.avg("o_totalprice") * 1.8).alias("thr"))
    return (
        orders.crossJoin(F.broadcast(threshold))
        .filter(F.col("o_totalprice") > F.col("thr"))
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total_price"))
    )


@q(
    "arr_collect_set",
    """
    -- to_json: the driver harness cannot hash raw LIST cells (pandas
    -- factorize chokes on ndarray — VERDICT r2 #4); both engines render
    -- the same compact JSON so the comparison stays exact.
    SELECT c_nationkey, to_json(list_sort(list(DISTINCT c_mktsegment)))::VARCHAR AS segments,
           COUNT(*) AS n
    FROM customer GROUP BY c_nationkey
    """,
)
def arr_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.to_json(F.array_sort(F.collect_set("c_mktsegment"))).alias("segments"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@q(
    "text_quality_score",
    """
    SELECT doc_id, ROUND(
      0.5 * LEAST(len(regexp_split_to_array(trim(text), '\\s+')) / 100.0, 1.0)
      + 0.3 * (CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) = 0 THEN 0.0
               ELSE CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                    t -> t IN ('the','a','an','of','and','or','to','in','is','it'))) AS DOUBLE)
                    / len(regexp_split_to_array(trim(text), '\\s+')) END)
      + 0.2 * (1 - (CASE WHEN length(text) = 0 THEN 0.0
                    ELSE CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                         / length(text) END)), 4) AS quality
    FROM documents WHERE length(trim(text)) > 0
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    return d.select("doc_id", X.quality_score(F.col("text")).alias("quality"))


@q(
    "dedup_minhash_signatures",
    """
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    tokh AS (
      SELECT doc_id, list_transform(t, tok ->
          CAST(('0x' || substr(md5(tok), 1, 13)) AS BIGINT)) AS th
      FROM d
    ),
    h AS (
      SELECT doc_id, list_transform(range(1, greatest(len(th)-2, 0)+1), i ->
          list_reduce(list_prepend(CAST(0 AS BIGINT), th[i:i+2]),
            (acc, x) -> (acc*31 + x) % 1000000007)) AS hs
      FROM tokh WHERE len(th) >= 3
    )
    SELECT doc_id, to_json(list_transform(range(0, 16), i ->
        list_min(list_transform(hs, hh -> ((2*i+1)*hh + 7919*i) % 1000000007))))::VARCHAR AS sig
    FROM h
    """,
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hpaste_spark.operators.dedup import minhash_signatures

    sigs = minhash_signatures(_t(spark, sf_dir, "documents"))
    # driver harness can't hash LIST cells — serialize (VERDICT r2 #4)
    return sigs.withColumn("sig", F.to_json(F.col("sig")))


# F20 over the events stream table — the time-range predicate is rewritten
# to the RAW nanosecond long before the micros conversion so it reaches the
# parquet scan (see sources.catalog.load_events_between; the reference's
# server-side time-range is Query2.scala:493-495).
@q(
    "f20_events_pushdown_range",
    """
    SELECT event_type, COUNT(*) AS n_events, ROUND(SUM(value::DECIMAL(12,2)), 2)::DOUBLE AS total_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-12 00:00:00'
    GROUP BY event_type
    """,
)
def f20_events_pushdown_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hpaste_spark.sources.catalog import load_events_between

    configure_session(spark)
    ev = load_events_between(spark, sf_dir, "2024-01-10 00:00:00", "2024-01-12 00:00:00")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value")
    )


# ---------------------------------------------------------------------------
# Classic TPC-H-shaped analytics (adapted to the driver fixture schemas —
# no commitdate/shipmode/partsupp columns).  Beyond reference parity: the
# reference has no joins/aggregates as primitives (SURVEY §2.4-2.5); these
# exercise the full declarative surface Catalyst plans for us.
# ---------------------------------------------------------------------------
@q(
    "q6_forecast_revenue",
    """
    SELECT ROUND(SUM(l_extendedprice::DECIMAL(12,2) * l_discount::DECIMAL(4,2)), 2)::DOUBLE AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter+agg — every predicate reaches the
    parquet scan (PushedFilters), no shuffle beyond the final fold."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum_mul().alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@q(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name, n_name,
           ROUND(SUM(l_extendedprice::DECIMAL(12,2) * (1 - l_discount)::DECIMAL(4,2)), 2)::DOUBLE AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: fact-fact join + broadcast dims + top-k.
    Deterministic tiebreak (c_custkey) so the LIMIT is stable."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
                          .select("c_custkey", "c_name", "n_name")),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum_disc().alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@q(
    "q14_promo_revenue_pct",
    """
    SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice::DECIMAL(12,2) * (1 - l_discount)::DECIMAL(4,2) END)::DOUBLE
                 / SUM(l_extendedprice::DECIMAL(12,2) * (1 - l_discount)::DECIMAL(4,2))::DOUBLE, 4) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
    """,
)
def q14_promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation over a broadcast part join."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    # both sums exact decimal; the ratio is one double division on two
    # order-independent values, so the rounded pct is run-stable
    rev = money("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(4,2)")
    promo = F.when(F.col("p_type") == "PROMO", rev)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0 * F.sum(promo).cast("double") / F.sum(rev).cast("double"), 4
            ).alias("promo_pct")
        )
    )


@q(
    "q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey, ROUND(SUM(l_extendedprice::DECIMAL(12,2) * (1 - l_discount)::DECIMAL(4,2)), 2)::DOUBLE AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_rev
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: agg view reused twice (revenue + its max).
    Rounded BEFORE the max comparison on both sides so fp noise can't
    flip the argmax between engines."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(dsum_disc().alias("total_rev"))
    )
    supplier = _t(spark, sf_dir, "supplier")
    max_rev = rev.agg(F.max("total_rev").alias("m"))
    return (
        rev.join(F.broadcast(max_rev), rev.total_rev == max_rev.m)
        .join(supplier, rev.l_suppkey == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


@q(
    "q18_large_orders",
    """
    SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           ROUND(o_totalprice, 2) AS total_price,
           ROUND(SUM(l_quantity::DECIMAL(12,2)), 2)::DOUBLE AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
    )
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-derived key set semi-joined back to the
    fact tables.  The key list is data-dependent so no broadcast hint —
    AQE picks the strategy from runtime stats."""
    li = _t(spark, sf_dir, "lineitem")
    big = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("sq")).filter(F.col("sq") > 250)
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        li.join(big.select("l_orderkey"), "l_orderkey", "left_semi")
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum("l_quantity").alias("sum_qty"))
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            F.round("o_totalprice", 2).alias("total_price"), "sum_qty",
        )
    )


@q(
    "q19_bracket_predicates",
    """
    SELECT ROUND(SUM(l_extendedprice::DECIMAL(12,2) * (1 - l_discount)::DECIMAL(4,2)), 2)::DOUBLE AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 21)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 40)
    """,
)
def q19_bracket_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-AND bracket predicates across both join
    sides — Catalyst factors the common parts and pushes per-table
    conjuncts below the join."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    bracket = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 40))
    )
    return joined.filter(bracket).agg(
        dsum_disc().alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@q(
    "q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (EXISTS adapted to returnflag — fixtures carry no
    commitdate): correlated EXISTS planned as a left-semi join."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    returned = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return (
        orders.join(returned, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# W2 rolling frame: per-customer rolling revenue over the last 3 orders —
# the ROWS BETWEEN window shape (frame-based, not rank-based).  The frame
# aggregate folds exact integer cents: engines differ in windowed-double
# summation (running-sum vs per-frame) and AVG of a 2-row frame lands on
# .5-cent round()-boundary half-way cases, so SUM of cents is the only
# form that is bit-identical across engines.
@q(
    "w_rolling_sum",
    """
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) / 100.0, 2) AS sum_last3
    FROM orders WHERE o_custkey < 200
    """,
)
def w_rolling_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 200)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.sum(cents).over(w) / 100.0, 2).alias("sum_last3"),
        )
    )


# Corpus-level term statistics: top terms by document frequency with
# stopwords removed (tokenize → explode → two-level agg → top-k).
@q(
    "text_top_terms",
    """
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS term
      FROM documents WHERE length(trim(text)) > 0
    )
    SELECT term, COUNT(*) AS doc_freq
    FROM tok
    WHERE term NOT IN ('the','a','an','of','and','or','to','in','is','it')
    GROUP BY term ORDER BY doc_freq DESC, term LIMIT 20
    """,
)
def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    return (
        d.select(F.explode(F.array_distinct(X.tokens(F.col("text")))).alias("term"))
        .filter(~F.col("term").isin(*X.STOPWORDS))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("term"))
        .limit(20)
    )


# Within-document repetition signals (Gopher-style quality gates):
# duplicate-bigram fraction + top-token fraction.  Spark side is
# shuffle-free — array expressions and a sorted-array fold, all
# whole-stage codegen; the oracle uses the equivalent (doc, token)
# group-by formulation.
@q(
    "text_repetition_score",
    """
    WITH s AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS l
      FROM documents WHERE length(trim(text)) > 0
    ),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(l) AS tok FROM s) GROUP BY doc_id, tok
    ),
    top AS (SELECT doc_id, MAX(c) AS mx, SUM(c) AS tot FROM tf GROUP BY doc_id),
    b AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(l) - 1),
                            i -> l[i] || ' ' || l[i + 1]) AS bg
      FROM s WHERE len(l) >= 2
    )
    SELECT b.doc_id,
           ROUND(1.0 - len(list_distinct(bg)) / len(bg), 4) AS dup_bigram_frac,
           ROUND(top.mx / top.tot, 4) AS top_tok_frac
    FROM b JOIN top ON b.doc_id = top.doc_id
    """,
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    d = d.filter(F.size(X.tokens(F.col("text"))) >= 2)
    return d.select(
        "doc_id",
        F.round(X.dup_ngram_ratio(F.col("text"), 2), 4).alias("dup_bigram_frac"),
        F.round(X.top_token_ratio(F.col("text")), 4).alias("top_tok_frac"),
    )


# Corpus cleaning: canonical normalized form + content key (md5 of the
# normalized text) — the exact-dedup key a training pipeline actually
# hashes, plus URL extraction.
@q(
    "text_normalize_key",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(lower(regexp_replace(text, '<[^>]*>', ' ', 'g')),
                                   '\\s+', ' ', 'g'))) AS content_key,
           len(regexp_extract_all(text, '(https?://[^\\s]+)', 1)) AS n_urls
    FROM documents
    """,
)
def text_normalize_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(X.normalize_text(F.col("text")).cast("binary")).alias("content_key"),
        F.size(X.extract_urls(F.col("text"))).alias("n_urls"),
    )


# Deterministic dataset splits (training-pipeline primitive): the
# holdout assignment is a pure function of md5(id), so it is stable
# across runs, engines, and partitionings — and exactly reproducible
# by the oracle.
@q(
    "split_train_holdout",
    """
    WITH tagged AS (
      SELECT doc_id,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 5
                  THEN 'holdout' ELSE 'train' END AS split
      FROM documents
    )
    SELECT split, COUNT(*) AS n_docs, MIN(doc_id) AS min_id
    FROM tagged GROUP BY split
    """,
)
def split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hpaste_spark.operators.sampling import hash_split

    d = hash_split(_t(spark, sf_dir, "documents"), "doc_id", holdout_pct=5)
    return d.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_id")
    )


@q(
    "split_stratified_sample",
    """
    WITH ranked AS (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang ORDER BY
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 65536,
               doc_id) AS rn
      FROM documents
    )
    SELECT lang, doc_id FROM ranked WHERE rn <= 5
    """,
)
def split_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hpaste_spark.operators.sampling import stratified_take

    return stratified_take(
        _t(spark, sf_dir, "documents"), "lang", "doc_id", n_per_group=5
    ).select("lang", "doc_id")


@q(
    "dedup_contamination_check",
    """
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 5 AS is_eval
      FROM documents WHERE length(trim(text)) > 0
    ),
    sh AS (
      SELECT doc_id, is_eval, list_distinct(list_transform(range(1, greatest(len(t)-2, 0)+1),
          i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingles
      FROM d WHERE len(t) >= 3
    )
    SELECT e.doc_id AS eval_id, tr.doc_id AS train_id,
           ROUND(CAST(len(list_intersect(e.shingles, tr.shingles)) AS DOUBLE)
                 / len(e.shingles), 6) AS containment
    FROM sh e JOIN sh tr ON e.is_eval AND NOT tr.is_eval
    WHERE len(list_intersect(e.shingles, tr.shingles)) > 0
      AND ROUND(CAST(len(list_intersect(e.shingles, tr.shingles)) AS DOUBLE)
                / len(e.shingles), 6) >= 0.3
    """,
)
def dedup_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: the md5 5% holdout plays the benchmark,
    the rest the training corpus; flags eval docs ≥30%-contained in any
    training doc via the cross-corpus blocked containment."""
    from hpaste_spark.operators.dedup import cross_containment_pairs
    from hpaste_spark.operators.sampling import hash_split

    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
    )
    tagged = hash_split(d, "doc_id", holdout_pct=5)
    train = tagged.filter(F.col("split") == "train")
    evals = tagged.filter(F.col("split") == "holdout")
    return cross_containment_pairs(train, evals, threshold=0.3)


@q(
    "split_mixture_sample",
    """
    SELECT doc_id, lang FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
          < CASE WHEN lang = 'en' THEN 65536
                 WHEN lang = 'fr' THEN 32768
                 WHEN lang = 'de' THEN 16384
                 ELSE 6553 END
    """,
)
def split_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus mixing: keep all en, half fr, a quarter de,
    a tenth of everything else — md5-bucket thresholds, row-local, no
    rand(), monotone in the rate."""
    from hpaste_spark.operators.sampling import mixture_sample

    return mixture_sample(
        _t(spark, sf_dir, "documents"),
        stratum_col="lang",
        id_col="doc_id",
        rates={"en": 1.0, "fr": 0.5, "de": 0.25},
        default_rate=0.1,
    ).select("doc_id", "lang")


@q(
    "pack_token_budget",
    """
    WITH d AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 8 AS shard_id
      FROM documents WHERE length(trim(text)) > 0
    ),
    c AS (
      SELECT doc_id, shard_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard_id ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start_off
      FROM d
    )
    SELECT doc_id, shard_id, CAST(start_off // 512 AS BIGINT) AS bin_id,
           CAST(start_off AS BIGINT) AS start_off, n_tokens
    FROM c
    """,
)
def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic concat-then-chunk packing of documents into
    512-token context budgets over 8 independent shards — each doc's
    (shard, bin, offset) assignment reproducible in any engine via the
    md5 shard hash and per-shard running offsets."""
    from hpaste_spark.operators.sampling import pack_token_budget as pack

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    return pack(
        d, "doc_id", X.token_count(F.col("text")), budget=512, n_shards=8
    )


# J1 outer-join shape: customers with zero orders kept (null-filled) —
# the returnEmptyRows=true multi-get semantic generalized to a full scan
# (WebCrawlSchemaTest.scala:372-389).
@q(
    "j_left_outer_order_counts",
    """
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
           ROUND(COALESCE(SUM(o_totalprice), 0), 2) AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    WHERE c_custkey < 300
    GROUP BY c_custkey
    """,
)
def j_left_outer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 300)
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spend"),
        )
    )


# Edit-distance near-match over a bounded candidate block (the classic
# fuzzy-match primitive; integer-exact so no fp drift between engines).
# Blocking (doc_id ranges here; LSH buckets in production) keeps the
# pair count bounded — never an unblocked n².
@q(
    "text_levenshtein_block",
    """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS edit_dist
    FROM documents a, documents b
    WHERE a.doc_id < 30 AND b.doc_id < 30 AND a.doc_id < b.doc_id
      AND levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) <= 25
    """,
)
def text_levenshtein_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 30).select(
        "doc_id", F.substring("text", 1, 40).alias("head")
    )
    a = d.select(F.col("doc_id").alias("id_a"), F.col("head").alias("ha"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("head").alias("hb"))
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", F.levenshtein(F.col("ha"), F.col("hb")))
        .filter(F.col("edit_dist") <= 25)
        .select("id_a", "id_b", "edit_dist")
    )


# A5 grouping sets — the general form behind cube/rollup (both also
# covered); Spark plans one Expand + single hash agg.
@q(
    "a5_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity::DECIMAL(12,2)), 2)::DOUBLE AS sum_qty, COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def a5_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity::DECIMAL(12,2)), 2)::DOUBLE AS sum_qty, COUNT(*) AS n_rows
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


# Skew-safe salted aggregation: results are EXACTLY the plain group-by
# (sum/count are commutative monoids), so the oracle is the unsalted SQL —
# the salting is purely a physical strategy for power-law keys.
@q(
    "a_salted_skew_agg",
    """
    SELECT event_type, COUNT(*) AS n_events, ROUND(SUM(value::DECIMAL(12,2)), 2)::DOUBLE AS total_value
    FROM events GROUP BY event_type
    """,
)
def a_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hpaste_spark.operators.skew import salted_groupby

    ev = _t(spark, sf_dir, "events")
    # integer-cents sum: order-independent under salting, matching the
    # oracle's exact decimal sum bit for bit
    out = salted_groupby(
        ev,
        ["event_type"],
        {
            "n_events": ("count", F.lit(1)),
            "cents": ("sum", F.expr("cast(round(value * 100) as long)")),
        },
        salt_from="event_id",
        n_salts=16,
    )
    return out.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        (F.col("cents").cast("double") / F.lit(100.0)).alias("total_value"),
    )


# A5 approx distinct — sketch-based, no exact oracle possible (HLL++
# estimates differ across engines); driver records the rows-only check.
# Tolerance-band oracle (VERDICT r4 #2): HLL estimates are engine-
# specific, so the DRIVER-VISIBLE contract is the band check — the
# Spark side emits `within_5pct` = |approx − exact| ≤ 5%·exact next to
# the exact count, and the oracle asserts TRUE for every group.  A
# drifting sketch now hash-MISMATCHES instead of hiding behind a
# rows-only row; the raw estimate itself stays pytest-asserted
# (test_sketches, ≤5%).
@q(
    "a5_approx_count_distinct",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_5pct
    FROM events GROUP BY event_type
    """,
)
def a5_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("_approx"),
            F.count_distinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("within_5pct"),
        )
    )


# Mergeable DataSketches HLL rollup — per-group sketches + a total
# from UNIONING them (one scan; the total never rescans the facts).
# Same tolerance-band contract as a5_approx_count_distinct: the union
# estimate must land within 5% of the exact distinct per group AND for
# the unioned ALL row (lg_k=12 ≈ 2% expected error).
@q(
    "a5_hll_union_rollup",
    """
    SELECT o_orderpriority AS grp,
           COUNT(DISTINCT o_custkey) AS exact_distinct,
           TRUE AS within_5pct
    FROM orders GROUP BY o_orderpriority
    UNION ALL
    SELECT 'ALL' AS grp, COUNT(DISTINCT o_custkey) AS exact_distinct,
           TRUE AS within_5pct
    FROM orders
    """,
)
def a5_hll_union_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hpaste_spark.operators.sketches import hll_rollup

    o = _t(spark, sf_dir, "orders")
    sk = hll_rollup(o, "o_orderpriority", "o_custkey")
    exact = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count_distinct("o_custkey").alias("exact_distinct")
    )
    exact_all = o.agg(
        F.count_distinct("o_custkey").alias("exact_distinct")
    ).select(F.lit("ALL").alias("grp"), "exact_distinct")
    return (
        sk.join(exact.unionAll(exact_all), "grp")
        .select(
            "grp",
            "exact_distinct",
            (
                F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
                <= 0.05 * F.col("exact_distinct")
            ).alias("within_5pct"),
        )
    )


@q(
    "sketch_cms_token_counts",
    r"""
    WITH tk AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
                FROM documents WHERE length(trim(text)) > 0),
    cms AS (SELECT d, CAST(('0x'||substr(md5(tok||':'||d), 1, 13)) AS BIGINT) % 16 AS b,
                   COUNT(*) AS cnt
            FROM tk, range(3) r(d) GROUP BY 1, 2),
    ex AS (SELECT tok, COUNT(*) AS exact_n FROM tk
           GROUP BY tok ORDER BY exact_n DESC, tok LIMIT 20),
    pe AS (SELECT ex.tok, CAST(('0x'||substr(md5(ex.tok||':'||d), 1, 13)) AS BIGINT) % 16 AS b, d
           FROM ex, range(3) r(d)),
    est AS (SELECT tok, CAST(MIN(COALESCE(cms.cnt, 0)) AS BIGINT) AS cms_n
            FROM pe LEFT JOIN cms USING (d, b) GROUP BY tok)
    SELECT ex.tok AS term, CAST(ex.exact_n AS BIGINT) AS exact_n, est.cms_n,
           CAST(est.cms_n - ex.exact_n AS BIGINT) AS overcount
    FROM ex JOIN est USING (tok)
    """,
)
def sketch_cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch graded against exact counts (the
    sketch family's missing leg: HLL=distincts, MinHash=similarity,
    SimHash=near-dup bits, Bloom=membership, CMS=FREQUENCIES): build
    a depth=3 × width=16 counter table over the corpus token stream —
    fixed-size and shard-mergeable, the Bloom-bits posture for counts
    — then estimate the exact top-20 terms through it.  overcount ≥ 0
    structurally (collisions only inflate; the oracle recomputes the
    identical md5 sketch, so the one-sidedness is hash-pinned).
    Width 16 is fixture-sized to make collisions visible against the
    31-term vocabulary; production widths are 2^12..2^20 rows — still
    broadcastable."""
    from hpaste_spark.functions import text as X
    from hpaste_spark.operators.sketches import cms_counts, cms_estimate

    toks = (
        _t(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select(F.explode(X.tokens(F.col("text"))).alias("tok"))
    )
    cms = cms_counts(toks, "tok", depth=3, width=16)
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "tok")
        .limit(20)
    )
    est = cms_estimate(top, cms, "tok", depth=3, width=16)
    return top.join(est, "tok").select(
        F.col("tok").alias("term"),
        F.col("exact_n").cast("long").alias("exact_n"),
        "cms_n",
        (F.col("cms_n") - F.col("exact_n")).cast("long").alias("overcount"),
    )


@q(
    "sketch_hdr_quantiles",
    """
    WITH shq_v AS (SELECT event_type,
                          CAST(floor(value * 1000000.0) AS BIGINT) AS v
                   FROM events),
    shq_b AS (SELECT event_type, v >> s << s AS bucket_lo,
                     (CAST(1 AS BIGINT) << s) AS width
              FROM (SELECT event_type, v,
                           greatest(length(bin(v)) - 8, 0) AS s FROM shq_v)),
    shq_s AS (SELECT event_type, bucket_lo, width, COUNT(*) AS cnt
              FROM shq_b GROUP BY 1, 2, 3),
    shq_c AS (SELECT event_type, bucket_lo, width, cnt,
                     SUM(cnt) OVER (PARTITION BY event_type
                                    ORDER BY bucket_lo) AS cum,
                     SUM(cnt) OVER (PARTITION BY event_type) AS n
              FROM shq_s)
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN cum*2 >= n THEN bucket_lo END) AS BIGINT) AS q50_lo,
           CAST(MIN(CASE WHEN cum*2 >= n THEN bucket_lo + width - 1 END) AS BIGINT) AS q50_hi,
           CAST(MIN(CASE WHEN cum*20 >= 19*n THEN bucket_lo END) AS BIGINT) AS q95_lo,
           CAST(MIN(CASE WHEN cum*20 >= 19*n THEN bucket_lo + width - 1 END) AS BIGINT) AS q95_hi,
           CAST(MIN(CASE WHEN cum*100 >= 99*n THEN bucket_lo END) AS BIGINT) AS q99_lo,
           CAST(MIN(CASE WHEN cum*100 >= 99*n THEN bucket_lo + width - 1 END) AS BIGINT) AS q99_hi
    FROM shq_c GROUP BY event_type
    """,
)
def sketch_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile sketch over a CONTINUOUS column (round-8
    verdict ask #2 — the quantile leg HLL/CMS already have for
    distincts/frequencies): event values quantized to micro-units,
    bucketed by keeping the top 8 significant bits (HDR-histogram
    posture, integer bit arithmetic only — no float log, no KLL-style
    randomized compaction), then per-type p50/p95/p99 read as
    [lo, hi] BANDS off the ≤ few-hundred-row counter table.  The true
    type-1 quantile provably lies inside its band and the band is
    ≤ 2^-7 ≈ 0.8% of the value wide — a hard contract, which is why
    this query CAN be value-hash-graded while percentile_approx's
    nondeterministic sketch cannot (the r8 gap this closes:
    exact_group_quantiles is exact but deliberately scoped to
    discrete domains; this covers the continuous columns it
    excludes).  Sketch partials merge cell-wise across shards/days
    (sketches.hdr_merge) — no raw re-shuffle at any rollup."""
    from hpaste_spark.operators.sketches import hdr_quantiles, hdr_sketch

    ev = _t(spark, sf_dir, "events")
    vals = ev.select(
        "event_type",
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias("v"),
    )
    sk = hdr_sketch(vals, "v", "event_type", sub_bits=7)
    return hdr_quantiles(sk, qs=(0.5, 0.95, 0.99), group_col="event_type")


@q(
    "sketch_hdr_band_eval",
    """
    WITH she_v AS (SELECT event_type,
                          CAST(floor(value * 1000000.0) AS BIGINT) AS v
                   FROM events),
    she_b AS (SELECT event_type, v >> s << s AS bucket_lo,
                     (CAST(1 AS BIGINT) << s) AS width
              FROM (SELECT event_type, v,
                           greatest(length(bin(v)) - 8, 0) AS s FROM she_v)),
    she_s AS (SELECT event_type, bucket_lo, width, COUNT(*) AS cnt
              FROM she_b GROUP BY 1, 2, 3),
    she_c AS (SELECT event_type, bucket_lo, width, cnt,
                     SUM(cnt) OVER (PARTITION BY event_type
                                    ORDER BY bucket_lo) AS cum,
                     SUM(cnt) OVER (PARTITION BY event_type) AS n
              FROM she_s),
    she_q AS (SELECT event_type,
           MIN(CASE WHEN cum*2 >= n THEN bucket_lo END) AS q50_lo,
           MIN(CASE WHEN cum*2 >= n THEN bucket_lo + width - 1 END) AS q50_hi,
           MIN(CASE WHEN cum*20 >= 19*n THEN bucket_lo END) AS q95_lo,
           MIN(CASE WHEN cum*20 >= 19*n THEN bucket_lo + width - 1 END) AS q95_hi,
           MIN(CASE WHEN cum*100 >= 99*n THEN bucket_lo END) AS q99_lo,
           MIN(CASE WHEN cum*100 >= 99*n THEN bucket_lo + width - 1 END) AS q99_hi
      FROM she_c GROUP BY event_type),
    she_ec AS (SELECT event_type, v, COUNT(*) AS c FROM she_v GROUP BY 1, 2),
    she_ew AS (SELECT event_type, v,
                      SUM(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
                      SUM(c) OVER (PARTITION BY event_type) AS n
               FROM she_ec),
    she_e AS (SELECT event_type,
           MIN(CASE WHEN cum*2 >= n THEN v END) AS e50,
           MIN(CASE WHEN cum*20 >= 19*n THEN v END) AS e95,
           MIN(CASE WHEN cum*100 >= 99*n THEN v END) AS e99
      FROM she_ew GROUP BY event_type),
    she_u AS (
      SELECT event_type, CAST(50 AS INT) AS q_pct, q50_lo AS est_lo,
             q50_hi AS est_hi, e50 AS exact_v
      FROM she_q JOIN she_e USING (event_type)
      UNION ALL
      SELECT event_type, CAST(95 AS INT), q95_lo, q95_hi, e95
      FROM she_q JOIN she_e USING (event_type)
      UNION ALL
      SELECT event_type, CAST(99 AS INT), q99_lo, q99_hi, e99
      FROM she_q JOIN she_e USING (event_type))
    SELECT event_type, q_pct, CAST(est_lo AS BIGINT) AS est_lo,
           CAST(est_hi AS BIGINT) AS est_hi, CAST(exact_v AS BIGINT) AS exact_v,
           CAST(exact_v BETWEEN est_lo AND est_hi AS BIGINT) AS in_band
    FROM she_u
    """,
)
def sketch_hdr_band_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-band grader for the HDR quantile sketch (the
    sketch_cms_token_counts idiom — estimate and exact truth side by
    side, the error contract hash-pinned): per (event_type, q) the
    sketch's [est_lo, est_hi] band next to the EXACT type-1 quantile
    of the quantized values, with in_band = 1 REQUIRED by the
    sketch's construction (bucket counts are exact; only the value is
    coarsened, so the true quantile cannot escape its bucket).  The
    oracle recomputes both sides, so a bucketing or rank-arithmetic
    regression shows up as a hash mismatch, and an in_band = 0 row
    would flag a broken guarantee at a glance.  The exact side is
    affordable at fixture scale only — that asymmetry is the point:
    production reads the sketch, the grader proves it honest."""
    from hpaste_spark.operators.profile import exact_group_quantiles
    from hpaste_spark.operators.sketches import hdr_quantiles, hdr_sketch

    ev = _t(spark, sf_dir, "events")
    vals = ev.select(
        "event_type",
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias("v"),
    )
    skq = hdr_quantiles(
        hdr_sketch(vals, "v", "event_type", sub_bits=7),
        qs=(0.5, 0.95, 0.99),
        group_col="event_type",
    )
    ex = exact_group_quantiles(
        vals, "v", "event_type", qs=(0.5, 0.95, 0.99)
    ).select(
        "event_type",
        F.col("q50").alias("e50"),
        F.col("q95").alias("e95"),
        F.col("q99").alias("e99"),
    )
    un = skq.join(ex, "event_type").select(
        "event_type",
        F.expr(
            "stack(3, 50, q50_lo, q50_hi, e50, 95, q95_lo, q95_hi, e95, "
            "99, q99_lo, q99_hi, e99) AS (q_pct, est_lo, est_hi, exact_v)"
        ),
    )
    return un.select(
        "event_type",
        F.col("q_pct").cast("int").alias("q_pct"),
        F.col("est_lo").cast("long").alias("est_lo"),
        F.col("est_hi").cast("long").alias("est_hi"),
        F.col("exact_v").cast("long").alias("exact_v"),
        (
            (F.col("exact_v") >= F.col("est_lo"))
            & (F.col("exact_v") <= F.col("est_hi"))
        )
        .cast("long")
        .alias("in_band"),
    )


@q(
    "sketch_hdr_rollup",
    """
    WITH shr_v AS (SELECT event_type,
                          CAST(floor(value * 1000000.0) AS BIGINT) AS v
                   FROM events),
    shr_b AS (SELECT event_type, v >> s << s AS bucket_lo,
                     (CAST(1 AS BIGINT) << s) AS width
              FROM (SELECT event_type, v,
                           greatest(length(bin(v)) - 8, 0) AS s FROM shr_v)),
    shr_s AS (SELECT event_type, bucket_lo, width, COUNT(*) AS cnt
              FROM shr_b GROUP BY 1, 2, 3),
    shr_u AS (SELECT * FROM shr_s
              UNION ALL
              SELECT 'ALL' AS event_type, bucket_lo, width,
                     SUM(cnt) AS cnt
              FROM shr_s GROUP BY bucket_lo, width),
    shr_c AS (SELECT event_type, bucket_lo, width, cnt,
                     SUM(cnt) OVER (PARTITION BY event_type
                                    ORDER BY bucket_lo) AS cum,
                     SUM(cnt) OVER (PARTITION BY event_type) AS n
              FROM shr_u)
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN cum*2 >= n THEN bucket_lo END) AS BIGINT) AS q50_lo,
           CAST(MIN(CASE WHEN cum*2 >= n THEN bucket_lo + width - 1 END) AS BIGINT) AS q50_hi,
           CAST(MIN(CASE WHEN cum*20 >= 19*n THEN bucket_lo END) AS BIGINT) AS q95_lo,
           CAST(MIN(CASE WHEN cum*20 >= 19*n THEN bucket_lo + width - 1 END) AS BIGINT) AS q95_hi
    FROM shr_c GROUP BY event_type
    """,
)
def sketch_hdr_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level quantile rollup from ONE scan (the hll_rollup posture
    for quantiles): each event contributes its bucket to BOTH its own
    type's sketch and the corpus-wide 'ALL' sketch via an
    explode-to-two-rows Expand (exactly what GROUPING SETS plans
    physically; the naive union-of-sketch-relabels form was measured
    to rescan events twice — no ReusedExchange, since the relabeled
    branch's projection differs), then a single hash-agg builds every
    level map-side-combined.  The hash gate pins that the ALL bands
    equal what cell-wise merging per-type sketches would give —
    integer addition is associative, so the two formulations cannot
    differ (hdr_merge remains the cross-SHARD path, gate-proven by
    stream_sketch_hdr's per-batch partials)."""
    from hpaste_spark.operators.sketches import hdr_quantiles, hdr_sketch

    ev = _t(spark, sf_dir, "events")
    vals = ev.select(
        F.explode(
            F.array(F.col("event_type"), F.lit("ALL"))
        ).alias("event_type"),
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias("v"),
    )
    sk = hdr_sketch(vals, "v", "event_type", sub_bits=7)
    return hdr_quantiles(sk, qs=(0.5, 0.95), group_col="event_type")


# each micro-batch ships a fixed-size HDR partial and cell-wise
# addition is associative, so the merged landed partials ARE the batch
# sketch regardless of how the stream split into batches — alias the
# batch oracle (the stream_decontaminate_bloom idiom)
_ORACLES["stream_sketch_hdr"] = _ORACLES["sketch_hdr_quantiles"]


@q("stream_sketch_hdr", None)
def stream_sketch_hdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantile telemetry UNDER the gate — the TENTH gated
    streaming shape: events replay as THREE real micro-batches (the
    multibatch staging), each batch folds into a fixed-size HDR
    partial via foreachBatch running the exact batch operator
    (streaming/events.stream_hdr_partials), partials land in parquet,
    and the reader merges them cell-wise and reads quantile bands.
    No state store, no watermark, and batch boundaries provably can't
    change the answer (integer addition is associative) — so the SAME
    DuckDB oracle as sketch_hdr_quantiles grades the streaming
    execution hash-for-hash.  This is the always-on ingest-telemetry
    posture: the stream maintains the sketch; dashboards and gates
    read quantiles without ever touching raw history.  Hard-errors
    unless >= 3 data micro-batches ran."""
    import shutil

    from hpaste_spark.operators.sketches import hdr_merge, hdr_quantiles
    from hpaste_spark.streaming.events import (read_event_stream,
                                               stream_hdr_partials)

    configure_session(spark)
    src = _stage_multibatch_events(sf_dir)
    stream = read_event_stream(spark, src)
    vals = stream.select(
        "event_type",
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias("v"),
    )
    land = scratch_dir(_SCRATCH, "stream_hdr", sf_dir)
    shutil.rmtree(land, ignore_errors=True)

    def sink(partial: DataFrame, batch_id: int) -> None:
        partial.write.mode("append").parquet(land)

    # size the per-micro-batch shuffle from the staged batch files, not
    # the local core count (the foreachBatch inner aggregation pays the
    # session's 32 partitions per batch otherwise — r14 sizing rule;
    # the HDR partial is cell-wise associative, partitioning-invariant)
    with _stream_partitions(spark, src):
        qh = stream_hdr_partials(
            vals, sink, "v", "event_type", sub_bits=7, timeout_s=600
        )
    data_batches = sum(1 for p in qh.recentProgress if p["numInputRows"] > 0)
    if data_batches < 3:
        raise RuntimeError(
            f"stream_sketch_hdr ran {data_batches} data micro-batches; "
            "expected >= 3 (one per staged file)"
        )
    merged = hdr_merge(spark.read.parquet(land))
    return hdr_quantiles(merged, qs=(0.5, 0.95, 0.99), group_col="event_type")


#: bump to invalidate cached HDR baseline artifacts when the bucket
#: rule or the registry build window changes
_HDR_BASELINE_VERSION = 3  # r16: meta.json, journaled appends


@q(
    "sketch_hdr_drift",
    """
    WITH shd_e AS (SELECT event_type,
                          CAST(floor(value * 1000000.0) AS BIGINT) AS v,
                          epoch_us(ts) AS us
                   FROM events),
    shd_m AS (SELECT MIN(us) + (MAX(us) - MIN(us)) // 2 AS mid FROM shd_e),
    shd_b AS (SELECT event_type, side, v >> s << s AS bucket_lo,
                     (CAST(1 AS BIGINT) << s) AS width
              FROM (SELECT event_type, v,
                           greatest(length(bin(v)) - 8, 0) AS s,
                           CASE WHEN us <= mid THEN 0 ELSE 1 END AS side
                    FROM shd_e, shd_m)),
    shd_s AS (SELECT side, event_type, bucket_lo, width, COUNT(*) AS cnt
              FROM shd_b GROUP BY 1, 2, 3, 4),
    shd_c AS (SELECT side, event_type, bucket_lo, width,
                     SUM(cnt) OVER (PARTITION BY side, event_type
                                    ORDER BY bucket_lo) AS cum,
                     SUM(cnt) OVER (PARTITION BY side, event_type) AS n
              FROM shd_s),
    shd_q AS (SELECT side, event_type,
                 MIN(CASE WHEN cum*2 >= n THEN bucket_lo END) AS q50_lo,
                 MIN(CASE WHEN cum*2 >= n THEN bucket_lo + width - 1 END) AS q50_hi,
                 MIN(CASE WHEN cum*20 >= 19*n THEN bucket_lo END) AS q95_lo,
                 MIN(CASE WHEN cum*20 >= 19*n THEN bucket_lo + width - 1 END) AS q95_hi
              FROM shd_c GROUP BY 1, 2),
    shd_j AS (SELECT b.event_type,
                     b.q50_lo AS b50_lo, b.q50_hi AS b50_hi,
                     b.q95_lo AS b95_lo, b.q95_hi AS b95_hi,
                     c.q50_lo AS c50_lo, c.q50_hi AS c50_hi,
                     c.q95_lo AS c95_lo, c.q95_hi AS c95_hi
              FROM (SELECT * FROM shd_q WHERE side = 0) b
              JOIN (SELECT * FROM shd_q WHERE side = 1) c
                USING (event_type)),
    shd_u AS (
      SELECT event_type, CAST(50 AS INT) AS q_pct, b50_lo AS base_lo,
             b50_hi AS base_hi, c50_lo AS cur_lo, c50_hi AS cur_hi
      FROM shd_j
      UNION ALL
      SELECT event_type, CAST(95 AS INT), b95_lo, b95_hi, c95_lo, c95_hi
      FROM shd_j)
    SELECT event_type, q_pct,
           CAST(base_lo AS BIGINT) AS base_lo,
           CAST(base_hi AS BIGINT) AS base_hi,
           CAST(cur_lo AS BIGINT) AS cur_lo,
           CAST(cur_hi AS BIGINT) AS cur_hi,
           CAST(cur_lo > base_hi OR cur_hi < base_lo AS BIGINT) AS shifted
    FROM shd_u
    """,
)
def sketch_hdr_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile drift against a WRITE-ONCE HDR baseline — the monitor
    the sketch family exists for: the reference window (older half of
    the event-time range, standing in for "yesterday") is sketched
    once into a build_hdr_baseline artifact (counter rows + meta
    pinning sub_bits/group/family, meta LAST); every later run
    sketches only the CURRENT window, reads the baseline's few
    hundred rows, and compares p50/p95 BANDS per type — reference
    history is never re-scanned, and the bucket rule the bands are
    read under comes FROM the artifact, not the caller (the
    Bloom/LSH geometry-pin discipline applied to telemetry).
    ``shifted`` = 1 when the bands are disjoint — a deterministic
    drift verdict the gate can hash (drift beyond the sketch's own
    ≤ 0.8% resolution; PSI stays the distribution-shape monitor,
    this is the tail-latency/score one).  The drift-direction math
    is band arithmetic on ≤ (types × 2) rows."""
    from hpaste_spark.operators.sketches import (build_hdr_baseline,
                                                 hdr_quantiles, hdr_sketch,
                                                 read_hdr_baseline)

    ev = _t(spark, sf_dir, "events")
    lo, hi = ev.agg(
        F.min(epoch_us(F.col("ts"))), F.max(epoch_us(F.col("ts")))
    ).first()
    mid = lo + (hi - lo) // 2
    vals = ev.select(
        "event_type",
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias("v"),
        epoch_us(F.col("ts")).alias("_us"),
    )
    path = ensure_artifact(
        _SCRATCH, "hdr_baseline", sf_dir, "events", _HDR_BASELINE_VERSION,
        lambda path: build_hdr_baseline(
            vals.filter(F.col("_us") <= mid).select("event_type", "v"),
            path, "v", "event_type", sub_bits=7,
        ),
    )
    base_sk, meta = read_hdr_baseline(spark, path)
    cur_sk = hdr_sketch(
        vals.filter(F.col("_us") > mid).select("event_type", "v"),
        "v",
        meta["group_col"] or None,
        sub_bits=meta["sub_bits"],
    )
    qb = hdr_quantiles(base_sk, qs=(0.5, 0.95), group_col="event_type").select(
        "event_type",
        F.col("q50_lo").alias("b50_lo"), F.col("q50_hi").alias("b50_hi"),
        F.col("q95_lo").alias("b95_lo"), F.col("q95_hi").alias("b95_hi"),
    )
    qc = hdr_quantiles(cur_sk, qs=(0.5, 0.95), group_col="event_type").select(
        "event_type",
        F.col("q50_lo").alias("c50_lo"), F.col("q50_hi").alias("c50_hi"),
        F.col("q95_lo").alias("c95_lo"), F.col("q95_hi").alias("c95_hi"),
    )
    un = qb.join(qc, "event_type").select(
        "event_type",
        F.expr(
            "stack(2, 50, b50_lo, b50_hi, c50_lo, c50_hi, "
            "95, b95_lo, b95_hi, c95_lo, c95_hi) "
            "AS (q_pct, base_lo, base_hi, cur_lo, cur_hi)"
        ),
    )
    return un.select(
        "event_type",
        F.col("q_pct").cast("int").alias("q_pct"),
        "base_lo", "base_hi", "cur_lo", "cur_hi",
        (
            (F.col("cur_lo") > F.col("base_hi"))
            | (F.col("cur_hi") < F.col("base_lo"))
        )
        .cast("long")
        .alias("shifted"),
    )


#: shared shingle→52-bit-hash CTE for the KMV sketch oracles (the
#: deterministic md5 family: DuckDB rebuilds the identical sketch)
_KMV_SETS = """
    kv_d AS (SELECT source, regexp_split_to_array(trim(text), '\\s+') AS t
             FROM documents WHERE length(trim(text)) > 0),
    kv_s AS (SELECT DISTINCT source,
                    CAST(('0x' || substr(md5(sh), 1, 13)) AS BIGINT) AS h
             FROM (SELECT source, unnest(list_transform(
                     range(1, greatest(len(t)-2, 0)+1),
                     i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS sh
                   FROM kv_d)),
    kv_k AS (SELECT source, h,
                    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
             FROM kv_s),
    kv_sk AS (SELECT source, h FROM kv_k WHERE rn <= 256)
"""

_KMV_H = 1 << 52


@q(
    "sketch_kmv_distinct",
    f"""
    WITH {_KMV_SETS},
    kv_est AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sketch,
                      MAX(h) AS hk
               FROM kv_sk GROUP BY source),
    kv_ex AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS exact_distinct
              FROM kv_s GROUP BY source)
    SELECT e.source,
           n_sketch,
           CAST(CASE WHEN n_sketch < 256 THEN n_sketch
                     ELSE 255 * {_KMV_H} // hk END AS BIGINT) AS est_distinct,
           exact_distinct,
           CAST(CASE WHEN ABS((CASE WHEN n_sketch < 256 THEN n_sketch
                                    ELSE 255 * {_KMV_H} // hk END)
                              - exact_distinct) * 1000
                          <= 250 * exact_distinct
                     THEN 1 ELSE 0 END AS BIGINT) AS in_band
    FROM kv_est e JOIN kv_ex USING (source)
    """,
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k (KMV) distinct-shingle estimate per source, graded
    in-band against the exact count — sketches.kmv_sketch/kmv_estimate
    at k=256 over 3-gram shingles.  Band = 25% (≈ 4× the estimator's
    1/√(k−2) RSE; worst fixture error measured 12.5%).  The exact
    column is the GRADER's truth — a production rollup ships only the
    sketch rows and estimates.  Unlike HLL (engine-specific encoding →
    rows-only check), the md5-deterministic KMV sample hash-gates
    exactly."""
    from hpaste_spark.functions.text import token_hash, word_shingles
    from hpaste_spark.operators.sketches import (kmv_estimate,
                                                 kmv_sketch_from_hashes)

    d = _t(spark, sf_dir, "documents")
    sh = d.select(
        "source", F.explode(word_shingles(F.col("text"), 3)).alias("_sh")
    )
    # ONE hashed-distinct pass feeds both the sketch and the exact
    # grader (r13: kmv_sketch(raw) re-ran tokenize+md5+distinct —
    # identical relation, so the sketch derives from hs directly; the
    # shared distinct Exchange is reused across the two branches)
    hs = sh.select("source", token_hash(F.col("_sh")).alias("_h")).distinct()
    est = kmv_estimate(
        kmv_sketch_from_hashes(hs, group_col="source", hash_col="_h", k=256),
        k=256,
    )
    exact = hs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("exact_distinct")
    )
    return (
        est.withColumnRenamed("grp", "source")
        .join(exact, "source")
        .select(
            "source",
            "n_sketch",
            "est_distinct",
            "exact_distinct",
            (
                F.abs(F.col("est_distinct") - F.col("exact_distinct")) * 1000
                <= 250 * F.col("exact_distinct")
            )
            .cast("long")
            .alias("in_band"),
        )
    )


@q(
    "sketch_kmv_overlap",
    f"""
    WITH {_KMV_SETS},
    kv_th AS (SELECT source,
                     CASE WHEN COUNT(*) < 256 THEN {_KMV_H}
                          ELSE MAX(h) END AS theta
              FROM kv_sk GROUP BY source),
    kv_j AS (SELECT a.source AS src_a, b.source AS src_b,
                    LEAST(ta.theta, tb.theta) AS th, a.h
             FROM kv_sk a JOIN kv_sk b ON a.h = b.h AND a.source < b.source
             JOIN kv_th ta ON ta.source = a.source
             JOIN kv_th tb ON tb.source = b.source),
    kv_i AS (SELECT src_a, src_b, th, CAST(COUNT(*) AS BIGINT) AS n_common
             FROM kv_j WHERE h < th GROUP BY 1, 2, 3),
    kv_x AS (SELECT a.source AS src_a, b.source AS src_b,
                    CAST(COUNT(*) AS BIGINT) AS exact_inter
             FROM kv_s a JOIN kv_s b ON a.h = b.h AND a.source < b.source
             GROUP BY 1, 2),
    kv_n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nd
             FROM kv_s GROUP BY source)
    SELECT i.src_a, i.src_b, n_common,
           CAST(n_common * {_KMV_H} // th AS BIGINT) AS est_inter,
           exact_inter,
           CAST(CASE WHEN ABS(n_common * {_KMV_H} // th - exact_inter) * 1000
                          <= 60 * (na.nd + nb.nd - exact_inter)
                     THEN 1 ELSE 0 END AS BIGINT) AS in_band
    FROM kv_i i
    JOIN kv_x x ON x.src_a = i.src_a AND x.src_b = i.src_b
    JOIN kv_n na ON na.source = i.src_a
    JOIN kv_n nb ON nb.source = i.src_b
    """,
)
def sketch_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cross-source distinct-shingle OVERLAP from one
    standing KMV sketch table — the theta-sketch intersection
    (sketches.kmv_intersect): common sampled hashes below
    θ = min(θ_A, θ_B) scale up by 2^52/θ, all integer.  Graded in-band
    against the exact intersection with a UNION-scaled band (6% of
    |A∪B| ≈ 2× the worst fixture error; intersection RSE is
    union-relative, so an intersection-relative band would be
    meaningless for small overlaps).  The estimate itself touches only
    the ≤ k-row-per-source sketch — any number of overlap questions
    without rescanning the corpus; exact columns are the grader's."""
    from hpaste_spark.functions.text import token_hash, word_shingles
    from hpaste_spark.operators.sketches import (kmv_intersect,
                                                 kmv_sketch_from_hashes)

    d = _t(spark, sf_dir, "documents")
    sh = d.select(
        "source", F.explode(word_shingles(F.col("text"), 3)).alias("_sh")
    )
    # ONE hashed distinct table serves the exact grader AND the sketch
    # (r13: kmv_sketch(raw) re-ran the tokenize+md5+distinct corpus
    # pass; the sketch is its bottom-k tail, so derive it from hs).
    # DISK_ONLY: the distinct (source, hash) table is O(corpus) — the
    # exact-grader side must not claim executor storage memory
    # (SCALE.md corpus-memory rule, applied r11)
    hs = sh.select(
        "source", token_hash(F.col("_sh")).alias("_h")
    ).distinct().localCheckpoint(storageLevel=_DISK_ONLY)
    sk = kmv_sketch_from_hashes(hs, group_col="source", hash_col="_h", k=256)
    est = kmv_intersect(sk, k=256)
    exact = (
        hs.alias("xa")
        .join(hs.alias("xb"), "_h")
        .filter(F.col("xa.source") < F.col("xb.source"))
        .groupBy(
            F.col("xa.source").alias("src_a"), F.col("xb.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("exact_inter"))
    )
    nd = hs.groupBy("source").agg(F.count(F.lit(1)).alias("_nd"))
    return (
        est.withColumnRenamed("grp_a", "src_a")
        .withColumnRenamed("grp_b", "src_b")
        .join(exact, ["src_a", "src_b"])
        .join(
            F.broadcast(nd.select(F.col("source").alias("src_a"), F.col("_nd").alias("_na"))),
            "src_a",
        )
        .join(
            F.broadcast(nd.select(F.col("source").alias("src_b"), F.col("_nd").alias("_nb"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_common",
            "est_inter",
            "exact_inter",
            (
                F.abs(F.col("est_inter") - F.col("exact_inter")) * 1000
                <= 60 * (F.col("_na") + F.col("_nb") - F.col("exact_inter"))
            )
            .cast("long")
            .alias("in_band"),
        )
    )


@q(
    "sketch_kmv_union",
    f"""
    WITH {_KMV_SETS},
    kvu_p AS (SELECT DISTINCT a.source AS src_a, b.source AS src_b
              FROM kv_sk a JOIN kv_sk b ON a.source < b.source),
    kvu_u AS (SELECT DISTINCT p.src_a, p.src_b, s.h
              FROM kvu_p p JOIN kv_sk s
                ON s.source = p.src_a OR s.source = p.src_b),
    kvu_k AS (SELECT src_a, src_b, h,
                     row_number() OVER (PARTITION BY src_a, src_b
                                        ORDER BY h) AS rn
              FROM kvu_u),
    kvu_e AS (SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_sketch,
                     MAX(h) AS hk
              FROM kvu_k WHERE rn <= 256 GROUP BY 1, 2),
    kvu_n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nd
              FROM kv_s GROUP BY source),
    kvu_i AS (SELECT a.source AS src_a, b.source AS src_b,
                     CAST(COUNT(*) AS BIGINT) AS ni
              FROM kv_s a JOIN kv_s b ON a.h = b.h AND a.source < b.source
              GROUP BY 1, 2),
    kvu_x AS (SELECT p.src_a, p.src_b,
                     na.nd + nb.nd - COALESCE(i.ni, 0) AS exact_union
              FROM kvu_p p
              JOIN kvu_n na ON na.source = p.src_a
              JOIN kvu_n nb ON nb.source = p.src_b
              LEFT JOIN kvu_i i ON i.src_a = p.src_a AND i.src_b = p.src_b)
    SELECT e.src_a, e.src_b, n_sketch,
           CAST(CASE WHEN n_sketch < 256 THEN n_sketch
                     ELSE 255 * {_KMV_H} // hk END AS BIGINT) AS est_union,
           exact_union,
           CAST(CASE WHEN ABS((CASE WHEN n_sketch < 256 THEN n_sketch
                                    ELSE 255 * {_KMV_H} // hk END)
                              - exact_union) * 1000
                          <= 250 * exact_union
                     THEN 1 ELSE 0 END AS BIGINT) AS in_band
    FROM kvu_e e JOIN kvu_x x ON x.src_a = e.src_a AND x.src_b = e.src_b
    """,
)
def sketch_kmv_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cross-source UNION cardinality from the standing KMV
    sketch table — sketches.kmv_union, the third set-algebra leg
    (|A|, |A∩B|, now |A∪B|, and |A∪B| + |A∩B| − |A| − |B| = 0 closes
    inclusion-exclusion telemetry): bottom-k commutes with set union,
    so the pair sketch is EXACTLY the sketch of the combined gram set
    and carries the same 1/√(k−2) guarantee; band 25% as for
    sketch_kmv_distinct.  Exact column = grader truth."""
    from hpaste_spark.functions.text import token_hash, word_shingles
    from hpaste_spark.operators.sketches import (kmv_sketch_from_hashes,
                                                 kmv_union)

    d = _t(spark, sf_dir, "documents")
    sh = d.select(
        "source", F.explode(word_shingles(F.col("text"), 3)).alias("_sh")
    )
    # DISK_ONLY: O(corpus) exact-grader table (corpus-memory rule, r11);
    # the sketch derives from it too (r13 — one corpus hash pass, not two)
    hs = sh.select(
        "source", token_hash(F.col("_sh")).alias("_h")
    ).distinct().localCheckpoint(storageLevel=_DISK_ONLY)
    est = kmv_union(
        kmv_sketch_from_hashes(hs, group_col="source", hash_col="_h", k=256),
        k=256,
    )
    # exact union via inclusion-exclusion on equi-joins only: the
    # direct (source = a OR source = b) pair join is a nested loop
    # over the full hash table (measured 183 s at the 100× probe vs
    # ~13 s for the equi-join form)
    nd = hs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("_nd"))
    inter = (
        hs.alias("ua")
        .join(hs.alias("ub"), "_h")
        .filter(F.col("ua.source") < F.col("ub.source"))
        .groupBy(
            F.col("ua.source").alias("src_a"), F.col("ub.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("_ni"))
    )
    exact = (
        nd.select(F.col("source").alias("src_a"), F.col("_nd").alias("_na"))
        .join(
            nd.select(F.col("source").alias("src_b"), F.col("_nd").alias("_nb")),
            F.col("src_a") < F.col("src_b"),
        )
        .join(inter, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            (F.col("_na") + F.col("_nb") - F.coalesce(F.col("_ni"), F.lit(0)))
            .cast("long")
            .alias("exact_union"),
        )
    )
    return (
        est.withColumnRenamed("grp_a", "src_a")
        .withColumnRenamed("grp_b", "src_b")
        .join(exact, ["src_a", "src_b"])
        .select(
            "src_a",
            "src_b",
            "n_sketch",
            "est_union",
            "exact_union",
            (
                F.abs(F.col("est_union") - F.col("exact_union")) * 1000
                <= 250 * F.col("exact_union")
            )
            .cast("long")
            .alias("in_band"),
        )
    )


@q(
    "sketch_kmv_union_kway",
    f"""
    WITH {_KMV_SETS},
    kw_m AS (SELECT * FROM (VALUES ('src0'), ('src1'), ('src2'), ('src3'),
                                   ('src4')) AS t(source)),
    kw_s AS (SELECT s.* FROM kv_s s JOIN kw_m USING (source)),
    kw_sk AS (SELECT s.* FROM kv_sk s JOIN kw_m USING (source)),
    kw_u AS (SELECT DISTINCT h FROM kw_sk),
    kw_k AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM kw_u),
    kw_e AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sketch, MAX(h) AS hk
             FROM kw_k WHERE rn <= 256),
    kw_xu AS (SELECT CAST(COUNT(DISTINCT h) AS BIGINT) AS exact_union FROM kw_s),
    kw_th AS (SELECT source,
                     CASE WHEN COUNT(*) < 256 THEN {_KMV_H} ELSE MAX(h) END AS th
              FROM kw_sk GROUP BY source),
    kw_t AS (SELECT MIN(th) AS theta, CAST(COUNT(*) AS BIGINT) AS n_groups
             FROM kw_th),
    kw_c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_common FROM (
               SELECT s.h FROM kw_sk s JOIN kw_t t ON s.h < t.theta
               GROUP BY s.h HAVING COUNT(*) = (SELECT n_groups FROM kw_t))),
    kw_xi AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_inter FROM (
               SELECT h FROM kw_s
               GROUP BY h HAVING COUNT(*) = (SELECT n_groups FROM kw_t)))
    SELECT 'union' AS op, n_sketch AS n_sample,
           CAST(CASE WHEN n_sketch < 256 THEN n_sketch
                     ELSE 255 * {_KMV_H} // hk END AS BIGINT) AS est,
           exact_union AS exact,
           CAST(CASE WHEN ABS((CASE WHEN n_sketch < 256 THEN n_sketch
                                    ELSE 255 * {_KMV_H} // hk END)
                              - exact_union) * 1000
                          <= 250 * exact_union
                     THEN 1 ELSE 0 END AS BIGINT) AS in_band
    FROM kw_e, kw_xu
    UNION ALL
    SELECT 'inter', c.n_common,
           CAST(c.n_common * {_KMV_H} // t.theta AS BIGINT),
           x.exact_inter,
           CAST(CASE WHEN ABS(c.n_common * {_KMV_H} // t.theta - x.exact_inter)
                          * 1000
                          <= 60 * u.exact_union
                     THEN 1 ELSE 0 END AS BIGINT)
    FROM kw_c c, kw_t t, kw_xi x, kw_xu u
    """,
)
def sketch_kmv_union_kway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-WAY KMV set algebra off one standing sketch table (round-9
    verdict ask #5): "how many distinct grams across THESE five
    sources" (union = one re-bottom-k over the merged member sketches,
    sketches.kmv_union_subsets) and "how many grams do ALL five share"
    (intersection via the GLOBAL min-theta, kmv_intersect_subsets) —
    the two questions a mixture designer asks about a candidate source
    bundle, answered without rescanning the corpus.  Two rows
    (op in {union, inter}), each with the md5-deterministic estimate,
    the exact grader truth, and an in_band flag (25% of exact for the
    union — the sketch_kmv_union posture — and 6% of the union size
    for the intersection, which is union-relative like
    sketch_kmv_overlap's band).  Estimator work is bounded by the
    ≤ k·|subset| sketch rows (plan-tested: zero corpus scans in the
    final plan — both the sketch and the exact-grader hash table are
    materialized once)."""
    from hpaste_spark.functions.text import token_hash, word_shingles
    from hpaste_spark.operators.sketches import (
        kmv_intersect_subsets,
        kmv_sketch_from_hashes,
        kmv_union_subsets,
    )

    subset = ["src0", "src1", "src2", "src3", "src4"]
    d = _t(spark, sf_dir, "documents")
    sh = d.select(
        "source", F.explode(word_shingles(F.col("text"), 3)).alias("_sh")
    )
    # hs is O(corpus) -> DISK_ONLY; sk is the k-per-group sketch table
    # (dimension-sized) -> memory cache is exactly what it is for.
    # r13: the sketch derives from hs (its bottom-k tail — identical
    # rows for every consumed subset member) instead of re-running the
    # tokenize+md5+distinct pass over the raw shingles.
    hs = (
        sh.filter(F.col("source").isin(subset))
        .select("source", token_hash(F.col("_sh")).alias("_h"))
        .distinct()
        .localCheckpoint(storageLevel=_DISK_ONLY)
    )
    sk = kmv_sketch_from_hashes(
        hs, group_col="source", hash_col="_h", k=256
    ).localCheckpoint()
    uni = kmv_union_subsets(sk, {"k5": subset}, k=256)
    inter = kmv_intersect_subsets(sk, {"k5": subset}, k=256)
    eu = hs.agg(F.countDistinct("_h").cast("long").alias("exact_union"))
    ei = (
        hs.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_ns"))
        .filter(F.col("_ns") == len(subset))
        .agg(F.count(F.lit(1)).cast("long").alias("exact_inter"))
    )
    u_row = uni.crossJoin(eu).select(
        F.lit("union").alias("op"),
        F.col("n_sketch").cast("long").alias("n_sample"),
        F.col("est_union").alias("est"),
        F.col("exact_union").alias("exact"),
        (
            F.abs(F.col("est_union") - F.col("exact_union")) * 1000
            <= 250 * F.col("exact_union")
        )
        .cast("long")
        .alias("in_band"),
    )
    i_row = inter.crossJoin(ei).crossJoin(eu).select(
        F.lit("inter").alias("op"),
        F.col("n_common").cast("long").alias("n_sample"),
        F.col("est_inter").alias("est"),
        F.col("exact_inter").alias("exact"),
        (
            F.abs(F.col("est_inter") - F.col("exact_inter")) * 1000
            <= 60 * F.col("exact_union")
        )
        .cast("long")
        .alias("in_band"),
    )
    return u_row.unionAll(i_row)


def _stage_multibatch_documents(sf_dir: str) -> str:
    """Split the documents fixture into THREE parquet files by
    doc_id % 3 (mtimes ascending) so a maxFilesPerTrigger=1 file
    stream replays them as three REAL micro-batches.  No timestamps
    involved — used by order-insensitive sketch folds whose batch
    invariance is algebraic (bottom-k over set union), not
    watermark-driven."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(scratch_dir(_SCRATCH, "stream_src_mb", sf_dir), "documents")
    os.makedirs(out, exist_ok=True)
    for old in os.listdir(out):
        os.remove(os.path.join(out, old))
    target = os.path.join(sf_dir, "documents.parquet")
    if os.path.isdir(target):
        parts = [
            os.path.join(target, p)
            for p in sorted(os.listdir(target))
            if p.endswith(".parquet")
        ]
        tbl = pa.concat_tables([pq.read_table(p) for p in parts])
    else:
        tbl = pq.read_table(target)
    ids = tbl.column("doc_id").combine_chunks().to_numpy()
    now = _time.time()
    for b in (0, 1, 2):
        path = os.path.join(out, f"0{b + 1}_batch.parquet")
        pq.write_table(tbl.filter(pa.array(ids % 3 == b)), path)
        os.utime(path, (now - 60 + 20 * b,) * 2)
    return out


# per-batch bottom-k partials merge to the identical corpus sketch
# (bottom-k is associative over set union), so the landed merge is the
# SAME relation the batch query computes — alias the batch oracle
_ORACLES["stream_sketch_kmv"] = _ORACLES["sketch_kmv_distinct"]


@q("stream_sketch_kmv", None)
def stream_sketch_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming cardinality telemetry UNDER the gate — the 12th gated
    streaming shape: documents replay as THREE real micro-batches
    (doc_id % 3 staging), each batch folds its 3-gram shingles into a
    ≤ k-rows-per-source KMV partial via foreachBatch running the exact
    batch operator (streaming/events.stream_kmv_partials), partials
    land in parquet, and the reader re-bottom-k's them (kmv_merge) and
    estimates.  bottom-k over set union is associative, so batch
    boundaries provably cannot change the merged sketch — the SAME
    DuckDB oracle as sketch_kmv_distinct grades the streaming
    execution hash-for-hash.  This is the ingest posture for 'how many
    distinct grams has each source contributed so far': the stream
    maintains the sample; distinct counts, unions, and theta-overlaps
    read off it without touching raw history.  Hard-errors unless
    >= 3 data micro-batches ran."""
    import shutil

    from hpaste_spark.functions.text import token_hash, word_shingles
    from hpaste_spark.operators.sketches import kmv_estimate, kmv_merge
    from hpaste_spark.streaming.events import stream_kmv_partials

    d = _t(spark, sf_dir, "documents")
    src = _stage_multibatch_documents(sf_dir)
    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select("source", F.explode(word_shingles(F.col("text"), 3)).alias("_sh"))
    )
    land = scratch_dir(_SCRATCH, "stream_kmv", sf_dir)
    shutil.rmtree(land, ignore_errors=True)

    def sink(partial: DataFrame, batch_id: int) -> None:
        partial.write.mode("append").parquet(land)

    # size the per-micro-batch shuffle from the staged batch files, not
    # the local core count (r14 sizing rule; bottom-k per group is
    # partitioning-invariant, so the landed partials are identical)
    with _stream_partitions(spark, src):
        qh = stream_kmv_partials(
            stream, sink, "source", "_sh", k=256, timeout_s=600
        )
    data_batches = sum(1 for p in qh.recentProgress if p["numInputRows"] > 0)
    if data_batches < 3:
        raise RuntimeError(
            f"stream_sketch_kmv ran {data_batches} data micro-batches; "
            "expected >= 3 (one per staged file)"
        )
    est = kmv_estimate(kmv_merge(spark.read.parquet(land), k=256), k=256)
    sh = d.select(
        "source", F.explode(word_shingles(F.col("text"), 3)).alias("_sh")
    )
    exact = (
        sh.select("source", token_hash(F.col("_sh")).alias("_h"))
        .distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_distinct"))
    )
    return (
        est.withColumnRenamed("grp", "source")
        .join(exact, "source")
        .select(
            "source",
            "n_sketch",
            "est_distinct",
            "exact_distinct",
            (
                F.abs(F.col("est_distinct") - F.col("exact_distinct")) * 1000
                <= 250 * F.col("exact_distinct")
            )
            .cast("long")
            .alias("in_band"),
        )
    )


# BPE-ish subword token counting (north star: "token counting —
# whitespace + a BPE-ish regex").  Whitespace count alongside for the
# tokens-per-word granularity ratio LLM data budgeting uses.
@q(
    "text_bpe_token_count",
    r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+')) AS n_bpe_tokens,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_ws_tokens
    FROM documents WHERE length(trim(text)) > 0
    """,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    return d.select(
        "doc_id",
        X.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        X.token_count(F.col("text")).alias("n_ws_tokens"),
    )


@q(
    "text_fertility_by_lang",
    r"""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+'))) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_ws_tokens,
           CAST(1000000 * SUM(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+')))
                // SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS fertility_micro
    FROM documents WHERE length(trim(text)) > 0
    GROUP BY lang
    """,
)
def text_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY by language — BPE-ish tokens emitted per
    whitespace word, the multilingual-pipeline readout that prices how
    expensive each language is to train on (high fertility = more
    tokens per word = fewer words per context window; the signal
    behind per-language token budgeting in mixture planning).
    Exact integer micro-units (1e6 = one token per word).  One
    lang-keyed hash-agg over the same GPT-2-style pre-tokenizer regex
    as text_bpe_token_count — map-side combinable, no shuffle beyond
    the ≤|langs|-group agg."""
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    per = d.select(
        "lang",
        X.bpe_token_count(F.col("text")).alias("_b"),
        X.token_count(F.col("text")).alias("_w"),
    )
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_b").cast("long").alias("n_bpe_tokens"),
        F.sum("_w").cast("long").alias("n_ws_tokens"),
        F.expr("1000000 * sum(_b) div sum(_w)").cast("long").alias("fertility_micro"),
    )


# §2.9 — native session windows (F.session_window): the declarative
# batch twin of the stateful streaming sessionizer.  An event at
# exactly gap seconds after its predecessor starts a NEW session
# (Spark merges [ts, ts+gap) intervals only on strict overlap), hence
# `>= 1800` in the oracle's island detection.
@q(
    "tw_session_window",
    """
    WITH t AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(LAG(ts) OVER w) >= 1800 THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM t)
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
           ROUND(SUM(value::DECIMAL(12,2)), 2)::DOUBLE AS total_value
    FROM s GROUP BY user_id, sid
    """,
)
def tw_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.session_window(F.col("ts"), "30 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


# W2 — ntile quartile banding per group (deterministic: the ORDER BY is
# unique (totalprice, orderkey) so both engines fill buckets identically).
@q(
    "w_ntile_quartiles",
    """
    SELECT o_orderpriority, quartile, COUNT(*) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo, ROUND(MAX(o_totalprice), 2) AS hi
    FROM (
      SELECT o_orderpriority, o_totalprice,
             NTILE(4) OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS quartile
      FROM orders) t
    GROUP BY o_orderpriority, quartile
    """,
)
def w_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_totalprice", F.ntile(4).over(w).alias("quartile"))
        .groupBy("o_orderpriority", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


# Per-label embedding centroids — the k-means/IVF "training" step as a
# standalone distributed op: posexplode to (label, dim, value), ONE
# hash-aggregate for all per-dimension means (map-side combine shrinks
# the shuffle to labels × dims rows), reassemble ordered arrays.
@q(
    "vec_label_centroids",
    """
    WITH px AS (
      SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(ROUND(unnest(embedding) * 1000000) AS BIGINT) AS q
      FROM embeddings
    ), m AS (
      -- "+ 0" collapses IEEE negative zero (-0.0 + 0.0 = +0.0): DuckDB's
      -- ROUND keeps the sign of tiny negatives, Spark's does not.
      -- Micro-quantized mean: the integer sum is order-independent, so
      -- the rounded centroid can't flip with partition layout.
      SELECT label, pos, ROUND((SUM(q)::DOUBLE / COUNT(*)) / 1000000, 3) + 0 AS mv
      FROM px GROUP BY label, pos
    )
    -- milli-quantized BIGINT components: integers serialize identically
    -- in both engines' to_json (double shortest-repr could diverge), and
    -- the driver harness can't hash raw LIST cells (VERDICT r2 #4).
    SELECT label,
           to_json(list(CAST(ROUND(mv * 1000) AS BIGINT) ORDER BY pos))::VARCHAR AS centroid_milli,
           COUNT(*) AS dims
    FROM m GROUP BY label
    """,
)
def vec_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    px = _t(spark, sf_dir, "embeddings").select(
        "label",
        F.posexplode("embedding").alias("pos", "v"),
    ).select("label", "pos", F.round(F.col("v") * 1000000).cast("long").alias("q"))
    # exact integer sum → single deterministic double division chain,
    # mirrored operation-for-operation in the oracle
    m = px.groupBy("label", "pos").agg(
        (F.round((F.sum("q").cast("double") / F.count(F.lit(1))) / 1000000, 3) + F.lit(0.0)).alias("mv")
    )
    return m.groupBy("label").agg(
        F.to_json(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                lambda s: F.round(s.mv * 1000).cast("long"),
            )
        ).alias("centroid_milli"),
        F.count(F.lit(1)).alias("dims"),
    )


# End-to-end corpus-cleaning pipeline (north star composite): strip
# markup → canonical content key → exact-dedup keeper → language +
# quality gates → per-source yield report.  One DataFrame program;
# every stage is a prior oracle-checked primitive.
@q(
    "pipe_clean_corpus",
    """
    WITH scored AS (
      SELECT doc_id, source,
             md5(trim(regexp_replace(lower(regexp_replace(text, '<[^>]*>', ' ', 'g')),
                                     '\\s+', ' ', 'g'))) AS content_key,
             ROUND(
               0.5 * LEAST(len(regexp_split_to_array(trim(text), '\\s+')) / 100.0, 1.0)
               + 0.3 * (CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) = 0 THEN 0.0
                        ELSE CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             t -> t IN ('the','a','an','of','and','or','to','in','is','it'))) AS DOUBLE)
                             / len(regexp_split_to_array(trim(text), '\\s+')) END)
               + 0.2 * (1 - (CASE WHEN length(text) = 0 THEN 0.0
                             ELSE CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                                  / length(text) END)), 4) AS quality,
             CASE
               WHEN len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t IN ('el','la','de','que'))) > 0 THEN 'es'
               WHEN len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t IN ('der','die','das','und'))) > 0 THEN 'de'
               WHEN len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t IN ('le','les','des','est'))) > 0 THEN 'fr'
               WHEN len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t IN ('the','and','is','of'))) > 0 THEN 'en'
               ELSE 'unknown'
             END AS lang_guess
      FROM documents WHERE length(trim(text)) > 0
    ), kept AS (
      SELECT * FROM (
        SELECT *, MIN(doc_id) OVER (PARTITION BY content_key) AS keeper
        FROM scored) k
      WHERE doc_id = keeper AND quality >= 0.5 AND lang_guess <> 'unknown'
    )
    SELECT source, lang_guess, COUNT(*) AS n_docs,
           ROUND(SUM(quality::DECIMAL(12,4)), 2)::DOUBLE AS total_quality
    FROM kept GROUP BY source, lang_guess
    """,
)
def pipe_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    scored = d.select(
        "doc_id",
        "source",
        F.md5(X.normalize_text(F.col("text")).cast("binary")).alias("content_key"),
        X.quality_score(F.col("text")).alias("quality"),
        X.lang_guess(F.col("text")).alias("lang_guess"),
    )
    keeper = Window.partitionBy("content_key")
    kept = (
        scored.withColumn("keeper", F.min("doc_id").over(keeper))
        .filter(
            (F.col("doc_id") == F.col("keeper"))
            & (F.col("quality") >= 0.5)
            & (F.col("lang_guess") != "unknown")
        )
    )
    return kept.groupBy("source", "lang_guess").agg(
        F.count(F.lit(1)).alias("n_docs"),
        # quality is exact at 4 decimals (rounded upstream): decimal(12,4)
        # recovers it exactly, so the sum is order-independent
        F.round(F.sum(F.col("quality").cast("decimal(12,4)")), 2).cast("double").alias("total_quality"),
    )


# ---------------------------------------------------------------------------
# TPC-H suite completion (adapted to the driver's reduced star schema:
# no partsupp table, no comment/phone/date-pair columns — each query keeps
# the *plan shape* of its TPC-H namesake: the join graph, subquery
# correlation pattern, and aggregation structure).  Q1 == a1_groupby_rollup_sum
# above.  The reference has no joins at all (SURVEY §2.5) — this suite is the
# north-star analytics layer exercising Catalyst's join planning end-to-end.
# ---------------------------------------------------------------------------


@q(
    "q2_min_cost_supplier",
    """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    cand AS (
      SELECT p_partkey, p_name, s_name, s_acctbal, n_name,
             MAX(s_acctbal) OVER (PARTITION BY p_partkey) AS max_bal
      FROM part JOIN ps ON p_partkey = l_partkey
           JOIN supplier ON s_suppkey = l_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE' AND p_type = 'PROMO' AND p_size <= 15)
    SELECT p_partkey, p_name, s_name, ROUND(s_acctbal, 2) AS acctbal, n_name
    FROM cand WHERE s_acctbal = max_bal
    ORDER BY s_acctbal DESC, p_partkey, s_name LIMIT 20
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated argmax per part (here best-account
    supplier who actually shipped the part, ps := distinct lineitem
    pairs standing in for partsupp).  The correlated MAX subquery is a
    window over the part partition — one shuffle, no self-join."""
    ps = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "PROMO") & (F.col("p_size") <= 15)
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(_t(spark, sf_dir, "nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(_t(spark, sf_dir, "region")), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "EUROPE")
    )
    cand = (
        ps.join(F.broadcast(part), ps.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), ps.l_suppkey == F.col("s_suppkey"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        cand.withColumn("max_bal", F.max("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("max_bal"))
        .orderBy(F.col("s_acctbal").desc(), "p_partkey", "s_name")
        .limit(20)
        .select(
            "p_partkey", "p_name", "s_name",
            F.round("s_acctbal", 2).alias("acctbal"), "n_name",
        )
    )


@q(
    "q5_local_supplier_volume",
    """
    SELECT n_name, ROUND(SUM(l_extendedprice::DECIMAL(12,2) * (1 - l_discount)::DECIMAL(4,2)), 2)::DOUBLE AS revenue
    FROM customer JOIN orders   ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                  JOIN nation   ON s_nationkey = n_nationkey
                  JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: six-way join where the customer and supplier must share
    a nation — the one TPC-H query whose join graph is cyclic.  Facts
    shuffle-join on their keys; nation/region/supplier broadcast."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(_t(spark, sf_dir, "nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(_t(spark, sf_dir, "region")), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == F.col("s_suppkey")) & (cust.c_nationkey == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(dsum_disc().alias("revenue"))
    )


@q(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year, ROUND(SUM(volume), 2)::DOUBLE AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             EXTRACT(year FROM l_shipdate) AS l_year,
             l_extendedprice::DECIMAL(12,2) * (1 - l_discount)::DECIMAL(4,2) AS volume
      FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
           JOIN orders   ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           JOIN nation n1 ON s_nationkey = n1.n_nationkey
           JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bi-directional nation-pair volume.  The nation table is
    joined twice under different roles (supplier side / customer side) —
    both broadcast; the OR-of-pairs predicate lands after both joins."""
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(_t(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(_t(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(_t(spark, sf_dir, "supplier")), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(dsum_disc().alias("revenue"))
    )


@q(
    "q8_market_share",
    """
    SELECT o_year,
           ROUND(SUM(CASE WHEN nation = 'NATION_3' THEN volume END)::DOUBLE
                 / SUM(volume)::DOUBLE, 4) AS mkt_share
    FROM (
      SELECT EXTRACT(year FROM o_orderdate) AS o_year,
             l_extendedprice::DECIMAL(12,2) * (1 - l_discount)::DECIMAL(4,2) AS volume,
             n2.n_name AS nation
      FROM part JOIN lineitem ON p_partkey = l_partkey
           JOIN supplier ON s_suppkey = l_suppkey
           JOIN orders   ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation n1 ON c_nationkey = n1.n_nationkey
           JOIN region   ON n1.n_regionkey = r_regionkey
           JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: national market share — a ratio of conditional to total
    aggregate over an 8-way join, nation joined in two roles."""
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation"))
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    volume = money("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(4,2)")
    return (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(_t(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(_t(spark, sf_dir, "supplier")), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_3", volume)).cast("double")
                / F.sum(volume).cast("double"),
                4,
            ).alias("mkt_share")
        )
    )


@q(
    "q9_product_profit",
    """
    SELECT nation, o_year, CAST(SUM(amount) AS BIGINT) AS sum_profit
    FROM (
      SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
             CAST(ROUND(l_extendedprice * (1 - l_discount), 0) AS BIGINT) AS amount
      FROM part JOIN lineitem ON p_partkey = l_partkey
           JOIN supplier ON s_suppkey = l_suppkey
           JOIN orders   ON o_orderkey = l_orderkey
           JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%widget%'
    ) profit
    GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for a
    part-name pattern (supplycost term dropped with partsupp; the join
    graph and agg structure are Q9's).  Line amounts round to whole
    dollars and cast to BIGINT BEFORE the sum: integer sums are exact
    under any summation order, so the value can't drift between engines
    the way a ROUND(SUM(double)) of ~10k-element groups can."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    return (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(_t(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(_t(spark, sf_dir, "supplier")), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(_t(spark, sf_dir, "nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 0).cast("long")
            ).alias("sum_profit")
        )
    )


@q(
    "q11_important_parts",
    """
    WITH pv AS (
      SELECT l_partkey, ROUND(SUM(l_extendedprice::DECIMAL(12,2) * (1 - l_discount)::DECIMAL(4,2)), 2)::DOUBLE AS part_value
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_5', 'NATION_6')
      GROUP BY l_partkey)
    SELECT l_partkey AS p_key, part_value
    FROM pv
    WHERE part_value > (SELECT ROUND(SUM(part_value::DECIMAL(14,2))::DECIMAL(20,2) * 0.001, 2)::DOUBLE FROM pv)
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value vs a scalar fraction-of-total
    subquery (lineitem revenue standing in for partsupp stock value).
    Per-part values are rounded BEFORE both the total and the comparison
    so summation order can't flip boundary rows between engines."""
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(_t(spark, sf_dir, "nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_5", "NATION_6"))
    )
    pv = (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(dsum_disc().alias("part_value"))
    )
    # part_value is exact at 2 decimals; the 0.1% threshold stays in
    # decimal so boundary parts compare identically on both engines
    threshold = pv.agg(
        F.round(
            F.sum(F.col("part_value").cast("decimal(14,2)")).cast("decimal(20,2)")
            * F.lit("0.001").cast("decimal(4,3)"),
            2,
        )
        .cast("double")
        .alias("thr")
    )
    return (
        pv.join(F.broadcast(threshold), F.col("part_value") > F.col("thr"))
        .select(F.col("l_partkey").alias("p_key"), "part_value")
    )


@q(
    "q12_priority_by_returnflag",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= o_orderdate
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def q12_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: order-priority split counts per line class
    (returnflag standing in for shipmode), with the cross-table
    l_shipdate >= o_orderdate predicate evaluated post-join."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(_t(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@q(
    "q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey) c_orders
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: two-level aggregation over a filtered left outer join —
    customers with zero qualifying orders land in the c_count=0 bucket,
    which an inner join would silently drop."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@q(
    "q16_supplier_cnt",
    """
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts per part class (distinct
    lineitem pairs standing in for partsupp; the NOT-IN-suppliers clause
    has no analog without a comment column)."""
    ps = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
    )
    return (
        ps.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@q(
    "q17_small_qty_revenue",
    """
    WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#13'),
    lim AS (
      SELECT l_partkey, 0.2 * AVG(l_quantity) AS qty_lim
      FROM lineitem JOIN bp ON l_partkey = p_partkey
      GROUP BY l_partkey)
    SELECT ((2*SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) + 7) // 14) / 100.0 AS avg_yearly
    FROM lineitem l JOIN lim ON l.l_partkey = lim.l_partkey
    WHERE l.l_quantity < lim.qty_lim
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: small-quantity-order revenue — the correlated per-part
    AVG subquery becomes a pre-aggregated broadcast join (2000 parts →
    ~80 per brand), not a window over the full fact table."""
    li = _t(spark, sf_dir, "lineitem")
    bp = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13").select("p_partkey")
    brand_lines = li.join(F.broadcast(bp), li.l_partkey == F.col("p_partkey"))
    lim = brand_lines.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_lim")
    ).withColumnRenamed("l_partkey", "lim_partkey")
    # exact integer cents: ROUND(sum/7, 2) == floor((2s+7)/14) cents for
    # s >= 0 — pure integer arithmetic, identical on any engine
    return (
        brand_lines.join(F.broadcast(lim), F.col("l_partkey") == F.col("lim_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_lim"))
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cents"))
        .select(
            (F.expr("(2*cents + 7) div 14") / 100.0).alias("avg_yearly")
        )
    )


@q(
    "q20_potential_promotion",
    """
    WITH qty AS (
      SELECT l_suppkey, l_partkey, SUM(l_quantity) AS total_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_suppkey, l_partkey)
    SELECT s_suppkey, s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_7', 'NATION_8', 'NATION_9')
      AND s_suppkey IN (
        SELECT l_suppkey FROM qty JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE '%bolt%' AND total_qty > 30)
    """,
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers with excess shipped quantity of a part
    class — nested IN subqueries become a pre-agg + left-semi join."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    bolt_parts = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%")).select("p_partkey")
    heavy = (
        li.groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .join(F.broadcast(bolt_parts), F.col("l_partkey") == F.col("p_partkey"))
        .filter(F.col("total_qty") > 30)
        .select("l_suppkey")
    )
    return (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(_t(spark, sf_dir, "nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_7", "NATION_8", "NATION_9"))
        .join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "n_name")
    )


@q(
    "q21_waiting_suppliers",
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND n_name IN ('NATION_10', 'NATION_11', 'NATION_12')
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name LIMIT 20
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the sole-blame pattern — the supplier whose line
    was returned on a finished multi-supplier order where NO other
    supplier's line was returned.  The EXISTS/NOT-EXISTS pair collapses
    to one per-order aggregate: EXISTS(other supplier) ⇔ n_supp ≥ 2 and
    NOT EXISTS(other supplier with a return) ⇔ n_r_supp = 1 (the blamed
    supplier's own return).  One lineitem stats pass + one shuffle
    replaces two distinct-shuffles feeding semi/anti joins — at 100 TB
    that's one exchange of order-grain rows instead of three."""
    li = _t(spark, sf_dir, "lineitem")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(_t(spark, sf_dir, "nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_10", "NATION_11", "NATION_12"))
    )
    orders_f = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    # Two-level agg instead of two COUNT(DISTINCT)s in one pass: the
    # (order, supplier) rollup partial-aggregates map-side and avoids
    # the Expand (row-doubling) a multi-distinct aggregate plans.
    order_stats = (
        li.groupBy("l_orderkey", "l_suppkey")
        .agg(F.max((F.col("l_returnflag") == "R").cast("int")).alias("has_r"))
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_supp"), F.sum("has_r").alias("n_r_supp"))
        .filter((F.col("n_supp") >= 2) & (F.col("n_r_supp") == 1))
        .select(F.col("l_orderkey").alias("blame_orderkey"))
    )
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders_f, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(order_stats, F.col("l_orderkey") == F.col("blame_orderkey"), "left_semi")
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@q(
    "q22_global_sales_opportunity",
    """
    SELECT n_name, COUNT(*) AS numcust, ROUND(SUM(c_acctbal::DECIMAL(12,2)), 2)::DOUBLE AS totacctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY n_name
    """,
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers gone dormant (no
    orders since 2000 — every synthetic customer has SOME order, so the
    anti-join target is the recent-order set; nation grouping stands in
    for phone country codes).  The scalar AVG broadcasts; NOT EXISTS is
    a left-anti join on the orders key."""
    cust = _t(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("avg_bal"))
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        cust.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(_t(spark, sf_dir, "nation")), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus-preparation extensions (operators/corpus.py): chunking, vocab
# statistics, length histogram, PII redaction — the stages between
# cleaning/dedup and token packing in a pre-training pipeline.
# ---------------------------------------------------------------------------
@q(
    "corpus_chunk_overlap",
    """
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    c AS (SELECT doc_id, t, unnest(range(0, len(t), 96)) AS s FROM d)
    SELECT doc_id, CAST(s // 96 AS BIGINT) AS chunk_idx,
           CAST(least(128, len(t) - s) AS BIGINT) AS n_tokens,
           array_to_string(t[s+1:s+128], ' ') AS chunk_text
    FROM c
    """,
)
def corpus_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking, 128-token chunks every 96 tokens
    (32-token overlap) — documents → trainable sequences in one narrow
    map stage (no shuffle, no UDF)."""
    from hpaste_spark.operators.corpus import chunk_documents

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    return chunk_documents(d, chunk_size=128, overlap=32)


@q(
    "corpus_vocab_coverage",
    """
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents WHERE length(trim(text)) > 0
    ),
    counts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts),
    ranked AS (
      SELECT token, cnt,
             CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rank,
             CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM counts
    )
    SELECT token, cnt, rank,
           ROUND(CAST(cum AS DOUBLE) / (SELECT total FROM tot), 6) AS coverage
    FROM ranked WHERE rank <= 100
    """,
)
def corpus_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary head with cumulative coverage — "how many types cover
    X % of tokens": tokenizer-training / vocab-sizing primitive."""
    from hpaste_spark.operators.corpus import vocab_coverage

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    return vocab_coverage(d, top_n=100)


@q(
    "corpus_length_histogram",
    """
    WITH d AS (
      SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS n
      FROM documents WHERE length(trim(text)) > 0
    ),
    tot AS (SELECT COUNT(*) AS total FROM d)
    SELECT CAST((n // 32) * 32 AS BIGINT) AS min_tokens,
           COUNT(*) AS n_docs,
           ROUND(COUNT(*) / (SELECT CAST(total AS DOUBLE) FROM tot), 6) AS frac
    FROM d GROUP BY n // 32
    """,
)
def corpus_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram with integer (never float-log) bin edges,
    the distribution diagnostic behind truncation/packing budgets."""
    from hpaste_spark.operators.corpus import doc_length_histogram

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    return doc_length_histogram(d, bin_width=32)


@q(
    "corpus_redact_pii",
    """
    -- mirrors functions/text.py PII_PATTERNS and the sequential
    -- [EMAIL] -> [IPV4] -> [PHONE] scrub chain exactly
    WITH s1 AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS c1,
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1
      FROM documents
    ),
    s2 AS (
      SELECT doc_id, c1,
             len(regexp_extract_all(t1, '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b')) AS c2,
             regexp_replace(t1, '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '[IPV4]', 'g') AS t2
      FROM s1
    ),
    s3 AS (
      SELECT doc_id, c1, c2,
             len(regexp_extract_all(t2, '\\+?[0-9][0-9()\\-. ]{7,}[0-9]')) AS c3,
             regexp_replace(t2, '\\+?[0-9][0-9()\\-. ]{7,}[0-9]', '[PHONE]', 'g') AS t3
      FROM s2
    )
    SELECT doc_id, CAST(c1 + c2 + c3 AS BIGINT) AS n_redactions,
           CAST(length(t3) AS BIGINT) AS redacted_len, t3 AS redacted_text
    FROM s3
    """,
)
def corpus_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over the fixture corpus.  The corpus is clean, so
    this row pins the FALSE-POSITIVE direction of the contract (output
    byte-identical to input, zero redactions); recall on synthetic PII
    is pinned by the unit test."""
    from hpaste_spark.operators.corpus import redact_pii

    return redact_pii(_t(spark, sf_dir, "documents"))


@q(
    "w_cume_dist_percent_rank",
    """
    SELECT o_orderkey, o_orderpriority,
           ROUND(cume_dist() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice, o_orderkey), 6) AS cd,
           ROUND(percent_rank() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice, o_orderkey), 6) AS pr
    FROM orders WHERE o_orderkey % 50 = 0
    """,
)
def w_cume_dist_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 family completion: distribution-rank window functions with a
    total (price, key) ordering so ranks are engine-stable."""
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 50 == 0)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(F.cume_dist().over(w), 6).alias("cd"),
            F.round(F.percent_rank().over(w), 6).alias("pr"),
        )
    )


@q(
    "split_group_reservoir",
    """
    WITH r AS (
      SELECT doc_id, source,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
      FROM documents
    )
    SELECT doc_id, source, rn FROM r WHERE rn <= 10
    """,
)
def split_group_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source reservoir: first 10 docs per source in
    md5(id) order — a partitioning-stable uniform-ish sample (no
    rand()), one exchange on source + windowed top-k."""
    from hpaste_spark.operators.sampling import group_reservoir

    return group_reservoir(_t(spark, sf_dir, "documents"), "source", k=10)


@q(
    "dedup_incremental_lsh",
    """
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    tokh AS (
      SELECT doc_id, list_transform(t, tok ->
          CAST(('0x' || substr(md5(tok), 1, 13)) AS BIGINT)) AS th
      FROM d
    ),
    h AS (
      SELECT doc_id, list_transform(range(1, greatest(len(th)-2, 0)+1), i ->
          list_reduce(list_prepend(CAST(0 AS BIGINT), th[i:i+2]),
            (acc, x) -> (acc*31 + x) % 1000000007)) AS hs
      FROM tokh WHERE len(th) >= 3
    ),
    sig AS (
      SELECT doc_id, list_transform(range(0, 16), i ->
          list_min(list_transform(hs, hh -> ((2*i+1)*hh + 7919*i) % 1000000007))) AS sig
      FROM h
    ),
    bands AS (
      SELECT doc_id, b AS band_idx,
        list_reduce(list_prepend(CAST(0 AS BIGINT), sig[b*4+1 : b*4+4]),
                    (acc, x) -> (acc*31 + x) % 1000000007) AS band_key
      FROM sig CROSS JOIN unnest(range(0, 4)) AS u(b)
    )
    SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id, COUNT(*) AS n_bands
    FROM (SELECT * FROM bands WHERE doc_id % 10 = 0) b
    JOIN (SELECT * FROM bands WHERE doc_id % 10 <> 0) c
      ON b.band_idx = c.band_idx AND b.band_key = c.band_key
    GROUP BY 1, 2
    """,
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup: new docs (every 10th id, standing in for an
    incoming batch) against the stored band-key index of the existing
    corpus — the batch signs only itself; the corpus is an equi-joined
    stored table, never re-signed."""
    from hpaste_spark.operators.dedup import incremental_lsh_candidates, minhash_band_keys

    docs = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus_bands = minhash_band_keys(corpus)
    return incremental_lsh_candidates(corpus_bands, batch, max_bucket=2000)


#: bump to invalidate cached LSH index artifacts when the band family
#: or the build geometry used by the registry queries changes
_LSH_INDEX_VERSION = 3  # r16: meta.json, journaled appends


def _ensure_lsh_index(spark: SparkSession, sf_dir: str) -> str:
    """Build the write-once corpus band index (docs with id % 10 != 0,
    the standing-corpus split every incremental query uses) if absent;
    returns its path."""
    from hpaste_spark.operators.dedup import build_lsh_index

    def build(path: str) -> None:
        docs = _t(spark, sf_dir, "documents").filter(
            F.length(F.trim(F.col("text"))) > 0
        )
        build_lsh_index(
            docs.filter(F.col("doc_id") % 10 != 0), path,
            num_hashes=16, bands=4, shingle=3,
        )

    return ensure_artifact(
        _SCRATCH, "lsh_index", sf_dir, "documents", _LSH_INDEX_VERSION, build
    )


# the stored probe reads the identical band relation the in-plan form
# computes (the md5/affine family is deterministic) — same oracle
_ORACLES["dedup_incremental_lsh_stored"] = _ORACLES["dedup_incremental_lsh"]


@q("dedup_incremental_lsh_stored", None)
def dedup_incremental_lsh_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup off the WRITE-ONCE LSH band artifact (round-8
    verdict ask #1): build_lsh_index persists the corpus band table +
    a geometry meta row once; every batch then probes by reading those
    rows — num_hashes/bands/shingle/id_col derived FROM the artifact,
    so a caller cannot probe with mismatched banding parameters (the
    silent-false-negative hazard the Bloom stored path closed in r7,
    now closed for LSH).  The signatures are deterministic, so stored
    and recomputed bands are identical relations — same oracle as
    dedup_incremental_lsh."""
    from hpaste_spark.operators.dedup import incremental_lsh_candidates_stored

    path = _ensure_lsh_index(spark, sf_dir)
    batch = (
        _t(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .filter(F.col("doc_id") % 10 == 0)
    )
    return incremental_lsh_candidates_stored(
        spark, path, batch, max_bucket=2000
    )


def _ensure_lsh_index_appended(spark: SparkSession, sf_dir: str) -> str:
    """Two-step artifact for the append-equivalence gate: build the
    index on PART of the standing corpus (doc_id % 7 != 3 — 'the index
    as of yesterday'), then append_artifact the remainder ('today's
    ingest').  A crash between build and append leaves no completion
    marker, so the artifact is rebuilt from scratch."""
    from hpaste_spark.operators.dedup import build_lsh_index

    def build(path: str) -> None:
        corpus = (
            _t(spark, sf_dir, "documents")
            .filter(F.length(F.trim(F.col("text"))) > 0)
            .filter(F.col("doc_id") % 10 != 0)
        )
        build_lsh_index(
            corpus.filter(F.col("doc_id") % 7 != 3), path,
            num_hashes=16, bands=4, shingle=3,
        )
        append_artifact(spark, path, corpus.filter(F.col("doc_id") % 7 == 3))

    return ensure_artifact(
        _SCRATCH, "lsh_index_appended", sf_dir, "documents",
        _LSH_INDEX_VERSION, build,
    )


# append(A, B) ≡ build(A ∪ B) by construction (band rows are per-doc and
# geometry is pinned), so the probe result is the SAME relation the
# one-shot index yields — same oracle as dedup_incremental_lsh
_ORACLES["dedup_incremental_lsh_appended"] = _ORACLES["dedup_incremental_lsh"]


@q("dedup_incremental_lsh_appended", None)
def dedup_incremental_lsh_appended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup off an APPEND-refreshED LSH band artifact
    (round-9 verdict ask #1): the index is built on 'yesterday's'
    corpus slice (doc_id % 7 != 3), then append_artifact signs ONLY
    the remaining slice under the artifact's pinned geometry and
    appends its band rows — the pre-existing corpus is never re-signed
    (plan-pinned in tests/test_plans.py).  The probe then runs the
    exact dedup_incremental_lsh_stored query against the refreshed
    artifact; hash-matching the full-corpus oracle IS the
    append(A, B) == build(A ∪ B) equivalence gate.  Reference analog:
    the standing-table mutation posture of OpBase.scala:22-109 —
    incremental writes against a persistent index, no rebuilds."""
    from hpaste_spark.operators.dedup import incremental_lsh_candidates_stored

    path = _ensure_lsh_index_appended(spark, sf_dir)
    batch = (
        _t(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .filter(F.col("doc_id") % 10 == 0)
    )
    return incremental_lsh_candidates_stored(
        spark, path, batch, max_bucket=2000
    )


# End-to-end training-data preparation (north-star composite, round 3):
# normalize → exact-dedup keeper → quality + language gates → PII scrub →
# sliding-window chunking → per-source yield.  ONE DataFrame program —
# every stage is a prior oracle-checked primitive — and the whole thing
# is exactly mirrored in the DuckDB oracle below.
@q(
    "pipe_prepare_training_data",
    """
    WITH scored AS (
      SELECT doc_id, source, text,
             md5(trim(regexp_replace(lower(regexp_replace(text, '<[^>]*>', ' ', 'g')),
                                     '\\s+', ' ', 'g'))) AS content_key,
             ROUND(
               0.5 * LEAST(len(regexp_split_to_array(trim(text), '\\s+')) / 100.0, 1.0)
               + 0.3 * (CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) = 0 THEN 0.0
                        ELSE CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             t -> t IN ('the','a','an','of','and','or','to','in','is','it'))) AS DOUBLE)
                             / len(regexp_split_to_array(trim(text), '\\s+')) END)
               + 0.2 * (1 - (CASE WHEN length(text) = 0 THEN 0.0
                             ELSE CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                                  / length(text) END)), 4) AS quality,
             CASE
               WHEN len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t IN ('el','la','de','que'))) > 0 THEN 'es'
               WHEN len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t IN ('der','die','das','und'))) > 0 THEN 'de'
               WHEN len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t IN ('le','les','des','est'))) > 0 THEN 'fr'
               WHEN len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t IN ('the','and','is','of'))) > 0 THEN 'en'
               ELSE 'unknown'
             END AS lang_guess
      FROM documents WHERE length(trim(text)) > 0
    ), kept AS (
      SELECT * FROM (
        SELECT *, MIN(doc_id) OVER (PARTITION BY content_key) AS keeper
        FROM scored) k
      WHERE doc_id = keeper AND quality >= 0.5 AND lang_guess <> 'unknown'
    ), red AS (
      SELECT doc_id, source,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                 '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '[IPV4]', 'g'),
               '\\+?[0-9][0-9()\\-. ]{7,}[0-9]', '[PHONE]', 'g') AS rtext
      FROM kept
    ), tok AS (
      SELECT doc_id, source, regexp_split_to_array(trim(rtext), '\\s+') AS t
      FROM red WHERE length(trim(rtext)) > 0
    ), c AS (
      SELECT doc_id, source, t, unnest(range(0, len(t), 96)) AS s FROM tok
    )
    SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           COUNT(*) AS n_chunks,
           CAST(SUM(least(128, len(t) - s)) AS BIGINT) AS n_tokens
    FROM c GROUP BY source
    """,
)
def pipe_prepare_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pre-training data path as one lazy plan: at 100 TB every
    stage is either a narrow projection (normalize, score, redact,
    chunk) or one well-keyed exchange (the content-key dedup window and
    the final per-source rollup)."""
    from hpaste_spark.functions.text import redact_pii as redact_col
    from hpaste_spark.operators.corpus import chunk_documents

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    scored = d.select(
        "doc_id",
        "source",
        "text",
        F.md5(X.normalize_text(F.col("text")).cast("binary")).alias("content_key"),
        X.quality_score(F.col("text")).alias("quality"),
        X.lang_guess(F.col("text")).alias("lang_guess"),
    )
    keeper = Window.partitionBy("content_key")
    kept = (
        scored.withColumn("keeper", F.min("doc_id").over(keeper))
        .filter(
            (F.col("doc_id") == F.col("keeper"))
            & (F.col("quality") >= 0.5)
            & (F.col("lang_guess") != "unknown")
        )
    )
    red = kept.select("doc_id", "source", redact_col(F.col("text")).alias("rtext"))
    chunks = chunk_documents(
        red, chunk_size=128, overlap=32, text_col="rtext", carry_cols=("source",)
    )
    return chunks.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").alias("n_tokens"),
    )


@q(
    "vec_quantize_int8",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    s AS (SELECT vec_id, v,
                 ROUND(list_max(list_transform(v, x -> abs(x))) / 127.0, 9) AS scale
          FROM e)
    SELECT vec_id, scale,
           to_json(CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
                   ELSE list_transform(v, x -> CAST(ROUND(x / scale) AS BIGINT)) END)::VARCHAR AS q
    FROM s
    """,
)
def vec_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (4 B/dim → 1 B/dim): the
    storage-compression step for a 100 TB embedding corpus.  Scale
    rounds to 9 dp before quantizing so both engines divide by the
    identical double and every code matches exactly."""
    qz = V.quantize_int8(F.col("embedding"))
    return _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        qz["scale"].alias("scale"),
        F.to_json(qz["q"]).alias("q"),
    )


@q(
    "corpus_encode_tokens",
    """
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents WHERE length(trim(text)) > 0
    ),
    counts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
    vocab AS (
      SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS tok_id
      FROM counts QUALIFY tok_id <= 100
    ),
    pos AS (
      SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS token
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents WHERE length(trim(text)) > 0)
    ),
    enc AS (
      SELECT p.doc_id, p.pos, COALESCE(v.tok_id, 0) AS tok_id
      FROM pos p LEFT JOIN vocab v USING (token)
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN tok_id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           to_json(list(tok_id ORDER BY pos))::VARCHAR AS ids
    FROM enc GROUP BY doc_id
    """,
)
def corpus_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer application: docs encoded against the top-100
    corpus-frequency vocabulary (OOV → 0) — the text→ids step of the
    training pipeline, with the id arrays JSON-serialized for the
    driver harness."""
    from hpaste_spark.operators.corpus import encode_tokens

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    return encode_tokens(d, vocab_size=100)


@q(
    "vec_random_projection",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    u AS (
      SELECT vec_id, j,
        list_sum(list_transform(range(1, len(v)+1), d ->
          round(v[d]*1000000) * ((((j*2654435761 + (d-1)*40503) % 10007) - 5003)))) AS units
      FROM e, range(0, 16) r(j)
    )
    SELECT vec_id, CAST(j AS BIGINT) AS pos,
           ROUND(units / ((1000000::BIGINT * 5003) * sqrt(16.0)), 6) AS proj_val
    FROM u
    """,
)
def vec_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection 64→16 dims over the embeddings table —
    the compression step before cheap ANN/clustering.  Integer-
    quantized dots against the deterministic plane matrix make every
    accumulation exact (no fold-order noise); single narrow map stage,
    zero shuffles."""
    from hpaste_spark.operators.similarity import random_projection

    return random_projection(_t(spark, sf_dir, "embeddings"), out_dim=16)


@q(
    "text_unigram_logprob",
    """
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents WHERE length(trim(text)) > 0
    ),
    counts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts),
    vocab AS (SELECT token, cnt FROM counts ORDER BY cnt DESC, token LIMIT 1000),
    lp AS (
      SELECT t.doc_id, ln(COALESCE(v.cnt, 1)::DOUBLE / tot.total) AS lp
      FROM tok t LEFT JOIN vocab v USING (token), tot
    )
    SELECT doc_id, COUNT(*) AS n_tokens, ROUND(-AVG(lp), 4) AS logprob
    FROM lp GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: mean negative log-probability
    under the corpus's own top-1000 unigram model (OOV floor 1/N) —
    the CCNet/Gopher-style LM filtering signal, computed with the same
    TakeOrderedAndProject vocabulary head as corpus_vocab_coverage."""
    from hpaste_spark.operators.corpus import unigram_logprob

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    return unigram_logprob(d, vocab_size=1000)


@q(
    "dedup_repeated_ngrams",
    """
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    s AS (
      SELECT doc_id, array_to_string(t[i:i+4], ' ') AS shingle
      FROM d, unnest(range(1, greatest(len(t)-4, 0)+1)) AS r(i)
    )
    SELECT shingle, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occurrences
    FROM s GROUP BY shingle HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def dedup_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring dedup signal (Lee et al. 2021): every
    5-gram appearing in >= 2 distinct documents, with doc and occurrence
    counts — the boilerplate/license-header spans document-level MinHash
    can't see.  One narrow shingle explode + one hash-agg."""
    from hpaste_spark.operators.dedup import repeated_ngram_spans

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    return repeated_ngram_spans(d, n=5, min_docs=2)


def _bpe_oracle(n_merges: int, mode: str = "merges") -> str:
    """Unrolled DuckDB twin of corpus.bpe_train_merges /
    bpe_segment_words: the same delimiter-wrapped state string, the
    same (total desc, lhs, rhs) argmax per round, the same
    non-overlapping replace — one CTE stage per merge, generated
    mechanically.  mode='merges' emits the merge table; mode='segments'
    emits the final word segmentation."""
    stages = [
        """WITH w AS (
      SELECT w, COUNT(*) AS wc FROM (
        SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
        FROM documents WHERE length(trim(text)) > 0) GROUP BY w
    ),
    s0 AS (SELECT w, wc, regexp_replace(w, '(.)', chr(1) || '\\1' || chr(2), 'g') AS s FROM w)"""
    ]
    for k in range(1, n_merges + 1):
        stages.append(
            f"""p{k} AS (
      SELECT l, r, SUM(wc) AS total FROM (
        SELECT wc, syms[i] AS l, syms[i+1] AS r
        FROM (SELECT wc, string_split(substr(s, 2, length(s)-2), chr(2)||chr(1)) AS syms
              FROM s{k - 1}),
             unnest(range(1, len(syms))) AS t(i)
      ) GROUP BY l, r
    ),
    b{k} AS (SELECT l, r, total FROM p{k} ORDER BY total DESC, l, r LIMIT 1),
    s{k} AS (SELECT w, wc, replace(s, chr(1)||b.l||chr(2)||chr(1)||b.r||chr(2),
                                   chr(1)||b.l||b.r||chr(2)) AS s FROM s{k - 1}, b{k} b)"""
        )
    body = ",\n".join(stages) + "\n"
    if mode == "segments":
        return body + f"""
    SELECT w, wc, CAST(len(syms) AS BIGINT) AS n_syms, array_to_string(syms, ' ') AS segmentation
    FROM (SELECT w, wc, string_split(substr(s, 2, length(s)-2), chr(2)||chr(1)) AS syms
          FROM s{n_merges})"""
    if mode == "encode":
        return body + f"""
    SELECT doc_id, COUNT(*) AS n_words, CAST(SUM(n_syms) AS BIGINT) AS n_bpe_tokens
    FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
          FROM documents WHERE length(trim(text)) > 0) dw
    JOIN (SELECT w, CAST(len(string_split(substr(s, 2, length(s)-2), chr(2)||chr(1))) AS BIGINT) AS n_syms
          FROM s{n_merges}) seg USING (w)
    GROUP BY doc_id"""
    selects = [
        f"SELECT {k} AS merge_rank, l AS lhs, r AS rhs, l||r AS merged, "
        f"CAST(total AS BIGINT) AS pair_count FROM b{k}"
        for k in range(1, n_merges + 1)
    ]
    return body + "\nUNION ALL ".join(selects)


@q("corpus_bpe_merges", _bpe_oracle(8))
def corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training: the first 8 learned merges over the
    documents corpus (word-frequency-dict based, deterministic argmax
    tie-breaks) — the vocabulary-induction step of a tokenizer
    pipeline, iterative like the reference's chained MR jobs."""
    from hpaste_spark.operators.corpus import bpe_train_merges

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    return bpe_train_merges(d, n_merges=8)


@q("corpus_bpe_segment", _bpe_oracle(8, mode="segments"))
def corpus_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE application: the corpus word dictionary segmented under the
    8 learned merges — (w, wc, n_syms, segmentation).  The train loop's
    final state IS the segmentation; encoding documents is then a
    broadcast join of this dictionary."""
    from hpaste_spark.operators.corpus import bpe_segment_words

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    return bpe_segment_words(d, n_merges=8)


@q("corpus_bpe_encode", _bpe_oracle(8, mode="encode"))
def corpus_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level BPE encoding: per-document word and BPE-token
    counts under the 8 learned merges — (doc_id, n_words,
    n_bpe_tokens), the compression diagnostic of the trained tokenizer.
    Shape: the segmentation DICTIONARY (distinct words — tiny by Zipf)
    broadcasts to a posexplode→join→per-doc agg; the corpus itself is
    tokenized once and never re-shuffled by word."""
    from hpaste_spark.operators.corpus import bpe_segment_words

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    seg = bpe_segment_words(d, n_merges=8).select("w", "n_syms")
    docw = d.select("doc_id", F.explode(X.tokens(F.col("text"))).alias("w"))
    return (
        docw.join(F.broadcast(seg), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").cast("long").alias("n_bpe_tokens"),
        )
    )


@q(
    "fuzzy_name_matches",
    """
    WITH p AS (SELECT p_partkey AS id, p_name AS s FROM part),
    names AS (SELECT s, COUNT(*) AS m FROM p GROUP BY s),
    keyed AS (
      SELECT DISTINCT s, k FROM names,
        unnest(list_distinct(list_append(
          list_transform(range(1, length(s)+1),
                         i -> substr(s, 1, CAST(i AS INT)-1) || substr(s, CAST(i AS INT)+1, length(s))),
          s))) AS t(k)
    ),
    near1 AS (
      SELECT sa, sb FROM (
        SELECT DISTINCT a.s AS sa, b.s AS sb
        FROM keyed a JOIN keyed b ON a.k = b.k AND a.s < b.s
      ) WHERE levenshtein(sa, sb) <= 1
    ),
    sym AS (SELECT sa AS s, sb AS o FROM near1 UNION ALL SELECT sb AS s, sa AS o FROM near1),
    nearw AS (
      SELECT sym.s, CAST(SUM(n.m) AS BIGINT) AS n_near
      FROM sym JOIN names n ON n.s = sym.o GROUP BY sym.s
    )
    SELECT p.id, CAST(n.m - 1 AS BIGINT) AS n_exact, COALESCE(nearw.n_near, 0) AS n_near
    FROM p JOIN names n USING (s) LEFT JOIN nearw ON nearw.s = p.s
    """,
)
def fuzzy_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join on part names: per-part counts of exact
    duplicates and edit-distance-1 neighbors via LOSSLESS FastSS
    deletion-neighborhood blocking (equi-join on deletion keys + exact
    levenshtein verify — no recall caveat, no n² nested loop)."""
    from hpaste_spark.operators.fuzzy import fuzzy_match_counts

    p = _t(spark, sf_dir, "part").select(F.col("p_partkey").alias("id"), F.col("p_name").alias("s"))
    return fuzzy_match_counts(p, col="s", id_col="id", max_dist=1)


@q(
    "dedup_semantic",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, vec_id % 8 AS scid
               FROM embeddings),
    pc AS (SELECT scid, i, AVG(e[i]) AS m FROM v, range(1, 65) AS r(i) GROUP BY scid, i),
    cent AS (SELECT scid AS cid, list(round(m, 6) ORDER BY i) AS cvec FROM pc GROUP BY scid),
    scored AS (
      SELECT v.vec_id, c.cid,
             list_dot_product(v.e, c.cvec)
               / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(c.cvec, c.cvec))) AS cc
      FROM v, cent c),
    assign AS (SELECT vec_id, cid, cc FROM (
        SELECT vec_id, cid, cc,
               row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
        FROM scored) WHERE rn = 1),
    m AS (SELECT a.vec_id, a.cid, a.cc AS ccent, v.e FROM assign a JOIN v USING (vec_id)),
    pairs AS (
      SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.ccent AS ca, y.ccent AS cb,
             list_dot_product(x.e, y.e)
               / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))) AS cos_raw
      FROM m x JOIN m y ON x.cid = y.cid AND x.vec_id < y.vec_id),
    losers AS (
      SELECT DISTINCT CASE WHEN ca >= cb THEN id_b ELSE id_a END AS vec_id
      FROM pairs WHERE cos_raw >= 0.4)
    SELECT m.vec_id, m.cid, ROUND(m.ccent, 6) + 0 AS centroid_sim
    FROM m LEFT JOIN losers USING (vec_id) WHERE losers.vec_id IS NULL
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) over the embeddings fixture:
    k-means cluster (the IVF coarse centroids, iterations=1), then
    within each cluster drop every vector with an above-threshold
    cosine neighbor closer to the centroid — the kept-row SET is the
    oracle contract.  The quadratic step is cluster-local (cid
    equi-join); k_centroids scales with corpus size at 100 TB."""
    from hpaste_spark.operators.dedup import semantic_dedup

    return semantic_dedup(
        _t(spark, sf_dir, "embeddings"), k_centroids=8, threshold=0.4
    )


@q(
    "dedup_semantic_autok",
    """
    WITH kk AS (SELECT GREATEST(8, CAST(CEIL(COUNT(*) / 50.0) AS BIGINT)) AS kt
                FROM embeddings),
    ks AS (SELECT kt, CAST(CEIL(SQRT(kt)) AS BIGINT) AS k1,
                  CAST(CEIL(kt / CEIL(SQRT(kt))) AS BIGINT) AS k2 FROM kk),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    pc1 AS (SELECT vec_id % (SELECT k1 FROM ks) AS scid1, i, AVG(e[i]) AS m
            FROM v, range(1, 65) AS r(i) GROUP BY vec_id % (SELECT k1 FROM ks), i),
    cent1 AS (SELECT scid1 AS cid1, list(round(m, 6) ORDER BY i) AS cvec FROM pc1 GROUP BY scid1),
    s1 AS (SELECT v.vec_id, c.cid1,
                  list_dot_product(v.e, c.cvec)
                    / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(c.cvec, c.cvec))) AS cc
           FROM v, cent1 c),
    a1 AS (SELECT vec_id, cid1 FROM (
        SELECT vec_id, cid1, row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid1) AS rn
        FROM s1) WHERE rn = 1),
    m2 AS (SELECT v.vec_id, a.cid1, v.e FROM v JOIN a1 a USING (vec_id)),
    pc2 AS (SELECT cid1, vec_id % (SELECT k2 FROM ks) AS scid, i, AVG(e[i]) AS m
            FROM m2, range(1, 65) AS r(i)
            GROUP BY cid1, vec_id % (SELECT k2 FROM ks), i),
    cent2 AS (SELECT cid1, scid, list(round(m, 6) ORDER BY i) AS cvec FROM pc2 GROUP BY cid1, scid),
    s2 AS (SELECT m2.vec_id, m2.cid1, c.scid,
                  list_dot_product(m2.e, c.cvec)
                    / (sqrt(list_dot_product(m2.e, m2.e)) * sqrt(list_dot_product(c.cvec, c.cvec))) AS cc
           FROM m2 JOIN cent2 c ON m2.cid1 = c.cid1),
    a2 AS (SELECT vec_id, cid1, scid, cc FROM (
        SELECT vec_id, cid1, scid, cc,
               row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, scid) AS rn
        FROM s2) WHERE rn = 1),
    m AS (SELECT a.vec_id, a.cid1 * (SELECT k2 FROM ks) + a.scid AS cid, a.cc AS ccent, v.e
          FROM a2 a JOIN v USING (vec_id)),
    pairs AS (
      SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.ccent AS ca, y.ccent AS cb,
             list_dot_product(x.e, y.e)
               / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))) AS cos_raw
      FROM m x JOIN m y ON x.cid = y.cid AND x.vec_id < y.vec_id),
    losers AS (
      SELECT DISTINCT CASE WHEN ca >= cb THEN id_b ELSE id_a END AS vec_id
      FROM pairs WHERE cos_raw >= 0.4)
    SELECT m.vec_id, m.cid, ROUND(m.ccent, 6) + 0 AS centroid_sim
    FROM m LEFT JOIN losers USING (vec_id) WHERE losers.vec_id IS NULL
    """,
)
def dedup_semantic_autok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at the size-derived DEFAULT k — which, since round 7,
    routes through HIERARCHICAL assignment (VERDICT r6 #1: flat auto-k
    was the last super-linear path, n·k·d with k ∝ n; two-level is
    n·2√k·d, α 0.43 vs 0.87 at 30×).  The oracle derives the same
    k_total = max(8, ceil(n/50)), k1 = ceil(√k_total),
    k2 = ceil(k_total/k1) from COUNT(*) and replays both assignment
    levels — proving the whole default-path derivation chain is
    cross-engine deterministic.  Distinct from dedup_semantic (pinned
    flat k=8) and dedup_semantic_2level_auto (target=30)."""
    from hpaste_spark.operators.dedup import semantic_dedup

    return semantic_dedup(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, target_cluster_size=50
    )


@q(
    "mix_temperature_sample",
    """
    WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang),
    w AS (SELECT lang, n, CAST(floor(sqrt(n) * 1048576) AS BIGINT) AS wt FROM c),
    d AS (SELECT CAST(SUM(wt) AS BIGINT) AS wsum, CAST(SUM(n) AS BIGINT) AS total FROM w),
    r AS (
      SELECT lang,
             CAST(floor(LEAST(1.0, 0.5 * total * wt / (CAST(n AS DOUBLE) * wsum)) * 65536)
                  AS BIGINT) AS thr
      FROM w, d
    )
    SELECT doc_id, documents.lang AS lang
    FROM documents JOIN r USING (lang)
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 65536 < thr
    """,
)
def mix_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus re-mixing (mT5/XLM-R style): resample
    the documents table toward a flattened language mixture (tau=0.5,
    target half the corpus) — head languages downweighted, tail
    languages kept whole; md5-thresholded so the exact kept-row SET is
    the oracle contract, not just per-stratum counts."""
    from hpaste_spark.operators.sampling import temperature_mixture

    d = _t(spark, sf_dir, "documents")
    kept = temperature_mixture(d, "lang", "doc_id", tau=0.5, target_frac=0.5)
    return kept.select("doc_id", "lang")


_QUALITY_SQL = """ROUND(
               0.5 * LEAST(len(regexp_split_to_array(trim(text), '\\s+')) / 100.0, 1.0)
               + 0.3 * (CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) = 0 THEN 0.0
                        ELSE CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             t -> t IN ('the','a','an','of','and','or','to','in','is','it'))) AS DOUBLE)
                             / len(regexp_split_to_array(trim(text), '\\s+')) END)
               + 0.2 * (1 - (CASE WHEN length(text) = 0 THEN 0.0
                             ELSE CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                                  / length(text) END)), 4)"""


@q(
    "prof_source_report",
    f"""
    WITH d AS (SELECT doc_id, source, lang, text FROM documents
               WHERE length(trim(text)) > 0),
    per AS (SELECT source, doc_id, lang, md5(text) AS th,
                   len(regexp_split_to_array(trim(text), '\\s+')) AS ntok,
                   CAST(ROUND(({_QUALITY_SQL}) * 10000) AS BIGINT) AS qm
            FROM d)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT th) AS BIGINT) AS n_distinct_texts,
           CAST((COUNT(*) - COUNT(DISTINCT th)) * 1000000 // COUNT(*) AS BIGINT) AS dup_ppm,
           CAST(SUM(qm) // COUNT(*) AS BIGINT) AS avg_quality_x1e4,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM per GROUP BY source
    """,
)
def prof_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card (the first artifact a mixture designer
    reads): docs / tokens / exact-dup pressure / quality / language
    spread per source in ONE grouped aggregate — the distinct
    aggregates share Catalyst's Expand, so it is one shuffle round
    with map-side partials at any corpus size.  Fractions are
    integer-quantized (quality in 1e-4 units via integer div, dup
    rate in ppm) so cross-partition sums are order-free and the
    oracle matches exactly."""
    from hpaste_spark.operators.profile import source_report

    return source_report(_t(spark, sf_dir, "documents"))


@q(
    "prof_dedup_savings",
    r"""
    WITH sv_d AS (SELECT doc_id, source, md5(text) AS th,
                         len(regexp_split_to_array(trim(text), '\s+')) AS ntok
                  FROM documents WHERE length(trim(text)) > 0),
    sv_k AS (SELECT th, MIN(doc_id) AS keep_id FROM sv_d GROUP BY th)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id != keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_removed_docs,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN doc_id != keep_id THEN ntok ELSE 0 END) AS BIGINT) AS n_removed_tokens,
           CAST(SUM(CASE WHEN doc_id != keep_id THEN ntok ELSE 0 END) * 1000000
                // SUM(ntok) AS BIGINT) AS savings_ppm
    FROM sv_d JOIN sv_k USING (th)
    GROUP BY source
    """,
)
def prof_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact-dedup TOKEN savings attributed per source —
    the budgeting complement to prof_source_report's within-source doc
    counts: keep the global min-id copy of every text, bill each
    removed copy's tokens to ITS source.  A text mirrored across three
    sources contributes its removals to the two sources that lost the
    election, which is exactly the double-counting a mixture weight
    must correct for.  One keeper hash-agg + one id-equi join (no pair
    expansion: duplicates meet only through the 1-row-per-hash keeper
    table) + one per-source rollup; savings in integer ppm."""
    from hpaste_spark.operators.profile import dedup_savings_by_source

    return dedup_savings_by_source(_t(spark, sf_dir, "documents"))


@q(
    "prof_length_quantiles",
    r"""
    WITH plq AS (SELECT source,
                        len(regexp_split_to_array(trim(text), '\s+')) AS v
                 FROM documents WHERE length(trim(text)) > 0),
    plq_c AS (SELECT source, v, COUNT(*) AS c FROM plq GROUP BY 1, 2),
    plq_w AS (SELECT source, v,
                     SUM(c) OVER (PARTITION BY source ORDER BY v) AS cum,
                     SUM(c) OVER (PARTITION BY source) AS n
              FROM plq_c)
    SELECT source, CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN cum >= CEIL(0.25 * n) THEN v END) AS BIGINT) AS q25,
           CAST(MIN(CASE WHEN cum >= CEIL(0.50 * n) THEN v END) AS BIGINT) AS q50,
           CAST(MIN(CASE WHEN cum >= CEIL(0.75 * n) THEN v END) AS BIGINT) AS q75,
           CAST(MIN(CASE WHEN cum >= CEIL(0.95 * n) THEN v END) AS BIGINT) AS q95
    FROM plq_w GROUP BY source
    """,
)
def prof_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-source doc-length quantiles (p25/p50/p75/p95 of token
    counts) — the distribution readout usually surrendered to
    percentile_approx's nondeterministic sketch.  For a DISCRETE value
    exactness is affordable at any corpus size: hash-agg counts per
    (source, length) — bounded by the length domain, not the corpus —
    then one window over that tiny table; each quantile is the
    smallest value whose cumulative count reaches ceil(q·n) (type-1
    sample quantile: a value FROM the data, no interpolation, so the
    two engines can only agree or disagree, never drift by float
    epsilon).  The percent_rank-partitioned-by-source plan this
    replaces funnels each source through one terabyte-sorting task."""
    from hpaste_spark.functions.text import token_count
    from hpaste_spark.operators.profile import exact_group_quantiles

    d = _t(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    lens = d.select("source", token_count(F.col("text")).alias("v"))
    out = exact_group_quantiles(lens, "v", "source", qs=(0.25, 0.5, 0.75, 0.95))
    return out.select(
        "source",
        "n",
        *[F.col(c).cast("long").alias(c) for c in ("q25", "q50", "q75", "q95")],
    )


@q(
    "prof_table_stats",
    """
    SELECT 'o_orderkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_orderkey) AS VARCHAR) AS min_str,
           CAST(MAX(o_orderkey) AS VARCHAR) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
           CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    """,
)
def prof_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass table profiling: per-column null count, exact
    cardinality, and native-type min/max rendered as strings — the
    data-quality recon step before/after a big transform.  One agg
    (shared-Expand distinct set) + a one-row stack unpivot."""
    from hpaste_spark.operators.profile import profile_table

    return profile_table(
        _t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    )


@q(
    "skew_key_report",
    """
    WITH c AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt FROM orders GROUP BY o_custkey),
    s AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS nkeys FROM c),
    h AS (SELECT o_custkey, cnt FROM c ORDER BY cnt DESC, o_custkey LIMIT 10)
    SELECT o_custkey, cnt,
           ROUND(cnt / CAST(total AS DOUBLE), 6) AS frac,
           ROUND(CAST(cnt AS DOUBLE) * nkeys / total, 4) AS skew
    FROM h, s
    """,
)
def skew_key_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter shuffle-key diagnostic: the 10 heaviest customer
    keys in orders with count, corpus fraction, and skew ratio vs the
    per-key mean — the measurement behind the salt-or-broadcast
    decision.  Distributed top-k head (TakeOrderedAndProject), never a
    global sort."""
    from hpaste_spark.operators.skew import skew_report

    return skew_report(_t(spark, sf_dir, "orders"), "o_custkey", top_n=10)


# ---------------------------------------------------------------------------
# Round 5: Gopher quality gates, bigram Stupid-Backoff LM scoring,
# product-quantization ANN.
# ---------------------------------------------------------------------------
@q(
    "text_gopher_rules",
    r"""
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    m AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(t, w -> length(w))) AS DOUBLE) / len(t) AS ml,
             CAST(len(list_filter(t, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / len(t) AS ar,
             CAST(len(list_filter(t, w -> list_contains(
               ['the','a','an','of','and','or','to','in','is','it'], w))) AS BIGINT) AS n_stopwords
      FROM d)
    SELECT doc_id, n_words, ROUND(ml, 4) AS mean_word_len,
           ROUND(ar, 4) AS alpha_ratio, n_stopwords,
           (n_words >= 10 AND n_words <= 100000) AS gate_word_count,
           (ml >= 3.0 AND ml <= 10.0) AS gate_mean_word_len,
           (ar >= 0.8) AS gate_alpha_ratio,
           (n_stopwords >= 2) AS gate_stopwords,
           ((n_words >= 10 AND n_words <= 100000) AND (ml >= 3.0 AND ml <= 10.0)
            AND ar >= 0.8 AND n_stopwords >= 2) AS passes
    FROM m
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document-shape quality gates (Rae et al. 2021):
    word-count bounds, mean-word-length bounds, alphabetic-word ratio,
    and stopword evidence, each emitted as signal + gate so threshold
    sweeps are a filter rather than a recompute.  Pure narrow JVM
    projection — the cheap pre-filter in front of any model-based
    scorer.  min_words=10 fits the ~30-word fixture docs; the
    operator's default is the paper's 50."""
    from hpaste_spark.operators.corpus import gopher_gates

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    return gopher_gates(d, min_words=10)


# shared by text_bigram_backoff (per-doc NLL) and text_perplexity_bucket
# (corpus bucketing over the same scores): the full Stupid-Backoff model
_BACKOFF_CHAIN = r"""
    d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    bg AS (
      SELECT doc_id, t[i] AS prev, t[i+1] AS tok
      FROM d, unnest(range(1, len(t))) AS r(i) WHERE len(t) >= 2
    ),
    bc AS (SELECT prev, tok, COUNT(*) AS cbi FROM bg GROUP BY prev, tok),
    bcp AS (SELECT * FROM bc WHERE cbi >= 2),
    ctx AS (SELECT prev, CAST(SUM(cbi) AS BIGINT) AS cctx FROM bc GROUP BY prev),
    tokc AS (SELECT unnest(t) AS token FROM d),
    counts AS (SELECT token, COUNT(*) AS cnt FROM tokc GROUP BY token),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts),
    vocab AS (SELECT token, cnt FROM counts ORDER BY cnt DESC, token LIMIT 1000),
    lp AS (
      SELECT g.doc_id,
             CASE WHEN p.cbi IS NOT NULL THEN ln(CAST(p.cbi AS DOUBLE) / c.cctx)
                  ELSE ln(0.4 * CAST(COALESCE(v.cnt, 1) AS DOUBLE) / tot.total) END AS lp
      FROM bg g
      LEFT JOIN bcp p ON g.prev = p.prev AND g.tok = p.tok
      JOIN ctx c ON g.prev = c.prev
      LEFT JOIN vocab v ON g.tok = v.token, tot)
"""


@q(
    "text_bigram_backoff",
    f"""
    WITH {_BACKOFF_CHAIN}
    SELECT doc_id, COUNT(*) AS n_bigrams, ROUND(-AVG(lp), 4) AS logprob
    FROM lp GROUP BY doc_id
    """,
)
def text_bigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram Stupid-Backoff LM quality score (Brants et al. 2007):
    order-sensitive perplexity proxy one rung above
    text_unigram_logprob — pruned-bigram hits score cnt(prev,w)/
    cnt(prev·), singletons back off to α·p_unigram exactly as unseen
    bigrams would in a deployed count-pruned KenLM."""
    from hpaste_spark.operators.corpus import bigram_backoff_logprob

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    return bigram_backoff_logprob(d, vocab_size=1000, min_bigram_count=2)


_PQ_CB_SQL = """
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    dims AS (SELECT vec_id, (i-1) // 16 AS sub, (i-1) % 16 AS wpos, e[i] AS x
             FROM v, range(1, 65) AS r(i)),
    cb AS (SELECT d.sub, d.vec_id % 16 AS code, d.wpos, ROUND(AVG(d.x), 6) AS c
           FROM dims d GROUP BY d.sub, d.vec_id % 16, d.wpos),
    d2 AS (SELECT d.vec_id, d.sub, cb.code,
                  SUM((d.x - cb.c)*(d.x - cb.c)) AS d2
           FROM dims d JOIN cb ON d.sub = cb.sub AND d.wpos = cb.wpos
           GROUP BY d.vec_id, d.sub, cb.code),
    best AS (SELECT vec_id, sub, code FROM (
        SELECT vec_id, sub, code,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY ROUND(d2, 6), code) AS rn
        FROM d2) WHERE rn = 1)
"""


@q(
    "vec_pq_encode",
    f"""
    WITH {_PQ_CB_SQL}
    SELECT vec_id,
           CAST(SUM(code * CASE sub WHEN 0 THEN 4096 WHEN 1 THEN 256
                                    WHEN 2 THEN 16 ELSE 1 END) AS BIGINT)
             AS codes_packed
    FROM best GROUP BY vec_id
    """,
)
def vec_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011): 64 float64
    dims → 4 codes from per-subspace 16-codeword codebooks (id%k-seeded
    one-iteration k-means, the ivf_centroids contract) — the 128×
    storage compression leg of a billion-vector ANN index.  Ties in the
    per-subspace argmin break to the lowest code on both engines.
    The driver row exports the codes PACKED into one BIGINT (4 nibbles
    — literally PQ's stored byte form; also the driver harness cannot
    hash list cells, test_oracle_hygiene)."""
    from hpaste_spark.operators.similarity import pq_codebooks, pq_encode

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_codebooks(emb, m=4, k=16)
    codes = pq_encode(emb, cb, m=4)
    return codes.select(
        "vec_id",
        F.aggregate(
            F.col("codes"), F.lit(0).cast("long"), lambda acc, c: acc * 16 + c
        ).alias("codes_packed"),
    )


# shared by sim_pq_topk (in-plan train+encode+search) and
# sim_pq_topk_stored (prebuilt index): identical ADC result
_PQ_TOPK_ORACLE = f"""
    WITH {_PQ_CB_SQL},
    q AS (SELECT (i-1) // 16 AS sub, (i-1) % 16 AS wpos, e[i] AS x
          FROM v, range(1, 65) AS r(i) WHERE vec_id = 0),
    qt AS (SELECT q.sub, cb.code, SUM((q.x - cb.c)*(q.x - cb.c)) AS qd2
           FROM q JOIN cb ON q.sub = cb.sub AND q.wpos = cb.wpos
           GROUP BY q.sub, cb.code),
    sc AS (SELECT b.vec_id, ROUND(SUM(qt.qd2), 6) + 0.0 AS approx_dist
           FROM best b JOIN qt ON b.sub = qt.sub AND b.code = qt.code
           GROUP BY b.vec_id)
    SELECT vec_id, approx_dist, CAST(rk AS INT) AS rank FROM (
      SELECT vec_id, approx_dist,
             row_number() OVER (ORDER BY approx_dist, vec_id) AS rk
      FROM sc) WHERE rk <= 10
    """


@q("sim_pq_topk", _PQ_TOPK_ORACLE)
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-10 under the PQ model: the query's exact distance to
    every codeword forms a broadcast m×k table; each corpus vector
    scores as the SUM of m table lookups over its stored codes —
    the scan touches 4 ints per vector, never the 64 doubles, and the
    result is a distributed top-k (TakeOrderedAndProject)."""
    from hpaste_spark.operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return pq_topk(emb, qv, m=4, k=16, topk=10)


_PQ_INDEX_VERSION = 6  # r16: meta pins vec_col/id_col


@q("sim_pq_topk_stored", _PQ_TOPK_ORACLE)
def sim_pq_topk_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-10 over a STORED PQ index (similarity.build_pq_index):
    codebooks + the encoded corpus written once (first call per
    fixture, gitignored scratch), then the query reads m ints per
    vector — the compressed corpus IS the index, ~128× smaller than
    the raw embeddings — and never re-trains or re-encodes.  Same
    (m, k) as sim_pq_topk, hence the same oracle."""
    from hpaste_spark.operators.similarity import build_pq_index, pq_topk_indexed

    emb = _t(spark, sf_dir, "embeddings")
    idx = ensure_artifact(
        _SCRATCH, "pq_index", sf_dir, "embeddings", _PQ_INDEX_VERSION,
        lambda path: build_pq_index(emb, path, m=4, k=16),
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return pq_topk_indexed(spark, idx, qv, topk=10)


# the appended PQ index == "train codebooks on the standing slice,
# encode everything under them" — the oracle is the stored-index SQL
# with the codebook CTE restricted to the build slice; encoding and
# ADC search still cover every vector
_PQ_TOPK_APPENDED_ORACLE = _PQ_TOPK_ORACLE.replace(
    """cb AS (SELECT d.sub, d.vec_id % 16 AS code, d.wpos, ROUND(AVG(d.x), 6) AS c
           FROM dims d GROUP BY d.sub, d.vec_id % 16, d.wpos),""",
    """cb AS (SELECT d.sub, d.vec_id % 16 AS code, d.wpos, ROUND(AVG(d.x), 6) AS c
           FROM dims d WHERE d.vec_id % 5 != 1
           GROUP BY d.sub, d.vec_id % 16, d.wpos),""",
)
assert _PQ_TOPK_APPENDED_ORACLE != _PQ_TOPK_ORACLE


@q("sim_pq_topk_appended", _PQ_TOPK_APPENDED_ORACLE)
def sim_pq_topk_appended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-10 over an APPEND-refreshED PQ index — the standing-
    artifact lifecycle extended to the COMPRESSION leg (round 11;
    LSH/Bloom/HDR/IVF gained appends in r10): codebooks train on the
    standing slice (vec_id % 5 != 1), then artifacts.append_artifact
    encodes ONLY the delta slice under the artifact's STORED codebooks
    (m inferred from them — pinned geometry) and appends the code
    rows; the standing corpus is never re-encoded.  The honest
    semantics (operator docstring): an appended index == "train on the
    original slice, encode everything under those codebooks", which is
    exactly what the oracle replays — the codebook CTE restricted to
    the build slice, encoding over all vectors.  Codebook drift under
    heavy appends degrades the delta's quantization; the re-train is a
    fresh build_pq_index on the CORPUS (the artifact stores only
    codes, deliberately)."""
    from hpaste_spark.operators.similarity import (
        build_pq_index,
        pq_topk_indexed,
    )

    emb = _t(spark, sf_dir, "embeddings")

    def build(path: str) -> None:
        build_pq_index(
            emb.filter(F.col("vec_id") % 5 != 1), path, m=4, k=16
        )
        append_artifact(spark, path, emb.filter(F.col("vec_id") % 5 == 1))

    path = ensure_artifact(
        _SCRATCH, "pq_index_appended", sf_dir, "embeddings", _PQ_INDEX_VERSION, build
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return pq_topk_indexed(spark, path, qv, topk=10)


# PQ compaction consolidates code FILES only — codes cannot be
# re-derived from the artifact (it stores no raw vectors), so unlike
# the IVF compacted query the oracle is the APPENDED oracle UNCHANGED:
# "compaction changes nothing a reader can see" is itself the hash
# assertion here.
@q("sim_pq_topk_compacted", _PQ_TOPK_APPENDED_ORACLE)
def sim_pq_topk_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPACTION leg of the standing-PQ lifecycle under the hash
    gate (round 12; the IVF twin re-clusters and switches oracles —
    this one must NOT): build codebooks on the standing slice
    (vec_id % 5 != 1), artifacts.append_artifact the delta — each
    append adds a code-file fragment — then artifacts.compact_artifact
    rewrites the code relation as one file and swaps it in.  Rows are
    unchanged BY CONSTRUCTION (compaction is file layout, never a
    re-train: the artifact deliberately stores only codes), so the
    compacted index must answer the ADC top-10 bit-identically to the
    appended one — same oracle, which is exactly the read-back-identity
    claim made executable against DuckDB.  Journaled maintenance: the
    swap goes through swap_live_dir and the artifact's meta version
    bumps; readers require_clean."""
    from hpaste_spark.operators.similarity import (
        build_pq_index,
        pq_topk_indexed,
    )

    emb = _t(spark, sf_dir, "embeddings")

    def build(path: str) -> None:
        build_pq_index(emb.filter(F.col("vec_id") % 5 != 1), path, m=4, k=16)
        append_artifact(spark, path, emb.filter(F.col("vec_id") % 5 == 1))
        compact_artifact(spark, path)

    path = ensure_artifact(
        _SCRATCH, "pq_index_compacted", sf_dir, "embeddings", _PQ_INDEX_VERSION, build
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return pq_topk_indexed(spark, path, qv, topk=10)


# the blue/green re-train rebuilds codebooks + encoding from the FULL
# corpus, so the retrained artifact must answer the ORIGINAL
# full-corpus oracle again — the complementary claim to
# sim_pq_topk_compacted (layout pass, oracle UNCHANGED): re-training
# must flip the geometry, compaction must not.  Same identity move as
# the IVF major-compaction query, now for the family whose re-train is
# a root swap instead of an in-place re-cluster.
@q("sim_pq_topk_retrained", _PQ_TOPK_ORACLE)
def sim_pq_topk_retrained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RE-TRAIN leg of the standing-PQ lifecycle under the hash
    gate (round 13 — similarity.retrain_index, the action
    drift_recall prices): build codebooks on the standing slice
    (vec_id % 5 != 1) — at this point the artifact answers the
    build-slice oracle (sim_pq_topk_appended) — append the delta, then
    retrain_index on the FULL corpus: a complete replacement
    artifact is built at a sibling root (geometry m/k inherited from
    the artifact's pinned meta), its meta carries the version chain
    forward with a fresh replay ring, and the roots swap rename-aside
    (an in-place overwrite of a live artifact is not crash-safe; the
    crash states are recover_artifact_root's).  The retrained index
    must now answer with FULL-CORPUS codebooks, i.e. the original
    sim_pq_topk_stored oracle bit-for-bit — recall restoration for the
    compression leg made executable, exactly the claim the IVF twin
    (sim_ivf_knn_join_compacted) makes for the coarse leg."""
    from hpaste_spark.operators.similarity import (
        build_pq_index,
        pq_topk_indexed,
        retrain_index,
    )

    emb = _t(spark, sf_dir, "embeddings")

    def build(path: str) -> None:
        build_pq_index(emb.filter(F.col("vec_id") % 5 != 1), path, m=4, k=16)
        append_artifact(spark, path, emb.filter(F.col("vec_id") % 5 == 1))
        retrain_index(spark, emb, path)

    path = ensure_artifact(
        _SCRATCH, "pq_index_retrained", sf_dir, "embeddings", _PQ_INDEX_VERSION, build
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return pq_topk_indexed(spark, path, qv, topk=10)


# The full DuckDB replay of the PQ drift monitor: reversed-axes delta,
# codebooks trained on the build slice (appended) and on the union
# (retrained), per-variant encoding + ADC scoring for the capped query
# sample, exact L2^2 truth, per-variant hit counts — both recalls
# hash-gate exactly.
_PQ_DRIFT_ORACLE = """
    WITH v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    dl AS (SELECT vec_id + 1000001 AS vec_id, list_reverse(e) AS e FROM v0),
    u AS (SELECT * FROM v0 UNION ALL SELECT * FROM dl),
    q AS (SELECT vec_id AS qid, e AS qe FROM dl
          WHERE (vec_id - 1000001) % 50 = 0 AND (vec_id - 1000001) < 5000),
    nq AS (SELECT COUNT(*) AS n FROM q),
    dims AS (SELECT vec_id, (i-1) // 16 AS sub, (i-1) % 16 AS wpos, e[i] AS x
             FROM u, range(1, 65) AS r(i)),
    cbs AS (
      SELECT 'appended' AS variant, sub, code, wpos, c FROM (
        SELECT d.sub, d.vec_id % 16 AS code, d.wpos, ROUND(AVG(d.x), 6) AS c
        FROM dims d WHERE d.vec_id < 1000001
        GROUP BY d.sub, d.vec_id % 16, d.wpos)
      UNION ALL
      SELECT 'retrained', sub, code, wpos, c FROM (
        SELECT d.sub, d.vec_id % 16 AS code, d.wpos, ROUND(AVG(d.x), 6) AS c
        FROM dims d GROUP BY d.sub, d.vec_id % 16, d.wpos)),
    d2 AS (SELECT cb.variant, d.vec_id, d.sub, cb.code,
                  SUM((d.x - cb.c)*(d.x - cb.c)) AS d2
           FROM dims d JOIN cbs cb ON d.sub = cb.sub AND d.wpos = cb.wpos
           GROUP BY cb.variant, d.vec_id, d.sub, cb.code),
    best AS (SELECT variant, vec_id, sub, code FROM (
        SELECT variant, vec_id, sub, code, row_number() OVER (
          PARTITION BY variant, vec_id, sub ORDER BY ROUND(d2, 6), code) AS rn
        FROM d2) WHERE rn = 1),
    qdims AS (SELECT qid, (i-1) // 16 AS sub, (i-1) % 16 AS wpos, qe[i] AS x
              FROM q, range(1, 65) AS r(i)),
    qtab AS (SELECT cb.variant, qd.qid, cb.sub, cb.code,
                    SUM((qd.x - cb.c)*(qd.x - cb.c)) AS d2
             FROM qdims qd JOIN cbs cb ON qd.sub = cb.sub AND qd.wpos = cb.wpos
             GROUP BY cb.variant, qd.qid, cb.sub, cb.code),
    sc AS (SELECT b.variant, qt.qid, b.vec_id, ROUND(SUM(qt.d2), 6) AS ad
           FROM best b JOIN qtab qt
             ON qt.variant = b.variant AND qt.sub = b.sub AND qt.code = b.code
           GROUP BY b.variant, qt.qid, b.vec_id),
    approx AS (SELECT variant, qid, vec_id FROM (
        SELECT variant, qid, vec_id, row_number() OVER (
          PARTITION BY variant, qid ORDER BY ad, vec_id) AS rk
        FROM sc WHERE vec_id != qid) WHERE rk <= 10),
    ed AS (SELECT q.qid, u.vec_id,
                  ROUND(SUM((u.e[i] - q.qe[i])*(u.e[i] - q.qe[i])), 6) AS rd
           FROM u, q, range(1, 65) AS r(i)
           WHERE u.vec_id != q.qid
           GROUP BY q.qid, u.vec_id),
    exact AS (SELECT qid, vec_id FROM (
        SELECT qid, vec_id, row_number() OVER (
          PARTITION BY qid ORDER BY rd, vec_id) AS rk
        FROM ed) WHERE rk <= 10),
    hits AS (SELECT a.variant, CAST(COUNT(*) AS BIGINT) AS n_hit
             FROM approx a JOIN exact e ON a.qid = e.qid AND a.vec_id = e.vec_id
             GROUP BY a.variant)
    SELECT v.variant,
           CAST(nq.n AS BIGINT)              AS n_queries,
           10                                 AS k,
           COALESCE(h.n_hit, 0)               AS n_hit,
           ROUND(COALESCE(h.n_hit, 0) / (nq.n * 10.0), 4) AS recall_at_k
    FROM (SELECT DISTINCT variant FROM cbs) v
    LEFT JOIN hits h ON h.variant = v.variant, nq
    ORDER BY v.variant
    """


@q("sim_pq_drift_recall", _PQ_DRIFT_ORACLE)
def sim_pq_drift_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift-recall monitor for the COMPRESSION leg (round 12 —
    similarity.drift_recall, the drift_recall twin):
    append_artifact quantizes deltas with FROZEN build-time codebooks,
    and the artifact cannot re-derive a re-train from itself (it
    stores codes, deliberately), so the monitor grades the LIVE
    build+append artifact against an in-plan re-train on the CORPUS —
    the store of record — and returns the (appended, retrained) ADC
    recall@10 pair the ingest loop compares before paying for a fresh
    build_pq_index.  Same drift fixture as the IVF monitor (reversed
    embedding axes appended as a new domain), same fixed ≤100-query
    budget, exact L2² truth over the union.  Both recalls hash-gate
    against the full DuckDB replay (codebook training, per-variant
    encoding, ADC scoring, exact truth — exact twins, not bands)."""
    from hpaste_spark.functions.vectors import as_double
    from hpaste_spark.operators.similarity import (
        build_pq_index,
        drift_recall,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    )
    delta = emb.select(
        (F.col("vec_id") + 1_000_001).alias("vec_id"),
        F.reverse(F.col("e")).alias("e"),
    )

    def build(path: str) -> None:
        build_pq_index(emb, path, m=4, k=16, vec_col="e")
        append_artifact(spark, path, delta)

    path = ensure_artifact(
        _SCRATCH, "pq_index_drift", sf_dir, "embeddings", _PQ_INDEX_VERSION, build
    )
    union = emb.unionByName(delta)
    q_df = delta.filter(
        ((F.col("vec_id") - 1_000_001) % 50 == 0)
        & ((F.col("vec_id") - 1_000_001) < 5000)
    ).select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"))
    return drift_recall(
        spark, path, q_df, union, k=10, budget=100
    )


@q(
    "sim_ivf_pq_topk",
    f"""
    WITH {_PQ_CB_SQL},
    fdims AS (SELECT vec_id, i-1 AS pos, e[i] AS x FROM v, range(1, 65) AS r(i)),
    cent AS (SELECT f.vec_id % 8 AS cid, f.pos, ROUND(AVG(f.x), 6) AS c
             FROM fdims f GROUP BY f.vec_id % 8, f.pos),
    ad AS (SELECT f.vec_id, c.cid, SUM((f.x - c.c)*(f.x - c.c)) AS ad2
           FROM fdims f JOIN cent c ON f.pos = c.pos GROUP BY f.vec_id, c.cid),
    asg AS (SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY ROUND(ad2, 6), cid) AS rn
        FROM ad) WHERE rn = 1),
    qad AS (SELECT c.cid, SUM((f.x - c.c)*(f.x - c.c)) AS qad2
            FROM fdims f JOIN cent c ON f.pos = c.pos
            WHERE f.vec_id = 0 GROUP BY c.cid),
    probed AS (SELECT cid FROM qad ORDER BY ROUND(qad2, 6), cid LIMIT 2),
    qs AS (SELECT (i-1) // 16 AS sub, (i-1) % 16 AS wpos, e[i] AS x
           FROM v, range(1, 65) AS r(i) WHERE vec_id = 0),
    qt AS (SELECT qs.sub, cb.code, SUM((qs.x - cb.c)*(qs.x - cb.c)) AS qd2
           FROM qs JOIN cb ON qs.sub = cb.sub AND qs.wpos = cb.wpos
           GROUP BY qs.sub, cb.code),
    sc AS (SELECT b.vec_id, ROUND(SUM(qt.qd2), 6) + 0.0 AS approx_dist
           FROM best b
           JOIN asg a ON b.vec_id = a.vec_id
           JOIN probed p ON a.cid = p.cid
           JOIN qt ON b.sub = qt.sub AND b.code = qt.code
           GROUP BY b.vec_id)
    SELECT vec_id, approx_dist, CAST(rk AS INT) AS rank FROM (
      SELECT vec_id, approx_dist,
             row_number() OVER (ORDER BY approx_dist, vec_id) AS rk
      FROM sc) WHERE rk <= 10
    """,
)
def sim_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed billion-scale ANN stack (IVFADC, Jégou et al. 2011
    §V): IVF centroids prune the scan to nprobe=2 of 8 cells, PQ codes
    compress what's scored inside them to 4 ints/vector — centroids,
    codebooks, and the query distance table all broadcast, the corpus
    touched once, finished by a distributed top-k."""
    from hpaste_spark.operators.similarity import ivf_pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return ivf_pq_topk(emb, qv, k_centroids=8, nprobe=2, m=4, k=16, topk=10)


# shared by dedup_semantic_2level (in-plan model) and
# dedup_semantic_2level_stored (prebuilt index): identical kept set
_SEM2L_ORACLE = """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    pc1 AS (SELECT vec_id % 4 AS scid1, i, AVG(e[i]) AS m
            FROM v, range(1, 65) AS r(i) GROUP BY vec_id % 4, i),
    cent1 AS (SELECT scid1 AS cid1, list(round(m, 6) ORDER BY i) AS cvec FROM pc1 GROUP BY scid1),
    s1 AS (SELECT v.vec_id, c.cid1,
                  list_dot_product(v.e, c.cvec)
                    / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(c.cvec, c.cvec))) AS cc
           FROM v, cent1 c),
    a1 AS (SELECT vec_id, cid1 FROM (
        SELECT vec_id, cid1, row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid1) AS rn
        FROM s1) WHERE rn = 1),
    m2 AS (SELECT v.vec_id, a.cid1, v.e FROM v JOIN a1 a USING (vec_id)),
    pc2 AS (SELECT cid1, vec_id % 3 AS scid, i, AVG(e[i]) AS m
            FROM m2, range(1, 65) AS r(i) GROUP BY cid1, vec_id % 3, i),
    cent2 AS (SELECT cid1, scid, list(round(m, 6) ORDER BY i) AS cvec FROM pc2 GROUP BY cid1, scid),
    s2 AS (SELECT m2.vec_id, m2.cid1, c.scid,
                  list_dot_product(m2.e, c.cvec)
                    / (sqrt(list_dot_product(m2.e, m2.e)) * sqrt(list_dot_product(c.cvec, c.cvec))) AS cc
           FROM m2 JOIN cent2 c ON m2.cid1 = c.cid1),
    a2 AS (SELECT vec_id, cid1, scid, cc FROM (
        SELECT vec_id, cid1, scid, cc,
               row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, scid) AS rn
        FROM s2) WHERE rn = 1),
    m AS (SELECT a.vec_id, a.cid1 * 3 + a.scid AS cid, a.cc AS ccent, v.e
          FROM a2 a JOIN v USING (vec_id)),
    pairs AS (
      SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.ccent AS ca, y.ccent AS cb,
             list_dot_product(x.e, y.e)
               / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))) AS cos_raw
      FROM m x JOIN m y ON x.cid = y.cid AND x.vec_id < y.vec_id),
    losers AS (
      SELECT DISTINCT CASE WHEN ca >= cb THEN id_b ELSE id_a END AS vec_id
      FROM pairs WHERE cos_raw >= 0.4)
    SELECT m.vec_id, m.cid, ROUND(m.ccent, 6) + 0 AS centroid_sim
    FROM m LEFT JOIN losers USING (vec_id) WHERE losers.vec_id IS NULL
    """


@q("dedup_semantic_2level", _SEM2L_ORACLE)
def dedup_semantic_2level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup through HIERARCHICAL assignment (the SCALE.md follow-up
    to the 30× probe's alpha=1.07): 4 coarse cells, 3 sub-centroids
    each — assignment work n·(k1+k2)·d instead of flat n·k·d, the term
    that stays super-linear when k must grow with the corpus.  Keep
    rule and determinism identical to dedup_semantic; the oracle
    replays both assignment levels."""
    from hpaste_spark.operators.dedup import semantic_dedup_two_level

    return semantic_dedup_two_level(
        _t(spark, sf_dir, "embeddings"), k1=4, k2=3, threshold=0.4
    )


@q(
    "dedup_semantic_2level_auto",
    """
    WITH kk AS (SELECT GREATEST(8, CAST(CEIL(COUNT(*) / 30.0) AS BIGINT)) AS kt
                FROM embeddings),
    ks AS (SELECT kt, CAST(CEIL(SQRT(kt)) AS BIGINT) AS k1,
                  CAST(CEIL(kt / CEIL(SQRT(kt))) AS BIGINT) AS k2 FROM kk),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    pc1 AS (SELECT vec_id % (SELECT k1 FROM ks) AS scid1, i, AVG(e[i]) AS m
            FROM v, range(1, 65) AS r(i) GROUP BY vec_id % (SELECT k1 FROM ks), i),
    cent1 AS (SELECT scid1 AS cid1, list(round(m, 6) ORDER BY i) AS cvec FROM pc1 GROUP BY scid1),
    s1 AS (SELECT v.vec_id, c.cid1,
                  list_dot_product(v.e, c.cvec)
                    / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(c.cvec, c.cvec))) AS cc
           FROM v, cent1 c),
    a1 AS (SELECT vec_id, cid1 FROM (
        SELECT vec_id, cid1, row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid1) AS rn
        FROM s1) WHERE rn = 1),
    m2 AS (SELECT v.vec_id, a.cid1, v.e FROM v JOIN a1 a USING (vec_id)),
    pc2 AS (SELECT cid1, vec_id % (SELECT k2 FROM ks) AS scid, i, AVG(e[i]) AS m
            FROM m2, range(1, 65) AS r(i)
            GROUP BY cid1, vec_id % (SELECT k2 FROM ks), i),
    cent2 AS (SELECT cid1, scid, list(round(m, 6) ORDER BY i) AS cvec FROM pc2 GROUP BY cid1, scid),
    s2 AS (SELECT m2.vec_id, m2.cid1, c.scid,
                  list_dot_product(m2.e, c.cvec)
                    / (sqrt(list_dot_product(m2.e, m2.e)) * sqrt(list_dot_product(c.cvec, c.cvec))) AS cc
           FROM m2 JOIN cent2 c ON m2.cid1 = c.cid1),
    a2 AS (SELECT vec_id, cid1, scid, cc FROM (
        SELECT vec_id, cid1, scid, cc,
               row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, scid) AS rn
        FROM s2) WHERE rn = 1),
    m AS (SELECT a.vec_id, a.cid1 * (SELECT k2 FROM ks) + a.scid AS cid, a.cc AS ccent, v.e
          FROM a2 a JOIN v USING (vec_id)),
    pairs AS (
      SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.ccent AS ca, y.ccent AS cb,
             list_dot_product(x.e, y.e)
               / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))) AS cos_raw
      FROM m x JOIN m y ON x.cid = y.cid AND x.vec_id < y.vec_id),
    losers AS (
      SELECT DISTINCT CASE WHEN ca >= cb THEN id_b ELSE id_a END AS vec_id
      FROM pairs WHERE cos_raw >= 0.4)
    SELECT m.vec_id, m.cid, ROUND(m.ccent, 6) + 0 AS centroid_sim
    FROM m LEFT JOIN losers USING (vec_id) WHERE losers.vec_id IS NULL
    """,
)
def dedup_semantic_2level_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical SemDeDup at the size-DERIVED split: k_total =
    max(8, ceil(n/target)), k1 = ceil(√k_total), k2 = ceil(k_total/k1)
    — both derived by the oracle from COUNT(*) too, proving the whole
    derivation chain is cross-engine deterministic.  This is the form
    the 30× scale probe runs (pinned small k at a big corpus is the
    documented fixed-k pathology; the pinned twin exists for the exact
    k1=4/k2=3 oracle).  target=30 → k_total=17, k1=5, k2=4 on the
    500-vector fixture — distinct from every pinned variant."""
    from hpaste_spark.operators.dedup import semantic_dedup_two_level

    return semantic_dedup_two_level(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, target_cluster_size=30
    )


_TWO_LEVEL_INDEX_VERSION = 3  # r16: k1/k2 in meta.json


def _two_level_index(spark: SparkSession, sf_dir: str) -> str:
    """The stored two-level index (k1=4, k2=3) over the embeddings
    fixture, built on first use."""
    from hpaste_spark.operators.similarity import build_two_level_index

    emb = _t(spark, sf_dir, "embeddings")
    return ensure_artifact(
        _SCRATCH, "two_level_index", sf_dir, "embeddings",
        _TWO_LEVEL_INDEX_VERSION,
        lambda path: build_two_level_index(emb, path, k1=4, k2=3),
    )


@q("dedup_semantic_2level_stored", _SEM2L_ORACLE)
def dedup_semantic_2level_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical SemDeDup off a STORED two-level index
    (similarity.build_two_level_index): both assignment levels + the
    centroid cosine are write-once parquet PARTITIONED BY the coarse
    cell, so a 100 TB dedup runs per-partition off one clustering pass
    instead of re-assigning per run (and a cells-restricted run is
    dynamicpruningexpression partition pruning — plan-tested).  Same
    (k1=4, k2=3) as dedup_semantic_2level, hence the same oracle."""
    from hpaste_spark.operators.dedup import semantic_dedup_two_level_stored

    idx = _two_level_index(spark, sf_dir)
    return semantic_dedup_two_level_stored(spark, idx, threshold=0.4)


@q(
    "sim_pq_recall",
    f"""
    WITH {_PQ_CB_SQL},
    q AS (SELECT (i-1) // 16 AS sub, (i-1) % 16 AS wpos, e[i] AS x
          FROM v, range(1, 65) AS r(i) WHERE vec_id = 0),
    qt AS (SELECT q.sub, cb.code, SUM((q.x - cb.c)*(q.x - cb.c)) AS qd2
           FROM q JOIN cb ON q.sub = cb.sub AND q.wpos = cb.wpos
           GROUP BY q.sub, cb.code),
    sc AS (SELECT b.vec_id, ROUND(SUM(qt.qd2), 6) + 0.0 AS approx_dist
           FROM best b JOIN qt ON b.sub = qt.sub AND b.code = qt.code
           GROUP BY b.vec_id),
    adc AS (SELECT vec_id FROM (
      SELECT vec_id, row_number() OVER (ORDER BY approx_dist, vec_id) AS rk
      FROM sc) WHERE rk <= 10),
    fdims AS (SELECT vec_id, i-1 AS pos, e[i] AS x FROM v, range(1, 65) AS r(i)),
    ed AS (SELECT f.vec_id, SUM((f.x - g.x)*(f.x - g.x)) AS d2
           FROM fdims f JOIN fdims g ON f.pos = g.pos AND g.vec_id = 0
           GROUP BY f.vec_id),
    exact AS (SELECT vec_id FROM (
      SELECT vec_id, row_number() OVER (ORDER BY ROUND(d2, 6), vec_id) AS rk
      FROM ed) WHERE rk <= 10)
    SELECT 10 AS k, CAST(COUNT(*) AS BIGINT) AS n_hit,
           ROUND(COUNT(*) / 10.0, 2) AS recall_at_k
    FROM adc JOIN exact USING (vec_id)
    """,
)
def sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@R for the PQ/ADC leg (the Jégou et al. 2011 §VI metric,
    same grading posture as dedup_lsh_eval grades LSH): the ADC top-10
    under the trained codebooks intersected with the EXACT L2² top-10
    ground truth, as (k, n_hit, recall_at_k) — the oracle composes
    both formulations end-to-end, so the measured recall itself is
    cross-engine checked.  Both sides share the metric (L2², 6 dp
    rounding, id tie-breaks) and both top-ks are distributed
    (TakeOrderedAndProject), so the grader runs at corpus scale: one
    compressed scan + one exact scan, joined on 10-row sets."""
    from hpaste_spark.functions.vectors import as_double
    from hpaste_spark.operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    adc = pq_topk(emb, qv, m=4, k=16, topk=10).select("vec_id")

    e = emb.select("vec_id", as_double(F.col("embedding")).alias("e"))
    qe = e.filter(F.col("vec_id") == 0).select(F.col("e").alias("qe"))
    exact = (
        e.crossJoin(F.broadcast(qe))
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with(F.col("e"), F.col("qe"), lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, d: acc + d,
            ).alias("d2"),
        )
        .orderBy(F.round("d2", 6), "vec_id")
        .limit(10)
        .select("vec_id")
    )
    return adc.join(exact, "vec_id").agg(
        F.lit(10).alias("k"),
        F.count(F.lit(1)).alias("n_hit"),
        (F.round(F.count(F.lit(1)) / 10.0, 2)).alias("recall_at_k"),
    )


# shared by sim_ivfadc_residual_topk (in-plan model) and
# sim_ivfadc_topk_stored (prebuilt index): identical residual-ADC result
_IVFADC_CHAIN = """
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    fd AS (SELECT vec_id, i-1 AS pos, e[i] AS x FROM v, range(1, 65) AS r(i)),
    cd AS (SELECT f.vec_id % 8 AS cid, f.pos, ROUND(AVG(f.x), 6) AS c
           FROM fd f GROUP BY f.vec_id % 8, f.pos),
    ad AS (SELECT f.vec_id, c.cid, SUM((f.x - c.c)*(f.x - c.c)) AS d2
           FROM fd f JOIN cd c ON f.pos = c.pos GROUP BY f.vec_id, c.cid),
    asg AS (SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY ROUND(d2, 6), cid) AS rn
        FROM ad) WHERE rn = 1),
    rd AS (SELECT f.vec_id, a.cid, f.pos // 16 AS sub, f.pos % 16 AS wpos, f.x - c.c AS rx
           FROM fd f JOIN asg a USING (vec_id) JOIN cd c ON a.cid = c.cid AND f.pos = c.pos),
    rcb AS (SELECT sub, vec_id % 16 AS code, wpos, ROUND(AVG(rx), 6) AS c
            FROM rd GROUP BY sub, vec_id % 16, wpos),
    rd2 AS (SELECT r.vec_id, r.sub, b.code, SUM((r.rx - b.c)*(r.rx - b.c)) AS d2
            FROM rd r JOIN rcb b ON r.sub = b.sub AND r.wpos = b.wpos
            GROUP BY r.vec_id, r.sub, b.code),
    codes AS (SELECT vec_id, sub, code FROM (
        SELECT vec_id, sub, code,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY ROUND(d2, 6), code) AS rn
        FROM rd2) WHERE rn = 1),
    qad AS (SELECT c.cid, SUM((f.x - c.c)*(f.x - c.c)) AS qd2
            FROM fd f JOIN cd c ON f.pos = c.pos WHERE f.vec_id = 0 GROUP BY c.cid),
    probed AS (SELECT cid FROM qad ORDER BY ROUND(qd2, 6), cid LIMIT 2),
    qres AS (SELECT c.cid, f.pos // 16 AS sub, f.pos % 16 AS wpos, f.x - c.c AS rx
             FROM fd f JOIN cd c ON f.pos = c.pos JOIN probed p ON c.cid = p.cid
             WHERE f.vec_id = 0),
    qtab AS (SELECT q.cid, q.sub, b.code, SUM((q.rx - b.c)*(q.rx - b.c)) AS qd2
             FROM qres q JOIN rcb b ON q.sub = b.sub AND q.wpos = b.wpos
             GROUP BY q.cid, q.sub, b.code),
    sc AS (SELECT cds.vec_id, ROUND(SUM(qt.qd2), 6) + 0.0 AS approx_dist
           FROM codes cds JOIN asg a USING (vec_id)
           JOIN qtab qt ON a.cid = qt.cid AND cds.sub = qt.sub AND cds.code = qt.code
           GROUP BY cds.vec_id HAVING COUNT(*) = 4)
    """

_IVFADC_ORACLE = f"""
    WITH {_IVFADC_CHAIN}
    SELECT vec_id, approx_dist, CAST(rk AS INT) AS rank FROM (
      SELECT vec_id, approx_dist,
             row_number() OVER (ORDER BY approx_dist, vec_id) AS rk
      FROM sc) WHERE rk <= 10
    """


@q("sim_ivfadc_residual_topk", _IVFADC_ORACLE)
def sim_ivfadc_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full residual-encoded IVFADC (Jégou et al. 2011 §V eq. 17 —
    closes sim_ivf_pq_topk's documented simplification): vectors are
    PQ-encoded as (v − centroid(v)) and the query carries a SEPARATE
    distance table per probed cell built from (q − centroid(cell)).
    Residuals are small, so the same m·k code budget quantizes far
    more finely — the production-ANN default.  The oracle replays
    assignment, residual codebooks, encoding, and per-cell tables."""
    from hpaste_spark.operators.similarity import ivfadc_topk

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return ivfadc_topk(emb, qv, k_centroids=8, nprobe=2, m=4, k=16, topk=10)


_IVFADC_INDEX_VERSION = 6  # r16: meta pins vec_col/id_col


@q("sim_ivfadc_topk_stored", _IVFADC_ORACLE)
def sim_ivfadc_topk_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVFADC over the STORED index (build_ivfadc_index):
    centroids + residual codebooks + the codes table PARTITIONED BY
    cid, written once — queries partition-prune the codes scan to the
    probed cells AND read m ints per vector, combining both stored-
    index legs in one artifact.  Same model as
    sim_ivfadc_residual_topk (shared _ivfadc_model), same oracle."""
    from hpaste_spark.operators.similarity import (build_ivfadc_index,
                                                   ivfadc_topk_indexed)

    emb = _t(spark, sf_dir, "embeddings")
    idx = ensure_artifact(
        _SCRATCH, "ivfadc_index", sf_dir, "embeddings", _IVFADC_INDEX_VERSION,
        lambda path: build_ivfadc_index(emb, path, k_centroids=8, m=4, k=16),
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return ivfadc_topk_indexed(spark, idx, qv, nprobe=2, m=4, topk=10)


# the appended IVFADC index == "train coarse + residual quantizers on
# the standing slice, assign-and-encode everything under them" — the
# oracle restricts BOTH trained CTEs (cd, rcb) to the build slice;
# assignment, encoding, probing still cover every vector
_IVFADC_APPENDED_ORACLE = _IVFADC_ORACLE.replace(
    """cd AS (SELECT f.vec_id % 8 AS cid, f.pos, ROUND(AVG(f.x), 6) AS c
           FROM fd f GROUP BY f.vec_id % 8, f.pos),""",
    """cd AS (SELECT f.vec_id % 8 AS cid, f.pos, ROUND(AVG(f.x), 6) AS c
           FROM fd f WHERE f.vec_id % 5 != 1 GROUP BY f.vec_id % 8, f.pos),""",
).replace(
    """rcb AS (SELECT sub, vec_id % 16 AS code, wpos, ROUND(AVG(rx), 6) AS c
            FROM rd GROUP BY sub, vec_id % 16, wpos),""",
    """rcb AS (SELECT sub, vec_id % 16 AS code, wpos, ROUND(AVG(rx), 6) AS c
            FROM rd WHERE vec_id % 5 != 1 GROUP BY sub, vec_id % 16, wpos),""",
)
assert _IVFADC_APPENDED_ORACLE.count("% 5 != 1") == 2


@q("sim_ivfadc_topk_appended", _IVFADC_APPENDED_ORACLE)
def sim_ivfadc_topk_appended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVFADC over an APPEND-refreshED index — the standing-
    artifact lifecycle completed across ALL index families (LSH, Bloom,
    HDR, IVF, PQ, and now the combined coarse+residual artifact): the
    index is built on the standing slice (vec_id % 5 != 1), then
    artifacts.append_artifact assigns the delta to the STORED
    coarse centroids and residual-encodes it under the STORED residual
    codebooks — both geometries pinned by the artifact, the standing
    corpus never re-assigned or re-encoded, partition pruning
    unchanged.  The oracle replays the honest semantics exactly: both
    trained CTEs restricted to the build slice, assignment/encoding/
    probing over all vectors.  Drift compounds across BOTH frozen
    geometries here; the re-train is a fresh build_ivfadc_index on the
    corpus (the artifact stores codes, not raw vectors)."""
    from hpaste_spark.operators.similarity import (
        build_ivfadc_index,
        ivfadc_topk_indexed,
    )

    emb = _t(spark, sf_dir, "embeddings")

    def build(path: str) -> None:
        build_ivfadc_index(
            emb.filter(F.col("vec_id") % 5 != 1), path, k_centroids=8, m=4, k=16
        )
        append_artifact(spark, path, emb.filter(F.col("vec_id") % 5 == 1))

    path = ensure_artifact(
        _SCRATCH, "ivfadc_index_appended", sf_dir, "embeddings",
        _IVFADC_INDEX_VERSION, build,
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return ivfadc_topk_indexed(spark, path, qv, nprobe=2, m=4, topk=10)


# IVFADC compaction consolidates the per-(append, cid) code fragments
# into one file per cid partition — codes and cids unchanged (NOT a
# re-train; both geometries stay pinned), so the oracle is the
# APPENDED oracle unchanged: the read-back identity as a hash gate.
@q("sim_ivfadc_topk_compacted", _IVFADC_APPENDED_ORACLE)
def sim_ivfadc_topk_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPACTION leg of the standing-IVFADC lifecycle under the
    hash gate (round 12 — with this, EVERY index family's full
    build → append → compact chain is gate-visible): build the
    coarse+residual model on the standing slice (vec_id % 5 != 1),
    artifacts.append_artifact the delta into its cid partitions,
    then artifacts.compact_artifact repartitions the code
    relation on cid (one file per partition in practice) and swaps it
    in.  Rows, cids, and probe-side partition pruning unchanged BY
    CONSTRUCTION — the compacted index answers the residual-ADC
    top-10 bit-identically to the appended one, same oracle, the
    read-back identity made executable."""
    from hpaste_spark.operators.similarity import (
        build_ivfadc_index,
        ivfadc_topk_indexed,
    )

    emb = _t(spark, sf_dir, "embeddings")

    def build(path: str) -> None:
        build_ivfadc_index(
            emb.filter(F.col("vec_id") % 5 != 1), path, k_centroids=8, m=4, k=16
        )
        append_artifact(spark, path, emb.filter(F.col("vec_id") % 5 == 1))
        compact_artifact(spark, path)

    path = ensure_artifact(
        _SCRATCH, "ivfadc_index_compacted", sf_dir, "embeddings",
        _IVFADC_INDEX_VERSION, build,
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return ivfadc_topk_indexed(spark, path, qv, nprobe=2, m=4, topk=10)


# the blue/green re-train refreshes BOTH frozen geometries (coarse
# centroids AND residual codebooks) from the full corpus — the
# retrained artifact answers the ORIGINAL full-corpus oracle, vs the
# compacted leg whose oracle is the appended one unchanged.
@q("sim_ivfadc_topk_retrained", _IVFADC_ORACLE)
def sim_ivfadc_topk_retrained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RE-TRAIN leg for the COMPLETE production artifact (round 13
    — similarity.retrain_index, the action drift_recall
    prices): build on the standing slice (vec_id % 5 != 1), append the
    delta (drift compounds across both frozen geometries), then the
    blue/green rebuild on the full corpus — sibling-root build with
    the geometry (k_centroids, m, k) inherited from the artifact's
    pinned meta, version chain carried forward, root rename-aside
    swap under the dying root's journal.  Must answer the original
    sim_ivfadc_topk_stored oracle bit-for-bit: recall restoration for
    the coarse AND residual legs in one executable claim."""
    from hpaste_spark.operators.similarity import (
        build_ivfadc_index,
        ivfadc_topk_indexed,
        retrain_index,
    )

    emb = _t(spark, sf_dir, "embeddings")

    def build(path: str) -> None:
        build_ivfadc_index(
            emb.filter(F.col("vec_id") % 5 != 1), path, k_centroids=8, m=4, k=16
        )
        append_artifact(spark, path, emb.filter(F.col("vec_id") % 5 == 1))
        retrain_index(spark, emb, path)

    path = ensure_artifact(
        _SCRATCH, "ivfadc_index_retrained", sf_dir, "embeddings",
        _IVFADC_INDEX_VERSION, build,
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return ivfadc_topk_indexed(spark, path, qv, nprobe=2, m=4, topk=10)


# Full DuckDB replay of the IVFADC drift monitor: per-variant coarse
# centroids (build slice vs union), assignment, residual codebooks
# (slice-trained for 'appended'), encoding, per-(variant, query,
# probed-cell) residual distance tables, ADC scoring, exact L2^2 truth.
_IVFADC_DRIFT_ORACLE = """
    WITH v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    dl AS (SELECT vec_id + 1000001 AS vec_id, list_reverse(e) AS e FROM v0),
    u AS (SELECT * FROM v0 UNION ALL SELECT * FROM dl),
    q AS (SELECT vec_id AS qid, e AS qe FROM dl
          WHERE (vec_id - 1000001) % 50 = 0 AND (vec_id - 1000001) < 5000),
    nq AS (SELECT COUNT(*) AS n FROM q),
    fd AS (SELECT vec_id, i-1 AS pos, e[i] AS x FROM u, range(1, 65) AS r(i)),
    cds AS (
      SELECT 'appended' AS variant, cid, pos, c FROM (
        SELECT f.vec_id % 8 AS cid, f.pos, ROUND(AVG(f.x), 6) AS c
        FROM fd f WHERE f.vec_id < 1000001 GROUP BY f.vec_id % 8, f.pos)
      UNION ALL
      SELECT 'retrained', cid, pos, c FROM (
        SELECT f.vec_id % 8 AS cid, f.pos, ROUND(AVG(f.x), 6) AS c
        FROM fd f GROUP BY f.vec_id % 8, f.pos)),
    ad AS (SELECT c.variant, f.vec_id, c.cid, SUM((f.x - c.c)*(f.x - c.c)) AS d2
           FROM fd f JOIN cds c ON f.pos = c.pos
           GROUP BY c.variant, f.vec_id, c.cid),
    asg AS (SELECT variant, vec_id, cid FROM (
        SELECT variant, vec_id, cid, row_number() OVER (
          PARTITION BY variant, vec_id ORDER BY ROUND(d2, 6), cid) AS rn
        FROM ad) WHERE rn = 1),
    rd AS (SELECT a.variant, f.vec_id, a.cid, f.pos // 16 AS sub,
                  f.pos % 16 AS wpos, f.x - c.c AS rx
           FROM fd f JOIN asg a ON a.vec_id = f.vec_id
           JOIN cds c ON c.variant = a.variant AND a.cid = c.cid AND f.pos = c.pos),
    rcbs AS (SELECT r.variant, r.sub, r.vec_id % 16 AS code, r.wpos,
                    ROUND(AVG(r.rx), 6) AS c
             FROM rd r
             WHERE r.variant = 'retrained' OR r.vec_id < 1000001
             GROUP BY r.variant, r.sub, r.vec_id % 16, r.wpos),
    rd2 AS (SELECT r.variant, r.vec_id, r.sub, b.code,
                   SUM((r.rx - b.c)*(r.rx - b.c)) AS d2
            FROM rd r JOIN rcbs b
              ON b.variant = r.variant AND r.sub = b.sub AND r.wpos = b.wpos
            GROUP BY r.variant, r.vec_id, r.sub, b.code),
    codes AS (SELECT variant, vec_id, sub, code FROM (
        SELECT variant, vec_id, sub, code, row_number() OVER (
          PARTITION BY variant, vec_id, sub ORDER BY ROUND(d2, 6), code) AS rn
        FROM rd2) WHERE rn = 1),
    qd AS (SELECT qid, i-1 AS pos, qe[i] AS x FROM q, range(1, 65) AS r(i)),
    qad AS (SELECT c.variant, qd.qid, c.cid, SUM((qd.x - c.c)*(qd.x - c.c)) AS qd2
            FROM qd JOIN cds c ON qd.pos = c.pos
            GROUP BY c.variant, qd.qid, c.cid),
    probes AS (SELECT variant, qid, cid FROM (
        SELECT variant, qid, cid, row_number() OVER (
          PARTITION BY variant, qid ORDER BY ROUND(qd2, 6), cid) AS rn
        FROM qad) WHERE rn <= 2),
    qres AS (SELECT p.variant, p.qid, p.cid, qd.pos // 16 AS sub,
                    qd.pos % 16 AS wpos, qd.x - c.c AS rx
             FROM qd JOIN probes p ON p.qid = qd.qid
             JOIN cds c ON c.variant = p.variant AND c.cid = p.cid AND c.pos = qd.pos),
    qtab AS (SELECT qr.variant, qr.qid, qr.cid, qr.sub, b.code,
                    SUM((qr.rx - b.c)*(qr.rx - b.c)) AS qd2
             FROM qres qr JOIN rcbs b
               ON b.variant = qr.variant AND qr.sub = b.sub AND qr.wpos = b.wpos
             GROUP BY qr.variant, qr.qid, qr.cid, qr.sub, b.code),
    sc AS (SELECT cd2.variant, qt.qid, cd2.vec_id,
                  ROUND(SUM(qt.qd2), 6) + 0.0 AS adist
           FROM codes cd2
           JOIN asg a ON a.variant = cd2.variant AND a.vec_id = cd2.vec_id
           JOIN qtab qt ON qt.variant = cd2.variant AND qt.cid = a.cid
                        AND qt.sub = cd2.sub AND qt.code = cd2.code
           GROUP BY cd2.variant, qt.qid, cd2.vec_id
           HAVING COUNT(*) = 4),
    approx AS (SELECT variant, qid, vec_id FROM (
        SELECT variant, qid, vec_id, row_number() OVER (
          PARTITION BY variant, qid ORDER BY adist, vec_id) AS rk
        FROM sc WHERE vec_id != qid) WHERE rk <= 10),
    ed AS (SELECT q.qid, u.vec_id,
                  ROUND(SUM((u.e[i] - q.qe[i])*(u.e[i] - q.qe[i])), 6) AS rdist
           FROM u, q, range(1, 65) AS r(i)
           WHERE u.vec_id != q.qid
           GROUP BY q.qid, u.vec_id),
    exact AS (SELECT qid, vec_id FROM (
        SELECT qid, vec_id, row_number() OVER (
          PARTITION BY qid ORDER BY rdist, vec_id) AS rk
        FROM ed) WHERE rk <= 10),
    hits AS (SELECT a.variant, CAST(COUNT(*) AS BIGINT) AS n_hit
             FROM approx a JOIN exact e ON a.qid = e.qid AND a.vec_id = e.vec_id
             GROUP BY a.variant)
    SELECT v.variant,
           CAST(nq.n AS BIGINT)              AS n_queries,
           10                                 AS k,
           COALESCE(h.n_hit, 0)               AS n_hit,
           ROUND(COALESCE(h.n_hit, 0) / (nq.n * 10.0), 4) AS recall_at_k
    FROM (SELECT DISTINCT variant FROM cds) v
    LEFT JOIN hits h ON h.variant = v.variant, nq
    ORDER BY v.variant
    """


@q("sim_ivfadc_drift_recall", _IVFADC_DRIFT_ORACLE)
def sim_ivfadc_drift_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift-recall monitor for the COMPLETE production ANN artifact
    (round 12 — similarity.drift_recall; the monitor family
    covers every index leg: IVF coarse, PQ compression, and their
    composition).  An appended IVFADC compounds BOTH frozen geometries
    — probed-cell coverage under build-time coarse centroids AND the
    delta's residual quantization under build-time codebooks — so the
    re-train decision has the most ways to be wrong here, and the
    monitor grades the LIVE build+append artifact against an in-plan
    full re-train on the store of record (cardinality-hard-checked),
    same drift fixture and fixed ≤100-query budget as the IVF/PQ
    monitors, exact L2² truth, both recalls hash-gated against the
    full DuckDB replay of assignment, residual codebooks, encoding,
    and the per-(query, probed-cell) distance tables."""
    from hpaste_spark.functions.vectors import as_double
    from hpaste_spark.operators.similarity import (
        build_ivfadc_index,
        drift_recall,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    )
    delta = emb.select(
        (F.col("vec_id") + 1_000_001).alias("vec_id"),
        F.reverse(F.col("e")).alias("e"),
    )

    def build(path: str) -> None:
        build_ivfadc_index(emb, path, k_centroids=8, m=4, k=16, vec_col="e")
        append_artifact(spark, path, delta)

    path = ensure_artifact(
        _SCRATCH, "ivfadc_index_drift", sf_dir, "embeddings",
        _IVFADC_INDEX_VERSION, build,
    )
    union = emb.unionByName(delta)
    q_df = delta.filter(
        ((F.col("vec_id") - 1_000_001) % 50 == 0)
        & ((F.col("vec_id") - 1_000_001) < 5000)
    ).select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"))
    return drift_recall(
        spark, path, q_df, union, k=10, nprobe=2, budget=100
    )


@q(
    "sim_ivfadc_recall",
    f"""
    WITH {_IVFADC_CHAIN},
    adc AS (SELECT vec_id FROM (
      SELECT vec_id, row_number() OVER (ORDER BY approx_dist, vec_id) AS rk
      FROM sc) WHERE rk <= 10),
    ed AS (SELECT f.vec_id, SUM((f.x - g.x)*(f.x - g.x)) AS ed2
           FROM fd f JOIN fd g ON f.pos = g.pos AND g.vec_id = 0
           GROUP BY f.vec_id),
    exact AS (SELECT vec_id FROM (
      SELECT vec_id, row_number() OVER (ORDER BY ROUND(ed2, 6), vec_id) AS rk
      FROM ed) WHERE rk <= 10)
    SELECT 10 AS k, CAST(COUNT(*) AS BIGINT) AS n_hit,
           ROUND(COUNT(*) / 10.0, 2) AS recall_at_k
    FROM adc JOIN exact USING (vec_id)
    """,
)
def sim_ivfadc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@R for the full residual-IVFADC leg (completes the ANN
    grading ladder next to sim_pq_recall): the nprobe=2/8, m=4, k=16
    residual-ADC top-10 intersected with the exact L2² top-10 over the
    WHOLE corpus — so the number also prices the probe's coverage loss
    (cells never probed can hide true neighbors), which is exactly the
    trade the nprobe knob buys.  Oracle composes the full residual
    model + exact truth end-to-end."""
    from hpaste_spark.functions.vectors import as_double
    from hpaste_spark.operators.similarity import ivfadc_topk

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    adc = ivfadc_topk(
        emb, qv, k_centroids=8, nprobe=2, m=4, k=16, topk=10
    ).select("vec_id")

    e = emb.select("vec_id", as_double(F.col("embedding")).alias("e"))
    qe = e.filter(F.col("vec_id") == 0).select(F.col("e").alias("qe"))
    exact = (
        e.crossJoin(F.broadcast(qe))
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with(F.col("e"), F.col("qe"), lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, d: acc + d,
            ).alias("ed2"),
        )
        .orderBy(F.round("ed2", 6), "vec_id")
        .limit(10)
        .select("vec_id")
    )
    return adc.join(exact, "vec_id").agg(
        F.lit(10).alias("k"),
        F.count(F.lit(1)).alias("n_hit"),
        (F.round(F.count(F.lit(1)) / 10.0, 2)).alias("recall_at_k"),
    )


@q(
    "sim_ivfadc_rerank",
    f"""
    WITH {_IVFADC_CHAIN},
    short AS (SELECT vec_id FROM (
      SELECT vec_id, row_number() OVER (ORDER BY approx_dist, vec_id) AS rk
      FROM sc) WHERE rk <= 50),
    red AS (SELECT f.vec_id, ROUND(SUM((f.x - g.x)*(f.x - g.x)), 6) + 0.0 AS ed2
            FROM fd f JOIN fd g ON f.pos = g.pos AND g.vec_id = 0
            JOIN short s ON f.vec_id = s.vec_id
            GROUP BY f.vec_id)
    SELECT vec_id, ed2, CAST(rk AS INT) AS rank FROM (
      SELECT vec_id, ed2, row_number() OVER (ORDER BY ed2, vec_id) AS rk
      FROM red) WHERE rk <= 10
    """,
)
def sim_ivfadc_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production-ANN recipe (Jégou et al. 2011 §VII):
    residual-IVFADC keeps a 50-candidate shortlist in the compressed
    domain, then ONLY those 50 rows are re-scored against their full
    vectors — exact L2² within the shortlist, corpus never scanned at
    full precision.  The oracle replays the whole compressed model,
    shortlists, and re-ranks the same 50."""
    from hpaste_spark.operators.similarity import ivfadc_rerank

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return ivfadc_rerank(
        emb, qv, shortlist=50, topk=10, k_centroids=8, nprobe=2, m=4, k=16
    )


@q(
    "sim_rerank_recall",
    f"""
    WITH {_IVFADC_CHAIN},
    ranked AS (SELECT vec_id, row_number() OVER (ORDER BY approx_dist, vec_id) AS rk
               FROM sc),
    adc10 AS (SELECT vec_id FROM ranked WHERE rk <= 10),
    short AS (SELECT vec_id FROM ranked WHERE rk <= 50),
    ed AS (SELECT f.vec_id, SUM((f.x - g.x)*(f.x - g.x)) AS ed2
           FROM fd f JOIN fd g ON f.pos = g.pos AND g.vec_id = 0
           GROUP BY f.vec_id),
    exact10 AS (SELECT vec_id FROM (
      SELECT vec_id, row_number() OVER (ORDER BY ROUND(ed2, 6), vec_id) AS rk
      FROM ed) WHERE rk <= 10),
    rr AS (SELECT s.vec_id FROM short s JOIN ed USING (vec_id)
           ORDER BY ROUND(ed2, 6), vec_id LIMIT 10)
    SELECT 10 AS k,
      CAST((SELECT COUNT(*) FROM adc10 JOIN exact10 USING (vec_id)) AS BIGINT) AS n_hit_adc,
      CAST((SELECT COUNT(*) FROM rr JOIN exact10 USING (vec_id)) AS BIGINT) AS n_hit_rerank,
      ROUND((SELECT COUNT(*) FROM adc10 JOIN exact10 USING (vec_id)) / 10.0, 2) AS recall_adc,
      ROUND((SELECT COUNT(*) FROM rr JOIN exact10 USING (vec_id)) / 10.0, 2) AS recall_rerank
    """,
)
def sim_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prices what the re-rank stage buys: recall@10 of raw ADC top-10
    vs the 50-shortlist exact re-rank, both against the exact L2²
    top-10 over the whole corpus.  Any exact-top-10 member inside the
    shortlist survives re-ranking by construction, so recall_rerank ≥
    recall_adc ALWAYS — the grader makes the monotone gain visible
    (and the oracle recomputes both legs end-to-end)."""
    from hpaste_spark.functions.vectors import as_double
    from hpaste_spark.operators.similarity import ivfadc_rerank, ivfadc_topk

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    adc = ivfadc_topk(
        emb, qv, k_centroids=8, nprobe=2, m=4, k=16, topk=10
    ).select("vec_id")
    rr = ivfadc_rerank(
        emb, qv, shortlist=50, topk=10, k_centroids=8, nprobe=2, m=4, k=16
    ).select("vec_id")

    e = emb.select("vec_id", as_double(F.col("embedding")).alias("e"))
    qe = e.filter(F.col("vec_id") == 0).select(F.col("e").alias("qe"))
    exact = (
        e.crossJoin(F.broadcast(qe))
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with(F.col("e"), F.col("qe"), lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, d: acc + d,
            ).alias("ed2"),
        )
        .orderBy(F.round("ed2", 6), "vec_id")
        .limit(10)
        .select("vec_id")
    )
    na = adc.join(exact, "vec_id").agg(F.count(F.lit(1)).alias("n_hit_adc"))
    nr = rr.join(exact, "vec_id").agg(F.count(F.lit(1)).alias("n_hit_rerank"))
    return na.crossJoin(nr).select(
        F.lit(10).alias("k"),
        "n_hit_adc",
        "n_hit_rerank",
        F.round(F.col("n_hit_adc") / 10.0, 2).alias("recall_adc"),
        F.round(F.col("n_hit_rerank") / 10.0, 2).alias("recall_rerank"),
    )


@q(
    "sim_hard_negatives",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
    dims AS (
      SELECT vec_id, generate_subscripts(v, 1) - 1 AS pos, round(unnest(v) * 1000000) AS xq
      FROM e
    ),
    pl AS (
      SELECT j, pos, ((j*2654435761 + pos*40503) % 10007) - 5003 AS comp
      FROM range(32) r(j), (SELECT DISTINCT pos FROM dims) d
    ),
    dots AS (
      SELECT vec_id, j, SUM(xq * comp) AS dot
      FROM dims JOIN pl USING (pos) GROUP BY vec_id, j
    ),
    bk AS (
      SELECT vec_id, j // 4 AS band_idx,
             SUM(CASE WHEN dot > 0 THEN CAST(pow(2, j % 4) AS BIGINT) ELSE 0 END) AS band_key
      FROM dots GROUP BY vec_id, j // 4
    ),
    cand AS (
      SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id,
             ec.label AS neg_label
      FROM bk qb JOIN bk cb
        ON qb.band_idx = cb.band_idx AND qb.band_key = cb.band_key
      JOIN e eq ON eq.vec_id = qb.vec_id
      JOIN e ec ON ec.vec_id = cb.vec_id
      WHERE qb.vec_id % 25 = 0 AND qb.vec_id != cb.vec_id
        AND eq.label != ec.label
    ),
    scored AS (
      SELECT query_id, neighbor_id, neg_label,
        ROUND(list_dot_product(eq.v, ec.v)
              / (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(ec.v, ec.v))), 6) AS cos_sim
      FROM cand JOIN e eq ON eq.vec_id = query_id JOIN e ec ON ec.vec_id = neighbor_id
    )
    SELECT query_id, neighbor_id, neg_label, cos_sim, CAST(rk AS INT) AS rank FROM (
      SELECT query_id, neighbor_id, neg_label, cos_sim,
             row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
      FROM scored) t
    WHERE rk <= 5
    """,
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: every 25th
    vector (the query set) gets its top-5 most-similar corpus vectors
    with a DIFFERENT label — the near-miss impostors the loss learns
    most from.  Same banded-LSH blocking as sim_knn_join; the
    label-mismatch predicate prunes candidates BEFORE any cosine is
    computed.  The oracle replays blocking, labels, and ranking."""
    from hpaste_spark.operators.similarity import hard_negative_mining

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    return hard_negative_mining(
        emb, qs, k=5, bands=8, planes_per_band=4, max_bucket=2000
    )


# shared by decontaminate_ngram and the pipe_target_corpus composite
_DECON_CHAIN = """
    dc_d AS (
      SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    dc_tokh AS (
      SELECT doc_id, source, list_transform(t, tok ->
          CAST(('0x' || substr(md5(tok), 1, 13)) AS BIGINT)) AS th
      FROM dc_d
    ),
    dc_h AS (
      SELECT doc_id, source, list_transform(range(1, greatest(len(th)-4, 0)+1), i ->
          list_reduce(list_prepend(CAST(0 AS BIGINT), th[i:i+4]),
            (acc, x) -> (acc*31 + x) % 1000000007)) AS hs
      FROM dc_tokh WHERE len(th) >= 5
    ),
    dc_cg AS (SELECT doc_id, unnest(list_distinct(hs)) AS g FROM dc_h WHERE source <> 'src0'),
    dc_bg AS (SELECT doc_id AS bench_id, unnest(list_distinct(hs)) AS g FROM dc_h WHERE source = 'src0')
"""


@q(
    "decontaminate_ngram",
    f"""
    WITH {_DECON_CHAIN}
    SELECT dc_cg.doc_id,
           COUNT(DISTINCT dc_cg.g) AS n_hits,
           COUNT(DISTINCT dc_bg.bench_id) AS n_benchmark_docs
    FROM dc_cg JOIN dc_bg USING (g)
    GROUP BY dc_cg.doc_id
    """,
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 Appendix C / PaLM): corpus docs
    (source != src0) sharing any 5-gram with the held-out eval set
    (source == src0) — the cross-set, asymmetric dedup every training
    pipeline needs before reporting eval numbers.  The eval side's
    distinct-gram table broadcasts (eval suites are KBs against a
    100 TB corpus); the corpus side streams through one gram-hash
    equi-join, shuffling only the hits."""
    from hpaste_spark.operators.dedup import decontaminate_ngram as _dc

    d = _t(spark, sf_dir, "documents")
    return _dc(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
        n=5,
    )


@q(
    "decontaminate_lcs",
    """
    WITH dc_d AS (
      SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0),
    dc_tokh AS (
      SELECT doc_id, source, list_transform(t, tok ->
          CAST(('0x' || substr(md5(tok), 1, 13)) AS BIGINT)) AS th
      FROM dc_d),
    dc_h AS (
      SELECT doc_id, source, list_transform(range(1, greatest(len(th)-2, 0)+1), i ->
          list_reduce(list_prepend(CAST(0 AS BIGINT), th[i:i+2]),
            (acc, x) -> (acc*31 + x) % 1000000007)) AS hs
      FROM dc_tokh WHERE len(th) >= 3),
    cp AS (SELECT doc_id, unnest(hs) AS g, unnest(range(1, len(hs)+1)) AS pc
           FROM dc_h WHERE source <> 'src0'),
    bp AS (SELECT doc_id AS bench_id, unnest(hs) AS g, unnest(range(1, len(hs)+1)) AS pb
           FROM dc_h WHERE source = 'src0'),
    hits AS (SELECT doc_id, bench_id, pc, pc - pb AS diag FROM cp JOIN bp USING (g)),
    runs AS (SELECT doc_id, bench_id, diag,
                    pc - row_number() OVER (PARTITION BY doc_id, bench_id, diag ORDER BY pc) AS grp
             FROM hits),
    spans AS (SELECT doc_id, bench_id, COUNT(*) + 2 AS shared
              FROM runs GROUP BY doc_id, bench_id, diag, grp)
    SELECT doc_id, bench_id, CAST(MAX(shared) AS BIGINT) AS lcs_tokens
    FROM spans GROUP BY doc_id, bench_id HAVING MAX(shared) >= 10
    """,
)
def decontaminate_lcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-shared-token-run contamination (PaLM's refinement of
    raw n-gram collision; VERDICT r6 #6): at n=3 the plain gram join
    flags 1161 (doc, bench) pairs on the sf0.01 fixture — short-idiom
    noise — while requiring a ≥10-token consecutive run keeps exactly
    the 2 genuinely contaminated pairs.  Consecutiveness is detected
    on the SAME broadcast gram join by grouping hits per
    (doc, bench, corpus_pos − bench_pos) diagonal and measuring
    maximal position islands (pos − row_number)."""
    from hpaste_spark.operators.dedup import longest_shared_run_pairs

    d = _t(spark, sf_dir, "documents")
    return longest_shared_run_pairs(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
        n=3,
        min_shared_tokens=10,
    )


@q(
    "decontaminate_mask",
    """
    WITH dc_d AS (
      SELECT doc_id, source, text, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0),
    dc_tokh AS (
      SELECT doc_id, source, t, list_transform(t, tok ->
          CAST(('0x' || substr(md5(tok), 1, 13)) AS BIGINT)) AS th
      FROM dc_d),
    dc_h AS (
      SELECT doc_id, source, list_transform(range(1, greatest(len(th)-2, 0)+1), i ->
          list_reduce(list_prepend(CAST(0 AS BIGINT), th[i:i+2]),
            (acc, x) -> (acc*31 + x) % 1000000007)) AS hs
      FROM dc_tokh WHERE len(th) >= 3),
    cp AS (SELECT doc_id, unnest(hs) AS g, unnest(range(1, len(hs)+1)) AS pc
           FROM dc_h WHERE source <> 'src0'),
    bp AS (SELECT doc_id AS bench_id, unnest(hs) AS g, unnest(range(1, len(hs)+1)) AS pb
           FROM dc_h WHERE source = 'src0'),
    hits AS (SELECT doc_id, bench_id, pc, pc - pb AS diag FROM cp JOIN bp USING (g)),
    runs AS (SELECT doc_id, bench_id, diag, pc,
                    pc - row_number() OVER (PARTITION BY doc_id, bench_id, diag ORDER BY pc) AS grp
             FROM hits),
    islands AS (SELECT doc_id, MIN(pc) AS s, COUNT(*) AS c
                FROM runs GROUP BY doc_id, bench_id, diag, grp
                HAVING COUNT(*) + 2 >= 10),
    maskpos AS (SELECT DISTINCT doc_id, unnest(range(s, s + c + 2)) AS tpos
                FROM islands),
    toks AS (SELECT doc_id, unnest(t) AS tok, unnest(range(1, len(t)+1)) AS tpos
             FROM dc_d WHERE source <> 'src0'),
    kept AS (SELECT toks.* FROM toks LEFT JOIN maskpos m USING (doc_id, tpos)
             WHERE m.tpos IS NULL),
    reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS clean_text,
                   COUNT(*) AS n_kept
            FROM kept GROUP BY doc_id),
    tot AS (SELECT doc_id, text, CAST(len(t) AS BIGINT) AS n_tokens
            FROM dc_d WHERE source <> 'src0')
    SELECT tot.doc_id,
           CASE WHEN tot.n_tokens - COALESCE(reb.n_kept, 0) = 0 THEN tot.text
                ELSE COALESCE(reb.clean_text, '') END AS clean_text,
           tot.n_tokens,
           CAST(tot.n_tokens - COALESCE(reb.n_kept, 0) AS BIGINT) AS n_masked_tokens
    FROM tot LEFT JOIN reb USING (doc_id)
    """,
)
def decontaminate_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination by EXCISION (Lee et al. 2022 ExactSubstr,
    cross-set): the ≥10-token runs decontaminate_lcs FLAGS are here
    CUT from the corpus docs, token-exact, and every doc is rebuilt
    from its survivors — keep the document, lose the quote.  On the
    fixture the 2 planted contaminated docs lose exactly their shared
    spans; the other ~437 pass through byte-identical (the oracle
    hashes full reconstructed text, so the no-op path is pinned as
    hard as the masked one)."""
    from hpaste_spark.operators.dedup import mask_shared_runs

    d = _t(spark, sf_dir, "documents")
    return mask_shared_runs(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
        n=3,
        min_shared_tokens=10,
    )


# shared by the corpus-self ExactSubstr pair/mask twins: positional
# 10-gram hashes over ALL documents (train-train, no benchmark split),
# total-occurrence cap 64, self-join hits + diagonal-island runs —
# mirrors dedup._self_run_islands step for step (DuckDB positions are
# 1-based where Spark's posexplode is 0-based; diag differences and
# island counts are base-invariant)
_EXSUB_CHAIN = """
    es_d AS (
      SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0),
    es_th AS (
      SELECT doc_id, t, list_transform(t, tok ->
          substr(md5(tok), 1, 13)) AS th
      FROM es_d),
    es_h AS (
      SELECT doc_id, list_transform(range(1, greatest(len(th)-9, 0)+1), i ->
          md5(array_to_string(th[i:i+9], ','))) AS hs
      FROM es_th WHERE len(th) >= 10),
    es_p AS (SELECT doc_id, unnest(hs) AS g, unnest(range(1, len(hs)+1)) AS pos
             FROM es_h),
    es_keep AS (SELECT g FROM es_p GROUP BY g HAVING COUNT(*) <= 64),
    es_pf AS (SELECT es_p.* FROM es_p JOIN es_keep USING (g)),
    es_hits AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, b.pos AS pb,
                       a.pos - b.pos AS diag
                FROM es_pf a JOIN es_pf b USING (g)
                WHERE a.doc_id < b.doc_id),
    es_runs AS (SELECT id_a, id_b, diag, pb,
                       pb - row_number() OVER (
                         PARTITION BY id_a, id_b, diag ORDER BY pb) AS grp
                FROM es_hits)
"""


@q(
    "dedup_exact_substr_pairs",
    f"""
    WITH {_EXSUB_CHAIN},
    es_spans AS (SELECT id_a, id_b, COUNT(*) + 9 AS shared
                 FROM es_runs GROUP BY id_a, id_b, diag, grp)
    SELECT id_a, id_b, CAST(MAX(shared) AS BIGINT) AS lcs_tokens
    FROM es_spans GROUP BY id_a, id_b
    """,
)
def dedup_exact_substr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-SELF ExactSubstr detection (Lee et al. 2022 train-train —
    VERDICT r7 #1): every pair of training documents sharing a ≥10
    consecutive-token run, with the exact longest run length.  Where
    Lee et al. build a suffix array, the distributed form blocks on
    the 10-token gram hash itself — the tightest sound block key: a
    qualifying pair MUST collide on one (unlike MinHash bands, which
    by design ignore a long quote between globally-dissimilar docs,
    or CDC chunks, which can straddle a short run), and any collision
    already IS a shared 10-token run.  Ubiquitous boilerplate grams
    are dropped at >64 total occurrences (LSH's max_bucket guardrail;
    the fixture max is 3, so nothing is dropped here).  On sf0.01 the
    25 planted near-dup pairs surface with runs of 14-93 tokens."""
    from hpaste_spark.operators.dedup import exact_substr_pairs

    d = _t(spark, sf_dir, "documents")
    return exact_substr_pairs(d, min_shared_tokens=10, max_occ=64)


@q(
    "dedup_exact_substr_mask",
    f"""
    WITH {_EXSUB_CHAIN},
    es_isl AS (SELECT id_b AS doc_id, MIN(pb) AS s, COUNT(*) AS c
               FROM es_runs GROUP BY id_a, id_b, diag, grp),
    es_mp AS (SELECT DISTINCT doc_id, unnest(range(s, s + c + 9)) AS tpos
              FROM es_isl),
    es_toks AS (SELECT doc_id, unnest(t) AS tok,
                       unnest(range(1, len(t)+1)) AS tpos
                FROM es_d),
    es_kept AS (SELECT es_toks.* FROM es_toks LEFT JOIN es_mp m
                USING (doc_id, tpos) WHERE m.tpos IS NULL),
    es_reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS clean_text,
                      COUNT(*) AS n_kept
               FROM es_kept GROUP BY doc_id),
    es_tot AS (SELECT doc_id, text, CAST(len(t) AS BIGINT) AS n_tokens FROM es_d)
    SELECT es_tot.doc_id,
           CASE WHEN es_tot.n_tokens - COALESCE(es_reb.n_kept, 0) = 0
                THEN es_tot.text
                ELSE COALESCE(es_reb.clean_text, '') END AS clean_text,
           es_tot.n_tokens,
           CAST(es_tot.n_tokens - COALESCE(es_reb.n_kept, 0) AS BIGINT)
             AS n_masked_tokens
    FROM es_tot LEFT JOIN es_reb USING (doc_id)
    """,
)
def dedup_exact_substr_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-SELF ExactSubstr EXCISION (Lee et al. 2022): each ≥10-token
    run shared between two training docs is kept in the lower-id doc
    and cut token-exact from the higher-id one (keep='first' at
    token-run granularity) — the strongest published dedup treatment
    the pipeline offered only approximately before (dedup_cdc cuts at
    chunk, not token, boundaries).  All 500 fixture docs come back;
    the oracle hashes full reconstructed text, so the ~475 untouched
    docs pin the no-op path as hard as the masked ones."""
    from hpaste_spark.operators.dedup import exact_substr_mask

    d = _t(spark, sf_dir, "documents")
    return exact_substr_mask(d, min_shared_tokens=10, max_occ=64)


@q(
    "prof_exact_substr_savings",
    f"""
    WITH {_EXSUB_CHAIN},
    es_isl AS (SELECT id_b AS doc_id, MIN(pb) AS s, COUNT(*) AS c
               FROM es_runs GROUP BY id_a, id_b, diag, grp),
    es_mp AS (SELECT DISTINCT doc_id, unnest(range(s, s + c + 9)) AS tpos
              FROM es_isl),
    es_msk AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_masked
               FROM es_mp GROUP BY doc_id),
    es_tot AS (SELECT d.doc_id, d.source,
                      CAST(len(es_d.t) AS BIGINT) AS n_tokens
               FROM documents d JOIN es_d ON es_d.doc_id = d.doc_id)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN m.n_masked IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_masked,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(COALESCE(m.n_masked, 0)) AS BIGINT) AS n_masked_tokens,
           CAST(SUM(COALESCE(m.n_masked, 0)) * 1000000 // SUM(n_tokens) AS BIGINT)
             AS savings_ppm
    FROM es_tot LEFT JOIN es_msk m USING (doc_id)
    GROUP BY source
    """,
)
def prof_exact_substr_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token savings of SUB-DOCUMENT dedup — the
    prof_dedup_savings twin at ExactSubstr granularity: how many
    tokens does keep-first shared-run excision cut from each source,
    when whole-doc exact dedup would have reported the docs as unique?
    The two reports side by side are the mixture designer's case for
    running the more expensive pass (whole-doc savings ≈ 0 on a corpus
    of lightly-edited near-dups; substring savings is the real
    number).  Derived from the exact_substr_mask relation: one
    source-keyed rollup of masked-token counts, integer ppm."""
    from hpaste_spark.operators.dedup import exact_substr_mask

    d = _t(spark, sf_dir, "documents")
    masked = exact_substr_mask(d, min_shared_tokens=10, max_occ=64)
    src = d.select("doc_id", "source")
    return (
        masked.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_masked_tokens") > 0).cast("long")).alias(
                "n_docs_masked"
            ),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_masked_tokens").alias("n_masked_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_docs_masked",
            "n_tokens",
            "n_masked_tokens",
            F.expr("n_masked_tokens * 1000000 div n_tokens").alias("savings_ppm"),
        )
    )


@q(
    "prof_ngram_novelty",
    """
    WITH nov_t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                   FROM documents WHERE length(trim(text)) > 0),
    nov_g AS (SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id, unnest(list_transform(
            range(1, greatest(len(w)-4, 0)+1),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                 || w[i+3] || ' ' || w[i+4])) AS g
        FROM nov_t)),
    nov_f AS (SELECT doc_id, g, MIN(doc_id) OVER (PARTITION BY g) AS fdoc
              FROM nov_g)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN doc_id = fdoc THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           CAST(1000000 * SUM(CASE WHEN doc_id = fdoc THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS novelty_ppm
    FROM nov_f GROUP BY doc_id
    """,
)
def prof_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence 5-gram novelty per document in curriculum
    (doc_id) order — profile.ngram_novelty over the documents table:
    what fraction of each arriving document's distinct 5-grams has the
    training run never seen before?  The decaying tail of this curve
    is the live measurement behind the dedup-savings reports
    (prof_dedup_savings / prof_exact_substr_savings): gram mass that
    is not novel is mass a dedup pass could have cut."""
    from hpaste_spark.operators.profile import ngram_novelty

    return ngram_novelty(_t(spark, sf_dir, "documents"), n=5)


#: DuckDB twin of dedup._bloom_h1h2/_bloom_bit — Kirsch-Mitzenmacher
#: family 2: bit_i = (h1 + i·h2) mod m from TWO 52-bit slices of ONE
#: md5(value) digest, h2 forced odd; keep in lockstep with the Spark
#: expressions (dedup.BLOOM_FAMILY)
def _bloom_bit_sql(v: str, i: str, m: int) -> str:
    h1 = f"CAST(('0x' || substr(md5(CAST({v} AS VARCHAR)), 1, 13)) AS BIGINT)"
    h2 = f"(CAST(('0x' || substr(md5(CAST({v} AS VARCHAR)), 14, 13)) AS BIGINT) | 1)"
    return f"(({h1} + {i} * {h2}) % {m})"


@q(
    "decontaminate_bloom",
    f"""
    WITH {_DECON_CHAIN},
    blb AS (SELECT DISTINCT {_bloom_bit_sql('g', 'i', 16384)} AS bit
            FROM (SELECT DISTINCT g FROM dc_bg) bgd, range(3) r(i)),
    blp AS (SELECT doc_id, g, {_bloom_bit_sql('g', 'i', 16384)} AS bit
            FROM dc_cg, range(3) r(i)),
    blf AS (SELECT doc_id, g FROM blp JOIN blb USING (bit)
            GROUP BY doc_id, g HAVING COUNT(*) = 3)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_flagged
    FROM blf GROUP BY doc_id
    """,
)
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination when the BLOCKLIST side is itself too big to
    broadcast raw: the benchmark's distinct 5-grams compress into a
    16384-bit Bloom filter — the broadcast is the ≤16k-row set-bit
    table, fixed size no matter how many eval suites / opt-out lists /
    PII hashes go in.  Conservative by construction (false positives
    over-flag at the rate bloom_fp_eval prices; false negatives are
    impossible), deterministic md5 probes, so the oracle replays the
    exact same filter bit-for-bit."""
    from hpaste_spark.operators.dedup import bloom_decontaminate

    d = _t(spark, sf_dir, "documents")
    return bloom_decontaminate(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
        n=5,
        m_bits=16384,
        k_hashes=3,
    )


@q(
    "bloom_fp_eval",
    f"""
    WITH {_DECON_CHAIN},
    cgd AS (SELECT DISTINCT g FROM dc_cg),
    bgd AS (SELECT DISTINCT g FROM dc_bg),
    blb AS (SELECT DISTINCT {_bloom_bit_sql('g', 'i', 16384)} AS bit
            FROM bgd, range(3) r(i)),
    blp AS (SELECT g, {_bloom_bit_sql('g', 'i', 16384)} AS bit
            FROM cgd, range(3) r(i)),
    blf AS (SELECT g FROM blp JOIN blb USING (bit)
            GROUP BY g HAVING COUNT(*) = 3),
    ex AS (SELECT cgd.g FROM cgd JOIN bgd USING (g)),
    st AS (SELECT
      (SELECT COUNT(*) FROM cgd) AS n_grams,
      (SELECT COUNT(*) FROM blf) AS n_hit_bloom,
      (SELECT COUNT(*) FROM ex) AS n_hit_exact,
      (SELECT COUNT(*) FROM blf WHERE g NOT IN (SELECT g FROM ex)) AS n_false_pos,
      (SELECT COUNT(*) FROM ex WHERE g NOT IN (SELECT g FROM blf)) AS n_false_neg)
    SELECT 16384 AS m_bits, 3 AS k_hashes,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_hit_bloom AS BIGINT) AS n_hit_bloom,
           CAST(n_hit_exact AS BIGINT) AS n_hit_exact,
           CAST(n_false_pos AS BIGINT) AS n_false_pos,
           CAST(n_false_neg AS BIGINT) AS n_false_neg,
           ROUND(n_false_pos * 1.0 / (n_grams - n_hit_exact), 6) AS fp_rate
    FROM st
    """,
)
def bloom_fp_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grades the Bloom filter the same way the recall rows grade the
    ANN ladder: gram-level confusion of bloom membership vs the exact
    benchmark-gram join.  n_false_neg MUST be 0 (a Bloom filter cannot
    miss an inserted value — structural, and the oracle verifies it);
    fp_rate is the empirical (1−e^{-kn/m})^k price of compressing the
    blocklist to 16384 bits."""
    from hpaste_spark.functions.text import shingle_hashes
    from hpaste_spark.operators.dedup import (_bloom_h1h2, _bloom_mask_test,
                                              bloom_bits, bloom_mask)

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)

    def grams(df):
        return df.select(
            F.explode(F.array_distinct(shingle_hashes(F.col("text"), 5))).alias("g")
        ).distinct()

    cg = grams(d.filter(F.col("source") != "src0"))
    bg = grams(d.filter(F.col("source") == "src0"))
    bits = bloom_bits(bg, "g", m_bits=16384, k_hashes=3, distinct=False)
    # r13 single-pass confusion (guide §2.4): per distinct corpus gram,
    # bloom membership is a map-side mask test and exact membership one
    # left join against the distinct benchmark grams; ONE aggregate
    # derives all five counters.  The pre-r13 form ran five separate
    # aggregate branches (bloom join + two anti-joins + two counts)
    # over re-derived gram relations.
    h1, h2 = _bloom_h1h2(F.col("g"))
    marked = (
        cg.select("g", h1.alias("_h1"), h2.alias("_h2"))
        .crossJoin(F.broadcast(bloom_mask(bits, 16384, bits_distinct=False)))
        .withColumn(
            "_ib",
            _bloom_mask_test(F.col("_h1"), F.col("_h2"), F.col("_mask"), 16384, 3)
            .cast("int"),
        )
        .join(bg.withColumn("_ie", F.lit(1)), "g", "left")
    )
    zero = F.lit(0).cast("long")
    return marked.agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.coalesce(F.sum("_ib"), zero).alias("n_hit_bloom"),
        F.count("_ie").alias("n_hit_exact"),
        F.coalesce(
            F.sum(
                F.when((F.col("_ib") == 1) & F.col("_ie").isNull(), 1).otherwise(0)
            ),
            zero,
        ).alias("n_false_pos"),
        F.coalesce(
            F.sum(
                F.when((F.col("_ib") == 0) & F.col("_ie").isNotNull(), 1).otherwise(0)
            ),
            zero,
        ).alias("n_false_neg"),
    ).select(
        F.lit(16384).alias("m_bits"),
        F.lit(3).alias("k_hashes"),
        "n_grams",
        "n_hit_bloom",
        "n_hit_exact",
        "n_false_pos",
        "n_false_neg",
        F.round(
            F.col("n_false_pos") / (F.col("n_grams") - F.col("n_hit_exact")), 6
        ).alias("fp_rate"),
    )


#: v2 = Kirsch-Mitzenmacher double-hash probe family (dedup.BLOOM_FAMILY
#: 2) — v1 artifacts hold family-1 bits and must rebuild (the ADVICE-r6
#: stored-index-versioning lesson, applied at the same time as the
#: family change, not after)
_BLOOM_FILTER_VERSION = 4  # r16: meta.json, journaled appends


def _ensure_bloom_filter(spark: SparkSession, sf_dir: str) -> str:
    """The write-once Bloom blocklist over the benchmark docs (source
    src0) that the stored batch and streaming decontamination probe."""
    from hpaste_spark.operators.dedup import build_bloom_filter

    d = _t(spark, sf_dir, "documents")
    return ensure_artifact(
        _SCRATCH, "bloom_filter", sf_dir, "documents", _BLOOM_FILTER_VERSION,
        lambda path: build_bloom_filter(
            d.filter(F.col("source") == "src0"), path,
            n=5, m_bits=16384, k_hashes=3,
        ),
    )


@q(
    "decontaminate_bloom_stored",
    f"""
    WITH {_DECON_CHAIN},
    blb AS (SELECT DISTINCT {_bloom_bit_sql('g', 'i', 16384)} AS bit
            FROM (SELECT DISTINCT g FROM dc_bg) bgd, range(3) r(i)),
    blp AS (SELECT doc_id, g, {_bloom_bit_sql('g', 'i', 16384)} AS bit
            FROM dc_cg, range(3) r(i)),
    blf AS (SELECT doc_id, g FROM blp JOIN blb USING (bit)
            GROUP BY doc_id, g HAVING COUNT(*) = 3)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_flagged
    FROM blf GROUP BY doc_id
    """,
)
def decontaminate_bloom_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination off a WRITE-ONCE Bloom blocklist artifact
    (VERDICT r6 #3): build_bloom_filter persists the ≤16k-row set-bit
    table + a geometry meta row once per blocklist; every ingest run
    then probes by reading those rows instead of re-hashing the
    benchmark corpus — the build_ivf_index posture applied to
    decontamination.  The md5 probes are deterministic, so the stored
    bits are the identical relation the in-plan form computes — same
    oracle as decontaminate_bloom."""
    from hpaste_spark.operators.dedup import decontaminate_bloom_stored

    d = _t(spark, sf_dir, "documents")
    path = _ensure_bloom_filter(spark, sf_dir)
    return decontaminate_bloom_stored(
        spark, path, d.filter(F.col("source") != "src0")
    )


# Bloom bits are monotone (the filter IS the union of every insert's
# bit set), so append(A, B) == build(A ∪ B) bit-for-bit and the probe
# result is the same relation — same oracle as decontaminate_bloom
_ORACLES["decontaminate_bloom_appended"] = _ORACLES["decontaminate_bloom"]


@q("decontaminate_bloom_appended", None)
def decontaminate_bloom_appended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination off an APPEND-refreshed Bloom blocklist (the
    round-9 standing-artifact posture at the Bloom layer): the filter
    is built on HALF the benchmark (src0 docs with even doc_id — 'the
    eval suites we had'), then append_artifact inserts the other
    half ('the opt-out list that arrived Tuesday') — only the new
    material is hashed, only its not-yet-set bits are appended, and
    the meta version bumps.  Bloom bits are monotone, so the refreshed
    filter is bit-identical to a one-shot build over the full
    benchmark and the full-benchmark oracle hash-gates the probe.
    A crash between build and append leaves no completion marker, so
    the filter is rebuilt from scratch rather than serving the
    half-filter (whose false negatives would let Tuesday's opt-outs
    ship)."""
    from hpaste_spark.operators.dedup import (
        build_bloom_filter,
        decontaminate_bloom_stored,
    )

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("source") == "src0")

    def build(path: str) -> None:
        build_bloom_filter(
            bench.filter(F.col("doc_id") % 2 == 0), path,
            n=5, m_bits=16384, k_hashes=3,
        )
        append_artifact(
            spark, path, bench.filter(F.col("doc_id") % 2 == 1)
        )

    path = ensure_artifact(
        _SCRATCH, "bloom_filter_appended", sf_dir, "documents",
        _BLOOM_FILTER_VERSION, build,
    )
    return decontaminate_bloom_stored(
        spark, path, d.filter(F.col("source") != "src0")
    )


@q(
    "text_zipf_slope",
    """
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    tc AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t ORDER BY c DESC, t LIMIT 50),
    rk AS (SELECT t, c, row_number() OVER (ORDER BY c DESC, t) AS r FROM tc),
    l AS (SELECT list(struct_pack(r := r, c := c) ORDER BY r) AS a FROM rk),
    s AS (SELECT len(a) AS n,
      list_reduce(list_prepend(0.0, list_transform(a, e -> ln(CAST(e.r AS DOUBLE)))), (x,y) -> x+y) AS sx,
      list_reduce(list_prepend(0.0, list_transform(a, e -> ln(CAST(e.c AS DOUBLE)))), (x,y) -> x+y) AS sy,
      list_reduce(list_prepend(0.0, list_transform(a, e -> ln(CAST(e.r AS DOUBLE)) * ln(CAST(e.c AS DOUBLE)))), (x,y) -> x+y) AS sxy,
      list_reduce(list_prepend(0.0, list_transform(a, e -> ln(CAST(e.r AS DOUBLE)) * ln(CAST(e.r AS DOUBLE)))), (x,y) -> x+y) AS sxx
      FROM l)
    SELECT CAST(n AS BIGINT) AS n_terms,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) + 0.0 AS zipf_slope
    FROM s
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus Zipf-law fit: least-squares slope of ln(freq) over
    ln(rank) across the top-50 terms — the standard corpus-health
    diagnostic (natural text ≈ −1; template/boilerplate corpora skew
    shallower, spammy repetition steeper).

    Determinism: the top-50 selection is a distributed top-k
    (TakeOrderedAndProject, count-desc/term tie-break) and ranking
    happens AFTER the limit; the four ln-sums then fold SEQUENTIALLY
    over the rank-sorted array on both engines (F.aggregate /
    list_reduce in identical order), so no shuffle-order float
    nondeterminism reaches the 4 dp output.  At 100 TB the only
    corpus-sized work is one map-side-combined term count."""
    from pyspark.sql import Window

    from hpaste_spark.functions.text import tokens

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    tc = (
        d.select(F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = tc.orderBy(F.col("c").desc(), "t").limit(50)
    ranked = top.withColumn(
        "r", F.row_number().over(Window.orderBy(F.col("c").desc(), "t"))
    )
    agg = ranked.agg(
        F.array_sort(F.collect_list(F.struct(F.col("r"), F.col("c")))).alias("a")
    )
    a = F.col("a")
    lr = lambda e: F.log(e["r"].cast("double"))  # noqa: E731
    lc = lambda e: F.log(e["c"].cast("double"))  # noqa: E731
    s = agg.select(
        F.size(a).cast("double").alias("n"),
        F.aggregate(a, F.lit(0.0), lambda acc, e: acc + lr(e)).alias("sx"),
        F.aggregate(a, F.lit(0.0), lambda acc, e: acc + lc(e)).alias("sy"),
        F.aggregate(a, F.lit(0.0), lambda acc, e: acc + lr(e) * lc(e)).alias("sxy"),
        F.aggregate(a, F.lit(0.0), lambda acc, e: acc + lr(e) * lr(e)).alias("sxx"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        (
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
                4,
            )
            + F.lit(0.0)
        ).alias("zipf_slope"),
    )


@q(
    "prof_embedding_stats",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    d AS (SELECT CAST(i-1 AS INT) AS pos, e[i] AS x FROM v, range(1, 65) AS r(i))
    SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(x), 6) + 0.0 AS mean,
           ROUND(STDDEV_POP(x), 6) + 0.0 AS std,
           ROUND(MIN(x), 6) + 0.0 AS min_x,
           ROUND(MAX(x), 6) + 0.0 AS max_x
    FROM d GROUP BY pos
    """,
)
def prof_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION embedding profile (mean/std/min/max over the
    corpus) — the drift/health recon for embedding pipelines the way
    prof_table_stats is for relational columns: a collapsed dim, a
    shifted mean, or a blown-out std flags a bad encoder batch before
    it poisons an ANN index.  One posexplode → map-side-combined
    hash-agg keyed by dim — 64 groups regardless of corpus size, so
    the reduce side is constant-width at 100 TB."""
    from hpaste_spark.functions.vectors import as_double

    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select(F.posexplode(as_double(F.col("embedding"))).alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.avg("x"), 6) + F.lit(0.0)).alias("mean"),
            (F.round(F.stddev_pop("x"), 6) + F.lit(0.0)).alias("std"),
            (F.round(F.min("x"), 6) + F.lit(0.0)).alias("min_x"),
            (F.round(F.max("x"), 6) + F.lit(0.0)).alias("max_x"),
        )
    )


@q(
    "sim_matryoshka_recall",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    qv AS (SELECT e AS qe, e[1:32] AS qpe FROM v WHERE vec_id = 0),
    pt AS (SELECT vec_id FROM (
      SELECT p.vec_id, row_number() OVER (ORDER BY
          CASE WHEN sqrt(list_dot_product(p.pe, p.pe)) * sqrt(list_dot_product(q.qpe, q.qpe)) = 0
               THEN 0.0
               ELSE list_dot_product(p.pe, q.qpe)
                 / (sqrt(list_dot_product(p.pe, p.pe)) * sqrt(list_dot_product(q.qpe, q.qpe)))
          END DESC, p.vec_id) AS rk
      FROM (SELECT vec_id, e[1:32] AS pe FROM v) p, qv q) WHERE rk <= 10),
    ft AS (SELECT vec_id FROM (
      SELECT v.vec_id, row_number() OVER (ORDER BY
          CASE WHEN sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.qe, q.qe)) = 0
               THEN 0.0
               ELSE list_dot_product(v.e, q.qe)
                 / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.qe, q.qe)))
          END DESC, v.vec_id) AS rk
      FROM v, qv q) WHERE rk <= 10)
    SELECT 10 AS k, CAST(COUNT(*) AS BIGINT) AS n_hit,
           ROUND(COUNT(*) / 10.0, 2) AS recall_at_k
    FROM pt JOIN ft USING (vec_id)
    """,
)
def sim_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style PREFIX retrieval graded against full-dim truth:
    exact cosine top-10 using only the first 32 of 64 dims vs the
    full-vector top-10 — recall@10 prices the MRL trade (half the scan
    bytes and FLOPs per candidate, a first-pass ranker whose survivors
    re-rank at full width).  Same grading posture as sim_pq_recall /
    sim_ivfadc_recall; both top-ks are distributed, the query vector
    broadcasts, and the prefix slice is a pure projection (at 100 TB,
    store the prefix as its own column family and the first pass never
    reads the tail bytes at all)."""
    from hpaste_spark.functions.vectors import as_double, cosine

    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", as_double(F.col("embedding")).alias("e"))
    qv = e.filter(F.col("vec_id") == 0).select(
        F.col("e").alias("qe"), F.slice(F.col("e"), 1, 32).alias("qpe")
    )

    def topk(df, vec, qcol):
        return (
            df.crossJoin(F.broadcast(qv))
            .withColumn("cs", cosine(vec, F.col(qcol)))
            .orderBy(F.col("cs").desc(), "vec_id")
            .limit(10)
            .select("vec_id")
        )

    prefix_top = topk(
        e.select("vec_id", F.slice(F.col("e"), 1, 32).alias("pe")),
        F.col("pe"), "qpe",
    )
    full_top = topk(e, F.col("e"), "qe")
    return prefix_top.join(full_top, "vec_id").agg(
        F.lit(10).alias("k"),
        F.count(F.lit(1)).alias("n_hit"),
        (F.round(F.count(F.lit(1)) / 10.0, 2)).alias("recall_at_k"),
    )


@q(
    "sim_sq8_recall",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    s AS (SELECT vec_id, e,
                 ROUND(list_max(list_transform(e, x -> abs(x))) / 127.0, 9) AS scale
          FROM v),
    qv AS (SELECT vec_id,
                  CASE WHEN scale = 0 THEN list_transform(e, x -> 0.0)
                       ELSE list_transform(e, x -> CAST(ROUND(x / scale) AS DOUBLE))
                  END AS q8
           FROM s),
    qq AS (SELECT q8 AS qq8 FROM qv WHERE vec_id = 0),
    qt AS (SELECT vec_id FROM (
      SELECT p.vec_id, row_number() OVER (ORDER BY ROUND(
          CASE WHEN sqrt(list_dot_product(p.q8, p.q8))
                    * sqrt(list_dot_product(q.qq8, q.qq8)) = 0 THEN 0.0
               ELSE list_dot_product(p.q8, q.qq8)
                 / (sqrt(list_dot_product(p.q8, p.q8))
                    * sqrt(list_dot_product(q.qq8, q.qq8)))
          END, 6) DESC, p.vec_id) AS rk
      FROM qv p, qq q) WHERE rk <= 10),
    ft AS (SELECT vec_id FROM (
      SELECT v.vec_id, row_number() OVER (ORDER BY
          CASE WHEN sqrt(list_dot_product(v.e, v.e))
                    * sqrt(list_dot_product(q2.qe, q2.qe)) = 0 THEN 0.0
               ELSE list_dot_product(v.e, q2.qe)
                 / (sqrt(list_dot_product(v.e, v.e))
                    * sqrt(list_dot_product(q2.qe, q2.qe)))
          END DESC, v.vec_id) AS rk
      FROM v, (SELECT e AS qe FROM v WHERE vec_id = 0) q2) WHERE rk <= 10)
    SELECT 10 AS k, CAST(COUNT(*) AS BIGINT) AS n_hit,
           ROUND(COUNT(*) / 10.0, 2) AS recall_at_k
    FROM qt JOIN ft USING (vec_id)
    """,
)
def sim_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization (int8) retrieval graded against full-
    precision truth: cosine top-10 over symmetrically quantized codes
    (functions.vectors.quantize_int8, the vec_quantize_int8 storage
    leg) vs the exact float top-10 — recall@10 prices the 4×
    byte-shrink the way sim_pq_recall prices PQ's 128×.  Per-vector
    scale cancels out of cosine, so the quantized scores use the raw
    int codes directly (integer dots are EXACT in doubles at 64 dims —
    no fold-order noise on either engine).  Completes the compression-
    grading ladder: SQ8 / MRL-prefix / PQ / residual-IVFADC."""
    from hpaste_spark.functions.vectors import as_double, cosine

    emb = _t(spark, sf_dir, "embeddings")
    qz = V.quantize_int8(F.col("embedding"))
    q8 = emb.select("vec_id", qz["q"].alias("q8"))
    qq = q8.filter(F.col("vec_id") == 0).select(F.col("q8").alias("qq8"))
    sq_top = (
        q8.crossJoin(F.broadcast(qq))
        .withColumn("cs", F.round(cosine(F.col("q8"), F.col("qq8")), 6))
        .orderBy(F.col("cs").desc(), "vec_id")
        .limit(10)
        .select("vec_id")
    )
    e = emb.select("vec_id", as_double(F.col("embedding")).alias("e"))
    qe = e.filter(F.col("vec_id") == 0).select(F.col("e").alias("qe"))
    full_top = (
        e.crossJoin(F.broadcast(qe))
        .withColumn("cs", cosine(F.col("e"), F.col("qe")))
        .orderBy(F.col("cs").desc(), "vec_id")
        .limit(10)
        .select("vec_id")
    )
    return sq_top.join(full_top, "vec_id").agg(
        F.lit(10).alias("k"),
        F.count(F.lit(1)).alias("n_hit"),
        (F.round(F.count(F.lit(1)) / 10.0, 2)).alias("recall_at_k"),
    )


@q(
    "vec_kmeans_lloyd",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    p0 AS (SELECT vec_id % 8 AS cid, i, AVG(e[i]) AS m
           FROM v, range(1, 65) AS r(i) GROUP BY vec_id % 8, i),
    c0 AS (SELECT cid, list(ROUND(m, 6) ORDER BY i) AS cvec FROM p0 GROUP BY cid),
    s1 AS (SELECT v.vec_id, c.cid,
                  list_dot_product(v.e, c.cvec)
                    / (sqrt(list_dot_product(v.e, v.e))
                       * sqrt(list_dot_product(c.cvec, c.cvec))) AS cc
           FROM v, c0 c),
    a1 AS (SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
        FROM s1) WHERE rn = 1),
    p1 AS (SELECT a.cid, i, AVG(v.e[i]) AS m
           FROM v JOIN a1 a USING (vec_id), range(1, 65) AS r(i)
           GROUP BY a.cid, i),
    c1 AS (SELECT cid, list(ROUND(m, 6) ORDER BY i) AS cvec FROM p1 GROUP BY cid),
    s2 AS (SELECT v.vec_id, c.cid,
                  list_dot_product(v.e, c.cvec)
                    / (sqrt(list_dot_product(v.e, v.e))
                       * sqrt(list_dot_product(c.cvec, c.cvec))) AS cc
           FROM v, c1 c),
    a2 AS (SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
        FROM s2) WHERE rn = 1),
    cnt AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members FROM a2 GROUP BY cid)
    SELECT c0.cid, COALESCE(cnt.n_members, 0) AS n_members,
           ROUND(list_sum(list_transform(range(1, 65),
               i -> (c1.cvec[i] - c0.cvec[i]) * (c1.cvec[i] - c0.cvec[i]))), 6)
             + 0.0 AS shift
    FROM c0 JOIN c1 USING (cid) LEFT JOIN cnt USING (cid)
    """,
)
def vec_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One genuine Lloyd refinement, hash-gated end-to-end (the
    ivf_centroids docstring's `iterations` path was previously covered
    only by an invariant test): seed centroids from the id%k partition
    means, re-assign every vector (cosine argmax, the ivf_assign
    contract), re-average to c1, then report per-cluster membership
    under c1 plus the squared centroid shift ‖c1−c0‖² — the
    convergence telemetry a real k-means driver loops on.  Shape per
    iteration: posexplode → (cid,pos) map-side-combined hash-agg →
    re-assemble; the centroid-dim broadcast is k·d-gated so the same
    code survives auto-k corpus scale."""
    from hpaste_spark.operators.similarity import ivf_assign, ivf_centroids

    emb = _t(spark, sf_dir, "embeddings")
    c0 = ivf_centroids(emb, 8, iterations=1).select(
        "cid", F.col("cvec").alias("_c0")
    )
    c1 = ivf_centroids(emb, 8, iterations=2).select(
        "cid", F.col("cvec").alias("_c1")
    )
    counts = (
        ivf_assign(emb, c1.select("cid", F.col("_c1").alias("cvec")), n_dim_rows=8 * 64)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_members"))
    )
    diff = F.zip_with(F.col("_c1"), F.col("_c0"), lambda a, b: (a - b) * (a - b))
    return (
        c0.join(c1, "cid")
        .join(counts, "cid", "left")
        .select(
            "cid",
            F.coalesce(F.col("n_members"), F.lit(0)).alias("n_members"),
            (
                F.round(F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x), 6)
                + F.lit(0.0)
            ).alias("shift"),
        )
    )


@q(
    "vec_kmeans_two_level",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    p0 AS (SELECT vec_id % 4 AS cid, i, AVG(e[i]) AS m
           FROM v, range(1, 65) AS r(i) GROUP BY vec_id % 4, i),
    c0 AS (SELECT cid, list(ROUND(m, 6) ORDER BY i) AS cvec FROM p0 GROUP BY cid),
    s1 AS (SELECT v.vec_id, c.cid,
                  list_dot_product(v.e, c.cvec)
                    / (sqrt(list_dot_product(v.e, v.e))
                       * sqrt(list_dot_product(c.cvec, c.cvec))) AS cc
           FROM v, c0 c),
    a1 AS (SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
        FROM s1) WHERE rn = 1),
    p1 AS (SELECT a.cid, i, AVG(v.e[i]) AS m
           FROM v JOIN a1 a USING (vec_id), range(1, 65) AS r(i)
           GROUP BY a.cid, i),
    c1 AS (SELECT cid, list(ROUND(m, 6) ORDER BY i) AS cvec FROM p1 GROUP BY cid),
    s2 AS (SELECT v.vec_id, c.cid,
                  list_dot_product(v.e, c.cvec)
                    / (sqrt(list_dot_product(v.e, v.e))
                       * sqrt(list_dot_product(c.cvec, c.cvec))) AS cc
           FROM v, c1 c),
    a2 AS (SELECT vec_id, cid AS cid1 FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
        FROM s2) WHERE rn = 1),
    m2 AS (SELECT v.vec_id, a.cid1, v.e FROM v JOIN a2 a USING (vec_id)),
    p20 AS (SELECT cid1, vec_id % 3 AS scid, i, AVG(e[i]) AS m
            FROM m2, range(1, 65) AS r(i) GROUP BY cid1, vec_id % 3, i),
    c20 AS (SELECT cid1, scid, list(ROUND(m, 6) ORDER BY i) AS cvec
            FROM p20 GROUP BY cid1, scid),
    s21 AS (SELECT m2.vec_id, m2.cid1, c.scid,
                   list_dot_product(m2.e, c.cvec)
                     / (sqrt(list_dot_product(m2.e, m2.e))
                        * sqrt(list_dot_product(c.cvec, c.cvec))) AS cc
            FROM m2 JOIN c20 c ON m2.cid1 = c.cid1),
    a21 AS (SELECT vec_id, cid1, scid FROM (
        SELECT vec_id, cid1, scid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, scid) AS rn
        FROM s21) WHERE rn = 1),
    p21 AS (SELECT a.cid1, a.scid, i, AVG(m2.e[i]) AS m
            FROM m2 JOIN a21 a USING (vec_id), range(1, 65) AS r(i)
            GROUP BY a.cid1, a.scid, i),
    c21 AS (SELECT cid1, scid, list(ROUND(m, 6) ORDER BY i) AS cvec
            FROM p21 GROUP BY cid1, scid),
    s22 AS (SELECT m2.vec_id, m2.cid1, c.scid,
                   list_dot_product(m2.e, c.cvec)
                     / (sqrt(list_dot_product(m2.e, m2.e))
                        * sqrt(list_dot_product(c.cvec, c.cvec))) AS cc
            FROM m2 JOIN c21 c ON m2.cid1 = c.cid1),
    a22 AS (SELECT vec_id, cid1, scid FROM (
        SELECT vec_id, cid1, scid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, scid) AS rn
        FROM s22) WHERE rn = 1),
    cnt AS (SELECT cid1, scid, CAST(COUNT(*) AS BIGINT) AS n_members
            FROM a22 GROUP BY cid1, scid)
    SELECT c20.cid1, c20.scid, COALESCE(cnt.n_members, 0) AS n_members,
           ROUND(list_sum(list_transform(range(1, 65),
               i -> (c21.cvec[i] - c20.cvec[i]) * (c21.cvec[i] - c20.cvec[i]))), 6)
             + 0.0 AS shift
    FROM c20 JOIN c21 USING (cid1, scid) LEFT JOIN cnt USING (cid1, scid)
    """,
)
def vec_kmeans_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical k-means TRAINING hash-gated end-to-end (VERDICT r6
    #2 — flat Lloyd's re-assignment scores all k centroids per vector,
    n·k·d, the same super-linear term flat assignment had): Lloyd-
    refine k1=4 coarse centroids, freeze the cells, Lloyd-refine k2=3
    sub-centroids WITHIN each cell (re-assignment joins on (cid1, pos)
    — a vector never scores another cell's sub-centroids).  Reports
    per (cid1, scid): final membership and the level-2 refinement
    shift ‖c21−c20‖² — the convergence telemetry.  Training cost
    n·(2·k1 + 2·k2)·d vs flat n·2·(k1·k2)·d; the oracle replays both
    Lloyd chains."""
    from hpaste_spark.functions.vectors import as_double
    from hpaste_spark.operators.similarity import (_sub_assign, _sub_means,
                                                   ivf_assign, ivf_centroids)

    emb = _t(spark, sf_dir, "embeddings")
    k1, k2, dim = 4, 3, 64
    # level-1 Lloyd trained ONCE and persisted (k1 rows): the seed/
    # refined/count branches below would otherwise each replay the
    # whole coarse train inside their own subtree (3× n·k1·d·iters —
    # measured 4.9s → this shape is the two_level_centroids algorithm
    # inlined around one shared cents1)
    # localCheckpoint (eager), not persist(): it cuts the Lloyd lineage
    # so the three consumer branches share the materialized k1 rows,
    # WITHOUT leaving a named cache entry behind — repeated bench/
    # correctness invocations in one session would otherwise
    # accumulate never-evicted persisted plans (each call builds a new
    # plan, so cache entries are never reused); checkpoint RDDs are
    # GC'd with the DataFrame by the ContextCleaner
    cents1 = ivf_centroids(emb, k1, iterations=2).localCheckpoint()
    a1 = ivf_assign(emb, cents1, n_dim_rows=k1 * dim).withColumnRenamed(
        "cid", "cid1"
    )
    from pyspark.storagelevel import StorageLevel

    # v feeds FOUR branches (seed means, the refine assign, the refined
    # means' join, the membership count) — uncut, the coarse assign
    # replays per branch (r13: 74 exchanges / 52 scans in this plan).
    # Lazy DISK_ONLY per the corpus-memory rule.
    v = (
        emb.select("vec_id", as_double(F.col("embedding")).alias("e"))
        .join(a1, "vec_id")
        .localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    )
    # both k1·k2-row sub-centroid tables are read twice (c20: the shift
    # diff + the refine assign; c21: the shift diff + the count assign)
    # — cut each so its corpus-dim aggregation runs once (same
    # localCheckpoint-not-persist rationale as cents1 above)
    c20_t = _sub_means(
        v.select("vec_id", "cid1", (F.col("vec_id") % k2).alias("scid"), "e")
    ).localCheckpoint()
    c21_t = _sub_means(
        v.join(
            _sub_assign(v, c20_t, k1 * k2 * dim).select("vec_id", "scid"), "vec_id"
        ).select("vec_id", "cid1", "scid", "e")
    ).localCheckpoint()
    c20 = c20_t.select("cid1", "scid", F.col("cvec").alias("_c0"))
    c21 = c21_t.select("cid1", "scid", F.col("cvec").alias("_c1"))
    counts = (
        _sub_assign(v, c21_t, k1 * k2 * dim)
        .groupBy("cid1", "scid")
        .agg(F.count(F.lit(1)).alias("n_members"))
    )
    diff = F.zip_with(F.col("_c1"), F.col("_c0"), lambda a, b: (a - b) * (a - b))
    return (
        c20.join(c21, ["cid1", "scid"])
        .join(counts, ["cid1", "scid"], "left")
        .select(
            "cid1",
            "scid",
            F.coalesce(F.col("n_members"), F.lit(0)).alias("n_members"),
            (
                F.round(F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x), 6)
                + F.lit(0.0)
            ).alias("shift"),
        )
    )


@q(
    "text_perplexity_bucket",
    f"""
    WITH {_BACKOFF_CHAIN},
    dl AS (SELECT doc_id, ROUND(-AVG(lp), 4) AS logprob FROM lp GROUP BY doc_id),
    st AS (SELECT ROUND(AVG(logprob), 6) AS mu,
                  ROUND(STDDEV_POP(logprob), 6) AS sd FROM dl),
    bk AS (SELECT CASE WHEN logprob <= mu - 0.5 * sd THEN 'head'
                       WHEN logprob > mu + 0.5 * sd THEN 'tail'
                       ELSE 'middle' END AS bucket, logprob
           FROM dl, st)
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(logprob), 4) + 0.0 AS avg_nll
    FROM bk GROUP BY bucket
    """,
)
def text_perplexity_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al.
    2020) over the Stupid-Backoff doc scores: corpus μ/σ thresholds
    (broadcast scalars — deliberately NOT a global NTILE, which would
    single-partition the window at corpus scale) split the pool into
    the quality bands a curriculum sampler mixes from.  Oracle
    composes the shared _BACKOFF_CHAIN, so the LM underneath is
    byte-identical to text_bigram_backoff's."""
    from hpaste_spark.operators.corpus import perplexity_buckets

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    return perplexity_buckets(d, vocab_size=1000, min_bigram_count=2, band=0.5)


# shared by dsir_importance_weights and the pipe_target_corpus
# composite; ds_w is the per-raw-doc (doc_id, n_tokens, log_weight)
_DSIR_CHAIN = r"""
    ds_d AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS t
               FROM documents WHERE length(trim(text)) > 0),
    ds_tok AS (SELECT doc_id, source,
                   CAST(('0x' || substr(md5(tk), 1, 13)) AS BIGINT) % 1024 AS b
            FROM (SELECT doc_id, source, unnest(t) AS tk FROM ds_d)),
    ds_tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM ds_tok
            WHERE source = 'src0' GROUP BY b),
    ds_rawc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM ds_tok
             WHERE source <> 'src0' GROUP BY b),
    ds_tt AS (SELECT CAST(SUM(ct) AS BIGINT) AS t FROM ds_tgt),
    ds_tr AS (SELECT CAST(SUM(cr) AS BIGINT) AS r FROM ds_rawc),
    ds_feat AS (SELECT COALESCE(ds_tgt.b, ds_rawc.b) AS b,
                    ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE) / (ds_tt.t + 1024))
                  - ln(CAST(COALESCE(cr, 0) + 1 AS DOUBLE) / (ds_tr.r + 1024)) AS lw
             FROM ds_tgt FULL JOIN ds_rawc ON ds_tgt.b = ds_rawc.b, ds_tt, ds_tr),
    ds_w AS (SELECT ds_tok.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                    ROUND(SUM(lw), 4) + 0.0 AS log_weight
             FROM ds_tok JOIN ds_feat USING (b) WHERE ds_tok.source <> 'src0'
             GROUP BY ds_tok.doc_id)
"""


@q(
    "dsir_importance_weights",
    f"""
    WITH {_DSIR_CHAIN}
    SELECT doc_id, n_tokens, log_weight FROM ds_w
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): hashed-unigram importance
    weights for every raw-pool doc (source != src0) against the src0
    target domain — ln p̂_target/p̂_raw summed over the doc's token
    buckets, add-one smoothed over 1024 hashed features.  The two
    bag-of-buckets models collapse to ≤1024 rows each, so the
    log-ratio table broadcasts and the corpus streams through a single
    bucket equi-join — the raw side never shuffles before the per-doc
    rollup.  Resample ∝ exp(log_weight) downstream (weighted_sample)
    to tilt a web crawl toward the target domain."""
    from hpaste_spark.operators.sampling import dsir_weights

    d = _t(spark, sf_dir, "documents")
    return dsir_weights(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
        n_buckets=1024,
    )


#: the quality_score formula as DuckDB SQL (mirrors functions.text
#: quality_score: 0.5·len + 0.3·stopword + 0.2·(1−punct), rounded 4dp)
@q(
    "pipe_target_corpus",
    f"""
    WITH {_DECON_CHAIN}, {_DSIR_CHAIN},
    flagged AS (SELECT DISTINCT dc_cg.doc_id FROM dc_cg JOIN dc_bg USING (g)),
    mu AS (SELECT ROUND(AVG(log_weight), 6) AS m FROM ds_w),
    q AS (SELECT doc_id, source, {_QUALITY_SQL} AS quality
          FROM documents WHERE length(trim(text)) > 0 AND source <> 'src0'),
    sel AS (SELECT q.doc_id, q.source, w.n_tokens, w.log_weight
            FROM q JOIN ds_w w USING (doc_id)
            LEFT JOIN flagged f ON q.doc_id = f.doc_id, mu
            WHERE f.doc_id IS NULL AND w.log_weight > mu.m AND q.quality >= 0.5)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           ROUND(AVG(log_weight), 4) + 0.0 AS avg_log_weight
    FROM sel GROUP BY source
    """,
)
def pipe_target_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-6 ops composed into the selection pipeline a
    target-domain training run actually executes: DECONTAMINATE the
    raw pool against the held-out set (anti-join the 5-gram collision
    list), keep docs the DSIR model scores MORE target-leaning than
    the corpus-mean weight (a broadcast scalar — absolute weights are
    smoothing-shifted, only the ordering is meaningful, which is why
    the DSIR paper RESAMPLES by weight) that also clear the heuristic
    quality gate, and
    report the per-source makeup of the surviving pool (doc/token
    counts + mean importance weight — the mixture-table input).
    Composition stays one pass over the corpus: the contamination
    list and the 1024-row DSIR feature table broadcast, the per-doc
    weight join is doc_id-co-partitioned, and the rollup is a
    map-side-combined hash-agg."""
    from hpaste_spark.operators.dedup import decontaminate_ngram as _dc
    from hpaste_spark.operators.sampling import dsir_weights

    d = _t(spark, sf_dir, "documents")
    corpus = d.filter(F.col("source") != "src0")
    bench = d.filter(F.col("source") == "src0")
    flagged = _dc(corpus, bench, n=5).select("doc_id")
    w = dsir_weights(corpus, bench, n_buckets=1024)
    mu = w.agg(F.round(F.avg("log_weight"), 6).alias("_mu"))
    q = corpus.select("doc_id", "source", X.quality_score(F.col("text")).alias("quality"))
    sel = (
        q.join(w, "doc_id")
        .join(flagged, "doc_id", "left_anti")
        .crossJoin(F.broadcast(mu))
        .filter((F.col("log_weight") > F.col("_mu")) & (F.col("quality") >= 0.5))
    )
    return sel.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        (F.round(F.avg("log_weight"), 4) + F.lit(0.0)).alias("avg_log_weight"),
    )


@q(
    "text_quality_vs_lm",
    f"""
    WITH {_BACKOFF_CHAIN},
    dl AS (SELECT doc_id, ROUND(-AVG(lp), 4) AS logprob FROM lp GROUP BY doc_id),
    qd AS (SELECT doc_id, {_QUALITY_SQL} AS q
           FROM documents WHERE length(trim(text)) > 0)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(corr(q, logprob), 6) AS quality_nll_corr
    FROM qd JOIN dl USING (doc_id)
    """,
)
def text_quality_vs_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-calibration telemetry: Pearson correlation between the
    cheap heuristic quality_score and the Stupid-Backoff NLL across
    the corpus — 'does the zero-cost gate agree with the model-based
    scorer?' is the question every pipeline answers before replacing
    LM scoring with heuristics on the 100 TB tail.  One doc-keyed
    equi-join of two per-doc score tables into a single-pass corr
    aggregate (same grade-the-approximation posture as the ANN recall
    rows, pointed at the quality stack)."""
    from hpaste_spark.operators.corpus import bigram_backoff_logprob

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    lp = bigram_backoff_logprob(d, vocab_size=1000, min_bigram_count=2)
    qd = d.select("doc_id", X.quality_score(F.col("text")).alias("q"))
    return qd.join(lp, "doc_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.corr("q", "logprob"), 6).alias("quality_nll_corr"),
    )


@q(
    "filter_quality_threshold",
    f"""
    WITH fq AS (SELECT doc_id, source, {_QUALITY_SQL} AS quality
                FROM documents WHERE length(trim(text)) > 0),
    fc AS (SELECT source, quality, CAST(COUNT(*) AS BIGINT) AS n
           FROM fq GROUP BY source, quality),
    fcum AS (SELECT source, quality, n,
                    CAST(SUM(n) OVER (PARTITION BY source ORDER BY quality DESC) AS BIGINT) AS cum
             FROM fc),
    ftot AS (SELECT source, CAST(SUM(n) AS BIGINT) AS ntot FROM fc GROUP BY source),
    fthr AS (SELECT source,
                    COALESCE(MIN(CASE WHEN cum <= CEIL(0.3 * ntot) THEN quality END),
                             MAX(quality)) AS threshold
             FROM fcum JOIN ftot USING (source) GROUP BY source),
    fk AS (SELECT fq.source, threshold, CAST(COUNT(*) AS BIGINT) AS n_kept
           FROM fq JOIN fthr USING (source)
           WHERE quality >= threshold GROUP BY fq.source, threshold)
    SELECT fk.source, threshold, n_kept, ntot AS n_total,
           ROUND(n_kept * 1.0 / ntot, 4) AS kept_frac
    FROM fk JOIN ftot USING (source)
    """,
)
def filter_quality_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb-style per-source quality gating at corpus scale: keep
    the top ~30% of each source by heuristic quality score.  The
    obvious plan — percent_rank partitioned by source — funnels each
    source through ONE task (sources are few; at 100 TB that is a
    terabyte sort per task).  quality_threshold_filter instead runs
    the two-phase threshold plan: a map-side-combined count per
    (source, 4dp-quality) — a tiny table no matter the corpus size —
    a window over THAT, and one broadcast-threshold filter pass.  The
    rollup here reports each source's threshold and realized keep
    fraction (ties are never split, so the fraction can exceed the
    target — that is the documented semantics, not noise)."""
    from hpaste_spark.operators.sampling import quality_threshold_filter

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    scored = d.select(
        "doc_id", "source", X.quality_score(F.col("text")).alias("quality")
    )
    # the per-source total rides the operator's broadcast threshold row
    # (derived from the tiny (source, quality) counts table, exactly as
    # the oracle's ftot is) — a separate scored.groupBy here was a THIRD
    # full quality-scan of the corpus
    kept = quality_threshold_filter(
        scored, "quality", "source", keep_frac=0.3, with_group_total=True
    )
    return (
        kept.groupBy("source", "threshold")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.max("_ntot").alias("n_total"),
        )
        .select(
            "source",
            "threshold",
            "n_kept",
            "n_total",
            F.round(F.col("n_kept") / F.col("n_total"), 4).alias("kept_frac"),
        )
    )


@q(
    "prof_quality_token_curve",
    f"""
    WITH qc AS (SELECT source, {_QUALITY_SQL} AS quality,
                       len(regexp_split_to_array(trim(text), '\\s+')) AS ntok
                FROM documents WHERE length(trim(text)) > 0),
    qb AS (SELECT source, LEAST(CAST(FLOOR(quality * 10) AS BIGINT), 9) AS b,
                  ntok FROM qc),
    qp AS (SELECT source, b, CAST(COUNT(*) AS BIGINT) AS nd,
                  CAST(SUM(ntok) AS BIGINT) AS nt
           FROM qb GROUP BY source, b)
    SELECT source, ROUND(b / 10.0, 1) AS min_quality,
           CAST(SUM(nd) OVER w AS BIGINT) AS n_docs_cum,
           CAST(SUM(nt) OVER w AS BIGINT) AS n_tokens_cum
    FROM qp
    WINDOW w AS (PARTITION BY source ORDER BY b DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def prof_quality_token_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The threshold-selection curve every quality gate is tuned from:
    per source, how many docs/tokens SURVIVE each decile quality
    cutoff ("set the bar at 0.6 and src3 keeps 48M tokens").  Corpus
    work is one map-side-combined hash-agg to ≤ sources×10 rows; the
    from-the-top cumulative window runs on that tiny table — same
    two-phase shape as filter_quality_threshold, reported instead of
    applied."""
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    qb = d.select(
        "source",
        F.least(
            F.floor(X.quality_score(F.col("text")) * 10).cast("long"), F.lit(9)
        ).alias("b"),
        X.token_count(F.col("text")).alias("ntok"),
    )
    qp = qb.groupBy("source", "b").agg(
        F.count(F.lit(1)).alias("nd"), F.sum("ntok").alias("nt")
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("b").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return qp.select(
        "source",
        F.round(F.col("b") / 10.0, 1).alias("min_quality"),
        F.sum("nd").over(w).alias("n_docs_cum"),
        F.sum("nt").over(w).alias("n_tokens_cum"),
    )


@q(
    "pack_shard_manifest",
    """
    WITH sd AS (
      SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS ntok
      FROM documents WHERE length(trim(text)) > 0
    ),
    ss AS (SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 16 AS shard,
                  ntok
           FROM sd),
    sper AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
                    CAST(SUM(ntok) AS BIGINT) AS n_tokens
             FROM ss GROUP BY shard),
    stot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS t FROM sper)
    SELECT shard, n_docs, n_tokens,
           ROUND(n_docs * 16.0 / t, 4) AS balance
    FROM sper, stot
    """,
)
def pack_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-export manifest: every doc hashes to one of 16 output
    shards (md5 of the id — stable under repartitioning, unlike row
    position), and the manifest prices each shard's doc/token load
    plus its balance ratio vs the ideal n/16.  ONE map-side-combined
    hash-agg over the corpus + a broadcast single-row total; the
    actual file write is then `.repartition(16, shard)` + partitioned
    write with exactly this layout."""
    from hpaste_spark.operators.sampling import shard_manifest

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    d = d.withColumn("_ntok", X.token_count(F.col("text")))
    return shard_manifest(d, n_shards=16, id_col="doc_id", token_count_col="_ntok")


@q(
    "mix_epoch_budget",
    r"""
    WITH mt AS (SELECT source, len(regexp_split_to_array(trim(text), '\s+')) AS ntok
                FROM documents WHERE length(trim(text)) > 0),
    ma AS (SELECT source, CAST(SUM(ntok) AS BIGINT) AS avail_tokens,
                  CAST(CASE WHEN source = 'src1' THEN 3.0
                            WHEN source = 'src2' THEN 2.0 ELSE 1.0 END AS DOUBLE) AS weight
           FROM mt GROUP BY source),
    mtot AS (SELECT CAST(SUM(avail_tokens) AS BIGINT) AS tot, SUM(weight) AS wsum FROM ma),
    md AS (SELECT source, avail_tokens, weight,
                  CAST(FLOOR(weight / wsum * 1.5 * tot) AS BIGINT) AS des,
                  CAST(FLOOR(2.0 * avail_tokens) AS BIGINT) AS cap
           FROM ma, mtot),
    mc AS (SELECT source, avail_tokens, weight, des, cap, des > cap AS capped,
                  LEAST(des, cap) AS alloc1 FROM md),
    mr AS (SELECT COALESCE(SUM(CASE WHEN capped THEN des - cap END), 0) AS leftover,
                  SUM(CASE WHEN NOT capped THEN weight END) AS uw FROM mc),
    mf AS (SELECT source, avail_tokens, weight, capped,
                  CASE WHEN NOT capped AND COALESCE(uw, 0) > 0
                       THEN alloc1 + leftover * weight / uw
                       ELSE CAST(alloc1 AS DOUBLE) END AS alloc2
           FROM mc, mr)
    SELECT source, avail_tokens, weight,
           ROUND(alloc2, 2) + 0.0 AS alloc_tokens,
           ROUND(alloc2 / avail_tokens, 4) + 0.0 AS epochs,
           capped
    FROM mf
    """,
)
def mix_epoch_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained mixture planning (Muennighoff et al. 2023):
    split a 1.5×-corpus token budget across sources weighted src1=3 /
    src2=2 / rest=1, cap every source at 2 epochs of its available
    tokens, redistribute the capped surplus to uncapped sources in ONE
    deterministic round.  Whole plan = one hash-agg over the corpus +
    broadcast-scalar arithmetic on the per-source table; desired/cap
    quantize to whole tokens so cross-row sums are exact integers
    (no float-summation-order sensitivity between engines)."""
    from hpaste_spark.operators.sampling import token_budget_mixture

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    d = d.withColumn("_ntok", X.token_count(F.col("text")))
    return token_budget_mixture(
        d,
        "_ntok",
        "source",
        weights={"src1": 3.0, "src2": 2.0},
        budget_factor=1.5,
        max_epochs=2.0,
    )


@q(
    "mix_kcenter_coreset",
    """
    WITH RECURSIVE
    kc_v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    kc_it AS (
      SELECT 1 AS sel_rank, s.vec_id AS vec_id, CAST(NULL AS DOUBLE) AS d2,
             [s.e] AS cs, [s.vec_id] AS ids
      FROM (SELECT vec_id, e FROM kc_v ORDER BY vec_id LIMIT 1) s
      UNION ALL
      SELECT sel_rank + 1, n.vec_id, n.d2,
             list_append(cs, n.e), list_append(ids, n.vec_id)
      FROM kc_it,
      LATERAL (
        SELECT v.vec_id, v.e,
               list_min(list_transform(kc_it.cs, c ->
                 list_sum(list_transform(list_zip(v.e, c),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))))) AS d2
        FROM kc_v v
        WHERE NOT list_contains(kc_it.ids, v.vec_id)
        ORDER BY d2 DESC, v.vec_id LIMIT 1
      ) n
      WHERE sel_rank < 12
    )
    SELECT sel_rank, vec_id, ROUND(d2, 6) + 0.0 AS dist2 FROM kc_it
    """,
)
def mix_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center diversity coreset (k=12) over the embeddings
    table — sampling.kcenter_select: the deterministic farthest-point
    prototypes a curator uses to seed a diverse eval panel or audit
    sample, with the selection-radius curve as coverage telemetry.
    The DuckDB twin replays the greedy recurrence as a recursive CTE
    (min-dist via list_min over the carried center list — exact-equal
    to Spark's running least(), since min is order-free and each
    pairwise distance is the same sequential double fold)."""
    from hpaste_spark.operators.sampling import kcenter_select

    return kcenter_select(_t(spark, sf_dir, "embeddings"), k=12)


@q(
    "mix_kcenter_assign",
    """
    WITH RECURSIVE
    kca_v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    kca_it AS (
      SELECT 1 AS sel_rank, s.vec_id AS vec_id, CAST(NULL AS DOUBLE) AS d2,
             [s.e] AS cs, [s.vec_id] AS ids
      FROM (SELECT vec_id, e FROM kca_v ORDER BY vec_id LIMIT 1) s
      UNION ALL
      SELECT sel_rank + 1, n.vec_id, n.d2,
             list_append(cs, n.e), list_append(ids, n.vec_id)
      FROM kca_it,
      LATERAL (
        SELECT v.vec_id, v.e,
               list_min(list_transform(kca_it.cs, c ->
                 list_sum(list_transform(list_zip(v.e, c),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))))) AS d2
        FROM kca_v v
        WHERE NOT list_contains(kca_it.ids, v.vec_id)
        ORDER BY d2 DESC, v.vec_id LIMIT 1
      ) n
      WHERE sel_rank < 12
    ),
    kca_f AS (SELECT cs, ids FROM kca_it WHERE sel_rank = 12),
    kca_d AS (SELECT v.vec_id, r.i AS sel_rank,
                     list_sum(list_transform(list_zip(v.e, f.cs[r.i]),
                       p -> (p[1]-p[2])*(p[1]-p[2]))) AS d2
              FROM kca_v v, kca_f f, range(1, 13) r(i)),
    kca_b AS (SELECT vec_id, sel_rank, d2,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d2, sel_rank) AS rn
              FROM kca_d),
    kca_g AS (SELECT sel_rank, CAST(COUNT(*) AS BIGINT) AS n_members,
                     ROUND(MAX(d2), 6) + 0.0 AS max_d2
              FROM kca_b WHERE rn = 1 GROUP BY sel_rank)
    SELECT g.sel_rank, f.ids[g.sel_rank] AS center_id, g.n_members, g.max_d2
    FROM kca_g g, kca_f f
    """,
)
def mix_kcenter_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage rollup of the k=12 greedy k-center prototypes —
    sampling.kcenter_assign: every embedding assigned to its nearest
    prototype (ties to the lower sel_rank), reported as (sel_rank,
    center_id, n_members, max_d2).  max — not mean — because a
    cross-row double SUM is summation-order-dependent between engines
    while max is order-free; it is also the operative number (the
    cluster's realized coverage radius).  The assignment is one map
    stage (array_min over k literal (d2, rank) structs — no join) plus
    a k-row hash-agg."""
    from hpaste_spark.operators.sampling import kcenter_assign

    return kcenter_assign(_t(spark, sf_dir, "embeddings"), k=12)


@q(
    "dedup_cross_source_matrix",
    """
    WITH xk AS (SELECT source,
                  md5(array_to_string(list_sort(list_distinct(
                    regexp_split_to_array(
                      trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                      ' +'))), ' ')) AS th
                FROM documents WHERE length(trim(text)) > 0),
    xp AS (SELECT th, source, CAST(COUNT(*) AS BIGINT) AS n
           FROM xk GROUP BY th, source),
    xj AS (SELECT a.source AS src_a, b.source AS src_b, a.n AS na, b.n AS nb
           FROM xp a JOIN xp b ON a.th = b.th AND a.source <= b.source),
    xn AS (SELECT src_a, src_b,
                  CAST(CASE WHEN src_a = src_b THEN na*(na-1)//2
                            ELSE na*nb END AS BIGINT) AS np
           FROM xj)
    SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_shared_texts,
           CAST(SUM(np) AS BIGINT) AS n_dup_pairs
    FROM xn WHERE np > 0 GROUP BY src_a, src_b
    """,
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate pressure between sources (the crawl-snapshot / mirror
    diagnostic read before weighting overlapping corpora): per source
    pair, distinct shared contents and total duplicate doc pairs,
    keyed by the OpenRefine-style sorted-distinct-token fingerprint
    (byte-exact md5 would be vacuous on the fixture — and on real
    crawls misses the boilerplate-jittered copies this key folds).
    Pair expansion happens on the (key, source, count) aggregate
    joined with itself on the key — fan-out bounded by the number of
    SOURCES per content, so a 100k-fold duplicate costs one row with
    n_pairs = n_a·n_b, never 10^10 doc pairs."""
    from hpaste_spark.operators.dedup import cross_source_dup_matrix

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    key = F.md5(
        F.array_join(
            F.array_sort(
                F.array_distinct(
                    F.split(
                        F.trim(
                            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
                        ),
                        " +",
                    )
                )
            ),
            " ",
        ).cast("binary")
    )
    return cross_source_dup_matrix(d, key=key)


@q(
    "dedup_lines",
    """
    WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
               FROM documents WHERE length(trim(text)) > 0),
    wx AS (SELECT doc_id, unnest(w) AS wd, unnest(range(1, len(w)+1)) AS i FROM t),
    ch AS (SELECT doc_id, CAST((i-1)//4 AS BIGINT) AS pos,
                  string_agg(wd, ' ' ORDER BY i) AS line
           FROM wx GROUP BY doc_id, (i-1)//4),
    boiler AS (SELECT line FROM (
        SELECT line, COUNT(DISTINCT doc_id) AS df FROM ch
        WHERE length(trim(line)) > 0 GROUP BY line) WHERE df >= 2),
    kept AS (SELECT ch.* FROM ch LEFT JOIN boiler b USING (line)
             WHERE b.line IS NULL),
    reb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                   COUNT(*) AS n_kept
            FROM kept GROUP BY doc_id),
    tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines FROM ch GROUP BY doc_id)
    SELECT tot.doc_id, COALESCE(reb.clean_text, '') AS clean_text, tot.n_lines,
           CAST(tot.n_lines - COALESCE(reb.n_kept, 0) AS BIGINT) AS n_removed
    FROM tot LEFT JOIN reb USING (doc_id)
    """,
)
def dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level exact dedup (RefinedWeb crawl cleaning; VERDICT r6
    #5): lines occurring in ≥2 distinct docs are boilerplate and are
    removed from EVERY doc; survivors re-assemble in order via
    JVM-side array_join.  The fixture text is single-line, so the
    query first derives deterministic pseudo-lines — 4-token chunks,
    replayed identically by the oracle (at sf0.01: ~11% of chunks are
    cross-doc repeats, so removal is real, not vacuous).  Plan: line
    groupBy + anti-join + per-doc reassembly — two shuffles, no pair
    expansion at any duplication structure."""
    from hpaste_spark.functions import text as X
    from hpaste_spark.operators.dedup import dedup_lines as _dl

    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        # materialize tokens BEFORE the chunking transform (HOF lambda
        # bodies re-evaluate per element)
        .select("doc_id", X.tokens(F.col("text")).alias("_w"))
        .select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.ceil(F.size("_w") / F.lit(4)).cast("int") - 1,
                    ),
                    lambda i: F.array_join(F.slice(F.col("_w"), i * 4 + 1, 4), " "),
                ),
                "\n",
            ).alias("text"),
        )
    )
    return _dl(d, min_df=2)


@q(
    "dedup_lines_keep_first",
    """
    WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
               FROM documents WHERE length(trim(text)) > 0),
    wx AS (SELECT doc_id, unnest(w) AS wd, unnest(range(1, len(w)+1)) AS i FROM t),
    ch AS (SELECT doc_id, CAST((i-1)//4 AS BIGINT) AS pos,
                  string_agg(wd, ' ' ORDER BY i) AS line
           FROM wx GROUP BY doc_id, (i-1)//4),
    boiler AS (SELECT line, keeper FROM (
        SELECT line, COUNT(DISTINCT doc_id) AS df, MIN(doc_id) AS keeper
        FROM ch WHERE length(trim(line)) > 0 GROUP BY line) WHERE df >= 2),
    kept AS (SELECT ch.* FROM ch LEFT JOIN boiler b USING (line)
             WHERE b.line IS NULL OR ch.doc_id = b.keeper),
    reb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                   COUNT(*) AS n_kept
            FROM kept GROUP BY doc_id),
    tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines FROM ch GROUP BY doc_id)
    SELECT tot.doc_id, COALESCE(reb.clean_text, '') AS clean_text, tot.n_lines,
           CAST(tot.n_lines - COALESCE(reb.n_kept, 0) AS BIGINT) AS n_removed
    FROM tot LEFT JOIN reb USING (doc_id)
    """,
)
def dedup_lines_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line dedup under the CCNet KEEP-FIRST policy: one canonical
    copy of each boilerplate line survives (in the lowest-doc_id
    holder — the deterministic analog of first-in-processing-order);
    every other holder loses it.  Same pseudo-line chunking and plan
    shape as dedup_lines — the policy only changes the anti-join
    predicate to (line removed ∧ doc ≠ keeper)."""
    from hpaste_spark.functions import text as X
    from hpaste_spark.operators.dedup import dedup_lines as _dl

    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id", X.tokens(F.col("text")).alias("_w"))
        .select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.ceil(F.size("_w") / F.lit(4)).cast("int") - 1,
                    ),
                    lambda i: F.array_join(F.slice(F.col("_w"), i * 4 + 1, 4), " "),
                ),
                "\n",
            ).alias("text"),
        )
    )
    return _dl(d, min_df=2, keep="first")


@q(
    "dedup_cdc",
    """
    WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
               FROM documents WHERE length(trim(text)) > 0),
    wx AS (SELECT doc_id, unnest(w) AS wd, unnest(range(1, len(w)+1)) AS i FROM t),
    cb AS (SELECT doc_id, i, wd,
             CASE WHEN CAST(('0x'||substr(md5(wd),1,13)) AS BIGINT) % 4 = 0
                  THEN 1 ELSE 0 END AS cut
           FROM wx),
    cc AS (SELECT doc_id, i, wd,
             COALESCE(SUM(cut) OVER (PARTITION BY doc_id ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cpos
           FROM cb),
    ch AS (SELECT doc_id, cpos, string_agg(wd, ' ' ORDER BY i) AS chunk
           FROM cc GROUP BY doc_id, cpos),
    boiler AS (SELECT chunk FROM (
        SELECT chunk, COUNT(DISTINCT doc_id) AS df FROM ch GROUP BY chunk)
        WHERE df >= 2),
    kept AS (SELECT ch.* FROM ch LEFT JOIN boiler b USING (chunk)
             WHERE b.chunk IS NULL),
    reb AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY cpos) AS clean_text,
                   COUNT(*) AS n_kept
            FROM kept GROUP BY doc_id),
    tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks FROM ch GROUP BY doc_id)
    SELECT tot.doc_id, COALESCE(reb.clean_text, '') AS clean_text, tot.n_chunks,
           CAST(tot.n_chunks - COALESCE(reb.n_kept, 0) AS BIGINT) AS n_removed
    FROM tot LEFT JOIN reb USING (doc_id)
    """,
)
def dedup_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup at CONTENT-DEFINED chunk granularity (the
    FastCDC/rsync anchoring idea applied to corpus cleaning): cut the
    token stream after every token whose 52-bit md5 prefix ≡ 0 (mod 4)
    — expected ~4-token chunks, boundaries anchored to content —
    remove chunks held by ≥2 distinct docs, reassemble survivors.
    Complements dedup_lines: fixed-width pseudo-lines lose alignment
    after one inserted token, CDC re-synchronises at the next anchor
    (measured by dedup_cdc_shift).  Plan: per-doc window prefix-sum +
    two doc-keyed shuffles + one chunk-keyed agg — no pair expansion
    at any duplication structure."""
    from hpaste_spark.operators.dedup import cdc_dedup

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    return cdc_dedup(d, divisor=4, min_df=2)


@q(
    "dedup_cdc_shift",
    """
    WITH v AS (SELECT doc_id, 'o' AS var, trim(text) AS text
               FROM documents WHERE length(trim(text)) > 0
               UNION ALL
               SELECT doc_id, 's', 'zq9x ' || trim(text)
               FROM documents WHERE length(trim(text)) > 0),
    t AS (SELECT doc_id, var, string_split(text, ' ') AS w FROM v),
    wx AS (SELECT doc_id, var, unnest(w) AS wd, unnest(range(1, len(w)+1)) AS i FROM t),
    cb AS (SELECT doc_id, var, i, wd,
             CASE WHEN CAST(('0x'||substr(md5(wd),1,13)) AS BIGINT) % 4 = 0
                  THEN 1 ELSE 0 END AS cut
           FROM wx),
    cc AS (SELECT doc_id, var, i, wd,
             COALESCE(SUM(cut) OVER (PARTITION BY doc_id, var ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cpos
           FROM cb),
    cdc AS (SELECT DISTINCT doc_id, var, chunk FROM (
        SELECT doc_id, var, cpos, string_agg(wd, ' ' ORDER BY i) AS chunk
        FROM cc GROUP BY doc_id, var, cpos)),
    fix AS (SELECT DISTINCT doc_id, var, chunk FROM (
        SELECT doc_id, var, (i-1)//4 AS cpos, string_agg(wd, ' ' ORDER BY i) AS chunk
        FROM wx GROUP BY doc_id, var, (i-1)//4)),
    cdc_rec AS (
        SELECT o.doc_id,
               CAST(1000000 * COUNT(s.chunk) // COUNT(*) AS BIGINT) AS ppm
        FROM (SELECT doc_id, chunk FROM cdc WHERE var = 'o') o
        LEFT JOIN (SELECT doc_id, chunk FROM cdc WHERE var = 's') s
          USING (doc_id, chunk)
        GROUP BY o.doc_id),
    fix_rec AS (
        SELECT o.doc_id,
               CAST(1000000 * COUNT(s.chunk) // COUNT(*) AS BIGINT) AS ppm
        FROM (SELECT doc_id, chunk FROM fix WHERE var = 'o') o
        LEFT JOIN (SELECT doc_id, chunk FROM fix WHERE var = 's') s
          USING (doc_id, chunk)
        GROUP BY o.doc_id)
    SELECT 'cdc' AS method, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ppm) AS BIGINT) AS sum_recovered_ppm
    FROM cdc_rec
    UNION ALL
    SELECT 'fixed', CAST(COUNT(*) AS BIGINT), CAST(SUM(ppm) AS BIGINT)
    FROM fix_rec
    """,
)
def dedup_cdc_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-resilience grader for content-defined vs fixed chunking —
    the empirical WHY behind dedup_cdc.  Every document gets a
    one-token prefix edit (sentinel 'zq9x', chosen non-anchor so the
    edit corrupts exactly one CDC chunk); both chunkers run on the
    original and the shifted copy; per doc we score the fraction of
    original DISTINCT chunks recovered in the shifted copy, in exact
    integer ppm.  CDC re-anchors after the edit (recovery near 1e6
    ppm, only the first chunk breaks); fixed 4-token windows lose all
    alignment (recovery near the text's self-repetition floor).
    Output: (method, n_docs, sum_recovered_ppm)."""
    from hpaste_spark.operators.dedup import cdc_chunks

    base = (
        _t(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id", F.trim(F.col("text")).alias("text"))
    )
    both = base.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit("o").alias("var"), F.col("text").alias("text")),
                F.struct(
                    F.lit("s").alias("var"),
                    F.concat(F.lit("zq9x "), F.col("text")).alias("text"),
                ),
            )
        ).alias("v"),
    ).select("doc_id", F.col("v.var").alias("var"), F.col("v.text").alias("text"))
    # composite (doc, variant) id for the chunker, split back after
    keyed = both.select(
        F.concat_ws(":", "var", F.col("doc_id").cast("string")).alias("_vid"),
        "text",
    )
    cdc = (
        cdc_chunks(keyed, id_col="_vid", divisor=4)
        .select(
            F.split("_vid", ":")[1].cast("long").alias("doc_id"),
            F.split("_vid", ":")[0].alias("var"),
            "chunk",
        )
        .distinct()
    )
    # fixed 4-token windows, HOF-only (no explode needed): chunk array
    # from materialized tokens, then explode distinct
    from hpaste_spark.functions import text as X

    fixed = (
        both.select("doc_id", "var", X.tokens(F.col("text")).alias("_w"))
        .select(
            "doc_id",
            "var",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(
                            F.lit(0),
                            F.ceil(F.size("_w") / F.lit(4)).cast("int") - 1,
                        ),
                        lambda i: F.array_join(F.slice(F.col("_w"), i * 4 + 1, 4), " "),
                    )
                )
            ).alias("chunk"),
        )
    )

    def recovery(ch: DataFrame, method: str) -> DataFrame:
        o = ch.filter(F.col("var") == "o").select("doc_id", "chunk")
        s = ch.filter(F.col("var") == "s").select("doc_id", "chunk")
        per = (
            o.join(s.withColumn("_hit", F.lit(1)), ["doc_id", "chunk"], "left")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.count("_hit").alias("_m"),
            )
            .select(
                F.expr("1000000 * _m div _n").cast("long").alias("ppm"),
            )
        )
        return per.agg(
            F.lit(method).alias("method"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ppm").alias("sum_recovered_ppm"),
        ).select("method", "n_docs", "sum_recovered_ppm")

    return recovery(cdc, "cdc").unionAll(recovery(fixed, "fixed"))


@q(
    "corpus_distinct_ngrams",
    """
    WITH t AS (SELECT source, regexp_split_to_array(trim(text), '\\s+') AS w
               FROM documents WHERE length(trim(text)) > 0),
    g AS (
      SELECT source, 1 AS n, unnest(w) AS g FROM t
      UNION ALL
      SELECT source, 2, unnest(list_transform(
          range(1, greatest(len(w)-1, 0)+1), i -> w[i] || ' ' || w[i+1])) FROM t
      UNION ALL
      SELECT source, 3, unnest(list_transform(
          range(1, greatest(len(w)-2, 0)+1),
          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) FROM t)
    SELECT source, CAST(n AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
           CAST(1000000 * COUNT(DISTINCT g) // COUNT(*) AS BIGINT) AS distinct_ppm
    FROM g GROUP BY source, n
    """,
)
def corpus_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n diversity profile per source (the text-generation
    diversity metric read before weighting a source up): for n∈{1,2,3},
    total n-grams, distinct n-grams, and the distinct ratio in exact
    integer ppm.  Low distinct_ppm at n=3 = template/boilerplate-heavy
    source (the signal behind dedup_repeated_ngrams, aggregated to the
    source level).  Plan: one tokens scan exploded three ways, one
    hash-agg per n keyed (source, n) — countDistinct rewrites to a
    two-phase expand+agg, all map-side combinable."""
    from hpaste_spark.functions import text as X

    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select("source", X.tokens(F.col("text")).alias("_w"))
    )

    def grams(n: int) -> DataFrame:
        m = F.greatest(F.size("_w") - (n - 1), F.lit(0))
        acc = F.slice(F.col("_w"), 1, m)
        for j in range(1, n):
            acc = F.zip_with(
                acc,
                F.slice(F.col("_w"), 1 + j, m),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        return d.select("source", F.lit(n).cast("long").alias("n"), F.explode(acc).alias("g"))

    out = grams(1).unionAll(grams(2)).unionAll(grams(3))
    return out.groupBy("source", "n").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.countDistinct("g").alias("n_distinct"),
        F.expr("1000000 * count(DISTINCT g) div count(1)").cast("long").alias(
            "distinct_ppm"
        ),
    )


@q(
    "corpus_source_overlap",
    """
    WITH t AS (SELECT source, regexp_split_to_array(trim(text), '\\s+') AS w
               FROM documents WHERE length(trim(text)) > 0),
    g AS (SELECT DISTINCT source, g FROM (
        SELECT source, unnest(list_transform(
            range(1, greatest(len(w)-2, 0)+1),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
        FROM t)),
    per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY source),
    px AS (SELECT a.source AS src_a, b.source AS src_b,
                  CAST(COUNT(*) AS BIGINT) AS n_shared
           FROM g a JOIN g b USING (g) WHERE a.source < b.source
           GROUP BY 1, 2)
    SELECT src_a, src_b, n_shared, pa.n AS n_a, pb.n AS n_b,
           CAST(1000000 * n_shared // (pa.n + pb.n - n_shared) AS BIGINT)
             AS jaccard_ppm
    FROM px
    JOIN per pa ON pa.source = px.src_a
    JOIN per pb ON pb.source = px.src_b
    """,
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gram-level Jaccard overlap matrix between sources — the
    "how much of source B is already in source A" diagnostic read
    before weighting overlapping corpora (the companion of
    dedup_cross_source_matrix, which counts whole-doc copies; this
    measures CONTENT overlap below doc granularity via distinct
    3-gram sets).  Exact integer ppm.

    Scale shape (round-8 rework, VERDICT r7 #5): one (source, gram)
    DISTINCT hash-agg (map-side combinable), then ONE groupBy that
    collects each gram's sorted holding-source SET and explodes its
    ≤ C(|sources|,2) pairs in place (the _bucket_pairs trick) straight
    into a map-side-combined pair count.  The previous gram-keyed
    self-join had the same asymptotics but shuffled the (source, gram)
    relation TWICE and materialized every s² join row through the join
    operator — the set form moves each row once and was measured
    8.98 → 3.81 s on the 30× probe (alpha 0.51 → 0.27), output
    byte-identical.  No df-cap: unlike an LSH candidate cap, dropping
    ubiquitous grams would bias the Jaccard statistic itself; the
    per-gram work is bounded by |sources|² regardless of gram
    frequency, so no cap is needed for boundedness."""
    from hpaste_spark.functions import text as X

    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select("source", X.tokens(F.col("text")).alias("_w"))
    )
    m = F.greatest(F.size("_w") - 2, F.lit(0))
    acc = F.slice(F.col("_w"), 1, m)
    for j in (1, 2):
        acc = F.zip_with(
            acc,
            F.slice(F.col("_w"), 1 + j, m),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    sg = d.select("source", F.explode(acc).alias("g")).distinct()
    per = sg.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    sets = (
        sg.groupBy("g")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ss"),
            lambda x, i: F.transform(
                F.slice(F.col("ss"), i + 2, F.size(F.col("ss"))),
                lambda y: F.struct(x.alias("src_a"), y.alias("src_b")),
            ),
        )
    )
    px = (
        sets.select(F.explode(pair_structs).alias("p"))
        .groupBy("p.src_a", "p.src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        px.join(
            F.broadcast(per.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))),
            "src_a",
        )
        .join(
            F.broadcast(per.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_shared",
            "n_a",
            "n_b",
            F.expr("1000000 * n_shared div (n_a + n_b - n_shared)")
            .cast("long")
            .alias("jaccard_ppm"),
        )
    )


@q(
    "pipe_export_manifest",
    f"""
    WITH {_DECON_CHAIN},
    blb AS (SELECT DISTINCT {_bloom_bit_sql('g', 'i', 16384)} AS bit
            FROM (SELECT DISTINCT g FROM dc_bg) bgd, range(3) r(i)),
    blp AS (SELECT doc_id, g, {_bloom_bit_sql('g', 'i', 16384)} AS bit
            FROM dc_cg, range(3) r(i)),
    blf AS (SELECT DISTINCT doc_id FROM (
            SELECT doc_id, g FROM blp JOIN blb USING (bit)
            GROUP BY doc_id, g HAVING COUNT(*) = 3)),
    fq AS (SELECT doc_id, source, {_QUALITY_SQL} AS quality
           FROM documents
           WHERE length(trim(text)) > 0 AND source <> 'src0'),
    fc AS (SELECT source, quality, CAST(COUNT(*) AS BIGINT) AS n
           FROM fq GROUP BY source, quality),
    fcum AS (SELECT source, quality, n,
                    CAST(SUM(n) OVER (PARTITION BY source ORDER BY quality DESC) AS BIGINT) AS cum
             FROM fc),
    ftot AS (SELECT source, CAST(SUM(n) AS BIGINT) AS ntot FROM fc GROUP BY source),
    fthr AS (SELECT source,
                    COALESCE(MIN(CASE WHEN cum <= CEIL(0.3 * ntot) THEN quality END),
                             MAX(quality)) AS threshold
             FROM fcum JOIN ftot USING (source) GROUP BY source),
    kept AS (SELECT fq.doc_id FROM fq JOIN fthr USING (source)
             WHERE quality >= threshold),
    clean AS (SELECT k.doc_id FROM kept k LEFT JOIN blf ON k.doc_id = blf.doc_id
              WHERE blf.doc_id IS NULL),
    sd AS (SELECT d.doc_id, len(regexp_split_to_array(trim(d.text), '\\s+')) AS ntok
           FROM documents d JOIN clean USING (doc_id)),
    ss AS (SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 8 AS shard,
                  ntok FROM sd),
    sper AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
                    CAST(SUM(ntok) AS BIGINT) AS n_tokens
             FROM ss GROUP BY shard),
    stot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS t FROM sper)
    SELECT shard, n_docs, n_tokens,
           ROUND(n_docs * 8.0 / t, 4) AS balance
    FROM sper, stot
    """,
)
def pipe_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAST mile of the curation pipeline as one lazy plan: keep
    each source's top ~30% by quality (two-phase threshold — no
    per-source sort), drop anything the 16384-bit Bloom filter flags
    as benchmark-contaminated (conservative: FPs over-drop, FNs
    impossible), then lay the survivors out as an 8-shard training
    export and report the manifest.  Corpus-sized work = the quality
    scan, the gram probe, and ONE final hash-agg; everything joined
    in is broadcast-sized (thresholds per source, bloom bits ≤ 16k
    rows, the flagged-doc list)."""
    from hpaste_spark.operators.dedup import bloom_decontaminate
    from hpaste_spark.operators.sampling import quality_threshold_filter, shard_manifest

    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    corpus = d.filter(F.col("source") != "src0")
    bench = d.filter(F.col("source") == "src0")
    scored = corpus.select(
        "doc_id", "source", "text", X.quality_score(F.col("text")).alias("quality")
    )
    kept = quality_threshold_filter(scored, "quality", "source", keep_frac=0.3)
    flagged = bloom_decontaminate(
        corpus, bench, n=5, m_bits=16384, k_hashes=3
    ).select("doc_id")
    clean = kept.join(flagged, "doc_id", "left_anti").withColumn(
        "_ntok", X.token_count(F.col("text"))
    )
    return shard_manifest(clean, n_shards=8, id_col="doc_id", token_count_col="_ntok")


# Rank-band contract for the quantile sketch, same posture as the HLL
# band oracles: percentile_approx(accuracy=10000) guarantees rank
# error ≤ ~1e-4, so the estimate must land within the EXACT [q−0.01,
# q+0.01] quantile values — the driver-visible check is that interval
# test, with the sketch value itself never crossing engines.
@q(
    "a5_approx_percentile_band",
    """
    SELECT event_type, COUNT(*) AS n_events,
           TRUE AS p50_in_band, TRUE AS p90_in_band
    FROM events GROUP BY event_type
    """,
)
def a5_approx_percentile_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.percentile_approx("value", 0.5, 10000).alias("_a50"),
            F.percentile_approx("value", 0.9, 10000).alias("_a90"),
            F.expr(
                "percentile(value, array(0.49D, 0.51D, 0.89D, 0.91D))"
            ).alias("_b"),
        )
        .select(
            "event_type",
            "n_events",
            # gate on group size: for n < 200 one rank step exceeds the
            # ±0.01 quantile band, so the interpolated-exact interval
            # can exclude the data value percentile_approx returns even
            # when the sketch meets its rank-error spec — assert TRUE
            # only where the band is meaningful (ADVICE r5)
            F.when(
                F.col("n_events") >= 200,
                (F.col("_a50") >= F.col("_b")[0]) & (F.col("_a50") <= F.col("_b")[1]),
            ).otherwise(F.lit(True)).alias("p50_in_band"),
            F.when(
                F.col("n_events") >= 200,
                (F.col("_a90") >= F.col("_b")[2]) & (F.col("_a90") <= F.col("_b")[3]),
            ).otherwise(F.lit(True)).alias("p90_in_band"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming registry queries — each drains a Structured Streaming job
# over the fixture replayed as a file-source stream, then returns the
# landed result as a batch DataFrame, so the SAME DuckDB oracle that
# grades the batch twin grades the STREAMING execution hash-for-hash.
# (bench.STREAMING times plan shapes; these put streaming under the
# value-correctness gate itself.)
# ---------------------------------------------------------------------------

_STREAM_SINK_SEQ = iter(range(1, 1 << 30))


def _stage_stream_dir(sf_dir: str, table: str) -> str:
    """File-source streams want a DIRECTORY; stage a per-fixture
    symlink dir around the single parquet file (same idiom as
    bench._bench_stream_stream_asof, kept separate so the registry
    never imports bench)."""
    src_dir = os.path.join(scratch_dir(_SCRATCH, "stream_src", sf_dir), table)
    os.makedirs(src_dir, exist_ok=True)
    target = os.path.join(sf_dir, f"{table}.parquet")
    # lexists: a dangling symlink must be replaced, and a same-basename
    # key must never silently stream a previous fixture; abspath because
    # a RELATIVE target would be resolved against the link's directory
    # (dangling for every relative sf_dir the batch readers accept)
    for old in os.listdir(src_dir):
        os.remove(os.path.join(src_dir, old))
    if os.path.isdir(target):
        # Spark-written fixture (the scale-probe synthetics): a
        # DIRECTORY of part files — the file stream source wants leaf
        # files directly in its glob dir, so link each part file (a
        # symlinked subdirectory would trip partition-discovery)
        for part in sorted(os.listdir(target)):
            if part.endswith(".parquet"):
                os.symlink(
                    os.path.abspath(os.path.join(target, part)),
                    os.path.join(src_dir, part),
                )
    else:
        os.symlink(
            os.path.abspath(target), os.path.join(src_dir, f"{table}.parquet")
        )
    return src_dir


def _stage_multibatch_events(sf_dir: str) -> str:
    """Split the events fixture into THREE time-ordered parquet files
    so the file stream source (maxFilesPerTrigger=1 in
    read_event_stream) replays them as three REAL micro-batches —
    watermark advancement, late-row drops, and state eviction then
    happen across genuine batch boundaries (round-8 verdict ask #3;
    every prior gated stream drained in one availableNow batch).

    The split is pure integer arithmetic so the DuckDB oracles replay
    it exactly: natural batch nb = 1 + [us >= mn+third] +
    [us >= mn+2·third] with third = (mx−mn) // 3 over epoch MICROS;
    rows with event_id % 97 == 0 are DELAYED into batch 3 — those
    from the oldest third arrive genuinely late (below the batch-3
    late-filter watermark → dropped by Spark), those from the middle
    third arrive late-but-within-delay (kept).  Files are named AND
    mtime'd in batch order (the file source sorts by mod time).

    Spark's dual-watermark rule, pinned empirically (round 9): the
    LATE-ROW FILTER of batch b uses the PREVIOUS batch's eviction
    watermark — ms-floor(max event time over batches ≤ b−2) − delay —
    so batches 1 and 2 drop nothing and batch 3 drops against
    ms-floor(max ts of batch 1) − delay; rows exactly AT the
    watermark are dropped (ts <= wm, verified at ±1 µs).  Eviction/
    emission in batch b uses ms-floor(max over batches ≤ b−1) −
    delay, and availableNow's final no-data batch emits everything up
    to the global watermark."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = os.path.join(scratch_dir(_SCRATCH, "stream_src_mb", sf_dir), "events")
    os.makedirs(out, exist_ok=True)
    for old in os.listdir(out):
        os.remove(os.path.join(out, old))
    target = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(target):
        parts = [
            os.path.join(target, p)
            for p in sorted(os.listdir(target))
            if p.endswith(".parquet")
        ]
        tbl = pa.concat_tables([pq.read_table(p) for p in parts])
    else:
        tbl = pq.read_table(target)
    ts = tbl.column("ts").combine_chunks()
    if pa.types.is_integer(ts.type):  # nanos-as-long fixture encoding
        us = ts.to_numpy().astype("int64") // 1000
    else:
        us = pc.cast(pc.cast(ts, pa.timestamp("us")), pa.int64()).to_numpy()
    eid = tbl.column("event_id").combine_chunks().to_numpy().astype("int64")
    mn = int(us.min())
    third = (int(us.max()) - mn) // 3
    nb = (
        1
        + (us >= mn + third).astype("int64")
        + (us >= mn + 2 * third).astype("int64")
    )
    ab = np.where((eid % 97 == 0) & (nb < 3), 3, nb)
    import time as _time

    now = _time.time()
    for b in (1, 2, 3):
        path = os.path.join(out, f"0{b}_batch.parquet")
        pq.write_table(tbl.filter(pa.array(ab == b)), path)
        os.utime(path, (now - 60 + 20 * b,) * 2)
    return out


_STREAM_SINK_LAST: dict = {}


def _drain_to_memory(df: DataFrame, prefix: str, timeout_s: int = 600):
    """Run a streaming DataFrame to completion (availableNow) into a
    uniquely-named memory sink; returns (spark.table handle, query).
    Unique names keep repeated driver invocations in one session from
    colliding on the sink registration; the PREVIOUS drain's table for
    the same prefix is dropped so bench reps don't accumulate landed
    row sets in driver memory (consume the returned relation before
    re-invoking the same query)."""
    name = f"{prefix}_{next(_STREAM_SINK_SEQ)}"
    prev = _STREAM_SINK_LAST.get(prefix)
    if prev is not None:
        try:
            df.sparkSession.catalog.dropTempView(prev)
        except Exception:
            pass
    _STREAM_SINK_LAST[prefix] = name
    qh = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not qh.awaitTermination(timeout_s):
        qh.stop()
        raise RuntimeError(f"{prefix} stream did not drain within {timeout_s}s")
    return df.sparkSession.table(name), qh


@contextlib.contextmanager
def _stream_partitions(spark: SparkSession, src_dir: str, python_stateful: bool = False):
    """Size the stream's shuffle/STATE partitions from the DATA it will
    ingest, not from the session default (= local core count, the
    scale-blind constant): a stateful query pins its state-store
    partition count from ``spark.sql.shuffle.partitions`` at first
    batch, AQE never coalesces it, and every micro-batch then pays a
    fixed per-partition cost (task + state-store open/commit; plus an
    Arrow→Python round-trip per partition for applyInPandasWithState).
    Rule + measured basis: hpaste_spark/streaming/sizing.py (r14;
    VERDICT r13 ask #10).  The conf is set only for the duration of the
    stream start/drain and restored after; restarted (recovered)
    queries re-derive the identical value from the same staged source,
    which also matches the count pinned in their checkpoint.

    The sizing holds only for queries that drain INSIDE the block: a
    query still running when the conf is restored would plan its later
    batches under the session default.  So leaving the block with a
    query that was started in it still active raises."""
    from hpaste_spark.streaming.sizing import (
        source_batch_bytes,
        source_batch_rows,
        stream_shuffle_partitions,
    )

    n = stream_shuffle_partitions(
        source_batch_bytes(src_dir),
        python_batch_rows=source_batch_rows(src_dir) if python_stateful else 0,
    )
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    before = {qh.id for qh in spark.streams.active}
    spark.conf.set(key, str(n))
    try:
        yield n
        running = [qh.name or qh.id for qh in spark.streams.active
                   if qh.id not in before]
        if running:
            raise RuntimeError(
                f"streaming queries {running} started inside "
                "_stream_partitions are still active at its exit; drain "
                "(awaitTermination) or stop them inside the block"
            )
    finally:
        spark.conf.set(key, old)


# the streaming execution is graded by the IDENTICAL relation the batch
# operator computes — alias the oracle instead of duplicating the SQL
# (the dedup_cluster_assign_star idiom), so a probe-family or geometry
# change can never drift the two twins apart
_ORACLES["stream_decontaminate_bloom"] = _ORACLES["decontaminate_bloom"]


@q("stream_decontaminate_bloom", None)
def stream_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom decontamination AT INGEST: the corpus replays as a file
    stream and every doc is probed against the static blocklist by
    streaming.dedup.stream_bloom_flags — a stateless map-side bit test
    against the one-row broadcast bloom_mask (r13; previously k
    chained stream-static semi-joins), no watermark, no state store,
    the always-on filter a 100 TB pipeline runs on arriving crawl data.
    The md5 probe family is deterministic, so the landed flag rows are
    the identical relation the batch operator computes and the SAME
    oracle as decontaminate_bloom grades the streaming execution
    hash-for-hash (the per-doc rollup happens batch-side on the landed
    table — counting is the one agg an append stream can't do
    statelessly).

    Since round 8 the bit table comes from the WRITE-ONCE
    build_bloom_filter artifact via stream_bloom_flags_stored — the
    production posture (geometry and probe family derived from the
    artifact's meta, never hand-typed), and the benchmark shingle pass
    drops out of every (re)start; the md5 probes are deterministic, so
    stored and recomputed bits are identical relations and the oracle
    is unchanged."""
    from hpaste_spark.streaming.dedup import stream_bloom_flags_stored

    d = _t(spark, sf_dir, "documents")
    path = _ensure_bloom_filter(spark, sf_dir)
    src = _stage_stream_dir(sf_dir, "documents")
    stream = (
        spark.readStream.schema(d.schema)
        .parquet(src)
        .filter(F.col("source") != "src0")
    )
    landed, _ = _drain_to_memory(
        stream_bloom_flags_stored(spark, path, stream), "stream_bloom"
    )
    return landed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_flagged"))


# the foreachBatch drain lands the IDENTICAL relation the batch
# operator computes (each doc lives in exactly one micro-batch, so the
# per-doc band aggregation is complete within its batch) — alias the
# batch oracle, the stream_decontaminate_bloom idiom
_ORACLES["stream_incremental_dedup"] = _ORACLES["dedup_incremental_lsh"]


@q("stream_incremental_dedup", None)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time LSH dedup UNDER the correctness gate (VERDICT r7
    #3): new docs (every 10th id) replay as a file stream; foreachBatch
    runs the exact batch operator per micro-batch against the standing
    corpus band index and APPENDS the candidate pairs to a parquet
    landing dir; the landed union is hash-checked by the SAME DuckDB
    oracle as dedup_incremental_lsh.  Semantics are batch-identical by
    construction: each incoming doc signs itself in exactly one
    micro-batch, the corpus index is never re-signed, and (batch_id,
    corpus_id, n_bands) aggregates completely within the doc's own
    batch.

    Since round 9 the band table comes from the WRITE-ONCE
    build_lsh_index artifact via stream_incremental_dedup_stored — the
    production posture (banding geometry and id column derived from
    the artifact's meta, never hand-typed; a family mismatch
    hard-errors), the same discipline stream_decontaminate_bloom
    gained in r8.  The signatures are deterministic, so stored and
    recomputed bands are identical relations and the oracle is
    unchanged."""
    import shutil

    from hpaste_spark.streaming.dedup import stream_incremental_dedup_stored

    docs = _t(spark, sf_dir, "documents")
    path = _ensure_lsh_index(spark, sf_dir)
    src = _stage_stream_dir(sf_dir, "documents")
    stream = (
        spark.readStream.schema(docs.schema)
        .parquet(src)
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .filter(F.col("doc_id") % 10 == 0)
    )
    land = scratch_dir(_SCRATCH, "stream_inc_dedup", sf_dir)
    shutil.rmtree(land, ignore_errors=True)

    def sink(out: DataFrame, batch_id: int) -> None:
        out.write.mode("append").parquet(land)

    stream_incremental_dedup_stored(
        spark, path, stream, sink, max_bucket=2000, timeout_s=600
    )
    return spark.read.parquet(land)


@q(
    "stream_tw_tumbling",
    """
    WITH stw_b AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             COUNT(*) AS n_events,
             ROUND(SUM(value::DECIMAL(12,2)), 2)::DOUBLE AS total_value
      FROM events GROUP BY 1, 2
    ),
    stw_wm AS (SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 2 HOUR AS w
               FROM events)
    SELECT window_start, event_type, n_events, total_value
    FROM stw_b, stw_wm WHERE window_start + INTERVAL 1 HOUR <= stw_wm.w
    """,
)
def stream_tw_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation UNDER the correctness
    gate — the canonical late-data pattern (readStream → withWatermark
    → window → append) drained over the events replay.  Append mode
    emits a window only once the watermark passes its end, so the
    landed set is exactly the batch windows with end ≤ final watermark
    = ms-floor(max event time) − 2h (Spark tracks watermarks in
    MILLISECONDS — the oracle mirrors the ms truncation; the trailing
    2h of windows is structurally withheld, which is the whole point
    of the pattern: nothing emits until it can no longer change).
    value sums go through the decimal money path (functions/money) so
    the streaming partial order can't wiggle the 2-dp total."""
    from hpaste_spark.streaming.events import read_event_stream

    configure_session(spark)
    src = _stage_stream_dir(sf_dir, "events")
    stream = read_event_stream(spark, src)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    with _stream_partitions(spark, src):
        landed, _ = _drain_to_memory(agg, "stream_tw")
    return landed


@q(
    "stream_session_window",
    """
    WITH ssw_t AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(LAG(ts) OVER w) >= 1800 THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), ssw_s AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM ssw_t),
    ssw_g AS (
      SELECT user_id, MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 30 MINUTE AS session_end,
             COUNT(*) AS n_events,
             ROUND(SUM(value::DECIMAL(12,2)), 2)::DOUBLE AS total_value
      FROM ssw_s GROUP BY user_id, sid),
    ssw_wm AS (SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 2 HOUR AS w
               FROM events)
    SELECT user_id, session_start, n_events, total_value
    FROM ssw_g, ssw_wm WHERE session_end <= ssw_wm.w
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native MERGING session windows under the correctness gate — the
    fourth streaming state shape after the stateless semi-join chain,
    the dropDuplicates seen-set, and the fixed tumbling window: here
    the state store MERGES intervals as late events bridge sessions,
    and a session emits only once the watermark passes its end (last
    event + 30-min gap), i.e. once no future event can extend it.  The
    landed set is exactly the batch gaps-and-islands sessions whose
    end precedes ms-floor(max event time) − 2h; an event at exactly
    gap seconds starts a NEW session (strict-overlap merge, the
    tw_session_window contract)."""
    from hpaste_spark.streaming.events import read_event_stream

    configure_session(spark)
    src = _stage_stream_dir(sf_dir, "events")
    stream = read_event_stream(spark, src)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window(F.col("ts"), "30 minutes"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )
    with _stream_partitions(spark, src):
        landed, _ = _drain_to_memory(agg, "stream_sess")
    return landed


# each micro-batch is enriched by the EXACT batch as-of operator
# against the full static right side, so the landed union equals the
# batch join regardless of how the stream splits into batches — alias
# the batch oracle
_ORACLES["stream_asof_enrich"] = _ORACLES["asof_click_attribution"]


@q("stream_asof_enrich", None)
def stream_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batch as-of ENRICHMENT under the correctness gate — the
    seventh gated streaming shape, and the foreachBatch complement of
    stream_ss_asof_attribution's custom keyed state: purchases replay
    as a file stream and every micro-batch is point-in-time joined
    against the STATIC click history by the exact batch operator
    (streaming/events.stream_asof_enrich → operators/asof.asof_join),
    landing in parquet.  Because each left row is enriched within its
    own batch against the full right side, the landed union equals the
    batch as-of join under ANY batch split — no watermark, no state —
    and the SAME DuckDB ASOF JOIN oracle grades it.  This is the
    enrich-at-ingest posture when the right side is a slowly-changing
    stored table (prices, user attributes) rather than a co-moving
    stream."""
    import shutil

    from hpaste_spark.streaming.events import read_event_stream
    from hpaste_spark.streaming.events import stream_asof_enrich as _sae

    configure_session(spark)
    ev = _t(spark, sf_dir, "events")
    # the static right side is re-read EVERY micro-batch, but click
    # history is event-scale (O(corpus)) — DISK_ONLY reuse, no heap
    # claim (corpus-memory rule, r11); a genuinely dimension-sized
    # enrich table (prices, user attrs) would persist memory-first
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event_id")
    ).persist(_DISK_ONLY)
    src = _stage_stream_dir(sf_dir, "events")
    stream = read_event_stream(spark, src)
    lefts = stream.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    land = scratch_dir(_SCRATCH, "stream_asof_enrich", sf_dir)
    shutil.rmtree(land, ignore_errors=True)

    def sink(out: DataFrame, batch_id: int) -> None:
        out.write.mode("append").parquet(land)

    try:
        _sae(
            lefts, clicks, on=["user_id"], ts_col="ts",
            payload_cols=("click_event_id",), sink=sink, timeout_s=600,
        )
    finally:
        clicks.unpersist()
    landed = spark.read.parquet(land)
    return landed.select(
        "event_id",
        "user_id",
        F.col("click_event_id_right").alias("click_event_id"),
        (epoch_us(F.col("ts")) - epoch_us(F.col("ts_right"))).alias("gap_us"),
    )


# the drained stream-stream as-of lands the identical relation the
# batch as-of join computes (single availableNow data batch → nothing
# is late; the no-data batch's event-time timeouts flush every pending
# left) — alias the batch oracle, the stream_decontaminate_bloom idiom
_ORACLES["stream_ss_asof_attribution"] = _ORACLES["asof_click_attribution"]


@q("stream_ss_asof_attribution", None)
def stream_ss_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM as-of attribution UNDER the correctness gate — the
    sixth gated streaming shape, and the first CUSTOM STATEFUL operator
    (applyInPandasWithState) to be value-hash-checked: purchases and
    clicks replay as two filtered views of one event stream, each
    purchase buffers in keyed state until the watermark proves no
    earlier click can still arrive, and emits its latest-click-at-or-
    before match exactly once.  A far-future sentinel click (unused
    key) staged as a second source file pushes the final watermark past
    every real event, so the no-data micro-batch's event-time timeouts
    flush ALL pending purchases and the landed relation equals the
    batch as-of join — the SAME DuckDB ASOF JOIN oracle as
    asof_click_attribution grades this streaming execution.  (The
    fixture has no (user_id, ts) click ties at any SF, so the match is
    unique and the hash deterministic.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hpaste_spark.streaming.events import read_event_stream, stream_stream_asof

    configure_session(spark)
    src = _stage_stream_dir(sf_dir, "events")
    # deterministic sentinel: one 2030 click on an unused key — written
    # AFTER staging (the staging pass clears the dir)
    fixture_schema = pq.read_schema(
        os.path.join(sf_dir, "events.parquet")
        if not os.path.isdir(os.path.join(sf_dir, "events.parquet"))
        else next(
            os.path.join(sf_dir, "events.parquet", p)
            for p in sorted(os.listdir(os.path.join(sf_dir, "events.parquet")))
            if p.endswith(".parquet")
        )
    )
    import pandas as pd

    sentinel = pa.Table.from_pandas(
        pd.DataFrame(
            {
                "event_id": [10**9],
                "ts": [pd.Timestamp("2030-01-01")],
                "user_id": [-1],
                "event_type": ["click"],
                "value": [0.0],
                "props": ["{}"],
            }
        ),
        schema=fixture_schema,
    )
    pq.write_table(sentinel, os.path.join(src, "zz_sentinel.parquet"))

    stream = read_event_stream(spark, src)
    lefts = stream.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    rights = stream.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event_id")
    )
    out = stream_stream_asof(
        lefts, rights, on=["user_id"], ts_col="ts",
        payload_col="click_event_id", watermark="10 minutes",
    )
    with _stream_partitions(spark, src, python_stateful=True):
        landed, _ = _drain_to_memory(out, "stream_ss_asof")
    return landed.select(
        "event_id",
        "user_id",
        F.col("click_event_id_right").alias("click_event_id"),
        (epoch_us(F.col("ts")) - epoch_us(F.col("ts_right"))).alias("gap_us"),
    )


@q(
    "stream_tw_tumbling_multibatch",
    """
    WITH mtw_e AS (SELECT ts, event_type, value, event_id,
                          epoch_us(ts) AS us
                   FROM events),
    mtw_r AS (SELECT MIN(us) AS mn, (MAX(us) - MIN(us)) // 3 AS third
              FROM mtw_e),
    mtw_a AS (SELECT ts, event_type, value,
                     CASE WHEN event_id % 97 = 0 AND nb < 3 THEN 3
                          ELSE nb END AS ab
              FROM (SELECT e.*, 1 + CAST(us >= mn + third AS INT)
                               + CAST(us >= mn + 2*third AS INT) AS nb
                    FROM mtw_e e, mtw_r)),
    mtw_wl AS (SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 2 HOUR AS w
               FROM mtw_a WHERE ab = 1),
    mtw_k AS (SELECT a.* FROM mtw_a a, mtw_wl
              WHERE NOT (a.ab = 3
                         AND date_trunc('hour', a.ts) + INTERVAL 1 HOUR
                             <= mtw_wl.w)),
    mtw_b AS (SELECT date_trunc('hour', ts) AS window_start, event_type,
                     COUNT(*) AS n_events,
                     ROUND(SUM(value::DECIMAL(12,2)), 2)::DOUBLE AS total_value
              FROM mtw_k GROUP BY 1, 2),
    mtw_fw AS (SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 2 HOUR AS w
               FROM mtw_e)
    SELECT window_start, event_type, n_events, total_value
    FROM mtw_b, mtw_fw WHERE window_start + INTERVAL 1 HOUR <= mtw_fw.w
    """,
)
def stream_tw_tumbling_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_tw_tumbling across REAL micro-batch boundaries (round-8
    verdict ask #3): the events fixture is split into three
    time-ordered files (+ every 97th event_id DELAYED into the third)
    and replayed one file per trigger, so the watermark actually
    advances between batches and Spark's late-row filter actually
    fires — delayed rows from the oldest third arrive below the
    batch-3 late watermark and are DROPPED (their windows land short
    or not at all), delayed rows from the middle third are late but
    within the 2 h delay and are KEPT.  The oracle replays the exact
    split arithmetic and Spark's dual-watermark rule (late filter =
    previous batch's eviction watermark = ms-floor(max ts of batch 1)
    − 2 h, drop at window_end <= wm inclusive — both pinned by the
    round-9 boundary experiments; see _stage_multibatch_events).  The
    callable hard-errors unless >= 3 data micro-batches actually ran,
    so the gate can never silently regress to a single-batch drain."""
    from hpaste_spark.streaming.events import read_event_stream

    configure_session(spark)
    src = _stage_multibatch_events(sf_dir)
    agg = _tw_multibatch_agg(read_event_stream(spark, src))
    with _stream_partitions(spark, src):
        landed, qh = _drain_to_memory(agg, "stream_tw_mb")
    data_batches = sum(
        1 for p in qh.recentProgress if p["numInputRows"] > 0
    )
    if data_batches < 3:
        raise RuntimeError(
            f"multibatch replay ran {data_batches} data micro-batches; "
            "expected >= 3 (one per staged file)"
        )
    _capture_stream_progress("stream_tw_tumbling_multibatch", qh)
    return landed


def _tw_multibatch_agg(stream: DataFrame) -> DataFrame:
    """The tumbling-window plan shared by the multibatch and the
    checkpoint-recovery gates (identical semantics is the point: the
    recovered run must land the exact relation the uninterrupted one
    does)."""
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


#: per-micro-batch state-store telemetry of the last execution of each
#: multibatch stream — {name: [{batchId, numInputRows, stateOperators:
#: [{operator, numRowsTotal, memoryUsedBytes}]}]}.  The measured
#: evidence behind SCALE.md's state-growth claims (round-9 verdict ask
#: #4): state rows track KEYS (windows/sessions/pending rows), not
#: input volume.
_LAST_STREAM_PROGRESS: dict = {}


def _capture_stream_progress(name: str, qh) -> None:
    rows = []
    for p in qh.recentProgress:
        ops = [
            {
                "operator": so.get("operatorName", ""),
                "numRowsTotal": so.get("numRowsTotal"),
                "memoryUsedBytes": so.get("memoryUsedBytes"),
                # r14: the pinned state partition count — evidence for
                # the data-derived sizing rule (streaming/sizing.py)
                "numShufflePartitions": so.get("numShufflePartitions"),
            }
            for so in (p.get("stateOperators") or [])
        ]
        rows.append(
            {
                "batchId": p["batchId"],
                "numInputRows": p["numInputRows"],
                "stateOperators": ops,
            }
        )
    _LAST_STREAM_PROGRESS[name] = rows


#: (run1 committed batch ids, run2 committed batch ids) of the last
#: stream_tw_tumbling_recovered execution — pytest pins restart-from-
#: checkpoint on these (run2 starts past batch 0, runs disjoint)
_LAST_RECOVERY_RUNS: dict = {}

# killed-and-recovered replay lands the identical relation the
# uninterrupted multibatch run does — that equivalence IS the gate
_ORACLES["stream_tw_tumbling_recovered"] = _ORACLES["stream_tw_tumbling_multibatch"]


@q("stream_tw_tumbling_recovered", None)
def stream_tw_tumbling_recovered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT-RECOVERY replay under the correctness gate (round-9
    verdict ask #2): the same 3-file tumbling-window stream as
    stream_tw_tumbling_multibatch, but the query is KILLED mid-stream
    (query.stop() as soon as the first data micro-batch commits) and
    restarted from the SAME checkpointLocation into a parquet sink.
    Offsets, eviction watermark, and window state recover from the
    checkpoint; the FileStreamSink's _spark_metadata commit log makes
    any torn batch invisible (its files are absent from the log and
    the batch replays) — so the landed relation hash-matches the
    UNINTERRUPTED oracle, which is the whole claim: kill + restart is
    exactly-once end to end.  Batch ids are read from the checkpoint's
    commits/ log, not recentProgress (stop() races the async progress
    reporter and can drop the event of a batch that DID commit —
    caught by the r10 full-suite run).  Hard-errors if the restarted
    run did no work, began at batch 0 (checkpoint ignored), or the two
    runs together did not commit all three staged-file batches.  The
    stop races real micro-batch timing, so a vanishingly-rare fast
    drain (run 1 finishing before the poll sees a commit) is retried
    once with a fresh checkpoint."""
    import shutil

    from hpaste_spark.streaming.events import (
        drain_parquet_with_restart,
        read_event_stream,
    )

    configure_session(spark)
    src = _stage_multibatch_events(sf_dir)
    base = scratch_dir(_SCRATCH, "stream_tw_recovered", sf_dir)
    land, ckpt = os.path.join(base, "land"), os.path.join(base, "ckpt")

    for attempt in (0, 1):
        shutil.rmtree(base, ignore_errors=True)
        agg = _tw_multibatch_agg(read_event_stream(spark, src))
        with _stream_partitions(spark, src):
            run1, run2 = drain_parquet_with_restart(
                agg, land, ckpt, stop_after_batches=1
            )
        if run2:
            break
        if attempt == 1:
            raise RuntimeError(
                "recovery run committed no batches twice — run 1 drained "
                "everything before the stop poll saw a commit"
            )
    _LAST_RECOVERY_RUNS["stream_tw_tumbling_recovered"] = (run1, run2)
    if min(run2) == 0:
        raise RuntimeError(
            "restarted query reprocessed batch 0 — checkpoint ignored"
        )
    if not {0, 1, 2} <= set(run1) | set(run2):
        # batch ids come from the checkpoint commit log (async-race-free
        # — see drain_parquet_with_restart), so missing file batches
        # mean the replay genuinely collapsed, not a reporting gap
        raise RuntimeError(
            f"kill+recovery committed batches {sorted(set(run1) | set(run2))}; "
            "expected all three staged-file batches 0,1,2"
        )
    return spark.read.parquet(land).select(
        "window_start", "event_type", "n_events", "total_value"
    )


@q(
    "stream_ss_asof_multibatch",
    """
    WITH msa_e AS (SELECT ts, event_type, user_id, event_id,
                          epoch_us(ts) AS us
                   FROM events),
    msa_r AS (SELECT MIN(us) AS mn, (MAX(us) - MIN(us)) // 3 AS third
              FROM msa_e),
    msa_a AS (SELECT ts, event_type, user_id, event_id,
                     CASE WHEN event_id % 97 = 0 AND nb < 3 THEN 3
                          ELSE nb END AS ab
              FROM (SELECT e.*, 1 + CAST(us >= mn + third AS INT)
                               + CAST(us >= mn + 2*third AS INT) AS nb
                    FROM msa_e e, msa_r)),
    msa_wl AS (SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 10 MINUTE AS w
               FROM msa_a WHERE ab = 1),
    msa_k AS (SELECT a.* FROM msa_a a, msa_wl
              WHERE NOT (a.ab = 3 AND a.ts <= msa_wl.w))
    SELECT l.event_id, l.user_id, r.event_id AS click_event_id,
           epoch_us(l.ts) - epoch_us(r.ts) AS gap_us
    FROM (SELECT * FROM msa_k WHERE event_type = 'purchase') l
    ASOF LEFT JOIN (SELECT * FROM msa_k WHERE event_type = 'click') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def stream_ss_asof_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandasWithState stream-stream as-of across REAL
    micro-batch boundaries (round-8 verdict ask #3): same three-file
    replay as stream_tw_tumbling_multibatch, plus the 2030 sentinel
    click staged as a FOURTH file so the final watermark still flushes
    every pending purchase.  Genuinely-late rows now exist: delayed
    purchases/clicks from the oldest third arrive below the batch-3
    late watermark and Spark drops them BEFORE the state function
    (row-level ts <= wm, inclusive — pinned at ±1 µs by the round-9
    boundary experiment), while middle-third delays survive and match
    correctly out of compacted state (the latest right at-or-before
    the watermark is always retained, so a late-but-kept purchase
    still finds its true backward match).  The oracle is the batch
    ASOF JOIN over exactly the kept rows — the drop predicate and the
    split arithmetic replayed in SQL.  Hard-errors unless >= 4 data
    micro-batches ran."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hpaste_spark.streaming.events import read_event_stream, stream_stream_asof

    configure_session(spark)
    src = _stage_multibatch_events(sf_dir)
    # sentinel written AFTER staging (staging clears the dir) with the
    # newest mtime → its own final micro-batch
    fixture_schema = pq.read_schema(os.path.join(src, "01_batch.parquet"))
    sentinel = pa.Table.from_pandas(
        pd.DataFrame(
            {
                "event_id": [10**9],
                "ts": [pd.Timestamp("2030-01-01")],
                "user_id": [-1],
                "event_type": ["click"],
                "value": [0.0],
                "props": ["{}"],
            }
        ),
        schema=fixture_schema,
    )
    pq.write_table(sentinel, os.path.join(src, "04_sentinel.parquet"))

    stream = read_event_stream(spark, src)
    lefts = stream.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    rights = stream.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event_id")
    )
    out = stream_stream_asof(
        lefts, rights, on=["user_id"], ts_col="ts",
        payload_col="click_event_id", watermark="10 minutes",
    )
    with _stream_partitions(spark, src, python_stateful=True):
        landed, qh = _drain_to_memory(out, "stream_ss_asof_mb")
    _capture_stream_progress("stream_ss_asof_multibatch", qh)
    data_batches = sum(
        1 for p in qh.recentProgress if p["numInputRows"] > 0
    )
    if data_batches < 4:
        raise RuntimeError(
            f"multibatch as-of ran {data_batches} data micro-batches; "
            "expected >= 4 (three splits + sentinel)"
        )
    return landed.select(
        "event_id",
        "user_id",
        F.col("click_event_id_right").alias("click_event_id"),
        (epoch_us(F.col("ts")) - epoch_us(F.col("ts_right"))).alias("gap_us"),
    )


# kill+restart of the CUSTOM-state stream lands the identical relation
# the uninterrupted multibatch run does — same oracle, same gate
_ORACLES["stream_ss_asof_recovered"] = _ORACLES["stream_ss_asof_multibatch"]


@q("stream_ss_asof_recovered", None)
def stream_ss_asof_recovered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT RECOVERY for the CUSTOM-state stream (round-11
    verdict ask #3): the applyInPandasWithState stream-stream as-of is
    the one operator whose state semantics Spark does NOT manage for
    free — the state rows (right history + pending lefts, JSON-packed)
    are hand-rolled in streaming/events.py:stream_stream_asof, so a
    recovery bug (state schema drift, non-replayable emit, timeout
    re-arm loss) would hide exactly here.  Same four-file replay as
    stream_ss_asof_multibatch (three time-thirds + the 2030 sentinel
    flush), but the query is KILLED as soon as the first data
    micro-batch commits and restarted from the same
    checkpointLocation into a parquet sink
    (streaming/events.py:drain_parquet_with_restart — batch ids from
    the checkpoint commits/ log, race-free).  The restarted run
    recovers source offsets, the eviction watermark, AND the custom
    per-key state (pending purchases not yet past the watermark, the
    compacted click history) from the checkpoint; the landed relation
    must hash-match the batch ASOF-JOIN oracle of the uninterrupted
    run — which is the whole claim: kill + restart of hand-rolled
    state is exactly-once end to end.  Hard-errors if the restart
    began at batch 0 (checkpoint ignored) or the runs together missed
    one of the four staged-file batches; a vanishingly-rare fast
    drain (run 1 finishing before the stop poll sees a commit) is
    retried once with a fresh checkpoint."""
    import shutil

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hpaste_spark.streaming.events import (
        drain_parquet_with_restart,
        read_event_stream,
        stream_stream_asof,
    )

    configure_session(spark)
    src = _stage_multibatch_events(sf_dir)
    fixture_schema = pq.read_schema(os.path.join(src, "01_batch.parquet"))
    sentinel = pa.Table.from_pandas(
        pd.DataFrame(
            {
                "event_id": [10**9],
                "ts": [pd.Timestamp("2030-01-01")],
                "user_id": [-1],
                "event_type": ["click"],
                "value": [0.0],
                "props": ["{}"],
            }
        ),
        schema=fixture_schema,
    )
    pq.write_table(sentinel, os.path.join(src, "04_sentinel.parquet"))

    base = scratch_dir(_SCRATCH, "stream_ss_asof_recovered", sf_dir)
    land, ckpt = os.path.join(base, "land"), os.path.join(base, "ckpt")

    def _asof_stream() -> DataFrame:
        stream = read_event_stream(spark, src)
        lefts = stream.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        )
        rights = stream.filter(F.col("event_type") == "click").select(
            "user_id", "ts", F.col("event_id").alias("click_event_id")
        )
        return stream_stream_asof(
            lefts, rights, on=["user_id"], ts_col="ts",
            payload_col="click_event_id", watermark="10 minutes",
        )

    for attempt in (0, 1):
        shutil.rmtree(base, ignore_errors=True)
        with _stream_partitions(spark, src, python_stateful=True):
            run1, run2 = drain_parquet_with_restart(
                _asof_stream(), land, ckpt, stop_after_batches=1
            )
        if run2:
            break
        if attempt == 1:
            raise RuntimeError(
                "recovery run committed no batches twice — run 1 drained "
                "everything before the stop poll saw a commit"
            )
    _LAST_RECOVERY_RUNS["stream_ss_asof_recovered"] = (run1, run2)
    if min(run2) == 0:
        raise RuntimeError(
            "restarted query reprocessed batch 0 — checkpoint ignored"
        )
    if not {0, 1, 2, 3} <= set(run1) | set(run2):
        raise RuntimeError(
            f"kill+recovery committed batches {sorted(set(run1) | set(run2))}; "
            "expected all four staged-file batches 0,1,2,3"
        )
    return spark.read.parquet(land).select(
        "event_id",
        "user_id",
        F.col("click_event_id_right").alias("click_event_id"),
        (epoch_us(F.col("ts")) - epoch_us(F.col("ts_right"))).alias("gap_us"),
    )


@q(
    "stream_session_window_multibatch",
    """
    WITH mss_e AS (SELECT ts, user_id, value, event_id, epoch_us(ts) AS us
                   FROM events),
    mss_r AS (SELECT MIN(us) AS mn, (MAX(us) - MIN(us)) // 3 AS third
              FROM mss_e),
    mss_a AS (SELECT ts, user_id, value,
                     CASE WHEN event_id % 97 = 0 AND nb < 3 THEN 3
                          ELSE nb END AS ab
              FROM (SELECT e.*, 1 + CAST(us >= mn + third AS INT)
                               + CAST(us >= mn + 2*third AS INT) AS nb
                    FROM mss_e e, mss_r)),
    mss_wla AS (SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 2 HOUR AS w
                FROM mss_a WHERE ab = 1),
    mss_t1 AS (SELECT user_id, ts, value,
                      CASE WHEN LAG(ts) OVER w IS NULL
                            OR epoch(ts) - epoch(LAG(ts) OVER w) >= 1800
                           THEN 1 ELSE 0 END AS new_s
               FROM mss_a WHERE ab <= 2
               WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    mss_s1 AS (SELECT user_id, ts, value,
                      SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sid
               FROM mss_t1),
    mss_g1 AS (SELECT user_id, sid, MIN(ts) AS session_start,
                      MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                      COUNT(*) AS n_events,
                      ROUND(SUM(value::DECIMAL(12,2)), 2)::DOUBLE AS total_value
               FROM mss_s1 GROUP BY user_id, sid),
    mss_e1 AS (SELECT g.user_id, g.session_start, g.n_events, g.total_value
               FROM mss_g1 g, mss_wla WHERE g.session_end <= mss_wla.w),
    mss_rr AS (SELECT s.user_id, s.ts, s.value
               FROM mss_s1 s JOIN mss_g1 g USING (user_id, sid), mss_wla
               WHERE g.session_end > mss_wla.w),
    mss_k3 AS (SELECT user_id, ts, value FROM mss_a, mss_wla
               WHERE ab = 3 AND ts + INTERVAL 30 MINUTE > mss_wla.w),
    mss_u AS (SELECT * FROM mss_rr UNION ALL SELECT * FROM mss_k3),
    mss_t2 AS (SELECT user_id, ts, value,
                      CASE WHEN LAG(ts) OVER w IS NULL
                            OR epoch(ts) - epoch(LAG(ts) OVER w) >= 1800
                           THEN 1 ELSE 0 END AS new_s
               FROM mss_u
               WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    mss_s2 AS (SELECT user_id, ts, value,
                      SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sid
               FROM mss_t2),
    mss_g2 AS (SELECT user_id, sid, MIN(ts) AS session_start,
                      MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                      COUNT(*) AS n_events,
                      ROUND(SUM(value::DECIMAL(12,2)), 2)::DOUBLE AS total_value
               FROM mss_s2 GROUP BY user_id, sid),
    mss_wg AS (SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 2 HOUR AS w
               FROM mss_e),
    mss_l2 AS (SELECT g.user_id, g.session_start, g.n_events, g.total_value
               FROM mss_g2 g, mss_wg WHERE g.session_end <= mss_wg.w)
    SELECT user_id, session_start, n_events, total_value FROM mss_e1
    UNION ALL
    SELECT user_id, session_start, n_events, total_value FROM mss_l2
    """,
)
def stream_session_window_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGING session windows across REAL micro-batch boundaries —
    the state shape the tumbling/as-of multibatch replays don't cover:
    session state must merge, evict, and survive late rows between
    genuine batches.  Same three-file replay as
    stream_tw_tumbling_multibatch (every 97th event_id delayed into
    batch 3).  Semantics pinned by this round's boundary experiments
    (exp at ±1 s around each watermark, /tmp discarded, rules below):

    1. the late filter of batch 3 drops a row iff its INITIAL window
       end  ts + gap <= wm_A  (INCLUSIVE; wm_A = ms-floor(max ts of
       batch 1) − 2 h) — the window-END rule of tumbling aggregates,
       not the row-level ts rule of stateful ops;
    2. eviction is merge-THEN-evict: a session in state is extended by
       a kept late row BEFORE the batch's eviction check, so it emits
       merged (one row), never split;
    3. a kept late row that overlaps a session ALREADY emitted in an
       earlier batch starts a fresh session — the landed multiset may
       contain OVERLAPPING session rows for one user (state is gone;
       append mode never retracts).

    The oracle replays exactly that: E1 = sessions over batches 1–2
    with end <= wm_A (emitted at batch 2's eviction), then the
    leftover rows union the kept batch-3 rows re-sessionize and land
    those with end <= the global watermark.  Hard-errors unless >= 3
    data micro-batches ran."""
    from hpaste_spark.streaming.events import read_event_stream

    configure_session(spark)
    src = _stage_multibatch_events(sf_dir)
    stream = read_event_stream(spark, src)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window(F.col("ts"), "30 minutes"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )
    with _stream_partitions(spark, src):
        landed, qh = _drain_to_memory(agg, "stream_sess_mb")
    _capture_stream_progress("stream_session_window_multibatch", qh)
    data_batches = sum(
        1 for p in qh.recentProgress if p["numInputRows"] > 0
    )
    if data_batches < 3:
        raise RuntimeError(
            f"multibatch session replay ran {data_batches} data "
            "micro-batches; expected >= 3 (one per staged file)"
        )
    return landed


@q(
    "stream_dedup_exact",
    """
    SELECT DISTINCT md5(text) AS text_hash
    FROM documents WHERE length(trim(text)) > 0
    """,
)
def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup AT INGEST (the crawler's seen-set): the document
    stream is keyed by content hash and dropDuplicates' keyed state
    store admits each hash once — the STATEFUL streaming complement to
    stream_decontaminate_bloom's stateless filter.  The emitted rows
    are the distinct hash SET (which doc carries a hash first is
    arrival-order-dependent, so only the key is emitted — the batch
    keep-policy variants live in dedup_exact / dedup_near_keep_best).
    At production scale the state is bounded with an event-time
    watermark per retention window; the fixture drain keeps it exact
    over the whole replay."""
    d = _t(spark, sf_dir, "documents")
    src = _stage_stream_dir(sf_dir, "documents")
    stream = (
        spark.readStream.schema(d.schema)
        .parquet(src)
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select(F.md5(F.col("text")).alias("text_hash"))
        .dropDuplicates(["text_hash"])
    )
    with _stream_partitions(spark, src):
        landed, _ = _drain_to_memory(stream, "stream_dedup")
    return landed


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return a1_groupby_rollup_sum(spark, SF0001)


def _evidence() -> "tuple[dict, set]":
    """({query: round of its LATEST green driver row}, currently-red
    set), read from the committed CORRECTNESS_r*.json driver artifacts.
    Reds accumulate across rounds and are cleared only when a LATER
    round records the query green — a query that went red once and was
    never re-sampled must keep its priority, not silently launder back
    to 'checked'."""
    import glob
    import json
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    last_green: dict = {}
    red: set = set()

    def _round_of(path: str) -> int:
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        return int(m.group(1)) if m else 0

    # numeric round order, NOT lexicographic: r100 must process after
    # r99, or an older green row would clear a newer red
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json")), key=_round_of):
        rnd = _round_of(path)
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except Exception:
            continue
        for n, r in rows.items():
            if r.get("err") not in (None, "no_oracle") or r.get("hash_match") is False:
                red.add(n)
            elif r.get("err") == "no_oracle":
                # a rows-only row is evidence of *execution*, not of
                # value-correctness — it neither counts as green NOR
                # clears a red: only a genuine later green row may
                # launder a mismatch (docstring invariant); a query
                # that GAINS an oracle simply re-sorts as never-checked
                pass
            else:
                last_green[n] = rnd
                red.discard(n)
    return last_green, red


#: queries whose SEMANTICS changed in a given round AFTER they already
#: had green driver evidence — their old green rows validate the old
#: behavior, so they outrank the merely-stale tail until re-sampled.
#: Self-expiring: once a green row from >= the change round exists,
#: the entry is inert (safe to leave for history).
_SEMANTICS_CHANGED = {
    # r7: auto-k semantic dedup re-routed through hierarchical
    # assignment (different kept-set oracle)
    "dedup_semantic_autok": 7,
    # r7: Bloom probe family 1 → 2 (Kirsch-Mitzenmacher double
    # hashing) — different bit tables, different FP sets
    "decontaminate_bloom": 7,
    "decontaminate_bloom_stored": 7,
    "bloom_fp_eval": 7,
    "pipe_export_manifest": 7,
    # r8: corpus_source_overlap reworked from gram-keyed self-join to
    # per-gram source-set pair explode — output byte-identical by
    # construction AND A/B-verified, but the plan is new, so a fresh
    # green row should confirm it ahead of the stale tail
    "corpus_source_overlap": 8,
    # r9: stream_incremental_dedup rerouted through the write-once
    # build_lsh_index artifact (geometry from meta) — identical landed
    # relation, new read path, fresh green row wanted
    "stream_incremental_dedup": 9,
    # r9: exact_substr_mask / mask_shared_runs now pass original text
    # through for untouched docs (identical on the single-spaced
    # fixture, but the oracle CASE changed with it)
    "dedup_exact_substr_mask": 9,
    "decontaminate_mask": 9,
    # r9: mm_near_frames now runs on_capped='error' (same relation
    # while unsaturated — the fixture is — but the plan gained the
    # assert column)
    "mm_near_frames": 9,
    # r10: six document oracles re-tokenized with
    # regexp_split_to_array('\s+') to match Spark tokens() — identical
    # on the single-spaced fixture, but the oracle SQL changed
    "prof_ngram_novelty": 10,
    "corpus_distinct_ngrams": 10,
    "corpus_source_overlap": 10,
    "dedup_lines": 10,
    "dedup_lines_keep_first": 10,
    "dedup_cdc": 10,
    # r10: read_hdr_baseline now returns hdr_merge-normalized counters
    # (identity for write-once artifacts, new plan) and the artifact
    # meta gained a version column (artifact rebuilt)
    "sketch_hdr_drift": 10,
    # r10: stored LSH meta gained a version column; single-distinct-
    # meta-row assert added to the read path (artifact rebuilt)
    "dedup_incremental_lsh_stored": 10,
    # r10: Bloom meta gained a version column + single-meta-row assert
    # (artifact rebuilt under _BLOOM_FILTER_VERSION 3)
    "decontaminate_bloom_stored": 10,
    # r10: corpus tables now persist DISK_ONLY instead of
    # localCheckpoint (measured: checkpoint OOMs default heap at 30×
    # and is 2× slower with memory) — same relation, new plan
    "dedup_weighted_jaccard": 10,
    # r11: graph operators cut per-round lineage with DISK_ONLY
    # localCheckpoints (graph._cut — measured 30× A/B in SCALE.md) —
    # same relations, new physical posture for every query on
    # connected_components/_star/pagerank (directly or via
    # keep_best_per_cluster / leakage_free_split)
    "dedup_cluster_assign": 11,
    "dedup_cluster_assign_star": 11,
    "dedup_near_keep": 11,
    "dedup_near_keep_best": 11,
    "split_leakage_free": 11,
    "split_leakage_eval": 11,
    "graph_pagerank_supplier_customer": 11,
    # r11: append_bloom_filter materializes the anti-joined delta
    # before the same-directory write (self-read hazard closed); the
    # appended-artifact guards accept version >= 2
    "decontaminate_bloom_appended": 11,
    "dedup_incremental_lsh_appended": 11,
    # r11: kmv subset estimators hard-check that every named group has
    # sketch rows before estimating
    "sketch_kmv_union_kway": 11,
    # r11: O(corpus) exact-grader / static-enrich caches switched to
    # DISK_ONLY (corpus-memory rule) — same relations, new plan posture
    "sketch_kmv_overlap": 11,
    "sketch_kmv_union": 11,
    "stream_asof_enrich": 11,
    # r12: the ANN artifacts gained the torn-append protocol (meta.json
    # sidecar written last at build, journaled appends, require_clean
    # reader guards, journaled two-swap compaction) — artifacts rebuilt
    # under _*_INDEX_VERSION bumps, same relations, new read/maintain
    # posture
    "sim_ivf_topk_stored": 12,
    "sim_ivf_knn_join_stored": 12,
    "sim_ivf_knn_join_appended": 12,
    "sim_ivf_knn_join_compacted": 12,
    "sim_pq_topk_stored": 12,
    "sim_pq_topk_appended": 12,
    "sim_ivfadc_topk_stored": 12,
    "sim_ivfadc_topk_appended": 12,
    # r12: LSH/Bloom/HDR appends+compactions now run under the
    # enforced append_lock (same relations, lock acquire/release added
    # to the maintenance path)
    "dedup_incremental_lsh_appended": 12,
    "decontaminate_bloom_appended": 12,
    # r12: drift monitor rewired through the live-artifact helper
    # similarity.drift_recall (stored centroids + stored cids for
    # the appended variant; candidates in-plan) — oracle unchanged
    "sim_ivf_appended_drift_recall": 12,
    # r13: artifact protocol round — ANN metas gained the delta_sigs
    # replay ring + compacted_version (artifacts rebuilt under
    # _*_INDEX_VERSION bumps), delta signatures gained the sum
    # component, and every compact_* now opens its journal BEFORE the
    # tmp build (exclusion covers the whole window) — same relations,
    # new maintenance posture; fresh green rows wanted
    "sim_ivf_topk_stored": 13,
    "sim_ivf_knn_join_stored": 13,
    "sim_ivf_knn_join_appended": 13,
    "sim_ivf_knn_join_compacted": 13,
    "sim_ivf_appended_drift_recall": 13,
    "sim_pq_topk_stored": 13,
    "sim_pq_topk_appended": 13,
    "sim_pq_topk_compacted": 13,
    "sim_pq_drift_recall": 13,
    "sim_ivfadc_topk_stored": 13,
    "sim_ivfadc_topk_appended": 13,
    "sim_ivfadc_topk_compacted": 13,
    "sim_ivfadc_drift_recall": 13,
    # r13: K-row centroid tables in ivf_topk / ivf_knn_join /
    # drift_recall are driver-materialized instead of persisted
    # without unpersist (leak per call, r12 ADVICE) — identical values,
    # new plan
    "sim_ivf_topk": 13,
    "sim_ivf_recall": 13,
    "sim_ivf_knn_join": 13,
    # r15: one ANN index lifecycle over a per-family codec
    # (similarity.append_index / compact_index_files / drift_recall /
    # retrain_index, shared build meta writer, _ivfadc_encode, shared
    # L2²/subspace expressions) — same relations, same oracle, new code
    # path
    "sim_ivf_topk_stored": 15,
    "sim_ivf_knn_join_stored": 15,
    "sim_ivf_knn_join_appended": 15,
    "sim_ivf_knn_join_compacted": 15,
    "sim_ivf_knn_join_minor_compacted": 15,
    "sim_ivf_appended_drift_recall": 15,
    "vec_pq_encode": 15,
    "sim_pq_topk": 15,
    "sim_pq_recall": 15,
    "sim_ivf_pq_topk": 15,
    "sim_pq_topk_stored": 15,
    "sim_pq_topk_appended": 15,
    "sim_pq_topk_compacted": 15,
    "sim_pq_topk_retrained": 15,
    "sim_pq_drift_recall": 15,
    "sim_ivfadc_residual_topk": 15,
    "sim_ivfadc_recall": 15,
    "sim_ivfadc_rerank": 15,
    "sim_rerank_recall": 15,
    "sim_ivfadc_topk_stored": 15,
    "sim_ivfadc_topk_appended": 15,
    "sim_ivfadc_topk_compacted": 15,
    "sim_ivfadc_topk_retrained": 15,
    "sim_ivfadc_drift_recall": 15,
    # r16: one standing-artifact lifecycle for all six families
    # (artifacts.append_artifact / compact_artifact / maintain_artifact
    # / open_artifact over one codec table; LSH, Bloom, HDR and
    # two-level metas moved to meta.json, LSH/Bloom/HDR appends
    # journaled) — artifacts rebuilt under _*_VERSION bumps, same
    # relations, same oracle, new code path
    "decontaminate_bloom_stored": 16,
    "decontaminate_bloom_appended": 16,
    "dedup_incremental_lsh_stored": 16,
    "dedup_incremental_lsh_appended": 16,
    "sketch_hdr_drift": 16,
    "dedup_semantic_2level_stored": 16,
    "stream_decontaminate_bloom": 16,
    "stream_incremental_dedup": 16,
    "sim_ivf_topk_stored": 16,
    "sim_ivf_knn_join_stored": 16,
    "sim_ivf_knn_join_appended": 16,
    "sim_ivf_knn_join_compacted": 16,
    "sim_ivf_knn_join_minor_compacted": 16,
    "sim_ivf_appended_drift_recall": 16,
    "sim_pq_topk_stored": 16,
    "sim_pq_topk_appended": 16,
    "sim_pq_topk_compacted": 16,
    "sim_pq_topk_retrained": 16,
    "sim_pq_drift_recall": 16,
    "sim_ivfadc_topk_stored": 16,
    "sim_ivfadc_topk_appended": 16,
    "sim_ivfadc_topk_compacted": 16,
    "sim_ivfadc_topk_retrained": 16,
    "sim_ivfadc_drift_recall": 16,
}


def _driver_order(names) -> list[str]:
    """Evidence-capture ordering for the driver's per-round sample of
    the first N registry entries: currently-red queries first (they need
    a fresh green row), never-checked next, then queries whose code
    changed after their last green row (see _SEMANTICS_CHANGED), then
    the green tail sorted OLDEST-green-round-first so evidence
    staleness self-heals — a query last validated on round-1 code
    outranks one validated last round."""
    last_green, red = _evidence()
    idx = {n: i for i, n in enumerate(names)}
    reds = [n for n in names if n in red]
    unchecked = [n for n in names if n not in red and n not in last_green]
    greens = [n for n in names if n not in red and n in last_green]
    changed = [
        n for n in greens if last_green[n] < _SEMANTICS_CHANGED.get(n, 0)
    ]
    stale_first = sorted(
        (n for n in greens if n not in changed),
        key=lambda n: (last_green[n], idx[n]),
    )
    return reds + unchecked + changed + stale_first


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: _QUERIES[n] for n in _driver_order(_QUERIES)}


def oracle_sql() -> dict[str, str]:
    order = [n for n in _driver_order(_QUERIES) if n in _ORACLES]
    return {n: _ORACLES[n] for n in order}
