"""General analytics surface (SURVEY §2.B — the DataFusion built-ins
the reference exercises via SQL, all expressed as native Catalyst
plans: projection, filter, hash aggregate, GROUP BY, conditional agg,
COUNT(DISTINCT), LAG/ROW_NUMBER windows, CTE shapes, ORDER BY/LIMIT,
date extraction, timestamp arithmetic).

Scale notes: every query here is pure JVM (whole-stage codegen, no
Python), aggregations are partial (map-side combine) before the
shuffle, and parquet scans get filter/column pushdown. Top-k avoids
bare LIMIT-with-ties by ranking with a deterministic tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.indicators import literal_relation
from ..sources.tables import load
from .series import ROUND_DP

US_HOUR = 3_600_000_000


def _q_overview_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # COUNT / COUNT(DISTINCT) / AVG / MIN / MAX per group
    # (examples/validate.rs:50-59, multi_asset_class_demo.rs:33-42).
    df = load(spark, sf_dir, "orders")
    return (
        df.groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("o_custkey").alias("distinct_customers"),
            F.round(F.avg("o_totalprice"), ROUND_DP).alias("avg_price"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


_ORACLE_OVERVIEW_ORDERS = f"""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS cnt,
       count(DISTINCT o_custkey) AS distinct_customers,
       round(avg(o_totalprice), {ROUND_DP}) AS avg_price,
       min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price
FROM orders
GROUP BY o_orderstatus, o_orderpriority
"""


def _q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q1-shaped pricing summary: filter pushdown + grouped sums.
    # Sums of decimal-valued doubles are rounded to whole units: engines
    # sum in different orders, and ~1e-4 absolute error at sf0.1 makes
    # 2-decimal rounding a coin-flip at the boundary. Integer-valued
    # sums (quantities, counts) are exact in any order.
    df = load(spark, sf_dir, "lineitem")
    return (
        df.filter(F.col("l_quantity") < 45)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 0).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 0
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), ROUND_DP).alias("avg_qty"),
            F.round(F.avg("l_discount"), ROUND_DP).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_ORACLE_PRICING_SUMMARY = f"""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 0) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 0) AS sum_disc_price,
       round(avg(l_quantity), {ROUND_DP}) AS avg_qty,
       round(avg(l_discount), {ROUND_DP}) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_quantity < 45
GROUP BY l_returnflag, l_linestatus
"""


def _q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ORDER BY / top-k with deterministic ranking (ROW_NUMBER idiom,
    # benches/financial_functions.rs:27). Scale shape: orderBy+limit
    # plans as TakeOrderedAndProject (per-partition heap top-k, tiny
    # driver merge) — NOT a global row_number window, which would drag
    # every customer's aggregate row through one task at 100x. The rank
    # window then runs over only the <= 20 surviving rows.
    df = load(spark, sf_dir, "orders")
    spend = df.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        F.count(F.lit(1)).alias("order_count"),
    )
    top = spend.orderBy(F.col("total_spend").desc(),
                        F.col("o_custkey")).limit(20)
    w = Window.orderBy(F.col("total_spend").desc(), F.col("o_custkey"))
    return top.withColumn("rank", F.row_number().over(w))


_ORACLE_TOP_CUSTOMERS = """
WITH spend AS (
  SELECT o_custkey,
         round(sum(o_totalprice), 2) AS total_spend,
         count(*) AS order_count
  FROM orders
  GROUP BY o_custkey
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY total_spend DESC, o_custkey) AS rank
  FROM spend
)
SELECT * FROM ranked WHERE rank <= 20
"""


def _q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Tumbling event-time window (batch form): integer bucket arithmetic
    # on epoch-ns so Spark and the oracle agree exactly.
    df = load(spark, sf_dir, "events")
    # Integer `div`, not float division: epoch-ns (~1.7e18) exceeds the
    # 2^53 exact-integer range of doubles. Bucketing runs on the us value
    # (DuckDB reads the nanos parquet column at us precision).
    bucket = F.expr(f"(ts DIV 1000) DIV {US_HOUR}") * F.lit(3600)
    # Exact-cents aggregation: `value` is 2-decimal, so summing
    # round(value*100) BIGINTs is exact integer arithmetic —
    # order-independent, hence identical across engines and partial-agg
    # plans at ANY scale. A double sum's result depends on add order
    # (nondeterministic in both engines' parallel aggregation), which
    # flips the 4th rounded decimal on large groups.
    return (
        df.withColumn("hour_start", bucket)
        .groupBy("hour_start", "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
            .alias("__cents"),
        )
        .select(
            "hour_start", "event_type", "cnt",
            F.round(F.col("__cents") / 100.0, ROUND_DP)
            .alias("sum_value"),
            # 4-dp average via 0-dp rounding: round(x, 4) diverges
            # between engines near .00005 boundaries (DuckDB rounds
            # x*10^4, Spark rounds the exact decimal of x), but both
            # round the SAME double identically at scale 0.
            (F.expr("round(CAST(__cents AS DOUBLE) * 100.0 / cnt)")
             / 10000.0).alias("avg_value"),
        )
    )


_ORACLE_EVENTS_HOURLY = f"""
SELECT (epoch_us(ts) // {US_HOUR}) * 3600 AS hour_start,
       event_type,
       count(*) AS cnt,
       round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0,
             {ROUND_DP}) AS sum_value,
       round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
             * 100.0 / count(*)) / 10000.0 AS avg_value
FROM events
GROUP BY 1, 2
"""


def _q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Beyond-reference (the crate has no joins, SURVEY §2.C): star-schema
    # join with explicitly broadcast dimensions — zero shuffle on the
    # fact side until the final aggregation.
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders.o_custkey == customer.c_custkey,
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 0).alias("revenue"),
            F.count(F.lit(1)).alias("order_count"),
            F.countDistinct("o_custkey").alias("customers"),
        )
    )


_ORACLE_REVENUE_BY_NATION = """
SELECT n_name,
       round(sum(o_totalprice), 0) AS revenue,
       count(*) AS order_count,
       count(DISTINCT o_custkey) AS customers
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def _q_lineitem_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fact-to-fact join (both sides large): at scale this is the
    # shuffle-on-key case — co-partitioning/bucketing territory.
    lineitem = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 0
            ).alias("revenue"),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


_ORACLE_LINEITEM_ORDER_REVENUE = """
SELECT o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 0) AS revenue,
       count(*) AS line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap


def _q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sessionization: classic gap-based session assignment as a
    # cumulative sum over "new session" flags — pure window arithmetic,
    # no UDF; integer epoch math keeps engines exact.
    df = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.expr("ts DIV 1000")
    new_session = F.when(
        (us - F.lag(us).over(w)) > SESSION_GAP_US, 1
    ).otherwise(0)
    sess = df.withColumn("__new", new_session).withColumn(
        "session_id",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), ROUND_DP).alias("sum_value"),
            (F.max(us) - F.min(us)).alias("duration_us"),
        )
    )


_ORACLE_EVENTS_SESSIONIZE = f"""
WITH flagged AS (
  SELECT user_id, event_id, value, epoch_us(ts) AS us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > {SESSION_GAP_US} THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  -- CAST: DuckDB promotes windowed integer sum to HUGEINT, which lands
  -- as float64 in the comparison frame; Spark emits bigint.
  SELECT *, CAST(sum(new_session) OVER (
           PARTITION BY user_id ORDER BY us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       count(*) AS n_events,
       round(sum(value), {ROUND_DP}) AS sum_value,
       max(us) - min(us) AS duration_us
FROM sessions
GROUP BY user_id, session_id
"""


def _q_events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # OHLCV bars from raw events (value = price analog): the bar-builder
    # the reference's pre-aggregated inputs come from.
    from ..functions.bars import ohlcv_bars

    df = load(spark, sf_dir, "events").withColumn(
        "us", F.expr("ts DIV 1000")
    )
    bars = ohlcv_bars(
        df, "us", "value", ["user_id"], bar_seconds=86400, ts_unit="us"
    )
    return bars.select(
        "user_id", "bar_start",
        F.round("open", ROUND_DP).alias("open"),
        F.round("high", ROUND_DP).alias("high"),
        F.round("low", ROUND_DP).alias("low"),
        F.round("close", ROUND_DP).alias("close"),
        "n_ticks",
    )


_ORACLE_EVENTS_OHLC = f"""
SELECT user_id,
       (epoch_us(ts) // {86400 * 1_000_000}) * 86400 AS bar_start,
       round(arg_min(value, epoch_us(ts)), {ROUND_DP}) AS open,
       round(max(value), {ROUND_DP}) AS high,
       round(min(value), {ROUND_DP}) AS low,
       round(arg_max(value, epoch_us(ts)), {ROUND_DP}) AS close,
       count(*) AS n_ticks
FROM events
GROUP BY 1, 2
"""


def _q_quantiles_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact interpolated quantiles per group (both engines implement the
    # same linear-interpolation definition).
    df = load(spark, sf_dir, "lineitem")
    return df.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), ROUND_DP).alias(
            "median_price"
        ),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), ROUND_DP).alias(
            "p90_price"
        ),
        F.count(F.lit(1)).alias("cnt"),
    )


_ORACLE_QUANTILES_LINEITEM = f"""
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), {ROUND_DP}) AS median_price,
       round(quantile_cont(l_extendedprice, 0.9), {ROUND_DP}) AS p90_price,
       count(*) AS cnt
FROM lineitem
GROUP BY l_returnflag
"""


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Static pivot via conditional aggregation (engine-portable form of
    # PIVOT; dynamic pivots need a driver-side distinct first).
    df = load(spark, sf_dir, "events")
    aggs = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
        for t in _EVENT_TYPES
    ]
    return df.groupBy("user_id").agg(
        *aggs, F.count(F.lit(1)).alias("n_total")
    )


_ORACLE_EVENTS_PIVOT = f"""
SELECT user_id,
       {', '.join(
           f"count(CASE WHEN event_type = '{t}' THEN 1 END) AS n_{t}"
           for t in _EVENT_TYPES
       )},
       count(*) AS n_total
FROM events
GROUP BY user_id
"""


def _q_set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Set operations (absent from the reference, SURVEY §2.C): customers
    # with orders EXCEPT customers with any urgent order, INTERSECT with
    # the account-balance-positive set.
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    with_orders = orders.select(F.col("o_custkey").alias("custkey"))
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey"))
    )
    positive = (
        customer.filter(F.col("c_acctbal") > 0)
        .select(F.col("c_custkey").alias("custkey"))
    )
    # subtract == EXCEPT (set semantics): drop a custkey if it has ANY
    # urgent order (exceptAll's bag semantics would keep it).
    return with_orders.distinct().subtract(urgent).intersect(positive)


_ORACLE_SET_OPS = """
SELECT DISTINCT custkey FROM (
  SELECT o_custkey AS custkey FROM orders
  EXCEPT
  SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
INTERSECT
SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0
"""


def _q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ROLLUP subtotals (beyond-reference grouping sets).
    df = load(spark, sf_dir, "orders")
    return df.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("o_totalprice"), 0).alias("revenue"),
    )


_ORACLE_ROLLUP_ORDERS = """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS cnt,
       round(sum(o_totalprice), 0) AS revenue
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


# --------------------------------------------------------------------------
# range (band) join: non-equi join of a fact table against a small
# interval dimension. Spark has no native interval-join operator; the
# scale-correct plan is a broadcast nested-loop join — the band table
# is tiny, so every executor joins its fact partitions locally with no
# shuffle of the fact side. AQE cannot help a non-equi join, so the
# explicit broadcast IS the optimization.
# --------------------------------------------------------------------------

_BANDS = [
    ("00_low", 0, 100_000),
    ("01_mid", 100_000, 200_000),
    ("02_high", 200_000, 350_000),
    ("03_top", 350_000, 1_000_000),
]


def band_join(df: DataFrame, value_col: str, bands: DataFrame,
              lo_col: str = "lo", hi_col: str = "hi") -> DataFrame:
    """Join each row to the [lo, hi) band containing ``value_col``;
    the band side is always broadcast (interval dims are small by
    construction — if yours isn't, bucketize into an equi-join key
    instead)."""
    cond = (F.col(value_col) >= F.col(lo_col)) & (
        F.col(value_col) < F.col(hi_col)
    )
    return df.join(F.broadcast(bands), cond, "inner")


def _q_orders_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = literal_relation(spark, _BANDS, "band string, lo long, hi long")
    orders = load(spark, sf_dir, "orders")
    joined = band_join(orders, "o_totalprice", bands)
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
            "revenue_cents"
        ),
        F.min("o_orderkey").alias("min_orderkey"),
        F.max("o_orderkey").alias("max_orderkey"),
    )


_ORACLE_ORDERS_VALUE_BANDS = f"""
WITH bands(band, lo, hi) AS (
  VALUES {", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _BANDS)}
)
SELECT band,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       min(o_orderkey) AS min_orderkey,
       max(o_orderkey) AS max_orderkey
FROM orders
JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band
"""


QUERIES: dict = {
    "q_events_sessionize": (_q_events_sessionize, _ORACLE_EVENTS_SESSIONIZE),
    "q_orders_value_bands": (_q_orders_value_bands, _ORACLE_ORDERS_VALUE_BANDS),
    "q_events_pivot": (_q_events_pivot, _ORACLE_EVENTS_PIVOT),
    "q_set_ops_customers": (_q_set_ops_customers, _ORACLE_SET_OPS),
    "q_rollup_orders": (_q_rollup_orders, _ORACLE_ROLLUP_ORDERS),
    "q_events_ohlc_daily": (_q_events_ohlc, _ORACLE_EVENTS_OHLC),
    "q_quantiles_lineitem": (_q_quantiles_lineitem, _ORACLE_QUANTILES_LINEITEM),
    "q_overview_orders": (_q_overview_orders, _ORACLE_OVERVIEW_ORDERS),
    "q_revenue_by_nation": (_q_revenue_by_nation, _ORACLE_REVENUE_BY_NATION),
    "q_lineitem_order_revenue": (
        _q_lineitem_order_revenue,
        _ORACLE_LINEITEM_ORDER_REVENUE,
    ),
    "q_pricing_summary_lineitem": (_q_pricing_summary, _ORACLE_PRICING_SUMMARY),
    "q_top_customers": (_q_top_customers, _ORACLE_TOP_CUSTOMERS),
    "q_events_hourly": (_q_events_hourly, _ORACLE_EVENTS_HOURLY),
}
