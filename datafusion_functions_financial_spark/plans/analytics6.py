"""Frontier/structure analytics: 2-D skyline (Pareto frontier),
equi-depth histograms, seasonal decomposition, and PageRank over the
nation trade graph — the "shape of the data" reports that need more
than one aggregation pass. All but PageRank's in-task power fold
compile to pure Catalyst plans.

Engine-exact by construction (the SCALING.md determinism rules):
- Every cross-row float sum quantizes to BIGINT first (1e8 linear,
  1e6 squared terms); the only doubles are per-row expressions and
  the final division.
- Skyline and the equi-depth bins are comparison/rank-only (no float
  arithmetic at all).
- PageRank iterations quantize each node's incoming contribution sum
  per iteration, so all three iterations stay bitwise identical
  across engines and partitionings.

Plan shapes at scale:
- skyline: per-day maxima first (hash aggregate — the only pass over
  the big relation), then the running-max frontier scan over the
  calendar-bounded daily relation, then a broadcast semi-join back.
  Never a global sort of raw orders.
- equi-depth: one global ntile window — the same single-sort cost as
  any exact quantile; swap in approx boundaries + local assignment
  when exactness can be traded at 100 TB.
- seasonal decompose: hash-aggregate to hourly bars (map-side
  combinable), then windows over the calendar-bounded bar series.
- pagerank: the heavy work is the edge aggregation over lineitem
  (one shuffle); the iterations run on the <= nations^2 edge list,
  placed once in one partition, as one numpy fold in that task: no
  exchange, no broadcast and no plan operator per step (see
  ``pagerank_edges``).

Beyond-reference scope (SURVEY.md extension); no counterpart in the
reference's Rust surface.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.powerfold import Graph, power_fold
from ..sources.tables import load
from .series import round_portable, round_portable_duck

__all__ = ["skyline_2d", "equidepth_histogram", "seasonal_decompose",
           "pagerank_edges"]

Q = 10 ** 8
US_PER_DAY = 86_400_000_000
US_PER_HOUR = 3_600_000_000


# ==========================================================================
# 2-D skyline (Pareto frontier)
# ==========================================================================


def skyline_2d(df: DataFrame, time_col: str, value_col: str,
               id_cols: list[str]) -> DataFrame:
    """Rows not dominated by any other: a row is dominated when some
    other row has ``time <= t AND value >= v`` with at least one
    strict. For "earliest date / highest value" frontiers.

    Two-stage so the big relation is never globally sorted: (1) max
    value per time bucket (distributed hash agg), (2) frontier scan
    over the bounded per-time relation — a time t survives iff its
    max beats every strictly-earlier max, (3) broadcast-join the
    surviving (t, max) pairs back to pick up the id columns. Rows
    tying on (t, v) are mutually non-dominating and all kept.
    """
    per_t = df.groupBy(F.col(time_col).alias("__t")).agg(
        F.max(value_col).alias("__mx"))
    w = Window.orderBy("__t").rowsBetween(
        Window.unboundedPreceding, -1)
    frontier = (
        per_t.withColumn("__pm", F.max("__mx").over(w))
        .filter(F.col("__pm").isNull() | (F.col("__mx") > F.col("__pm")))
        .select("__t", "__mx")
    )
    return df.join(
        F.broadcast(frontier),
        (F.col(time_col) == F.col("__t"))
        & (F.col(value_col) == F.col("__mx")),
    ).select(*id_cols, time_col, value_col)


def _q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The efficient frontier of orders: orders no other order beats
    on BOTH "placed earlier-or-same-day" and "worth at least as
    much" — the earliest record-setting orders."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) "
               f"DIV {US_PER_DAY}").alias("order_day"),
        "o_totalprice",
    )
    out = skyline_2d(o, "order_day", "o_totalprice", ["o_orderkey"])
    return out.select(
        "o_orderkey", "order_day",
        round_portable(F.col("o_totalprice")).alias("totalprice"),
    )


_ORACLE_SKYLINE = f"""
WITH o AS (
  SELECT o_orderkey,
         epoch_us(o_orderdate) // {US_PER_DAY} AS order_day,
         o_totalprice
  FROM orders
), per_t AS (
  SELECT order_day, max(o_totalprice) AS mx FROM o GROUP BY 1
), frontier AS (
  SELECT order_day, mx,
         max(mx) OVER (ORDER BY order_day
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING) AS pm
  FROM per_t
)
SELECT o.o_orderkey, o.order_day,
       {round_portable_duck("o.o_totalprice")} AS totalprice
FROM o JOIN frontier f
  ON o.order_day = f.order_day AND o.o_totalprice = f.mx
WHERE f.pm IS NULL OR f.mx > f.pm
"""


# ==========================================================================
# Equi-depth histogram
# ==========================================================================


def equidepth_histogram(df: DataFrame, value_col: str,
                        tiebreak: list[str], n_bins: int) -> DataFrame:
    """(bin, n, lo, hi, bin_sum): ``n_bins`` buckets of (near-)equal
    row count over a UNIQUE ordering (value, tiebreak...) — rank
    arithmetic only, no interpolated quantiles (those differ bitwise
    across engines). ``bin_sum`` from exact 1e8-quantized sums."""
    w = Window.orderBy(F.col(value_col).asc(),
                       *[F.col(c).asc() for c in tiebreak])
    q = F.expr(f"CAST(round({value_col} * {Q}) AS BIGINT)")
    return (
        df.withColumn("__bin", F.ntile(n_bins).over(w))
        .withColumn("__q", q)
        .groupBy(F.col("__bin").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            round_portable(F.min(value_col)).alias("lo"),
            round_portable(F.max(value_col)).alias("hi"),
            round_portable(F.expr(
                f"CAST(sum(__q) AS DOUBLE) / {float(Q)!r}"
            )).alias("bin_sum"),
        )
    )


def _q_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    return equidepth_histogram(
        load(spark, sf_dir, "lineitem"), "l_extendedprice",
        ["l_orderkey", "l_linenumber"], 10)


_ORACLE_EQUIDEPTH = f"""
WITH t AS (
  SELECT l_extendedprice,
         CAST(round(l_extendedprice * {Q}) AS BIGINT) AS q,
         ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey,
                         l_linenumber) AS bin
  FROM lineitem
)
SELECT bin, count(*) AS n,
       {round_portable_duck("min(l_extendedprice)")} AS lo,
       {round_portable_duck("max(l_extendedprice)")} AS hi,
       {round_portable_duck(
           f"CAST(sum(q) AS DOUBLE) / {float(Q)!r}")} AS bin_sum
FROM t GROUP BY 1
"""


# ==========================================================================
# Seasonal decomposition (hour-of-day profile)
# ==========================================================================

TREND_HALF = 12  # centered 25-hour trend window


def seasonal_decompose(df: DataFrame, us_col: str,
                       value_col: str) -> DataFrame:
    """(hour_of_day, n_bars, seasonal): classical additive
    decomposition of the hourly mean-value series — trend is a
    centered 25-hour moving average (full windows only), seasonal is
    the mean detrended value per hour-of-day.

    Exactness: hourly means are held as (1e8-quantized sum, count);
    the mean is rounded ONCE to a BIGINT ``yq``; the trend enters as
    ``sum(yq) over +-12`` (exact BIGINT) so the detrended term
    ``yq*25 - trend_sum`` is pure integer; one float division at the
    end."""
    win = 2 * TREND_HALF + 1
    hourly = (
        df.select(
            F.expr(f"{us_col} DIV {US_PER_HOUR}").alias("__h"),
            F.expr(f"CAST(round({value_col} * {Q}) AS BIGINT)")
            .alias("__q"),
        )
        .groupBy("__h")
        .agg(F.sum("__q").alias("__s"), F.count(F.lit(1)).alias("__c"))
        .withColumn("__yq", F.expr(
            "CAST(round(CAST(__s AS DOUBLE) / CAST(__c AS DOUBLE))"
            " AS BIGINT)"))
    )
    w = Window.orderBy("__h").rowsBetween(-TREND_HALF, TREND_HALF)
    trended = (
        hourly.withColumn("__tsum", F.sum("__yq").over(w))
        .withColumn("__tn", F.count(F.lit(1)).over(w))
        .filter(F.col("__tn") == win)  # full windows only
        .withColumn("__det", F.col("__yq") * win - F.col("__tsum"))
    )
    return (
        trended.groupBy((F.col("__h") % 24).alias("hour_of_day"))
        .agg(
            F.count(F.lit(1)).alias("n_bars"),
            round_portable(F.expr(
                f"CAST(sum(__det) AS DOUBLE) "
                f"/ (CAST(count(1) AS DOUBLE) * {float(win * Q)!r})"
            )).alias("seasonal"),
        )
    )


def _q_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").withColumn(
        "__us", F.expr("ts DIV 1000"))
    return seasonal_decompose(ev, "__us", "value")


_ORACLE_SEASONAL = f"""
WITH hourly AS (
  SELECT epoch_us(ts) // {US_PER_HOUR} AS h,
         CAST(sum(CAST(round(value * {Q}) AS BIGINT)) AS BIGINT) AS s,
         count(*) AS c
  FROM events GROUP BY 1
), yq AS (
  SELECT h,
         CAST(round(CAST(s AS DOUBLE) / CAST(c AS DOUBLE)) AS BIGINT)
           AS yq
  FROM hourly
), tr AS (
  SELECT h, yq,
         CAST(sum(yq) OVER w AS BIGINT) AS tsum,
         count(*) OVER w AS tn
  FROM yq
  WINDOW w AS (ORDER BY h ROWS BETWEEN {TREND_HALF} PRECEDING
               AND {TREND_HALF} FOLLOWING)
)
SELECT h % 24 AS hour_of_day, count(*) AS n_bars,
       {round_portable_duck(
           f"CAST(sum(yq * {2 * TREND_HALF + 1} - tsum) AS DOUBLE) "
           f"/ (CAST(count(*) AS DOUBLE) "
           f"* {float((2 * TREND_HALF + 1) * Q)!r})")} AS seasonal
FROM tr WHERE tn = {2 * TREND_HALF + 1}
GROUP BY 1
"""


# ==========================================================================
# PageRank over the nation trade graph (3 power iterations)
# ==========================================================================

PR_D = 0.85
PR_ITERS = 3


def pagerank_edges(edges: DataFrame, nodes: DataFrame,
                   n_nodes: int, iters: int = PR_ITERS,
                   d: float = PR_D) -> DataFrame:
    """(node, pagerank): ``iters`` power iterations of PageRank over
    a weighted edge list ``(src, dst, w)``, starting uniform.

    The edge list is the small aggregated relation (<= n_nodes^2 rows).
    It and the node list are coalesced to ONE partition once, after the
    distributed work that builds them, and all ``iters`` steps run in
    that one task as a numpy fold (``operators.powerfold``): no
    broadcast, no exchange and no plan operator per step, so the plan,
    its generated classes and its build time are the same for 1 step or
    100, and building it fires no job.

    Each step is the SQL step (``_pr_iter_sql``) in the same order:
    the out-weight ``ow = sum(w)`` per ``src``; the contribution
    ``round(pr * (w / ow) * Q)`` as BIGINT; its per-``dst`` sum, zero
    for a node with no in-edge; and ``15/(100 n) + 85/100 * (sum / Q)``.
    Edge contract: an edge whose ``dst`` is NULL or not a node counts in
    its source's out-weight, and its mass leaks; an edge whose ``src``
    is not a node, or whose ``w`` is NULL, contributes nothing; only
    nodes get a rank. A source node whose non-NULL weights sum to 0
    raises ``DIVIDE_BY_ZERO``, as the ANSI division does.

    Bound: the fold holds <= n_nodes^2 + n_nodes rows in one task's
    numpy arrays, the same one-partition bound as the SQL iterate had
    (SCALING.md, PageRank): the task wins up to a few hundred nodes,
    and larger graphs want a hash-partitioned step.

    Leak variant: mass lost to dangling nodes is not redistributed
    (identical formula on both engines, so parity is structural).
    Per-iteration incoming sums quantize to BIGINT (1e8) before
    aggregation — the cross-row float-sum rule — so every iteration
    is bitwise reproducible under any partitioning."""
    if d != PR_D:
        raise ValueError("damping is fixed at 85/100 (exact-ratio "
                         "double literals keep engine parity)")
    fold = functools.partial(_pagerank_fold, n_nodes=n_nodes, iters=iters)
    return power_fold(edges, nodes, fold).select(
        "node", F.col("v").alias("pagerank"))


def _pagerank_fold(g: Graph, n_nodes: int, iters: int):
    # The damping constants are the SQL's integer-ratio doubles
    # (correctly-rounded division of exact integers).
    base = 15.0 / (100 * n_nodes)
    pr = np.full(g.n, 1.0 / n_nodes)
    for _ in range(iters):
        sums, _ = g.push(pr, Q)
        pr = base + 85.0 / 100 * (sums.astype(np.float64) / float(Q))
    return np.ones(g.n, bool), pr


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, w): supplier-nation -> customer-nation trade edges,
    weighted by lineitem count — the one distributed pass of the
    nation-graph queries."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey")
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which nations sit at the center of the trade network? Edges =
    supplier-nation -> customer-nation, weighted by lineitem count;
    the heavy distributed work is the edge aggregation."""
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    nodes = n.select(F.col("n_nationkey").alias("node"))
    pr = pagerank_edges(_trade_edges(spark, sf_dir), nodes, n_nodes=25)
    return (
        pr.join(F.broadcast(n), pr["node"] == n["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            round_portable(F.col("pagerank"), 6).alias("pagerank"),
        )
    )


def _pr_iter_sql(prev: str, it: int, n_nodes: int = 25) -> str:
    return f"""contrib{it} AS (
  SELECT e.dst,
         CAST(sum(CAST(round(r.pr * (CAST(e.w AS DOUBLE)
           / CAST(e.ow AS DOUBLE)) * {Q}) AS BIGINT)) AS BIGINT) AS cin
  FROM e JOIN {prev} r ON e.src = r.node GROUP BY 1
), rank{it} AS (
  SELECT n.node,
         CAST(15 AS DOUBLE) / {100 * n_nodes}
           + CAST(85 AS DOUBLE) / 100
           * (CAST(coalesce(c.cin, 0) AS DOUBLE) / {float(Q)!r}) AS pr
  FROM nodes n LEFT JOIN contrib{it} c ON n.node = c.dst
)"""


_ORACLE_PAGERANK = f"""
WITH edges AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
         count(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), e AS (
  SELECT src, dst, w,
         CAST(sum(w) OVER (PARTITION BY src) AS BIGINT) AS ow
  FROM edges
), nodes AS (
  SELECT n_nationkey AS node FROM nation
), rank0 AS (
  SELECT node, CAST(1 AS DOUBLE) / 25 AS pr FROM nodes
), {_pr_iter_sql('rank0', 1)},
{_pr_iter_sql('rank1', 2)},
{_pr_iter_sql('rank2', 3)}
SELECT n.n_name AS nation,
       {round_portable_duck("r.pr", 6)} AS pagerank
FROM rank3 r JOIN nation n ON r.node = n.n_nationkey
"""


QUERIES: dict = {
    "q_skyline_orders": (_q_skyline, _ORACLE_SKYLINE),
    "hist_equidepth_lineitem": (_q_equidepth, _ORACLE_EQUIDEPTH),
    "q_seasonal_hourly_events": (_q_seasonal, _ORACLE_SEASONAL),
    "graph_pagerank_nations": (_q_pagerank, _ORACLE_PAGERANK),
}
