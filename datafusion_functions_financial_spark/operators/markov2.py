"""Markov chain analytics #2: the stationary distribution of the
event-type transition chain via power iteration — "where
does the session process spend its time in the long run", the
equilibrium view that complements the one-step transition matrix
(plans/sequences.markov_transitions) and its entropy.

Exactness: transition probabilities are exact rationals (BIGINT
count / BIGINT row total); each power step's mass updates quantize
``v(cur) * p(cur, nxt)`` to BIGINT before the per-state sum, so the
iterated vector is bit-identical on both engines under any join or
aggregation order. The empirical occupancy (share of observations in
each state) rides along for a convergence sanity column.

Plan shape at scale: the chain relation is states² rows (bounded by
the category cardinality, never the data). It is coalesced to one
partition once, and all ITERS steps run there as one numpy fold
(``operators.powerfold``), so the plan and its Spark jobs are the same
for any ``iters``. Only the first transition count ever touches the
data.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .powerfold import Graph, power_fold
from ..plans.series import round_portable, round_portable_duck
from ..plans.sequences import _pairs
from ..sources.tables import load

__all__ = ["stationary_distribution"]

QT = 10 ** 12
QTF = float(QT)
ITERS = 4


def stationary_distribution(df: DataFrame, key: str = "user_id",
                            cat: str = "event_type",
                            order: list[str] | None = None,
                            iters: int = ITERS) -> DataFrame:
    """(state, p_stationary, p_empirical): the transition chain's
    distribution after ``iters`` power steps from uniform, next to
    the empirical state occupancy."""
    pairs = _pairs(df, key, cat, order or ["ts", "event_id"])
    counts = pairs.groupBy("cur", "nxt").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"))
    # The states are the distinct ``cur`` (NULL included: it counts in
    # the uniform start 1/k); a NULL ``cur`` never equi-joins, so its
    # transitions are not edges.
    v = power_fold(
        counts.where(F.col("cur").isNotNull()).select(
            F.col("cur").alias("src"), F.col("nxt").alias("dst"),
            F.col("__n").alias("w")),
        counts.select(F.col("cur").alias("node")),
        functools.partial(_stationary_fold, iters=iters),
    ).select(F.col("node").alias("state"), F.col("v").alias("__v"))
    occ = (
        pairs.groupBy(F.col("cur").alias("state"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
        .withColumn("__t", F.sum("__c").over(Window.partitionBy()))
    )
    return (
        v.join(occ, "state")
        .select(
            "state",
            round_portable(F.col("__v"), 6).alias("p_stationary"),
            round_portable(F.expr(
                "CAST(__c AS DOUBLE) / CAST(__t AS DOUBLE)"), 6
            ).alias("p_empirical"),
        )
    )


def _stationary_fold(g: Graph, iters: int):
    """Uniform start over the states; each step keeps the states that
    an edge from a kept state reaches (the SQL step's inner join) at
    ``sum(round(v * p * QT)) / QT``."""
    live = np.ones(g.n, bool)
    v = np.full(g.n, 1.0 / g.n)
    for _ in range(iters):
        sums, live = g.push(v, QT, live)
        v = sums.astype(np.float64) / QTF
    return live, v


def _q_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return stationary_distribution(ev)


def _stationary_oracle(iters: int = ITERS) -> str:
    parts = ["""pr AS (
  SELECT user_id, event_type,
    lead(event_type) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS nxt
  FROM events
), pairs AS (
  SELECT event_type AS cur, nxt FROM pr WHERE nxt IS NOT NULL
), counts AS (
  SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
  FROM pairs GROUP BY 1, 2
), chain AS (
  SELECT cur, nxt,
    CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY cur)
      AS DOUBLE) AS p
  FROM counts
), states AS (
  SELECT DISTINCT cur AS state FROM chain
), k AS (
  SELECT CAST(count(*) AS DOUBLE) AS kk FROM states
), v0 AS (
  SELECT state, 1.0 / k.kk AS v FROM states CROSS JOIN k
)"""]
    for i in range(1, iters + 1):
        parts.append(f"""v{i} AS (
  SELECT c.nxt AS state,
    CAST(CAST(sum(CAST(round(v.v * c.p * {QT}) AS BIGINT))
      AS BIGINT) AS DOUBLE) / {QTF!r} AS v
  FROM chain c JOIN v{i - 1} v ON v.state = c.cur
  GROUP BY 1
)""")
    return f"""
WITH {', '.join(parts)}, occ AS (
  SELECT cur AS state, CAST(count(*) AS BIGINT) AS c,
    CAST(sum(count(*)) OVER () AS BIGINT) AS t
  FROM pairs GROUP BY 1
)
SELECT v.state,
  {round_portable_duck("v.v", 6)} AS p_stationary,
  {round_portable_duck(
      "CAST(occ.c AS DOUBLE) / CAST(occ.t AS DOUBLE)", 6)}
    AS p_empirical
FROM v{iters} v JOIN occ ON occ.state = v.state
"""


QUERIES: dict = {
    "q_markov_stationary_events": (_q_stationary,
                                   _stationary_oracle()),
}
