"""Markov chain analytics #2: the stationary distribution of the
event-type transition chain via unrolled power iteration — "where
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
the category cardinality, never the data); each of the ITERS steps
is one broadcast join + one tiny aggregate. Only the first transition
count ever touches the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

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
    chain = counts.withColumn("__p", F.expr(
        "CAST(__n AS DOUBLE) / CAST(sum(__n) OVER "
        "(PARTITION BY cur) AS DOUBLE)"))
    # Uniform start inside the plan (no build-time count job):
    # 1 / k as the same correctly-rounded double as 1.0 / k.
    v = chain.select(F.col("cur").alias("state")).distinct().withColumn(
        "__v",
        F.expr("CAST(1 AS DOUBLE) / CAST(count(*) OVER () AS DOUBLE)"))
    for _ in range(iters):
        v = (
            chain.join(F.broadcast(
                v.select(F.col("state").alias("cur"), "__v")), "cur")
            .groupBy(F.col("nxt").alias("state"))
            .agg(F.sum(F.expr(
                f"CAST(round(__v * __p * {QT}) AS BIGINT)"))
                .alias("__vq"))
            .select("state", F.expr(
                f"CAST(__vq AS DOUBLE) / {QTF!r}").alias("__v"))
        )
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
