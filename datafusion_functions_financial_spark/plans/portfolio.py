"""Portfolio aggregation: weighted multi-asset value and return
series from per-key tick streams.

The composition step after the per-instrument indicator/risk surface:
given basis-point weights per key, build the portfolio's value series
on a common time grid and derive its returns — the input to the
portfolio-level risk stats (``functions/risk.py`` applies unchanged,
keyed by a constant).

Exactness: the per-(key, bucket) price is integer CENTS
(``sum(round(value*100))/count`` — numerator exact at any partial-agg
order), and the portfolio value accumulates as ``weight_bp *
price_cents`` BIGINT products — so the whole pipeline up to the final
return division is exact integer arithmetic, per the SCALING.md rule.
Only COMPLETE buckets (every portfolio key present) produce a value:
a missing instrument would silently skew the weighted sum.

Scale: one (key, bucket) aggregation over the ticks (map-side
combinable), a broadcast join against the weights dim, one bucket
aggregation for the portfolio sum, then a single-series window. The
tick table shuffles once.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.indicators import literal_relation
from ..sources.tables import load
from .series import round_portable, round_portable_duck

__all__ = ["portfolio_value", "portfolio_returns", "market_beta",
           "key_vs_market_quantized"]

RET_SCALE = 1_000_000  # 1e6 fixed-point for the beta moment sums

# Daily grid: the synthetic event streams are sparse enough that an
# hourly grid never sees every instrument in one bucket (the
# complete-bucket rule would drop everything); real tick data would
# use finer buckets.
BUCKET_NS = 86_400 * 1_000_000_000


def _weights_df(spark: SparkSession,
                weights_bp: Mapping[int, int]) -> DataFrame:
    rows = [(int(k), int(w)) for k, w in sorted(weights_bp.items())]
    return literal_relation(spark, rows, "key bigint, w_bp bigint")


def _bucket_prices(df: DataFrame, key_col: str, ts_ns_col: str,
                   value_col: str, bucket_ns: int) -> DataFrame:
    """(key, bucket, price_cents): integer-cent mean price per bucket
    (exact numerator at any partial-agg order)."""
    return (
        df.selectExpr(
            f"{key_col} AS key",
            f"{ts_ns_col} DIV {bucket_ns} AS bucket",
            f"CAST(round({value_col} * 100) AS BIGINT) AS cents",
        )
        .groupBy("key", "bucket")
        .agg(
            F.sum("cents").alias("__c"),
            F.count(F.lit(1)).alias("__n"),
        )
        .withColumn("price_cents",
                    F.expr("CAST(__c DIV __n AS BIGINT)"))
        .select("key", "bucket", "price_cents")
    )


def portfolio_value(df: DataFrame, weights_bp: Mapping[int, int],
                    key_col: str = "user_id", ts_ns_col: str = "ts",
                    value_col: str = "value",
                    bucket_ns: int = BUCKET_NS,
                    priced: DataFrame | None = None) -> DataFrame:
    """(bucket, pv_cents_bp): portfolio value per complete time bucket
    in cent-basis-points (BIGINT; divide by 10^4 for cents).

    ``weights_bp``: {key: weight in basis points}. Keys absent from
    the mapping are excluded from the portfolio (broadcast inner
    join); buckets missing any weighted key are dropped. Pass a
    precomputed ``priced`` relation to share the tick aggregation with
    other consumers (``market_beta`` does).
    """
    spark = df.sparkSession
    n_keys = len(weights_bp)
    w = _weights_df(spark, weights_bp)
    if priced is None:
        priced = _bucket_prices(df, key_col, ts_ns_col, value_col,
                                bucket_ns)
    weighted = priced.join(F.broadcast(w), "key")
    return (
        weighted.groupBy("bucket")
        .agg(
            F.sum(F.col("w_bp") * F.col("price_cents"))
            .cast("bigint").alias("pv_cents_bp"),
            F.count(F.lit(1)).alias("__k"),
        )
        .filter(F.col("__k") == n_keys)
        .select("bucket", "pv_cents_bp")
    )


def portfolio_returns(df: DataFrame, weights_bp: Mapping[int, int],
                      key_col: str = "user_id", ts_ns_col: str = "ts",
                      value_col: str = "value",
                      bucket_ns: int = BUCKET_NS,
                      priced: DataFrame | None = None) -> DataFrame:
    """(bucket, pv_cents_bp, ret): simple returns of the portfolio
    value series (NULL on the first bucket and after a zero value)."""
    pv = portfolio_value(df, weights_bp, key_col, ts_ns_col,
                         value_col, bucket_ns, priced=priced)
    wrow = Window.orderBy("bucket")
    prev = F.lag("pv_cents_bp", 1).over(wrow)
    ret = F.when(
        prev != F.lit(0),
        F.col("pv_cents_bp").cast("double") / prev.cast("double")
        - F.lit(1.0),
    )
    return pv.withColumn("ret", round_portable(ret))


def key_vs_market_quantized(df: DataFrame,
                            weights_bp: Mapping[int, int],
                            key_col: str = "user_id",
                            ts_ns_col: str = "ts",
                            value_col: str = "value",
                            bucket_ns: int = BUCKET_NS) -> DataFrame:
    """(key, bucket, qx, qy): each key's bucket return (qy) aligned
    with the portfolio's (qx), both 1e6 fixed-point BIGINTs — the
    shared staging of ``market_beta`` and the capture-ratio /
    Jensen-alpha tier (``operators/risk4``).

    ONE tick aggregation feeds both the portfolio series and the
    per-key return series (localCheckpoint: the two consumers would
    otherwise re-execute the scan+shuffle); the bucket-count-sized
    market series joins by broadcast.
    """
    priced = _bucket_prices(df, key_col, ts_ns_col, value_col,
                            bucket_ns).localCheckpoint()
    pv = portfolio_returns(df, weights_bp, key_col, ts_ns_col,
                           value_col, bucket_ns, priced=priced)
    mkt = pv.filter(F.col("ret").isNotNull()).selectExpr(
        "bucket",
        f"CAST(round(ret * {RET_SCALE}) AS BIGINT) AS qx",
    )
    wrow = Window.partitionBy("key").orderBy("bucket")
    prev = F.lag("price_cents", 1).over(wrow)
    rets = (
        priced.withColumn(
            "ret",
            F.when(prev != F.lit(0),
                   F.col("price_cents").cast("double")
                   / prev.cast("double") - F.lit(1.0)),
        )
        .filter(F.col("ret").isNotNull())
        .selectExpr("key", "bucket",
                    f"CAST(round(ret * {RET_SCALE}) AS BIGINT) AS qy")
    )
    return rets.join(F.broadcast(mkt), "bucket")


def market_beta(df: DataFrame, weights_bp: Mapping[int, int],
                key_col: str = "user_id", ts_ns_col: str = "ts",
                value_col: str = "value",
                bucket_ns: int = BUCKET_NS,
                min_obs: int = 5) -> DataFrame:
    """OLS beta of each key's bucket returns against the portfolio's —
    the cross-sectional "market exposure" screen.

    Determinism: both return series QUANTIZE to 1e6 fixed-point
    BIGINTs before any moment sum, so Sx/Sy/Sxy/Sxx are exact integer
    aggregates (order-free at any scale; magnitudes stay < 2^56 for
    millions of buckets at |ret| <= ~30). Only the final beta division
    is floating point. The portfolio series is bucket-count-sized and
    joins by BROADCAST — each key's ticks shuffle once for the
    (key, bucket) price aggregation and once for the per-key moment
    reduction; the corpus never joins the corpus.
    """
    joined = key_vs_market_quantized(df, weights_bp, key_col,
                                     ts_ns_col, value_col, bucket_ns)
    mom = joined.groupBy("key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("qx").cast("bigint").alias("sx"),
        F.sum("qy").cast("bigint").alias("sy"),
        F.sum(F.col("qx") * F.col("qy")).cast("bigint").alias("sxy"),
        F.sum(F.col("qx") * F.col("qx")).cast("bigint").alias("sxx"),
    )
    beta = ("CASE WHEN n >= {m} AND (n * sxx - sx * sx) != 0 THEN "
            "CAST(n * sxy - sx * sy AS DOUBLE) "
            "/ CAST(n * sxx - sx * sx AS DOUBLE) END").format(m=min_obs)
    return mom.select(
        "key", "n", round_portable(F.expr(beta)).alias("beta"))


def pairwise_correlation(df: DataFrame, keys: "list[int]",
                         key_col: str = "user_id",
                         ts_ns_col: str = "ts",
                         value_col: str = "value",
                         bucket_ns: int = BUCKET_NS,
                         min_obs: int = 5) -> DataFrame:
    """Pearson correlation of bucket returns for every pair of the
    given keys: (key_a, key_b, n, corr), key_a < key_b.

    The watch-list correlation matrix: the heavy input (ticks)
    collapses to per-key bucket returns FIRST, so the pair join runs
    over a keys x buckets relation — never the tick table. Moments are
    1e6-fixed-point BIGINTs (order-free, the ``market_beta``
    discipline); only the final ratio is floating point, with the
    variance product kept as a single sqrt argument.
    """
    key_list = ", ".join(str(int(k)) for k in sorted(keys))
    priced = _bucket_prices(
        df.filter(F.expr(f"{key_col} IN ({key_list})")),
        key_col, ts_ns_col, value_col, bucket_ns)
    wrow = Window.partitionBy("key").orderBy("bucket")
    prev = F.lag("price_cents", 1).over(wrow)
    rets = (
        priced.withColumn(
            "ret",
            F.when(prev != F.lit(0),
                   F.col("price_cents").cast("double")
                   / prev.cast("double") - F.lit(1.0)),
        )
        .filter(F.col("ret").isNotNull())
        .selectExpr("key", "bucket",
                    f"CAST(round(ret * {RET_SCALE}) AS BIGINT) AS q")
    )
    a = rets.selectExpr("key AS key_a", "bucket", "q AS qx")
    b = rets.selectExpr("key AS key_b", "bucket", "q AS qy")
    joined = a.join(b, "bucket").filter(F.col("key_a") < F.col("key_b"))
    mom = joined.groupBy("key_a", "key_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("qx").cast("bigint").alias("sx"),
        F.sum("qy").cast("bigint").alias("sy"),
        F.sum(F.col("qx") * F.col("qy")).cast("bigint").alias("sxy"),
        F.sum(F.col("qx") * F.col("qx")).cast("bigint").alias("sxx"),
        F.sum(F.col("qy") * F.col("qy")).cast("bigint").alias("syy"),
    )
    corr = (
        f"CASE WHEN n >= {min_obs} "
        f"AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN "
        f"CAST(n * sxy - sx * sy AS DOUBLE) "
        f"/ sqrt(CAST((n * sxx - sx * sx) AS DOUBLE) "
        f"* CAST((n * syy - sy * sy) AS DOUBLE)) END"
    )
    return mom.select(
        "key_a", "key_b", "n",
        round_portable(F.expr(corr)).alias("corr"))


# ---------------------------------------------------------------------------
# Gate query (R05 queue): a 5-instrument portfolio over the five most
# even user ids (present at every sf).
# ---------------------------------------------------------------------------

_WEIGHTS = {0: 4000, 1: 2500, 2: 1500, 3: 1200, 4: 800}  # sums to 10000


def _q_portfolio(spark: SparkSession, sf_dir: str) -> DataFrame:
    return portfolio_returns(load(spark, sf_dir, "events"), _WEIGHTS)


_W_VALUES = ", ".join(f"({k}, {w})" for k, w in sorted(_WEIGHTS.items()))

_ORACLE_PORTFOLIO = f"""
WITH w(key, w_bp) AS (VALUES {_W_VALUES}),
t AS (
  SELECT user_id AS key,
         (epoch_us(ts) * 1000) // {BUCKET_NS} AS bucket,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), priced AS (
  SELECT key, bucket,
         CAST(sum(cents) // count(*) AS BIGINT) AS price_cents
  FROM t GROUP BY key, bucket
), pv AS (
  SELECT bucket,
         CAST(sum(w_bp * price_cents) AS BIGINT) AS pv_cents_bp,
         count(*) AS k
  FROM priced JOIN w USING (key)
  GROUP BY bucket
), s AS (
  SELECT bucket, pv_cents_bp,
         lag(pv_cents_bp) OVER (ORDER BY bucket) AS prev
  FROM pv WHERE k = {len(_WEIGHTS)}
)
SELECT bucket, pv_cents_bp,
  {round_portable_duck(
      "CASE WHEN prev != 0 THEN "
      "CAST(pv_cents_bp AS DOUBLE) / CAST(prev AS DOUBLE) - 1.0 END"
  )} AS ret
FROM s
"""


def _q_market_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return market_beta(load(spark, sf_dir, "events"), _WEIGHTS)


# Shared oracle prefix: weights -> bucket prices -> quantized market
# (qx) and per-key (qy) return series — reused by the capture-ratio /
# Jensen-alpha oracles in ``operators/risk4`` so the staging cannot
# drift from the gated beta.
ORACLE_RET_PREFIX = f"""
WITH w(key, w_bp) AS (VALUES {_W_VALUES}),
t AS (
  SELECT user_id AS key,
         (epoch_us(ts) * 1000) // {BUCKET_NS} AS bucket,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), priced AS (
  SELECT key, bucket,
         CAST(sum(cents) // count(*) AS BIGINT) AS price_cents
  FROM t GROUP BY key, bucket
), pv AS (
  SELECT bucket,
         CAST(sum(w_bp * price_cents) AS BIGINT) AS pv_cents_bp,
         count(*) AS k
  FROM priced JOIN w USING (key)
  GROUP BY bucket
), mret AS (
  SELECT bucket,
         CAST(round(({round_portable_duck(
             "CASE WHEN prev != 0 THEN "
             "CAST(pv_cents_bp AS DOUBLE) / CAST(prev AS DOUBLE)"
             " - 1.0 END")}) * {RET_SCALE}) AS BIGINT) AS qx
  FROM (
    SELECT bucket, pv_cents_bp,
           lag(pv_cents_bp) OVER (ORDER BY bucket) AS prev
    FROM pv WHERE k = {len(_WEIGHTS)}
  ) WHERE prev IS NOT NULL AND prev != 0
), uret AS (
  SELECT key, bucket,
         CAST(round((CASE WHEN prev != 0 THEN
             CAST(price_cents AS DOUBLE) / CAST(prev AS DOUBLE) - 1.0
           END) * {RET_SCALE}) AS BIGINT) AS qy
  FROM (
    SELECT key, bucket, price_cents,
           lag(price_cents) OVER (PARTITION BY key ORDER BY bucket)
             AS prev
    FROM priced
  ) WHERE prev IS NOT NULL AND prev != 0
)"""

_ORACLE_MARKET_BETA = ORACLE_RET_PREFIX + f""", mom AS (
  SELECT key,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(qx) AS BIGINT) AS sx,
         CAST(sum(qy) AS BIGINT) AS sy,
         CAST(sum(qx * qy) AS BIGINT) AS sxy,
         CAST(sum(qx * qx) AS BIGINT) AS sxx
  FROM uret JOIN mret USING (bucket)
  GROUP BY key
)
SELECT key, n,
  {round_portable_duck(
      "CASE WHEN n >= 5 AND (n * sxx - sx * sx) != 0 THEN "
      "CAST(n * sxy - sx * sy AS DOUBLE) "
      "/ CAST(n * sxx - sx * sx AS DOUBLE) END")} AS beta
FROM mom
"""


_CORR_KEYS = list(range(8))


def _q_pairwise_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pairwise_correlation(load(spark, sf_dir, "events"),
                                _CORR_KEYS)


_ORACLE_PAIRWISE_CORR = f"""
WITH t AS (
  SELECT user_id AS key,
         (epoch_us(ts) * 1000) // {BUCKET_NS} AS bucket,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
  WHERE user_id IN ({", ".join(str(k) for k in _CORR_KEYS)})
), priced AS (
  SELECT key, bucket,
         CAST(sum(cents) // count(*) AS BIGINT) AS price_cents
  FROM t GROUP BY key, bucket
), rets AS (
  SELECT key, bucket,
         CAST(round((CASE WHEN prev != 0 THEN
             CAST(price_cents AS DOUBLE) / CAST(prev AS DOUBLE) - 1.0
           END) * {RET_SCALE}) AS BIGINT) AS q
  FROM (
    SELECT key, bucket, price_cents,
           lag(price_cents) OVER (PARTITION BY key ORDER BY bucket)
             AS prev
    FROM priced
  ) WHERE prev IS NOT NULL AND prev != 0
), mom AS (
  SELECT a.key AS key_a, b.key AS key_b,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(a.q) AS BIGINT) AS sx,
         CAST(sum(b.q) AS BIGINT) AS sy,
         CAST(sum(a.q * b.q) AS BIGINT) AS sxy,
         CAST(sum(a.q * a.q) AS BIGINT) AS sxx,
         CAST(sum(b.q * b.q) AS BIGINT) AS syy
  FROM rets a JOIN rets b ON a.bucket = b.bucket AND a.key < b.key
  GROUP BY 1, 2
)
SELECT key_a, key_b, n,
  {round_portable_duck(
      "CASE WHEN n >= 5 "
      "AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN "
      "CAST(n * sxy - sx * sy AS DOUBLE) "
      "/ sqrt(CAST((n * sxx - sx * sx) AS DOUBLE) "
      "* CAST((n * syy - sy * sy) AS DOUBLE)) END")} AS corr
FROM mom
"""


QUERIES: dict = {
    "q_portfolio_returns_events": (_q_portfolio, _ORACLE_PORTFOLIO),
    "q_market_beta_events": (_q_market_beta, _ORACLE_MARKET_BETA),
    "q_pairwise_corr_events": (_q_pairwise_corr, _ORACLE_PAIRWISE_CORR),
}
