"""Market-microstructure operators over trades/quotes (the tick-level
data types the Polygon loader serves, sources/schemas.py TRADES/QUOTES).

Beyond the reference's surface (it only loads these files), these are
the standard first-stage analytics a replacement engine needs. All
pure Catalyst — window functions and aggregations, no UDFs:

- quote spread statistics (absolute/relative spread, midpoint)
- tick-rule trade signing (Lee-Ready style): sign(price change),
  carrying the last nonzero sign through zero-ticks via
  ``last(..., ignorenulls=True)`` — a carry-forward scan expressed as
  a window function, no per-row Python
- VWAP per (symbol, bucket)

Scale: everything shuffles once on the symbol (or symbol+bucket) key;
window scans are per-symbol ordered passes, the same partitioning
strategy as the indicator pipeline.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.series import round_portable, round_portable_duck
from ..sources.tables import load

__all__ = ["quote_spread_stats", "sign_trades", "twap", "vwap"]


def quote_spread_stats(
    quotes: DataFrame,
    keys: Sequence[str] = ("ticker",),
) -> DataFrame:
    """Per-key quote spread statistics (NBBO-style).

    min/max are exact selections and keep the input column type;
    averages/percentiles use engine-portable rounding so results are
    reproducible bit-for-bit against an ANSI-SQL oracle when prices
    are integers (e.g. cents).
    """
    spread = F.col("ask_price") - F.col("bid_price")
    mid = (F.col("ask_price") + F.col("bid_price")) / 2
    enriched = quotes.withColumn("spread", spread).withColumn(
        "rel_spread_bps",
        F.when(mid > 0, (F.col("spread") / mid) * 10_000.0),
    )
    return enriched.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_quotes"),
        round_portable(F.avg("spread"), 6).alias("avg_spread"),
        round_portable(
            F.expr("percentile(spread, 0.5)"), 6
        ).alias("median_spread"),
        round_portable(F.avg("rel_spread_bps"), 4).alias("avg_rel_spread_bps"),
        F.min("bid_price").alias("min_bid"),
        F.max("ask_price").alias("max_ask"),
        F.count(F.when(F.col("spread") < 0, 1)).alias("crossed_quotes"),
    )


def sign_trades(
    trades: DataFrame,
    keys: Sequence[str] = ("ticker",),
    ts_col: str = "sip_timestamp",
    price_col: str = "price",
    tiebreak_cols: Sequence[str] = ("sequence_number",),
) -> DataFrame:
    """Tick-rule trade signing: +1 uptick, -1 downtick; zero-ticks carry
    the previous nonzero sign (NULL until the first price change).

    ``tiebreak_cols`` must make the ordering unique within a key —
    exchange feeds routinely stamp multiple trades with the same
    timestamp, and lag()/last() over a non-unique order are
    nondeterministic across runs. Columns absent from the frame are
    skipped (with the default, frames without ``sequence_number`` fall
    back to timestamp-only ordering as before).
    """
    order = [ts_col] + [c for c in tiebreak_cols if c in trades.columns]
    w = Window.partitionBy(*keys).orderBy(*order)
    chg = F.col(price_col) - F.lag(price_col).over(w)
    raw = F.when(chg > 0, 1).when(chg < 0, -1)  # NULL on zero-tick/first
    cum = Window.partitionBy(*keys).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return trades.withColumn(
        "trade_sign", F.last(raw, ignorenulls=True).over(cum)
    )


def vwap(
    trades: DataFrame,
    keys: Sequence[str] = ("ticker",),
    ts_col: str = "sip_timestamp",
    price_col: str = "price",
    size_col: str = "size",
    bucket_seconds: int | None = None,
    ts_unit: str = "ns",
    round_dp: int | None = 6,
) -> DataFrame:
    """Volume-weighted average price per key (optionally per bucket).

    ``round_dp=None`` skips rounding: with integer prices (cents) the
    sums are exact and the single division is bit-deterministic, which
    is what the cross-engine oracle gate needs.
    """
    group = list(keys)
    df = trades
    if bucket_seconds is not None:
        per_sec = {"us": 1_000_000, "ns": 1_000_000_000}[ts_unit]
        df = df.withColumn(
            "bucket_start",
            F.expr(f"{ts_col} DIV {per_sec * bucket_seconds}")
            * F.lit(bucket_seconds),
        )
        group.append("bucket_start")
    notional = F.sum(F.col(price_col) * F.col(size_col))
    volume = F.sum(size_col)
    ratio = notional / volume
    if round_dp is not None:
        ratio = round_portable(ratio, round_dp)
    return df.groupBy(*group).agg(
        ratio.alias("vwap"),
        volume.alias("volume"),
        F.count(F.lit(1)).alias("n_trades"),
    )


# --------------------------------------------------------------------------
# Driver gate queries: the operators run over the synthetic `events`
# table recast as a tick stream (event_type = ticker, 2-decimal values
# scaled to integer cents, event_id as the feed sequence number). All
# float reductions the oracle compares are exact integer sums followed
# by at most one IEEE division, so results are bit-deterministic at any
# scale and parallelism.
# --------------------------------------------------------------------------

_NS_HOUR = 3600 * 1_000_000_000
_US_HOUR = 3600 * 1_000_000


def _events_as_trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "events").selectExpr(
        "event_type AS ticker",
        "ts AS sip_timestamp",          # epoch-ns long (nanosAsLong)
        "event_id AS sequence_number",
        "CAST(round(value * 100) AS BIGINT) AS price_cents",
        "event_id % 97 + 1 AS size",    # deterministic synthetic size
    )


def _q_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = vwap(
        _events_as_trades(spark, sf_dir),
        keys=("ticker",),
        price_col="price_cents",
        size_col="size",
        bucket_seconds=3600,
        ts_unit="ns",
        round_dp=None,
    )
    return out.selectExpr(
        "ticker", "bucket_start", "vwap AS vwap_cents", "volume", "n_trades"
    )


_ORACLE_VWAP = f"""
WITH t AS (
  SELECT event_type AS ticker,
         epoch_us(ts) AS us,
         CAST(round(value * 100) AS BIGINT) AS price_cents,
         event_id % 97 + 1 AS size
  FROM events
)
SELECT ticker,
       (us // {_US_HOUR}) * 3600 AS bucket_start,
       CAST(sum(price_cents * size) AS DOUBLE)
         / CAST(sum(size) AS DOUBLE) AS vwap_cents,
       CAST(sum(size) AS BIGINT) AS volume,
       count(*) AS n_trades
FROM t
GROUP BY ticker, bucket_start
"""


def _q_sign_trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = sign_trades(
        _events_as_trades(spark, sf_dir),
        keys=("ticker",),
        ts_col="sip_timestamp",
        price_col="price_cents",
        tiebreak_cols=("sequence_number",),
    )
    return out.selectExpr(
        "ticker", "sequence_number AS event_id", "price_cents", "trade_sign"
    )


_ORACLE_SIGN = """
WITH t AS (
  SELECT event_type AS ticker, event_id, ts,
         CAST(round(value * 100) AS BIGINT) AS price_cents
  FROM events
), d AS (
  SELECT ticker, event_id, ts, price_cents,
         price_cents - lag(price_cents) OVER w AS chg
  FROM t
  WINDOW w AS (PARTITION BY ticker ORDER BY ts, event_id)
)
SELECT ticker, event_id, price_cents,
       last_value(CASE WHEN chg > 0 THEN 1 WHEN chg < 0 THEN -1 END
                  IGNORE NULLS) OVER (
         PARTITION BY ticker ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS trade_sign
FROM d
"""


def flow_imbalance(
    trades: DataFrame,
    keys: Sequence[str] = ("ticker",),
    ts_col: str = "sip_timestamp",
    price_col: str = "price",
    tiebreak_cols: Sequence[str] = ("sequence_number",),
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Order-flow imbalance per (key, time bucket):
    ``(buys − sells) / (buys + sells)`` over tick-rule signed trades —
    the flow-toxicity screen an execution desk watches per interval.

    Signs come from ``sign_trades`` (zero-ticks carry the previous
    sign; leading unsigned rows are excluded); counts are exact
    BIGINTs and only the final ratio is a double. One window pass for
    the signs plus one map-side-combinable (key, bucket) aggregation.
    """
    bucket_ns = int(bucket_seconds) * 1_000_000_000
    signed = sign_trades(trades, keys, ts_col, price_col, tiebreak_cols)
    kc = list(keys)
    agg = (
        signed.filter(F.col("trade_sign").isNotNull())
        .withColumn("__bucket", F.expr(f"{ts_col} DIV {bucket_ns}"))
        .groupBy(*kc, "__bucket")
        .agg(
            F.sum(F.when(F.col("trade_sign") == 1, 1).otherwise(0))
            .cast("bigint").alias("n_buys"),
            F.sum(F.when(F.col("trade_sign") == -1, 1).otherwise(0))
            .cast("bigint").alias("n_sells"),
        )
        .withColumnRenamed("__bucket", "bucket")
    )
    imb = ("CAST(n_buys - n_sells AS DOUBLE) "
           "/ CAST(n_buys + n_sells AS DOUBLE)")
    return agg.withColumn("imbalance", round_portable(F.expr(imb)))


def roll_spread(
    trades: DataFrame,
    keys: Sequence[str] = ("ticker",),
    ts_col: str = "sip_timestamp",
    price_col: str = "price",
    tiebreak_cols: Sequence[str] = ("sequence_number",),
    min_pairs: int = 10,
) -> DataFrame:
    """Roll (1984) implied effective spread per key:
    ``2 * sqrt(−Cov(Δp_t, Δp_{t−1}))`` — the bid-ask bounce estimate
    that needs only the trade tape, no quotes. NULL when the serial
    covariance is non-negative (no bounce signal) or pairs < min.

    Price changes are integer cents, so Σx, Σy, Σxy and the population
    covariance NUMERATOR ``n·Σxy − Σx·Σy`` are exact BIGINTs at any
    partial-agg order; only the final divide/sqrt is floating point.
    One window pass + one map-side-combinable aggregation per key.
    """
    order = [ts_col] + [c for c in tiebreak_cols
                        if c in trades.columns]
    w = Window.partitionBy(*keys).orderBy(*order)
    kc = list(keys)
    d = (F.col(price_col) - F.lag(price_col, 1).over(w))
    staged = (
        trades.withColumn("__d", d)
        .withColumn("__dprev", F.lag("__d", 1).over(w))
        .filter(F.col("__d").isNotNull()
                & F.col("__dprev").isNotNull())
    )
    mom = staged.groupBy(*kc).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("__d").cast("bigint").alias("sx"),
        F.sum("__dprev").cast("bigint").alias("sy"),
        F.sum(F.col("__d") * F.col("__dprev")).cast("bigint")
        .alias("sxy"),
    )
    spread = (
        f"CASE WHEN n_pairs >= {min_pairs} "
        f"AND (n_pairs * sxy - sx * sy) < 0 THEN "
        f"2.0 * sqrt(-(CAST(n_pairs * sxy - sx * sy AS DOUBLE) "
        f"/ (CAST(n_pairs AS DOUBLE) * CAST(n_pairs AS DOUBLE)))) END"
    )
    return mom.withColumn(
        "roll_spread_cents", round_portable(F.expr(spread)))


def _q_roll_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = roll_spread(
        _events_as_trades(spark, sf_dir),
        keys=("ticker",),
        ts_col="sip_timestamp",
        price_col="price_cents",
        tiebreak_cols=("sequence_number",),
    )
    return out.select("ticker", "n_pairs", "sx", "sy", "sxy",
                      "roll_spread_cents")


_ORACLE_ROLL_SPREAD = f"""
WITH t AS (
  SELECT event_type AS ticker, event_id, ts,
         CAST(round(value * 100) AS BIGINT) AS price_cents
  FROM events
), d1 AS (
  SELECT ticker, event_id, ts,
         price_cents - lag(price_cents) OVER w AS dd
  FROM t
  WINDOW w AS (PARTITION BY ticker ORDER BY ts, event_id)
), d AS (
  SELECT ticker, dd, lag(dd) OVER w AS dprev
  FROM d1
  WINDOW w AS (PARTITION BY ticker ORDER BY ts, event_id)
), f AS (
  SELECT ticker, dd, dprev FROM d
  WHERE dd IS NOT NULL AND dprev IS NOT NULL
), mom AS (
  SELECT ticker,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(dd) AS BIGINT) AS sx,
         CAST(sum(dprev) AS BIGINT) AS sy,
         CAST(sum(dd * dprev) AS BIGINT) AS sxy
  FROM f GROUP BY ticker
)
SELECT ticker, n_pairs, sx, sy, sxy,
  {round_portable_duck(
      "CASE WHEN n_pairs >= 10 AND (n_pairs * sxy - sx * sy) < 0 THEN "
      "2.0 * sqrt(-(CAST(n_pairs * sxy - sx * sy AS DOUBLE) "
      "/ (CAST(n_pairs AS DOUBLE) * CAST(n_pairs AS DOUBLE)))) END"
  )} AS roll_spread_cents
FROM mom
"""


AMIHUD_SCALE = 100_000_000  # 1e8 fixed-point for the per-bucket terms


def amihud_illiquidity(
    trades: DataFrame,
    keys: Sequence[str] = ("ticker",),
    ts_col: str = "sip_timestamp",
    price_col: str = "price",
    size_col: str = "size",
    bucket_seconds: int = 3600,
    min_buckets: int = 5,
) -> DataFrame:
    """Amihud (2002) illiquidity per key: the average over time
    buckets of ``|bucket return| / dollar volume`` (here cent-volume:
    price x size summed over the bucket) — price impact per unit
    traded. NULL under ``min_buckets`` observations.

    Determinism: bucket VWAP-free prices are integer-cent means and
    cent-volume is an exact BIGINT; each bucket's ratio QUANTIZES to
    1e8 fixed-point before the cross-bucket average (the SCALING.md
    integer-contribution rule), so the result is add-order-free.
    Output is scaled x1e6 (per-million-cents impact) for readability.
    """
    bucket_ns = int(bucket_seconds) * 1_000_000_000
    kc = list(keys)
    per_bucket = (
        trades.selectExpr(
            *kc,
            f"{ts_col} DIV {bucket_ns} AS __bucket",
            f"CAST({price_col} AS BIGINT) AS __p",
            f"CAST({size_col} AS BIGINT) AS __s",
        )
        .groupBy(*kc, "__bucket")
        .agg(
            F.expr("CAST(sum(__p) DIV count(*) AS BIGINT)")
            .alias("__price"),
            F.sum(F.expr("__p * __s")).cast("bigint").alias("__cvol"),
        )
    )
    w = Window.partitionBy(*kc).orderBy("__bucket")
    prev = F.lag("__price", 1).over(w)
    terms = (
        per_bucket.withColumn(
            "__ret",
            F.when((prev != F.lit(0)) & (F.col("__cvol") > 0),
                   F.col("__price").cast("double")
                   / prev.cast("double") - F.lit(1.0)),
        )
        .filter(F.col("__ret").isNotNull())
        .selectExpr(
            *kc,
            f"CAST(round(abs(__ret) * 1000000.0 "
            f"/ CAST(__cvol AS DOUBLE) * {AMIHUD_SCALE}) AS BIGINT)"
            f" AS __q",
        )
    )
    out = terms.groupBy(*kc).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum("__q").cast("bigint").alias("__sq"),
    )
    amihud = (
        f"CASE WHEN n_buckets >= {min_buckets} THEN "
        f"CAST(__sq AS DOUBLE) / {float(AMIHUD_SCALE)!r} "
        f"/ CAST(n_buckets AS DOUBLE) END"
    )
    return out.withColumn(
        "amihud_per_mcent", round_portable(F.expr(amihud))
    ).drop("__sq")


def _q_amihud(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = amihud_illiquidity(
        _events_as_trades(spark, sf_dir),
        keys=("ticker",),
        ts_col="sip_timestamp",
        price_col="price_cents",
        size_col="size",
    )
    return out.select("ticker", "n_buckets", "amihud_per_mcent")


_ORACLE_AMIHUD = f"""
WITH t AS (
  SELECT event_type AS ticker,
         (epoch_us(ts) * 1000) // {3600 * 1_000_000_000} AS bucket,
         CAST(round(value * 100) AS BIGINT) AS p,
         CAST(event_id % 97 + 1 AS BIGINT) AS s
  FROM events
), pb AS (
  SELECT ticker, bucket,
         CAST(sum(p) // count(*) AS BIGINT) AS price,
         CAST(sum(p * s) AS BIGINT) AS cvol
  FROM t GROUP BY 1, 2
), r AS (
  SELECT ticker, price, cvol,
         lag(price) OVER (PARTITION BY ticker ORDER BY bucket) AS prev
  FROM pb
), q AS (
  SELECT ticker,
         CAST(round(abs(CASE WHEN prev != 0 AND cvol > 0 THEN
             CAST(price AS DOUBLE) / CAST(prev AS DOUBLE) - 1.0 END)
           * 1000000.0 / CAST(cvol AS DOUBLE) * {AMIHUD_SCALE})
           AS BIGINT) AS qterm
  FROM r
  WHERE prev IS NOT NULL AND prev != 0 AND cvol > 0
), agg AS (
  SELECT ticker, CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(sum(qterm) AS BIGINT) AS sq
  FROM q GROUP BY ticker
)
SELECT ticker, n_buckets,
  {round_portable_duck(
      "CASE WHEN n_buckets >= 5 THEN "
      f"CAST(sq AS DOUBLE) / {float(AMIHUD_SCALE)!r} "
      "/ CAST(n_buckets AS DOUBLE) END")} AS amihud_per_mcent
FROM agg
"""


POC_BIN_CENTS = 500  # $5 price bins


def volume_profile_poc(
    trades: DataFrame,
    keys: Sequence[str] = ("ticker",),
    price_col: str = "price",
    size_col: str = "size",
    bin_cents: int = POC_BIN_CENTS,
) -> DataFrame:
    """Volume-profile point of control per key: the price bin where
    the most volume traded — (keys..., poc_bin, poc_lo_cents, poc_vol,
    total_vol). Ties take the LOWEST bin via the packed-scalar
    ``max_by`` idiom (vol·2^20 − bin; bins stay < 2^20 for any sane
    width). Two map-side-combinable aggregations over integer cents —
    nothing floats.
    """
    kc = list(keys)
    binned = (
        trades.selectExpr(
            *kc,
            f"CAST({price_col} AS BIGINT) DIV {bin_cents} AS __bin",
            f"CAST({size_col} AS BIGINT) AS __s",
        )
        .groupBy(*kc, "__bin")
        .agg(F.sum("__s").cast("bigint").alias("__vol"))
    )
    pick = "max_by(__bin, __vol * 1048576 - __bin)"
    return (
        binned.groupBy(*kc)
        .agg(
            F.expr(pick).cast("bigint").alias("poc_bin"),
            F.max(F.expr("__vol * 1048576 - __bin")).alias("__pk"),
            F.sum("__vol").cast("bigint").alias("total_vol"),
        )
        .withColumn("poc_vol", F.expr(
            "CAST((__pk + poc_bin) DIV 1048576 AS BIGINT)"))
        .withColumn("poc_lo_cents",
                    (F.col("poc_bin") * bin_cents).cast("bigint"))
        .select(*kc, "poc_bin", "poc_lo_cents", "poc_vol", "total_vol")
    )


def _q_poc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return volume_profile_poc(
        _events_as_trades(spark, sf_dir),
        keys=("ticker",),
        price_col="price_cents",
        size_col="size",
    )


_ORACLE_POC = f"""
WITH t AS (
  SELECT event_type AS ticker,
         CAST(round(value * 100) AS BIGINT) // {POC_BIN_CENTS} AS bin,
         CAST(event_id % 97 + 1 AS BIGINT) AS s
  FROM events
), b AS (
  SELECT ticker, bin, CAST(sum(s) AS BIGINT) AS vol
  FROM t GROUP BY 1, 2
)
SELECT ticker,
       CAST(max_by(bin, vol * 1048576 - bin) AS BIGINT) AS poc_bin,
       CAST(max_by(bin, vol * 1048576 - bin) * {POC_BIN_CENTS}
            AS BIGINT) AS poc_lo_cents,
       CAST((max(vol * 1048576 - bin)
             + max_by(bin, vol * 1048576 - bin)) // 1048576
            AS BIGINT) AS poc_vol,
       CAST(sum(vol) AS BIGINT) AS total_vol
FROM b GROUP BY ticker
"""


def _q_flow_imbalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = flow_imbalance(
        _events_as_trades(spark, sf_dir),
        keys=("ticker",),
        ts_col="sip_timestamp",
        price_col="price_cents",
        tiebreak_cols=("sequence_number",),
    )
    return out.select("ticker", "bucket", "n_buys", "n_sells",
                      "imbalance")


_ORACLE_FLOW = f"""
WITH t AS (
  SELECT event_type AS ticker, event_id,
         epoch_us(ts) * 1000 AS tns,
         CAST(round(value * 100) AS BIGINT) AS price_cents
  FROM events
), d AS (
  SELECT ticker, event_id, tns, price_cents,
         price_cents - lag(price_cents) OVER w AS chg
  FROM t
  WINDOW w AS (PARTITION BY ticker ORDER BY tns, event_id)
), s AS (
  SELECT ticker, tns,
         last_value(CASE WHEN chg > 0 THEN 1 WHEN chg < 0 THEN -1 END
                    IGNORE NULLS) OVER (
           PARTITION BY ticker ORDER BY tns, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS trade_sign
  FROM d
)
SELECT ticker, tns // {3600 * 1_000_000_000} AS bucket,
       CAST(sum(CASE WHEN trade_sign = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_buys,
       CAST(sum(CASE WHEN trade_sign = -1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sells,
       {round_portable_duck(
           "CAST(sum(CASE WHEN trade_sign = 1 THEN 1 ELSE 0 END)"
           " - sum(CASE WHEN trade_sign = -1 THEN 1 ELSE 0 END)"
           " AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS imbalance
FROM s WHERE trade_sign IS NOT NULL
GROUP BY 1, 2
"""


def _q_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Synthetic NBBO in integer cents around the event value; spreads
    # range [-12, 10] cents so the crossed-quote counter is exercised.
    quotes = load(spark, sf_dir, "events").selectExpr(
        "event_type AS ticker",
        "CAST(round(value * 100) AS BIGINT) - 5 + event_id % 11 "
        "AS bid_price",
        "CAST(round(value * 100) AS BIGINT) + 5 - event_id % 13 "
        "AS ask_price",
    )
    out = quote_spread_stats(quotes, keys=("ticker",))
    return out.select(
        "ticker", "n_quotes", "avg_spread", "median_spread",
        "min_bid", "max_ask", "crossed_quotes",
    )


_ORACLE_SPREAD = f"""
WITH q AS (
  SELECT event_type AS ticker,
         CAST(round(value * 100) AS BIGINT) - 5 + event_id % 11 AS bid_price,
         CAST(round(value * 100) AS BIGINT) + 5 - event_id % 13 AS ask_price
  FROM events
), s AS (
  SELECT ticker, bid_price, ask_price,
         ask_price - bid_price AS spread
  FROM q
)
SELECT ticker,
       count(*) AS n_quotes,
       {round_portable_duck('avg(spread)', 6)} AS avg_spread,
       {round_portable_duck('quantile_cont(spread, 0.5)', 6)}
         AS median_spread,
       CAST(min(bid_price) AS BIGINT) AS min_bid,
       CAST(max(ask_price) AS BIGINT) AS max_ask,
       count(CASE WHEN spread < 0 THEN 1 END) AS crossed_quotes
FROM s
GROUP BY ticker
"""


def twap(
    trades: DataFrame,
    price_col: str,
    keys: Sequence[str] = ("ticker",),
    ts_col: str = "sip_timestamp",
    seq_col: str = "sequence_number",
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Time-weighted average price per (key, bucket): each tick's price
    holds until the next tick in the same bucket; the bucket's final
    tick holds to the bucket end. Weights are exact millisecond BIGINTs
    (ns DIV 10^6) and prices are integer cents, so the weighted sums
    are exact integer arithmetic with ONE IEEE division at the end —
    bit-deterministic on any schedule (BIGINT bound: cents * ms-per-
    bucket ~ 5e4 * 3.6e6 = 1.8e11 per tick, ~5e15 per million-tick
    bucket). Plan: one hash shuffle on the key feeds both the lead()
    window and the bucket aggregation.
    """
    ns_bucket = bucket_seconds * 1_000_000_000
    df = trades.withColumn(
        "bucket_start",
        F.expr(f"{ts_col} DIV {ns_bucket}") * F.lit(bucket_seconds),
    )
    w = Window.partitionBy(*keys, "bucket_start").orderBy(
        F.col(ts_col).asc(), F.col(seq_col).asc())
    nxt = F.lead(ts_col, 1).over(w)
    bucket_end_ns = (F.col("bucket_start") + F.lit(bucket_seconds)) \
        * F.lit(1_000_000_000)
    # Integer DIV keeps this exact for any bucket_seconds (a double
    # round-trip is only exact while in-bucket deltas fit 2^53 ns;
    # VERDICT r03 nit — code now matches the "ns DIV 10^6" doc).
    df = df.withColumn(
        "__delta_ns", F.coalesce(nxt, bucket_end_ns) - F.col(ts_col)
    ).withColumn("__w_ms", F.expr("__delta_ns DIV 1000000"))
    return df.groupBy(*keys, "bucket_start").agg(
        (F.sum(F.col(price_col) * F.col("__w_ms")).cast("double")
         / F.sum("__w_ms").cast("double")).alias("twap"),
        F.sum("__w_ms").alias("held_ms"),
        F.count(F.lit(1)).alias("n_trades"),
    )


def _q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = twap(
        _events_as_trades(spark, sf_dir),
        keys=("ticker",),
        price_col="price_cents",
        ts_col="sip_timestamp",
        seq_col="sequence_number",
        bucket_seconds=3600,
    )
    return out.selectExpr(
        "ticker", "bucket_start", "twap AS twap_cents", "held_ms",
        "n_trades",
    )


_ORACLE_TWAP = f"""
WITH t AS (
  SELECT event_type AS ticker,
         epoch_us(ts) * 1000 AS ns,
         event_id AS seq,
         CAST(round(value * 100) AS BIGINT) AS price_cents
  FROM events
), b AS (
  SELECT ticker, ns, seq, price_cents,
         (ns // {3600 * 1_000_000_000}) * 3600 AS bucket_start
  FROM t
), h AS (
  SELECT ticker, bucket_start, price_cents,
         CAST((coalesce(
                 lead(ns) OVER (PARTITION BY ticker, bucket_start
                                ORDER BY ns, seq),
                 (bucket_start + 3600) * 1000000000)
               - ns) // 1000000 AS BIGINT) AS w_ms
  FROM b
)
SELECT ticker, bucket_start,
       CAST(sum(price_cents * w_ms) AS DOUBLE)
         / CAST(sum(w_ms) AS DOUBLE) AS twap_cents,
       CAST(sum(w_ms) AS BIGINT) AS held_ms,
       count(*) AS n_trades
FROM h
GROUP BY ticker, bucket_start
"""


QUERIES: dict = {
    "micro_vwap_events": (_q_vwap, _ORACLE_VWAP),
    "micro_sign_trades_events": (_q_sign_trades, _ORACLE_SIGN),
    "micro_spread_events": (_q_spread, _ORACLE_SPREAD),
    "micro_flow_imbalance_events": (_q_flow_imbalance, _ORACLE_FLOW),
    "micro_roll_spread_events": (_q_roll_spread, _ORACLE_ROLL_SPREAD),
    "micro_amihud_events": (_q_amihud, _ORACLE_AMIHUD),
    "micro_volume_poc_events": (_q_poc, _ORACLE_POC),
    "micro_twap_events": (_q_twap, _ORACLE_TWAP),
}
