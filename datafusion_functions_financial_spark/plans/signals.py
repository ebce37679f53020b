"""Batch trading-signal detectors (reference parity: SURVEY §2.A A13-A14).

Reference behavior (``/root/reference/src/polygon/signals.rs``):

- RSI detector (signals.rs:32-93): compute ``rsi(close,14)`` per ticker
  ordered by time, keep non-null rows, then RSI<30 -> Buy with
  confidence ``(30-rsi)/30``; RSI>70 -> Sell with ``(rsi-70)/30``.
  DataFusion accepted the window fn directly in WHERE; Spark (and ANSI)
  require the CTE/subquery form, which is what we build.
- MA-crossover detector (signals.rs:96-169): CTE with two SMAs and
  their LAGs per ticker; crossover predicate
  ``(prev_fast<=prev_slow AND fast>slow) OR (prev_fast>=prev_slow AND
  fast<slow)``; Buy if fast>slow else Sell; confidence
  ``|fast-slow|/price`` capped at 1.

Both are pure DataFrame pipelines over the indicator columns: the only
Python stage is the indicator kernel itself; filters/expressions stay
in Catalyst (predicate pushdown + whole-stage codegen apply).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..functions import indicators as ind
from ..sources.tables import load
from .indicator_queries import oracle_indicator_sql
from .series import (
    EVENTS_SERIES,
    LINEITEM_SUPPLIER_SERIES,
    ROUND_DP,
    SeriesCfg,
    round_null,
)

BUY = "Buy"
SELL = "Sell"


def detect_rsi_signals(
    df: DataFrame,
    value_col: str,
    order_by,
    partition_by,
    window: int = 14,
    low: float = 30.0,
    high: float = 70.0,
) -> DataFrame:
    """RSI threshold detector; returns rows where a signal fires."""
    rsi_col = f"rsi_{window}"
    out = ind.with_indicators(df, value_col, order_by, partition_by,
                              [ind.rsi(window, rsi_col)])
    r = F.col(rsi_col)
    return (
        out.filter(r.isNotNull() & ~F.isnan(r) & ((r < low) | (r > high)))
        .withColumn(
            "signal_type", F.when(r < low, F.lit(BUY)).otherwise(F.lit(SELL))
        )
        .withColumn(
            "confidence",
            F.when(r < low, (F.lit(low) - r) / F.lit(30.0))
            .otherwise((r - F.lit(high)) / F.lit(30.0)),
        )
        .withColumn(
            "reason",
            F.when(r < low, F.format_string("RSI oversold: %.2f", r))
            .otherwise(F.format_string("RSI overbought: %.2f", r)),
        )
    )


def detect_ma_crossover_signals(
    df: DataFrame,
    value_col: str,
    order_by,
    partition_by,
    fast: int = 20,
    slow: int = 50,
    method: str = "kernel",
) -> DataFrame:
    """SMA fast/slow crossover detector (reference windows: 20/50).

    ``method="kernel"`` runs the null-skipping indicator kernels
    (exact reference semantics for any input) in one
    ``indicators._map_series`` pass: the same fold that computes both
    SMAs also shifts them one row within each series into
    ``prev_fast``/``prev_slow`` (the reference's ``LAG``), so the
    detector shuffles and sorts the data once. ``method="native"``
    uses the pure-JVM windowed-avg SMA (``ind.sma_native``) — bit-
    identical whenever ``value_col`` has no NULLs/NaNs, and the whole
    detector then stays in whole-stage codegen with ONE shuffle (both
    SMAs, both LAGs, and the predicate share the same window spec).
    Prefer it for null-free price series at scale.
    """
    f_col, s_col = f"sma_{fast}", f"sma_{slow}"
    if method == "native":
        out = ind.sma_native(df, value_col, order_by, partition_by,
                             fast, f_col)
        out = ind.sma_native(out, value_col, order_by, partition_by,
                             slow, s_col)
        w = Window.partitionBy(*partition_by).orderBy(*order_by)
        out = (out.withColumn("prev_fast", F.lag(f_col).over(w))
               .withColumn("prev_slow", F.lag(s_col).over(w)))
    elif method == "kernel":
        smas = ind._indicator_fold(
            [ind.sma(fast, f_col), ind.sma(slow, s_col)], value_col)

        def fold(pdf, starts, ends):
            outs = smas(pdf, starts, ends)
            for col, prev in ((f_col, "prev_fast"), (s_col, "prev_slow")):
                # the previous row's value within its series
                lagged = np.roll(outs[col], 1)
                lagged[starts] = np.nan
                outs[prev] = lagged
            return outs

        out = ind._map_series(df, partition_by, order_by,
                              [f_col, s_col, "prev_fast", "prev_slow"], fold)
    else:
        raise ValueError("method must be 'kernel' or 'native'")
    fa, sl = F.col(f_col), F.col(s_col)
    pf, ps = F.col("prev_fast"), F.col("prev_slow")
    notnan = ~F.isnan(fa) & ~F.isnan(sl) & ~F.isnan(pf) & ~F.isnan(ps)
    crossed = ((pf <= ps) & (fa > sl)) | ((pf >= ps) & (fa < sl))
    return (
        out.filter(
            fa.isNotNull() & sl.isNotNull() & pf.isNotNull() & ps.isNotNull()
            & notnan & crossed
        )
        .withColumn(
            "signal_type", F.when(fa > sl, F.lit(BUY)).otherwise(F.lit(SELL))
        )
        .withColumn(
            "confidence",
            # Crossover rows have |fast-slow| > 0, so price == 0 would
            # give +inf -> capped to 1.0; branch explicitly (ANSI mode
            # raises on /0, and the oracle mirrors this CASE).
            F.when(F.col(value_col) == 0.0, F.lit(1.0)).otherwise(
                F.least(F.abs(fa - sl) / F.col(value_col), F.lit(1.0))
            ),
        )
    )


# ---------------------------------------------------------------------------
# Registry query/oracle pairs (events series: user_id=ticker, value=close)
# ---------------------------------------------------------------------------


def _rsi_signals_query(cfg: SeriesCfg, window: int):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = load(spark, sf_dir, cfg.table)
        out = detect_rsi_signals(df, cfg.value, cfg.order, cfg.keys, window)
        return out.select(
            *[F.col(c) for c in cfg.out_cols],
            round_null(F.col(f"rsi_{window}")).alias(f"rsi_{window}"),
            F.col("signal_type"),
            round_null(F.col("confidence")).alias("confidence"),
        )

    return fn


def _rsi_signals_oracle(cfg: SeriesCfg, window: int) -> str:
    # The inner CTE emits the UNROUNDED rsi (bit-identical to the Spark
    # kernel), so threshold filtering agrees exactly; round on output.
    spec_sql = oracle_indicator_sql(cfg, [ind.rsi(window)], dp=None)
    r = f"rsi_{window}"
    return (
        f"WITH sig AS (\n{spec_sql}\n)\n"
        f"SELECT {', '.join(cfg.out_cols)}, round({r}, {ROUND_DP}) AS {r},\n"
        f"  CASE WHEN {r} < 30.0 THEN 'Buy' ELSE 'Sell' END AS signal_type,\n"
        f"  round(CASE WHEN {r} < 30.0 THEN (30.0 - {r})/30.0 "
        f"ELSE ({r} - 70.0)/30.0 END, {ROUND_DP}) AS confidence\n"
        f"FROM sig WHERE {r} IS NOT NULL AND ({r} < 30.0 OR {r} > 70.0)"
    )


def _xover_query(cfg: SeriesCfg, fast: int, slow: int,
                 method: str = "kernel"):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = load(spark, sf_dir, cfg.table)
        out = detect_ma_crossover_signals(
            df, cfg.value, cfg.order, cfg.keys, fast, slow, method
        )
        return out.select(
            *[F.col(c) for c in cfg.out_cols],
            round_null(F.col(f"sma_{fast}")).alias(f"sma_{fast}"),
            round_null(F.col(f"sma_{slow}")).alias(f"sma_{slow}"),
            F.col("signal_type"),
            round_null(F.col("confidence")).alias("confidence"),
        )

    return fn


def _xover_oracle(cfg: SeriesCfg, fast: int, slow: int) -> str:
    k = ", ".join(cfg.keys)
    o = ", ".join(cfg.order)
    over = f"PARTITION BY {k} ORDER BY {o}"
    v = cfg.value
    fa, sl = f"sma_{fast}", f"sma_{slow}"

    def sma_raw(n: int) -> str:
        # Explicit sequential fold (0.0 seed, frame order), NOT
        # avg() OVER: DuckDB's windowed avg aggregates via a segment
        # tree whose add order differs in the last bit from the
        # sequential sums both Spark paths produce — invisible under
        # output rounding, but the crossover predicate compares
        # UNROUNDED fast vs slow averages and a one-ulp difference
        # flips knife-edge signals (observed at sf0.1).
        frame = (f"{over} ROWS BETWEEN {n - 1} PRECEDING AND "
                 f"CURRENT ROW")
        return (
            f"CASE WHEN row_number() OVER ({over}) >= {n} THEN "
            f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list({v}) OVER ({frame})), (a, b) -> a + b) "
            f"/ CAST({n} AS DOUBLE) END"
        )

    return f"""
WITH ma AS (
  SELECT *, {sma_raw(fast)} AS {fa}, {sma_raw(slow)} AS {sl}
  FROM {cfg.table}
), lagged AS (
  SELECT *, lag({fa}) OVER ({over}) AS prev_fast,
            lag({sl}) OVER ({over}) AS prev_slow
  FROM ma
)
SELECT {', '.join(cfg.out_cols)},
  round({fa}, {ROUND_DP}) AS {fa},
  round({sl}, {ROUND_DP}) AS {sl},
  CASE WHEN {fa} > {sl} THEN 'Buy' ELSE 'Sell' END AS signal_type,
  round(CASE WHEN {v} = 0.0 THEN 1.0
        ELSE least(abs({fa} - {sl}) / {v}, 1.0) END, {ROUND_DP}) AS confidence
FROM lagged
WHERE {fa} IS NOT NULL AND {sl} IS NOT NULL
  AND prev_fast IS NOT NULL AND prev_slow IS NOT NULL
  AND ((prev_fast <= prev_slow AND {fa} > {sl})
    OR (prev_fast >= prev_slow AND {fa} < {sl}))
"""


QUERIES: dict = {
    "signals_rsi_events": (
        _rsi_signals_query(EVENTS_SERIES, 14),
        _rsi_signals_oracle(EVENTS_SERIES, 14),
    ),
    # Reference uses 20/50; events partitions (~60-90 rows) make 5/10 the
    # data-appropriate choice with identical semantics.
    "signals_ma_crossover_events": (
        _xover_query(EVENTS_SERIES, 5, 10),
        _xover_oracle(EVENTS_SERIES, 5, 10),
    ),
    # The reference's exact 20/50 configuration (signals.rs:104-110) on
    # series long enough to exercise it (per-supplier lineitem prices).
    # method='native': l_extendedprice is null-free, so the pure-JVM
    # windowed-avg SMA is bit-identical to the kernel and the whole
    # detector stays in whole-stage codegen (one shuffle).
    "signals_ma_crossover_lineitem_2050": (
        _xover_query(LINEITEM_SUPPLIER_SERIES, 20, 50, method="native"),
        _xover_oracle(LINEITEM_SUPPLIER_SERIES, 20, 50),
    ),
}
