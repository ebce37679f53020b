"""Indicator query/oracle pairs (reference parity surface, SURVEY §2.A A1-A5).

The Spark side computes indicators with ``with_indicators`` (one
``mapInPandas`` pass over the partition key — one shuffle, Arrow
batched) or the Catalyst-native SMA window. The oracle side expresses the same
recurrences in DuckDB SQL using prefix-list folds (``list_reduce``)
with floating-point expression trees identical to the kernels, so the
two sides agree bit-for-bit before rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import indicators as ind
from ..sources.tables import load
from .series import EVENTS_SERIES, ORDERS_SERIES, ROUND_DP, SeriesCfg, round_null

# ---------------------------------------------------------------------------
# Oracle SQL generation
# ---------------------------------------------------------------------------


def _alpha_sql(window: int) -> str:
    # Matches Python: 2.0 / (float(window) + 1.0)
    return f"(2.0/{float(window + 1)!r})"


def _ema_fold_sql(list_expr: str, alpha_sql: str) -> str:
    """Left fold seeded with the first element: alpha*v + (1-alpha)*acc."""
    return (
        f"list_reduce({list_expr}, "
        f"(acc, v) -> {alpha_sql}*v + (1.0 - {alpha_sql})*acc)"
    )


def oracle_indicator_sql(
    cfg: SeriesCfg,
    specs: list[ind.IndicatorSpec],
    dp: int | None = ROUND_DP,
) -> str:
    """DuckDB SQL computing ``specs`` over the series defined by ``cfg``.

    ``dp=None`` emits unrounded indicator columns (for downstream logic
    that must filter on raw values, e.g. signal thresholds)."""
    k = ", ".join(cfg.keys)
    o = ", ".join(cfg.order)
    over = f"PARTITION BY {k} ORDER BY {o}"
    frame = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    v = cfg.value

    need_pfx = any(s.kind in ("ema", "macd") for s in specs)
    need_rsi = any(s.kind == "rsi" for s in specs)

    base_cols = [f"row_number() OVER ({over}) AS rn"]
    if need_pfx:
        base_cols.append(f"list({v}) OVER ({over} {frame}) AS pfx")
    if need_rsi:
        base_cols.append(f"{v} - lag({v}) OVER ({over}) AS chg")
    for s in specs:
        if s.kind == "sma":
            base_cols.append(
                f"avg({v}) OVER ({over} ROWS BETWEEN {s.window - 1} "
                f"PRECEDING AND CURRENT ROW) AS raw_{s.out_col}"
            )

    sql = (
        f"WITH base AS (\n  SELECT *, {', '.join(base_cols)}\n"
        f"  FROM {cfg.table}\n)"
    )
    cur = "base"
    if need_rsi:
        sql += (
            ",\ngains AS (\n  SELECT *,"
            " CASE WHEN chg > 0.0 THEN chg ELSE 0.0 END AS gain,"
            " CASE WHEN chg < 0.0 THEN -chg ELSE 0.0 END AS loss"
            f"\n  FROM {cur}\n)"
        )
        sql += (
            ",\nglists AS (\n  SELECT *,"
            f" list(gain) OVER ({over} {frame}) AS gl,"
            f" list(loss) OVER ({over} {frame}) AS ll"
            "\n  FROM gains\n)"
        )
        cur = "glists"
        for s in specs:
            if s.kind != "rsi":
                continue
            n = s.window
            a = f"(1.0/{float(n)!r})"
            seed_g = f"(list_reduce(gl[2:{n + 1}], (a, b) -> a + b) / {float(n)!r})"
            seed_l = f"(list_reduce(ll[2:{n + 1}], (a, b) -> a + b) / {float(n)!r})"
            fold = (
                "list_reduce(list_concat([{seed}], {lst}[{start}:rn]), "
                "(acc, v) -> acc*(1.0 - {a}) + v*{a})"
            )
            ag = fold.format(seed=seed_g, lst="gl", start=n + 2, a=a)
            al = fold.format(seed=seed_l, lst="ll", start=n + 2, a=a)
            sql += (
                f",\nrsi_{n}_st AS (\n  SELECT *,"
                f" CASE WHEN rn >= {n + 1} THEN {ag} END AS ag_{n},"
                f" CASE WHEN rn >= {n + 1} THEN {al} END AS al_{n}"
                f"\n  FROM {cur}\n)"
            )
            cur = f"rsi_{n}_st"

    def rnd(expr: str) -> str:
        return expr if dp is None else f"round({expr}, {dp})"

    out_exprs = list(cfg.out_cols)
    for s in specs:
        if s.kind == "sma":
            e = f"CASE WHEN rn >= {s.window} THEN {rnd(f'raw_{s.out_col}')} END"
        elif s.kind == "ema":
            e = rnd(_ema_fold_sql("pfx", _alpha_sql(s.window)))
        elif s.kind == "macd":
            e = rnd(
                f"{_ema_fold_sql('pfx', '(2.0/13.0)')} - "
                f"{_ema_fold_sql('pfx', '(2.0/27.0)')}"
            )
        else:  # rsi
            n = s.window
            e = (
                f"CASE WHEN rn >= {n + 1} THEN "
                + rnd(
                    f"CASE WHEN al_{n} = 0.0 THEN 100.0 "
                    f"ELSE 100.0 - (100.0/(1.0 + ag_{n}/al_{n})) END"
                )
                + " END"
            )
        out_exprs.append(f"{e} AS {s.out_col}")

    sql += f"\nSELECT {', '.join(out_exprs)}\nFROM {cur}"
    return sql


# ---------------------------------------------------------------------------
# Spark queries
# ---------------------------------------------------------------------------


def spark_indicator_query(cfg: SeriesCfg, specs: list[ind.IndicatorSpec]):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = load(spark, sf_dir, cfg.table)
        df = ind.with_indicators(df, cfg.value, cfg.order, cfg.keys, specs)
        cols = [F.col(c) for c in cfg.out_cols] + [
            round_null(F.col(s.out_col)).alias(s.out_col) for s in specs
        ]
        return df.select(*cols)

    return fn


def spark_sma_native_query(cfg: SeriesCfg, window: int):
    """SMA via the pure-Catalyst window path (no Python workers)."""
    out = f"sma_{window}"

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = load(spark, sf_dir, cfg.table)
        df = ind.sma_native(df, cfg.value, cfg.order, cfg.keys, window, out)
        cols = [F.col(c) for c in cfg.out_cols] + [
            F.round(F.col(out), ROUND_DP).alias(out)
        ]
        return df.select(*cols)

    return fn


def _segmented_ema_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.segmented import with_indicators_segmented

    cfg = EVENTS_SERIES
    df = load(spark, sf_dir, cfg.table).withColumn(
        "__bucket", F.expr("event_id DIV 2000")
    )
    out = with_indicators_segmented(
        df, cfg.value, cfg.order, list(cfg.keys), "__bucket",
        [ind.ema(12)],
    )
    return out.select(
        *[F.col(c) for c in cfg.out_cols],
        round_null(F.col("ema_12")).alias("ema_12"),
    )


def _multicol_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load(spark, sf_dir, "lineitem")
    # NB window 12 -> alpha = 2/13, not exactly representable in
    # binary. A dyadic alpha (e.g. window 7 -> 0.25) makes EMA values of
    # 2-decimal prices land on exact decimal lattice points, hitting
    # round-half-at-4dp cases where Spark (BigDecimal HALF_UP) and
    # DuckDB (scaled-double rounding) legitimately disagree.
    specs = [
        ind.sma(5, "qty_sma_5", value_col="l_quantity"),
        ind.ema(12, "price_ema_12", value_col="l_extendedprice"),
    ]
    # Value columns as final tiebreakers: the synthetic lineitem has a
    # duplicate (shipdate, orderkey, linenumber) triple with different
    # values, which would make the fold order nondeterministic.
    out = ind.with_indicators(
        df, "l_extendedprice",
        ["l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice",
         "l_quantity"],
        ["l_suppkey"], specs,
    )
    return out.select(
        "l_suppkey", "l_orderkey", "l_linenumber",
        round_null(F.col("qty_sma_5")).alias("qty_sma_5"),
        round_null(F.col("price_ema_12")).alias("price_ema_12"),
    )


_ORACLE_MULTICOL_LINEITEM = f"""
WITH base AS (
  SELECT l_suppkey, l_orderkey, l_linenumber,
    row_number() OVER w AS rn,
    avg(l_quantity) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
      AS raw_sma,
    list(l_extendedprice) OVER
      (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pfx
  FROM lineitem
  WINDOW w AS (PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber,
                        l_extendedprice, l_quantity)
)
SELECT l_suppkey, l_orderkey, l_linenumber,
  CASE WHEN rn >= 5 THEN round(raw_sma, {ROUND_DP}) END AS qty_sma_5,
  round(list_reduce(pfx, (acc, v) -> (2.0/13.0)*v + (1.0 - (2.0/13.0))*acc),
        {ROUND_DP}) AS price_ema_12
FROM base
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

_COMBINED = [ind.sma(10), ind.ema(12), ind.rsi(14), ind.macd()]

QUERIES: dict = {
    # A1: SMA — Catalyst-native fast path on two different series.
    "ind_sma_native_orders": (
        spark_sma_native_query(ORDERS_SERIES, 5),
        oracle_indicator_sql(ORDERS_SERIES, [ind.sma(5)]),
    ),
    "ind_sma_native_events": (
        spark_sma_native_query(EVENTS_SERIES, 10),
        oracle_indicator_sql(EVENTS_SERIES, [ind.sma(10)]),
    ),
    # A1 exact path (kernel) — null-skipping semantics.
    "ind_sma_kernel_events": (
        spark_indicator_query(EVENTS_SERIES, [ind.sma(7)]),
        oracle_indicator_sql(EVENTS_SERIES, [ind.sma(7)]),
    ),
    # A2: EMA.
    "ind_ema_events": (
        spark_indicator_query(EVENTS_SERIES, [ind.ema(12)]),
        oracle_indicator_sql(EVENTS_SERIES, [ind.ema(12)]),
    ),
    "ind_ema_orders": (
        spark_indicator_query(ORDERS_SERIES, [ind.ema(5)]),
        oracle_indicator_sql(ORDERS_SERIES, [ind.ema(5)]),
    ),
    # A3: RSI.
    "ind_rsi_events": (
        spark_indicator_query(EVENTS_SERIES, [ind.rsi(14)]),
        oracle_indicator_sql(EVENTS_SERIES, [ind.rsi(14)]),
    ),
    # A4: MACD.
    "ind_macd_events": (
        spark_indicator_query(EVENTS_SERIES, [ind.macd()]),
        oracle_indicator_sql(EVENTS_SERIES, [ind.macd()]),
    ),
    # Combined: all four in one pass (reference bench query shape).
    "ind_combined_events": (
        spark_indicator_query(EVENTS_SERIES, _COMBINED),
        oracle_indicator_sql(EVENTS_SERIES, _COMBINED),
    ),
    # Segmented (parallel-in-time) path: same EMA semantics computed via
    # per-bucket affine composition — must match the serial oracle after
    # rounding (functions/segmented.py).
    "ind_ema_events_segmented": (
        _segmented_ema_events,
        oracle_indicator_sql(EVENTS_SERIES, [ind.ema(12)]),
    ),
    # Cross-column enrichment: quantity SMA + price EMA per supplier in
    # ONE pass/shuffle (per-spec value_col — the batch analog of the
    # streaming engine's price+volume state).
    "ind_multicol_lineitem": (
        _multicol_lineitem,
        _ORACLE_MULTICOL_LINEITEM,
    ),
}
