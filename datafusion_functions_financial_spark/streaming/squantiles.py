"""Streaming quantile sketches: per-event-time-window histogram
registers maintained as watermarked Structured Streaming state, with
quantile extraction over the sink contents — the streaming face of
``operators/qsketch.py`` (same grid, same registers, same
interpolation), following the drift-monitor split of work:

1. **In the stream**: assign each row its fixed-grid bucket (pure
   expression — the (lo, hi, B) grid is FROZEN from a baseline
   batch), then a watermarked windowed count per (window, bucket).
   State is bounded: (#windows in horizon) x B rows, append-capable.
2. **On the sink contents**: interpolate quantiles per window over
   the <= B-row register relation — re-runnable, engine-portable,
   and identical to ``qsketch.sketch_quantiles`` arithmetic.

Because the registers are exact integers on a shared grid, the
stream state after any replay equals the batch build bit-for-bit
(the qsketch merge property — micro-batches ARE partial sketches),
asserted in ``tests/test_streaming_squantiles.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.indicators import literal_relation
from ..operators.qsketch import N_BUCKETS, _bucket_expr
from ..plans.series import round_portable

__all__ = ["windowed_sketch_stream", "windowed_sketch_batch",
           "windowed_sketch_quantiles"]


def _binned(df: DataFrame, ts_col: str, value_col: str, lo: float,
            hi: float, n_buckets: int, window: str) -> DataFrame:
    bucket = (_bucket_expr(value_col, n_buckets)
              .replace("__lo", repr(float(lo)))
              .replace("__hi", repr(float(hi))))
    return (
        df.select(
            F.window(ts_col, window).alias("window"),
            F.expr(bucket).alias("__b"),
        )
        .groupBy("window", "__b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    )


def windowed_sketch_stream(stream_df: DataFrame, ts_col: str,
                           value_col: str, lo: float, hi: float,
                           n_buckets: int = N_BUCKETS,
                           window: str = "1 hour",
                           watermark: str = "1 hour") -> DataFrame:
    """(window, __b, __c): watermarked per-window registers — the
    streaming state IS the batch sketch relation."""
    if not stream_df.isStreaming:
        raise ValueError(
            "windowed_sketch_stream expects a streaming DataFrame; "
            "use windowed_sketch_batch for batch")
    return _binned(stream_df.withWatermark(ts_col, watermark),
                   ts_col, value_col, lo, hi, n_buckets, window)


def windowed_sketch_batch(df: DataFrame, ts_col: str, value_col: str,
                          lo: float, hi: float,
                          n_buckets: int = N_BUCKETS,
                          window: str = "1 hour") -> DataFrame:
    """Identical-expression batch twin."""
    return _binned(df, ts_col, value_col, lo, hi, n_buckets, window)


def windowed_sketch_quantiles(counts: DataFrame, ps: tuple,
                              lo: float, hi: float,
                              n_buckets: int = N_BUCKETS) -> DataFrame:
    """(window_start, window_end, p, est, n): interpolated quantiles
    per window from the sink's register relation — the
    ``qsketch.sketch_quantiles`` arithmetic keyed by window."""
    spark = counts.sparkSession
    wc = (Window.partitionBy("window").orderBy("__b")
          .rowsBetween(Window.unboundedPreceding, 0))
    wn = Window.partitionBy("window")
    cum = (
        counts.withColumn("__cum", F.sum("__c").over(wc))
        .withColumn("__n", F.sum("__c").over(wn))
    )
    ps_df = literal_relation(spark, [(float(p),) for p in ps], "p double")
    t = "p * CAST(__n AS DOUBLE)"
    est = (
        f"{float(lo)!r} + ({float(hi)!r} - {float(lo)!r}) "
        f"/ {float(n_buckets)!r} * (CAST(__b AS DOUBLE) "
        f"+ ({t} - CAST(__cum - __c AS DOUBLE)) / CAST(__c AS DOUBLE))"
    )
    return (
        cum.crossJoin(F.broadcast(ps_df))
        .filter(F.expr(
            f"CAST(__cum - __c AS DOUBLE) < {t} "
            f"AND {t} <= CAST(__cum AS DOUBLE)"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "p",
            round_portable(F.expr(est), 6).alias("est"),
            F.col("__n").alias("n"),
        )
    )
