"""DataFrame-level indicator transforms (Spark-first orchestration).

The reference exposes ``sma/ema/rsi/macd`` as DataFusion *window UDFs*
evaluated over whole partitions (``src/functions/sma.rs:66-124``,
``uses_window_frame() == false``). Spark's frame-based ``WindowExec``
cannot express these recursive scans, so the idiomatic mapping is:

- **SMA fast path** — a plain windowed ``avg`` gated by a windowed
  ``count`` (pure Catalyst, whole-stage codegen, no Python). Exact
  whenever the value column has no NULLs (the null-skipping reference
  semantics only diverge on NULL inputs).
- **Exact path for all four** — one hash shuffle on the partition
  keys, a JVM sort within partitions, then one ``mapInPandas`` call per
  shuffle partition (``_map_series``) that folds every series of the
  partition at once with the row-parallel kernels and appends every
  requested indicator column. Arrow batches both directions; one
  shuffle total no matter how many indicators are requested.

Scale notes (100 TB):
- The only shuffle is the repartition on the partition keys; all
  indicators for a series are computed in that single pass.
- Python-worker memory is O(shuffle partition). Partition keys should
  be fine-grained (e.g. ``(ticker,)`` or ``(ticker, year)``); the
  driver never collects.
- Requesting a *global* series (no partition key) is a 1-task
  bottleneck by definition of the semantics; we allow it but warn.
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass
from typing import Iterable, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from . import kernels
from .kernels import ema_kernel, macd_kernel, rsi_kernel, sma_kernel

__all__ = ["IndicatorSpec", "sma", "ema", "rsi", "macd", "with_indicators",
           "sma_native"]


@dataclass(frozen=True)
class IndicatorSpec:
    """One requested indicator column.

    ``value_col`` overrides the transform-level default input column,
    allowing cross-column enrichment (e.g. a price EMA and a volume SMA)
    in one pass/shuffle — the batch analog of the streaming engine's
    price+volume state (streaming.rs:56-84).
    """

    kind: str  # 'sma' | 'ema' | 'rsi' | 'macd'
    window: int | None
    out_col: str
    value_col: str | None = None

    def __post_init__(self):
        if self.kind not in ("sma", "ema", "rsi", "macd"):
            raise ValueError(f"unknown indicator kind: {self.kind}")
        if self.kind != "macd" and (self.window is None or self.window <= 0):
            raise ValueError(f"{self.kind} requires a positive window")


def sma(window: int, out_col: str | None = None,
        value_col: str | None = None) -> IndicatorSpec:
    return IndicatorSpec("sma", window, out_col or f"sma_{window}", value_col)


def ema(window: int, out_col: str | None = None,
        value_col: str | None = None) -> IndicatorSpec:
    return IndicatorSpec("ema", window, out_col or f"ema_{window}", value_col)


def rsi(window: int, out_col: str | None = None,
        value_col: str | None = None) -> IndicatorSpec:
    return IndicatorSpec("rsi", window, out_col or f"rsi_{window}", value_col)


def macd(out_col: str = "macd", value_col: str | None = None) -> IndicatorSpec:
    return IndicatorSpec("macd", None, out_col, value_col)


_SCALAR = {
    "sma": sma_kernel,
    "ema": ema_kernel,
    "rsi": rsi_kernel,
    "macd": lambda v, _window: macd_kernel(v),
}
_FOLD2D = {
    "ema": lambda M, lens, w: kernels.ema_fold2d(M, 2.0 / (float(w) + 1.0)),
    "rsi": lambda M, lens, w: kernels.rsi_fold2d(M, lens, w),
    "macd": lambda M, lens, w: (kernels.ema_fold2d(M, 2.0 / 13.0)
                                - kernels.ema_fold2d(M, 2.0 / 27.0)),
}
# The row-parallel kernels pay one numpy step (~10-20 us) per time
# index whatever the series count; the scalar loops pay ~0.5-1 us per
# element. On 4 kernels over equal-length series the two cross at about
# 20-30 series per partition (numpy 2, x86 host), so a partition whose
# rows amount to fewer than this many longest series runs the scalar
# loops. Both give bit-identical results.
_ROW_PARALLEL_MIN_SERIES = 24


def with_indicators(
    df: DataFrame,
    value_col: str,
    order_by: Sequence[str],
    partition_by: Sequence[str],
    specs: Iterable[IndicatorSpec],
    max_rows_per_task: int | None = None,
    warn_context: str | None = None,
) -> DataFrame:
    """Append indicator columns computed per partition in arrival order.

    ``order_by`` must uniquely order rows within a partition (add a
    tiebreaker column if the primary sort key can repeat) — otherwise
    the recursive indicators are not well-defined.

    Execution: shuffle on the keys, sort within partitions JVM-side,
    then ONE ``mapInPandas`` pass per shuffle partition that finds the
    series boundaries and runs the kernels on every series of the
    partition at once (``_map_series``; a partition of only a few long
    series runs them series by series). Amortizes the Arrow/pandas
    round-trip over all groups in a partition (thousands of tiny
    series per Python call instead of one call per series). Memory:
    O(shuffle partition) in the Python worker — size partitions
    accordingly. NULL partition keys form one series, as in
    ``groupBy``. Without ``partition_by`` the whole frame is one series
    on one task, sorted in the JVM like a keyed one (NULL order values
    first).

    ``max_rows_per_task``: hot-key series splitting. Any series longer
    than this routes through the segmented bucketed-carry path
    (``segmented.with_indicators_segmented``): the series is cut into
    ~``max_rows_per_task``-row time buckets on the first order column
    (distributed ``percentile_approx`` boundaries) and computed in
    three parallel passes, so a single symbol with 10^9 ticks is no
    longer one task. Series at or under the cap keep the exact serial
    kernels. Segmented outputs are mathematically exact but may differ
    from the serial kernels by ~1 ulp per bucket boundary (affine
    recurrence reassociation — see ``segmented.py``); leave this OFF
    when bit-identical output matters. Requires a numeric first
    ``order_by`` column and NULL-free values in hot series.
    """
    specs = list(specs)
    if not specs:
        return df
    seen = set()
    for s in specs:
        if s.out_col in seen or s.out_col in df.columns:
            raise ValueError(f"duplicate output column: {s.out_col}")
        seen.add(s.out_col)
    order_by = list(order_by)
    partition_by = list(partition_by)
    if not order_by:
        raise ValueError("order_by is required: indicator semantics are "
                         "order-dependent (SURVEY.md §7 hard part 2)")

    if max_rows_per_task is not None:
        return _split_hot_series(
            df, value_col, order_by, partition_by, specs, max_rows_per_task,
        )

    if not partition_by:
        warnings.warn(
            "with_indicators without partition_by computes a single global "
            "series on one task — fine for small data, a bottleneck at "
            "scale (pass max_rows_per_task to split it)"
            + (f" [triggered by: {warn_context}]" if warn_context else ""),
            stacklevel=2,
        )

    def fold(pdf, starts, ends):
        # Per value column: pack the non-null runs once into a
        # (G, maxlen) NaN-padded matrix, so the recursive kernels run
        # PARALLEL ACROSS SERIES (one vectorized step per time index —
        # see kernels.*_fold2d) instead of a Python loop per series;
        # expression trees per element are unchanged, so results stay
        # bit-identical. A partition of few long series (a keyless
        # call, a hot key) runs the scalar kernels per series instead.
        columns = {}
        outs = {}
        for s in specs:
            col = s.value_col or value_col
            if col not in columns:
                arr = pdf[col].to_numpy(dtype="float64", na_value=np.nan)
                nn = ~np.isnan(arr)
                cum = np.concatenate(([0], np.cumsum(nn)))
                lens = cum[ends] - cum[starts]
                packed = None
                if lens.sum() >= _ROW_PARALLEL_MIN_SERIES * lens.max():
                    pos = np.flatnonzero(nn)
                    packed = (pos, lens,
                              kernels.pack_series(arr[pos], lens))
                columns[col] = (arr, packed)
            arr, packed = columns[col]
            out = np.full(len(pdf), np.nan)
            if s.kind == "sma" or packed is None:
                # scalar kernels per series (sma_kernel is vectorized
                # within one)
                for st, en in zip(starts, ends):
                    out[st:en] = _SCALAR[s.kind](arr[st:en], s.window)
            else:
                pos, lens, M = packed
                R = _FOLD2D[s.kind](M, lens, s.window)
                out[pos] = kernels.unpack_series(R, lens)
            outs[s.out_col] = out
        return outs

    return _map_series(df, partition_by, order_by,
                       [s.out_col for s in specs], fold)


def _map_series(df: DataFrame, keys: Sequence[str], order: Sequence[str],
                new_cols: Sequence[str], fold) -> DataFrame:
    """The one partition-packed series runner behind every recursive
    per-series indicator: shuffle on ``keys`` (one partition when there
    are none), sort within partitions by (keys, order) in the JVM, then
    one ``mapInPandas`` call per shuffle partition. Each call finds the
    series bounds — row ``starts[g]`` up to ``ends[g]`` — and appends
    the float64 columns of ``fold(pdf, starts, ends) -> {col: array}``.
    This is the one place that knows the series-boundary rule."""
    keys, order = list(keys), list(order)
    schema = StructType(
        df.schema.fields + [StructField(c, DoubleType(), True)
                            for c in new_cols]
    )

    def compute(batches):
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        if len(pdf) == 0:
            return
        # Rows arrive sorted by (keys..., order...). Null-safe compare:
        # pandas NaN != NaN is True, so a plain keys.ne(shift) would
        # start a new series on EVERY null-keyed row, silently resetting
        # the folds (groupBy treats nulls as one group). With no keys
        # the partition is one series.
        kdf = pdf[keys]
        shifted = kdf.shift()
        changed = (
            (kdf.ne(shifted) & ~(kdf.isna() & shifted.isna()))
            .any(axis=1)
            .to_numpy()
        )
        changed[0] = True
        starts = np.flatnonzero(changed)
        ends = np.append(starts[1:], len(pdf))
        outs = fold(pdf, starts, ends)
        for c in new_cols:
            pdf[c] = outs[c]
        yield pdf

    shuffled = df.repartition(*keys) if keys else df.repartition(1)
    return (shuffled.sortWithinPartitions(*keys, *order)
            .mapInPandas(compute, schema))


def _split_hot_series(
    df: DataFrame,
    value_col: str,
    order_by: list[str],
    partition_by: list[str],
    specs: list[IndicatorSpec],
    max_rows_per_task: int,
) -> DataFrame:
    """Route series longer than ``max_rows_per_task`` through the
    segmented bucketed-carry path; everything else keeps the serial
    kernels. Scale shape:

    - per-series row counts: one map-side-combined groupBy — tiny output
      (one row per series), and the over-cap key list is by definition
      FEW rows (hot keys), so it broadcasts into semi/anti joins — the
      big table is never shuffled for the split decision;
    - bucket boundaries for hot series: distributed
      ``percentile_approx`` over the hot rows only, one array per hot
      series, broadcast back;
    - the two paths union; each sees one shuffle on its own keys.

    One driver scalar (the max hot-series length) picks the global
    bucket count; no row data reaches the driver.
    """
    from .segmented import with_indicators_segmented  # circular-safe

    for s in specs:
        if s.value_col is not None and s.value_col != value_col:
            raise ValueError(
                "max_rows_per_task splitting supports a single value "
                "column (spec.value_col overrides not implemented)"
            )
    min_rows = 4 * max(
        (s.window for s in specs if s.window is not None), default=27
    )
    if max_rows_per_task < max(min_rows, 108):
        # RSI/Wilder seeds and the MACD 26-EMA must fit comfortably
        # inside the first bucket, with headroom for approx boundaries.
        raise ValueError(
            f"max_rows_per_task must be >= {max(min_rows, 108)} for these "
            "specs (the seed fold may not span a bucket boundary)"
        )

    keys = list(partition_by)
    drop_cols: list[str] = ["__bucket"]
    if not keys:
        df = df.withColumn("__series", F.lit(1))
        keys = ["__series"]
        drop_cols.append("__series")

    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n"))
    hot_keys = counts.filter(F.col("__n") > max_rows_per_task)
    max_n = hot_keys.agg(F.max("__n")).first()[0]

    base_cols = [c for c in df.columns if c not in ("__series",)]
    out_cols = base_cols + [s.out_col for s in specs]

    if max_n is None:
        # No hot series: plain path (common case — zero overhead beyond
        # the counts agg).
        out = with_indicators(
            df.drop("__series") if "__series" in drop_cols else df,
            value_col, order_by, partition_by, specs,
        )
        return out.select(*out_cols)

    hot = F.broadcast(hot_keys.select(*keys))
    cold_df = df.join(hot, keys, "left_anti")
    hot_df = df.join(hot, keys, "left_semi")

    import math

    n_buckets = math.ceil(max_n / max_rows_per_task)
    ord0 = order_by[0]
    probs = ", ".join(str(i / n_buckets) for i in range(1, n_buckets))
    bounds = hot_df.groupBy(*keys).agg(
        F.expr(
            f"percentile_approx({ord0}, array({probs}), 10000)"
        ).alias("__bounds")
    )
    bucketed = (
        hot_df.join(F.broadcast(bounds), keys)
        # Monotone in ord0 by construction: the bucket is the number of
        # boundaries at or below the row's order value.
        .withColumn(
            "__bucket",
            F.expr(f"size(filter(__bounds, x -> x <= {ord0}))")
            .cast("long"),
        )
        .drop("__bounds")
    )
    hot_out = with_indicators_segmented(
        bucketed, value_col, order_by, keys, "__bucket", specs
    ).drop(*drop_cols)

    cold_out = with_indicators(
        cold_df.drop("__series") if "__series" in drop_cols else cold_df,
        value_col, order_by, partition_by, specs,
    )
    return cold_out.select(*out_cols).unionByName(hot_out.select(*out_cols))


def sma_native(
    df: DataFrame,
    value_col: str,
    order_by: Sequence[str | Column],
    partition_by: Sequence[str],
    window: int,
    out_col: str | None = None,
) -> DataFrame:
    """Catalyst-native SMA: windowed avg gated by windowed count.

    Bit-for-bit identical to the reference semantics whenever
    ``value_col`` contains no NULLs; stays entirely in the JVM
    (whole-stage codegen, no Python workers).
    """
    out_col = out_col or f"sma_{window}"
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(-(window - 1), 0)
    )
    return df.withColumn(
        out_col,
        F.when(
            F.count(value_col).over(w) >= window, F.avg(value_col).over(w)
        ),
    )
