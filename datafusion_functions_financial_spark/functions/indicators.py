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

import math
import warnings
from dataclasses import dataclass
from typing import Iterable, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
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
    (distributed ``percentile_approx`` boundaries) and computed bucket
    by bucket in parallel, so a single symbol with 10^9 ticks is no
    longer one task. Series at or under the cap keep the exact serial
    kernels, bit for bit. Two small eager jobs (hot-key census, bucket
    bounds) run before the frame is returned. Segmented outputs are
    mathematically exact but may differ from the serial kernels by ~1
    ulp per bucket boundary (affine recurrence reassociation — see
    ``segmented.py``); leave this OFF when bit-identical output matters.
    Requires a numeric first ``order_by`` column and NULL-free values in
    hot series.
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

    return _map_series(df, partition_by, order_by,
                       [s.out_col for s in specs],
                       _indicator_fold(specs, value_col))


def _indicator_fold(specs: Sequence[IndicatorSpec], value_col: str):
    """The ``fold`` of ``with_indicators``: every spec's column over the
    runs ``starts[g]:ends[g]`` of a partition, NaN elsewhere.

    Per value column, the non-null values of the runs are packed once
    into a (G, maxlen) NaN-padded matrix, so the recursive kernels run
    PARALLEL ACROSS SERIES (one vectorized step per time index — see
    kernels.*_fold2d) instead of a Python loop per series; expression
    trees per element are unchanged, so results stay bit-identical.
    Runs that amount to only a few long series (a keyless call, a hot
    key) run the scalar kernels series by series instead."""

    def fold(pdf, starts, ends):
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
                n = lens.sum()
                if len(lens) and n >= _ROW_PARALLEL_MIN_SERIES * lens.max():
                    if n < cum[-1]:
                        # the runs leave rows out: keep only theirs
                        edges = np.zeros(len(arr) + 1, dtype=np.int64)
                        np.add.at(edges, starts, 1)
                        np.add.at(edges, ends, -1)
                        nn = nn & (np.cumsum(edges[:-1]) > 0)
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

    return fold


def _partition_frame(batches) -> pd.DataFrame | None:
    """One ``mapInPandas`` partition as one frame (None when empty)."""
    pdfs = list(batches)
    if not pdfs:
        return None
    pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
    return pdf if len(pdf) else None


def _runs(pdf: pd.DataFrame, keys: Sequence[str]):
    """(starts, ends) of the runs of equal ``keys`` in a frame sorted
    on them; no keys make the frame one run. Null-safe: pandas
    NaN != NaN is True, so a plain keys.ne(shift) would start a new
    run on EVERY null-keyed row, silently resetting the folds (groupBy
    treats nulls as one group)."""
    kdf = pdf[list(keys)]
    shifted = kdf.shift()
    changed = (
        (kdf.ne(shifted) & ~(kdf.isna() & shifted.isna()))
        .any(axis=1)
        .to_numpy()
    )
    changed[0] = True
    starts = np.flatnonzero(changed)
    return starts, np.append(starts[1:], len(pdf))


def _map_series(df: DataFrame, keys: Sequence[str], order: Sequence[str],
                new_cols: Sequence[str], fold) -> DataFrame:
    """The one partition-packed series runner behind every recursive
    per-series indicator: shuffle on ``keys`` (one partition when there
    are none), sort within partitions by (keys, order) in the JVM, then
    one ``mapInPandas`` call per shuffle partition. Each call finds the
    series bounds (``_runs``) — row ``starts[g]`` up to ``ends[g]`` —
    and appends the float64 columns of
    ``fold(pdf, starts, ends) -> {col: array}``."""
    keys, order = list(keys), list(order)
    schema = StructType(
        df.schema.fields + [StructField(c, DoubleType(), True)
                            for c in new_cols]
    )

    def compute(batches):
        pdf = _partition_frame(batches)
        if pdf is None:
            return
        starts, ends = _runs(pdf, keys)
        outs = fold(pdf, starts, ends)
        for c in new_cols:
            pdf[c] = outs[c]
        yield pdf

    shuffled = df.repartition(*keys) if keys else df.repartition(1)
    return (shuffled.sortWithinPartitions(*keys, *order)
            .mapInPandas(compute, schema))


def _struct_literal(row, fields: Sequence[StructField]) -> Column:
    """``row``'s values of ``fields`` as one struct literal."""
    return F.struct(*[F.lit(row[f.name]).cast(f.dataType).alias(f.name)
                      for f in fields])


def literal_relation(spark, rows: Sequence[Sequence],
                     schema: StructType | str) -> DataFrame:
    """A small driver-side relation of ``rows`` (tuples in ``schema``'s
    field order), handed to the JVM as one Arrow table: a
    ``LocalRelation`` up to ``spark.sql.execution.arrow.
    localRelationThreshold``, a JVM-side RDD of Arrow batches above it.
    ``spark.createDataFrame`` of a Python list would plan a Python RDD
    (``Scan ExistingRDD``), whose scan forks Python workers of its own;
    a ``range(1)`` plus ``inline`` of struct literals stays in the JVM
    but costs ~8 ms per row to build and plan."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    # Internal values (timestamps as epoch microseconds read in the
    # driver's local time zone, dates as days) are what the Arrow types
    # hold, so the conversion matches createDataFrame's.
    internal = [schema.toInternal(r) for r in rows]
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in internal], type=f.type)
         for i, f in enumerate(arrow)],
        schema=arrow)
    return spark.createDataFrame(table, schema)


def _broadcast_left_join(df: DataFrame, small: DataFrame,
                         keys: Sequence[str]) -> DataFrame:
    """``df`` left-joined to the broadcast ``small`` relation on
    ``keys``, NULL matching NULL as in ``groupBy``."""
    tmp = [f"__k{i}" for i in range(len(keys))]
    small = small.toDF(*[dict(zip(keys, tmp)).get(c, c)
                         for c in small.columns])
    cond = [F.col(k).eqNullSafe(F.col(t)) for k, t in zip(keys, tmp)]
    return df.join(F.broadcast(small), cond, "left").drop(*tmp)


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
    kernels. The input is read three times:

    1. hot-key census: one eager collect of the over-cap keys and their
       row counts (a map-side-combined count, one row per hot key); the
       longest fixes the bucket count, which ``percentile_approx``
       needs as a literal. No hot key: the plain path.
    2. bucket bounds: one eager ``percentile_approx`` per hot key over
       the hot rows only, collected (hot keys x buckets values) and
       broadcast back as a relation, so the plan does not grow with
       the number of hot keys.
    3. the returned frame: every row gets its bucket (cold rows 0) and
       ``segmented._segmented`` runs cold and hot series in one pass
       over one exchange on (keys, bucket); cold series come out of
       the same kernels as ``with_indicators``, bit for bit.
    """
    from .segmented import _segmented  # circular-safe

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

    out_cols = df.columns + [s.out_col for s in specs]
    keys = list(partition_by)
    if not keys:
        keys = ["__series"]
        src = df.withColumn("__series", F.lit(1))
    else:
        src = df

    # ---- read 1: hot-key census ------------------------------------------
    census = (
        src.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > max_rows_per_task)
        .collect()
    )
    if not census:
        return with_indicators(df, value_col, order_by, partition_by, specs)

    # ---- read 2: bucket bounds of the hot series -------------------------
    # Struct IN matches NULL fields like groupBy (and becomes a hash-set
    # lookup); a semi join with the census would cost one more job.
    key_fields = [src.schema[k] for k in keys]
    hot = [_struct_literal(r, key_fields) for r in census]
    n_buckets = math.ceil(max(r["__n"] for r in census) / max_rows_per_task)
    ord0 = order_by[0]
    probs = ", ".join(str(i / n_buckets) for i in range(1, n_buckets))
    bounds = (
        src.filter(F.struct(*keys).isin(*hot))
        .groupBy(*keys)
        .agg(F.expr(f"percentile_approx({ord0}, array({probs}), 10000)")
             .alias("__bounds"))
    )
    bounds = literal_relation(df.sparkSession, bounds.collect(),
                              bounds.schema)

    # ---- read 3: one pass over cold and hot rows -------------------------
    hot_row = F.col("__bounds").isNotNull()
    bucketed = (
        _broadcast_left_join(src, bounds, keys)
        .withColumn("__hot", hot_row)
        # Monotone in ord0 by construction: the bucket is the number of
        # boundaries at or below the row's order value.
        .withColumn(
            "__bucket",
            F.when(hot_row,
                   F.expr(f"size(filter(__bounds, x -> x <= {ord0}))"))
            .otherwise(F.lit(0)).cast("long"),
        )
        .drop("__bounds")
    )
    return _segmented(
        bucketed, value_col, order_by, keys, "__bucket", specs, "__hot"
    ).select(*out_cols)


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
