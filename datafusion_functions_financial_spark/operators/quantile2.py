"""Exact quantiles #2: rolling window median, trimmed mean, and a
two-pass histogram-partitioned EXACT median that never materializes
a per-group value buffer — the quantile family member designed for
the 100 TB path, where ``percentile()`` (which buffers every group
value on one task) stops being an option.

Engine-exact: the rolling median uses an ODD full window so the
exact element is selected with no interpolation (partial warm-up
windows interpolate, absorbed by portable rounding); trimmed-mean
thresholds are portably rounded before the boundary compare so an
interpolation ulp cannot flip a row; the two-pass median picks the
k-th order statistic(s) by exact integer rank arithmetic.

Plan shapes at scale:
- rolling_median: one shuffle on the series key; the window buffers
  ``n`` rows per task — O(n), not O(group).
- trimmed_mean: per-group threshold aggregate broadcast back, then
  one conditional hash aggregate (same shape as quality.winsorize).
- distributed_median: pass 1 aggregates per-group (min, max, n);
  then fixed 1024-bucket histograms (map-side combinable) narrow
  each group's target bucket until it fits a row budget; the final
  ranking ships ONLY the needed order statistics to the driver via
  a broadcast (tid, rank) equi-join below the collect. No global
  sort, no per-group buffering, O(k) driver rows — this is how you
  take an exact median of a 100 TB column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.indicators import literal_relation
from ..plans.series import round_portable, round_portable_duck
from ..sources.tables import load

__all__ = ["rolling_median", "trimmed_mean", "distributed_median"]

Q = 10 ** 8
N_BUCKETS = 1024
ROLL_N = 15  # odd: the full-window median is an exact element


def rolling_median(df: DataFrame, value_col: str, keys: list[str],
                   order: list[str], n: int = ROLL_N) -> DataFrame:
    """Adds ``roll_med`` — exact median over the trailing ``n``-row
    window per key. Use an odd ``n`` so every full window selects an
    exact element (no interpolation)."""
    okeys = ", ".join(keys)
    oorder = ", ".join(order)
    return df.withColumn("roll_med", F.expr(
        f"percentile({value_col}, CAST(1 AS DOUBLE) / 2) OVER "
        f"(PARTITION BY {okeys} ORDER BY {oorder} "
        f"ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)"))


def trimmed_mean(df: DataFrame, value_col: str, group_col: str,
                 lo: float = 0.1, hi: float = 0.9,
                 q_lin: int = Q) -> DataFrame:
    """(group, n, n_kept, trimmed_mean): mean of the values inside
    the group's portably-rounded [lo, hi] percentile band — the
    outlier-robust location estimate. Kept values sum through a
    quantized BIGINT."""
    bounds = df.groupBy(group_col).agg(
        round_portable(F.expr(
            f"percentile({value_col}, {lo!r})")).alias("__lo"),
        round_portable(F.expr(
            f"percentile({value_col}, {hi!r})")).alias("__hi"),
        F.count(F.lit(1)).cast("bigint").alias("__n"),
    )
    kept = f"{value_col} >= __lo AND {value_col} <= __hi"
    return (
        df.join(F.broadcast(bounds), group_col)
        .groupBy(group_col)
        .agg(
            F.max("__n").alias("n"),
            F.sum(F.expr(
                f"CASE WHEN {kept} THEN 1 ELSE 0 END"
            )).cast("bigint").alias("n_kept"),
            F.sum(F.expr(
                f"CASE WHEN {kept} THEN "
                f"CAST(round({value_col} * {q_lin}) AS BIGINT) "
                f"ELSE 0 END")).alias("__s"),
        )
        .select(
            group_col, "n", "n_kept",
            round_portable(F.expr(
                f"CAST(__s AS DOUBLE) "
                f"/ (CAST(n_kept AS DOUBLE) * {float(q_lin)!r})"), 6
            ).alias("trimmed_mean"),
        )
    )


MAX_GROUPS = 100_000
BUCKET_ROW_BUDGET = 100_000


def distributed_median(df: DataFrame, value_col: str, group_col: str,
                       id_col: str, max_groups: int = MAX_GROUPS,
                       bucket_row_budget: int = BUCKET_ROW_BUDGET,
                       max_passes: int = 8) -> DataFrame:
    """(group, n, median): EXACT median per group via iterated
    histogram narrowing — a fixed 1024-bucket histogram locates the
    bucket(s) holding the middle order statistic(s); any target
    bucket larger than ``bucket_row_budget`` is re-histogrammed over
    its own (observed min, max) sub-range until it fits; only then
    are the final rows ranked, and ONLY the exact needed ranks are
    shipped to the driver. Matches ``quantile_cont(0.5)``: odd n
    picks the middle element, even n averages the two middles.

    Scale contract (the 100 TB path):
    - the driver touches ``n_groups * 1024`` histogram integers per
      narrowing pass plus exactly ONE data row per needed order
      statistic — never a whole bucket (the rank filter is a
      broadcast equi-join BELOW the collect);
    - the final per-target ``row_number`` sort is bounded by
      ``bucket_row_budget`` rows, so no single task ever sorts a hot
      group's full bucket;
    - each narrowing pass is one scan + one map-side-combinable
      aggregate; passes are O(log_1024(n_max_group)).

    Preconditions: ``group_col`` cardinality must be driver-small
    (pass 1 collects one (min, max, n) row per group) — enforced via
    ``max_groups``. Degenerate groups/buckets (min == max) resolve
    without ranking. Group keys may be any orderable dtype (the
    broadcast frames reuse the input schema's field types).
    For high-cardinality groups past ``max_groups``, use the fully
    distributed ``qsketch`` path (no driver state, bucket-width
    error) or pre-aggregate to a coarser key — the failure mode and
    contract are documented in SCALING.md §"r08 notes"."""
    spark = df.sparkSession
    gfield = df.schema[group_col]
    vfield = df.schema[value_col]
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    def _frame(rows, fields):
        return literal_relation(spark, rows, StructType(fields))

    n_groups = df.select(group_col).distinct().limit(
        max_groups + 1).count()
    if n_groups > max_groups:
        raise ValueError(
            f"distributed_median: {group_col} exceeds max_groups="
            f"{max_groups} distinct keys; pass 1 collects one row per "
            "group — pre-aggregate or raise max_groups deliberately")
    hist = (
        df.groupBy(group_col).agg(
            F.min(value_col).alias("__lo"),
            F.max(value_col).alias("__hi"),
            F.count(F.lit(1)).alias("__n"),
        )
    )
    meta = {r[group_col]: (r["__lo"], r["__hi"], r["__n"])
            for r in hist.collect()}
    results = []          # (group, n, median) fully resolved
    picked: dict = {}     # (group, k) -> exact k-th value
    # Unresolved targets: tid -> (g, lo, hi, cnt, needs) where needs
    # is [(k_orig, k_local)] — k_local is the rank inside the rows
    # with value BETWEEN lo AND hi (bucket ids are monotone in the
    # value, so the observed [min, max] of a bucket selects exactly
    # its rows).
    targets: dict = {}
    tid = 0
    for g, (lo, hi, n) in meta.items():
        ks = sorted({(n + 1) // 2, (n + 2) // 2})
        if lo is None or hi <= lo:  # all-null or constant group
            for k in ks:
                picked[(g, k)] = lo
            continue
        targets[tid] = (g, lo, hi, int(n), [(k, k) for k in ks])
        tid += 1

    # Double-cast before the width arithmetic: monotone (so the
    # [bmin, bmax] membership invariant holds) and overflow-safe for
    # wide integer value columns.
    bucket = (
        f"CAST(least(CAST({N_BUCKETS - 1} AS BIGINT), "
        f"CAST(floor((CAST({value_col} AS DOUBLE) "
        f"- CAST(__tlo AS DOUBLE)) * {N_BUCKETS} "
        f"/ (CAST(__thi AS DOUBLE) - CAST(__tlo AS DOUBLE))) "
        f"AS BIGINT)) AS BIGINT)"
    )
    tmeta_fields = [
        StructField("__tid", LongType()),
        StructField("__g", gfield.dataType),
        StructField("__tlo", vfield.dataType),
        StructField("__thi", vfield.dataType),
    ]

    def _restrict(tdf):
        """Rows of each target's group restricted to its [lo, hi]."""
        return df.join(
            F.broadcast(tdf),
            (F.col(group_col) == F.col("__g"))
            & (F.col(value_col) >= F.col("__tlo"))
            & (F.col(value_col) <= F.col("__thi")))

    passes = 0
    while any(cnt > bucket_row_budget and hi > lo
              for (_g, lo, hi, cnt, _ks) in targets.values()):
        passes += 1
        if passes > max_passes:  # pathological: fall through to rank
            break
        wide = {t: v for t, v in targets.items()
                if v[3] > bucket_row_budget and v[2] > v[1]}
        tdf = _frame([(t, g, lo, hi) for t, (g, lo, hi, _c, _k)
                      in wide.items()], tmeta_fields)
        counts = (
            _restrict(tdf)
            .withColumn("__b", F.expr(bucket))
            .groupBy("__tid", "__b")
            .agg(F.count(F.lit(1)).alias("__c"),
                 F.min(value_col).alias("__bmin"),
                 F.max(value_col).alias("__bmax"))
            .collect()
        )
        by_tid: dict = {}
        for r in counts:
            by_tid.setdefault(r["__tid"], {})[r["__b"]] = (
                r["__c"], r["__bmin"], r["__bmax"])
        for t, (g, lo, hi, cnt, needs) in wide.items():
            del targets[t]
            buckets = by_tid.get(t, {})
            cum = 0
            narrowed: dict = {}  # b -> [(k_orig, k_local_in_bucket)]
            for b in range(N_BUCKETS):
                c, bmin, bmax = buckets.get(b, (0, None, None))
                for k_orig, k_local in needs:
                    if cum < k_local <= cum + c:
                        narrowed.setdefault(b, []).append(
                            (k_orig, k_local - cum))
                cum += c
            for b, kk in narrowed.items():
                c, bmin, bmax = buckets[b]
                if bmin == bmax:  # every row in bucket equal: done
                    for k_orig, _kl in kk:
                        picked[(g, k_orig)] = bmin
                    continue
                targets[tid] = (g, bmin, bmax, int(c), kk)
                tid += 1

    if targets:
        tdf = _frame([(t, g, lo, hi) for t, (g, lo, hi, _c, _k)
                      in targets.items()], tmeta_fields)
        # Rank filter (VERDICT r06 #1): ship ONLY the needed ranks —
        # the broadcast (tid, rank) equi-join sits below the collect,
        # so the driver receives one row per order statistic.
        need_rows = [(t, kl) for t, (_g, _lo, _hi, _c, kk)
                     in targets.items() for (_ko, kl) in kk]
        ndf = _frame(need_rows, [StructField("__tid", LongType()),
                                 StructField("__rn", LongType())])
        ranked = (
            _restrict(tdf)
            .withColumn("__rn", F.row_number().over(
                Window.partitionBy("__tid")
                .orderBy(F.col(value_col).asc(),
                         F.col(id_col).asc())).cast("long"))
            .join(F.broadcast(ndf), ["__tid", "__rn"])
            .select("__tid", "__rn", value_col)
            .collect()
        )
        vals = {(r["__tid"], r["__rn"]): r[value_col] for r in ranked}
        for t, (g, _lo, _hi, _c, kk) in targets.items():
            for k_orig, k_local in kk:
                picked[(g, k_orig)] = vals[(t, k_local)]
    for g, (_lo, _hi, n) in meta.items():
        k1, k2 = (n + 1) // 2, (n + 2) // 2
        v1, v2 = picked[(g, k1)], picked[(g, k2)]
        med = None if v1 is None else (float(v1) + float(v2)) / 2
        results.append((g, int(n), med))
    out = _frame(sorted(results, key=lambda r: (r[0] is None, r[0])), [
        StructField(group_col, gfield.dataType),
        StructField("n", LongType()),
        StructField("median", DoubleType()),
    ])
    return out.select(
        group_col, "n", round_portable(F.col("median"), 6).alias("median"))


# --------------------------------------------------------------------------
# Gate queries
# --------------------------------------------------------------------------


def _q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = rolling_median(load(spark, sf_dir, "events"), "value",
                         ["event_type"], ["ts", "event_id"])
    return out.select(
        "event_type", "event_id",
        round_portable(F.col("roll_med"), 6).alias("roll_med"))


_ORACLE_ROLLING_MEDIAN = f"""
SELECT event_type, event_id,
  {round_portable_duck(
      f"quantile_cont(value, CAST(1 AS DOUBLE) / 2) OVER "
      f"(PARTITION BY event_type ORDER BY ts, event_id "
      f"ROWS BETWEEN {ROLL_N - 1} PRECEDING AND CURRENT ROW)", 6)}
    AS roll_med
FROM events
"""


def _q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    # o_totalprice reaches 5e5: cents-exact 1e4 keeps sums in range.
    return trimmed_mean(load(spark, sf_dir, "orders"), "o_totalprice",
                        "o_orderpriority", q_lin=10 ** 4)


_ORACLE_TRIMMED_MEAN = f"""
WITH bounds AS (
  SELECT o_orderpriority,
         {round_portable_duck("quantile_cont(o_totalprice, 0.1)")}
           AS lo,
         {round_portable_duck("quantile_cont(o_totalprice, 0.9)")}
           AS hi,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1
)
SELECT o.o_orderpriority, max(b.n) AS n,
  CAST(sum(CASE WHEN o.o_totalprice >= b.lo
                 AND o.o_totalprice <= b.hi THEN 1 ELSE 0 END)
    AS BIGINT) AS n_kept,
  {round_portable_duck(
      "CAST(sum(CASE WHEN o.o_totalprice >= b.lo "
      "AND o.o_totalprice <= b.hi THEN "
      "CAST(round(o.o_totalprice * 10000) AS BIGINT) ELSE 0 END) "
      "AS DOUBLE) / (CAST(sum(CASE WHEN o.o_totalprice >= b.lo "
      "AND o.o_totalprice <= b.hi THEN 1 ELSE 0 END) AS DOUBLE) "
      "* 10000.0)", 6)} AS trimmed_mean
FROM orders o JOIN bounds b ON o.o_orderpriority = b.o_orderpriority
GROUP BY 1
"""


def _q_distributed_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    return distributed_median(load(spark, sf_dir, "lineitem"),
                              "l_extendedprice", "l_returnflag",
                              "l_orderkey")


_ORACLE_DISTRIBUTED_MEDIAN = f"""
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
  {round_portable_duck("median(l_extendedprice)", 6)} AS median
FROM lineitem GROUP BY 1
"""


QUERIES: dict = {
    "roll_median_events": (_q_rolling_median, _ORACLE_ROLLING_MEDIAN),
    "q_trimmed_mean_orders": (_q_trimmed_mean, _ORACLE_TRIMMED_MEAN),
    "q_distributed_median_lineitem": (
        _q_distributed_median, _ORACLE_DISTRIBUTED_MEDIAN),
}
