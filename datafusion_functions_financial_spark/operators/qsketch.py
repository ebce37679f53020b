"""Mergeable quantile sketch: fixed-grid equi-width histogram
registers with linear interpolation — the streaming/partition-
friendly complement to ``quantile2``'s exact medians (VERDICT r06
item 8's first seed).

Why this representation: given a fixed (lo, hi, B) grid, a sketch is
just a B-vector of counts — per-partition (or per-shard, per-day)
sketches merge by vector ADDITION, so the build is one map-side-
combinable aggregate, merges are associative/commutative (any
shuffle or replay order gives bit-identical registers, they're
integers), and a 100-TB column summarizes to B*8 bytes per group.
Quantile extraction interpolates inside the target bucket:
``est(p) = lo + w * (b + (p*n - cum_before) / c_b)`` — deterministic
double arithmetic on exact integer counts, reproduced term-for-term
by the DuckDB oracles. Accuracy is bounded by the bucket width (the
error-audit gate query measures it against the exact quantile).

The same registers double as a distribution summary: the KL-drift
query compares two periods' sketches with add-one smoothing over the
full grid, each ``p*ln(p/q)`` term quantized to BIGINT before the
integer sum (the ``divergence.py`` determinism scheme).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.indicators import literal_relation
from ..plans.series import round_portable, round_portable_duck
from ..sources.tables import load

__all__ = ["value_bounds", "build_sketch", "merge_sketches",
           "sketch_quantiles", "sketch_kl"]

N_BUCKETS = 256
KL_BUCKETS = 64
PS = (0.25, 0.5, 0.75, 0.9, 0.99)
_TERM_SCALE = float(10 ** 8)


def value_bounds(df: DataFrame, value_col: str) -> DataFrame:
    """1-row (__lo, __hi) frame fixing the sketch grid — broadcast
    everywhere a bucket id is computed so every partition buckets on
    the identical range."""
    return df.agg(
        F.min(value_col).cast("double").alias("__lo"),
        F.max(value_col).cast("double").alias("__hi"),
    )


def _bucket_expr(value_col: str, n_buckets: int) -> str:
    return (
        f"CASE WHEN __hi <= __lo THEN CAST(0 AS BIGINT) ELSE "
        f"CAST(least(CAST({n_buckets - 1} AS BIGINT), "
        f"CAST(floor((CAST({value_col} AS DOUBLE) - __lo) "
        f"* {n_buckets} / (__hi - __lo)) AS BIGINT)) AS BIGINT) END"
    )


def build_sketch(df: DataFrame, value_col: str, group_cols: list[str],
                 bounds: DataFrame,
                 n_buckets: int = N_BUCKETS) -> DataFrame:
    """(groups..., __b, __c): histogram registers per group on the
    shared grid. One map-side-combinable aggregate — at scale this is
    a partial-agg over the scan with a B-row-per-group shuffle."""
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn("__b", F.expr(_bucket_expr(value_col, n_buckets)))
        .groupBy(*group_cols, "__b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    )


def merge_sketches(sk: DataFrame,
                   group_cols: list[str]) -> DataFrame:
    """Merge sketches down to ``group_cols`` (possibly []) by summing
    registers — the associative/commutative combine that makes the
    representation shard-safe."""
    return (
        sk.groupBy(*group_cols, "__b")
        .agg(F.sum("__c").cast("bigint").alias("__c"))
    )


def sketch_quantiles(sk: DataFrame, group_cols: list[str],
                     ps: tuple, bounds: DataFrame,
                     n_buckets: int = N_BUCKETS) -> DataFrame:
    """(groups..., p, est, n): interpolated quantile estimates from
    the registers. The windows run over the SKETCH (<= B rows per
    group), never the data."""
    spark = sk.sparkSession
    wc = (Window.partitionBy(*group_cols).orderBy("__b")
          .rowsBetween(Window.unboundedPreceding, 0))
    wn = Window.partitionBy(*group_cols)
    cum = (
        sk.withColumn("__cum", F.sum("__c").over(wc))
        .withColumn("__n", F.sum("__c").over(wn))
    )
    ps_df = literal_relation(spark, [(float(p),) for p in ps], "p double")
    t = "p * CAST(__n AS DOUBLE)"
    est = (
        f"__lo + (__hi - __lo) / {float(n_buckets)!r} "
        f"* (CAST(__b AS DOUBLE) "
        f"+ ({t} - CAST(__cum - __c AS DOUBLE)) / CAST(__c AS DOUBLE))"
    )
    return (
        cum.crossJoin(F.broadcast(ps_df))
        .crossJoin(F.broadcast(bounds))
        .filter(F.expr(
            f"CAST(__cum - __c AS DOUBLE) < {t} "
            f"AND {t} <= CAST(__cum AS DOUBLE)"))
        .select(
            *group_cols, "p",
            round_portable(F.expr(
                f"CASE WHEN __hi <= __lo THEN __lo ELSE {est} END"), 6
            ).alias("est"),
            F.col("__n").alias("n"),
        )
    )


def sketch_kl(sk_a: DataFrame, sk_b: DataFrame,
              n_buckets: int) -> DataFrame:
    """One row (n_a, n_b, kl_ab, kl_ba): KL divergence both ways
    between two sketches on the SAME grid, add-one smoothed over the
    full bucket domain so empty registers are defined. Each
    ``p*ln(p/q)`` term is quantized to BIGINT before the sum."""
    spark = sk_a.sparkSession
    grid = spark.range(n_buckets).select(
        F.col("id").cast("bigint").alias("__b"))
    j = (
        grid
        .join(sk_a.withColumnRenamed("__c", "__ca"), "__b", "left")
        .join(sk_b.withColumnRenamed("__c", "__cb"), "__b", "left")
        .select(
            "__b",
            F.coalesce(F.col("__ca"), F.lit(0)).alias("__ca"),
            F.coalesce(F.col("__cb"), F.lit(0)).alias("__cb"),
        )
        .crossJoin(F.broadcast(sk_a.agg(
            F.sum("__c").cast("bigint").alias("__na"))))
        .crossJoin(F.broadcast(sk_b.agg(
            F.sum("__c").cast("bigint").alias("__nb"))))
    )
    pa = f"(CAST(__ca + 1 AS DOUBLE) / CAST(__na + {n_buckets} AS DOUBLE))"
    pb = f"(CAST(__cb + 1 AS DOUBLE) / CAST(__nb + {n_buckets} AS DOUBLE))"
    return (
        j.agg(
            F.max("__na").alias("n_a"),
            F.max("__nb").alias("n_b"),
            F.sum(F.expr(
                f"CAST(round({pa} * ln({pa} / {pb}) * {_TERM_SCALE!r}) "
                f"AS BIGINT)")).alias("__kab"),
            F.sum(F.expr(
                f"CAST(round({pb} * ln({pb} / {pa}) * {_TERM_SCALE!r}) "
                f"AS BIGINT)")).alias("__kba"),
        )
        .select(
            "n_a", "n_b",
            round_portable(F.expr(
                f"CAST(__kab AS DOUBLE) / {_TERM_SCALE!r}"), 6
            ).alias("kl_ab"),
            round_portable(F.expr(
                f"CAST(__kba AS DOUBLE) / {_TERM_SCALE!r}"), 6
            ).alias("kl_ba"),
        )
    )


# --------------------------------------------------------------------------
# Gate queries
# --------------------------------------------------------------------------


def _q_quantiles_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    bounds = value_bounds(li, "l_extendedprice")
    sk = build_sketch(li, "l_extendedprice", [], bounds)
    return sketch_quantiles(sk, [], PS, bounds)


def _duck_quantile_sql(src: str, value: str, ps: tuple, n_buckets: int,
                       group: str | None = None) -> str:
    """DuckDB mirror of build_sketch + sketch_quantiles (group
    optional), term-for-term identical double arithmetic."""
    g = f"{group}, " if group else ""
    part = f"PARTITION BY {group} " if group else ""
    vals = ", ".join(f"(CAST({p!r} AS DOUBLE))" for p in ps)
    t = "p * CAST(n AS DOUBLE)"
    est = (
        f"bo.lo + (bo.hi - bo.lo) / {float(n_buckets)!r} "
        f"* (CAST(b AS DOUBLE) "
        f"+ ({t} - CAST(cum - c AS DOUBLE)) / CAST(c AS DOUBLE))"
    )
    return f"""
WITH bounds AS (
  SELECT CAST(min({value}) AS DOUBLE) AS lo,
         CAST(max({value}) AS DOUBLE) AS hi
  FROM {src}
), bk AS (
  SELECT {g}CASE WHEN bo.hi <= bo.lo THEN CAST(0 AS BIGINT) ELSE
    CAST(least(CAST({n_buckets - 1} AS BIGINT),
      CAST(floor((CAST({value} AS DOUBLE) - bo.lo) * {n_buckets}
        / (bo.hi - bo.lo)) AS BIGINT)) AS BIGINT) END AS b
  FROM {src}, bounds bo
), sk AS (
  SELECT {g}b, CAST(count(*) AS BIGINT) AS c FROM bk GROUP BY {"1, 2" if group else "1"}
), cum AS (
  SELECT {g}b, c,
    CAST(sum(c) OVER ({part}ORDER BY b
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum,
    CAST(sum(c) OVER ({part.rstrip() or ""}) AS BIGINT) AS n
  FROM sk
), ps(p) AS (
  SELECT * FROM (VALUES {vals}) v(p)
)
SELECT {g}p,
  {round_portable_duck(
      f"CASE WHEN bo.hi <= bo.lo THEN bo.lo ELSE {est} END", 6)}
    AS est,
  n
FROM cum, bounds bo, ps
WHERE CAST(cum - c AS DOUBLE) < {t} AND {t} <= CAST(cum AS DOUBLE)
"""


_ORACLE_QUANTILES_LINEITEM = _duck_quantile_sql(
    "lineitem", "l_extendedprice", PS, N_BUCKETS)


def _q_merge_by_month_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build one sketch per order month, then MERGE the partial
    sketches and extract global quantiles — the shard-then-combine
    path; equals the direct build because the registers are exact
    integers on a shared grid (the oracle computes directly)."""
    o = load(spark, sf_dir, "orders").withColumn(
        "__m", F.expr("month(o_orderdate)"))
    bounds = value_bounds(o, "o_totalprice")
    partial = build_sketch(o, "o_totalprice", ["__m"], bounds)
    merged = merge_sketches(partial, [])
    return sketch_quantiles(merged, [], PS, bounds)


_ORACLE_MERGE_BY_MONTH = _duck_quantile_sql(
    "orders", "o_totalprice", PS, N_BUCKETS)


def _q_error_audit_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per returnflag: sketch p50 vs the exact percentile and the
    absolute error — the honesty meter for the sketch's bucket-width
    accuracy bound."""
    li = load(spark, sf_dir, "lineitem")
    bounds = value_bounds(li, "l_extendedprice")
    sk = build_sketch(li, "l_extendedprice", ["l_returnflag"], bounds)
    est = sketch_quantiles(sk, ["l_returnflag"], (0.5,), bounds)
    exact = li.groupBy("l_returnflag").agg(
        round_portable(F.expr(
            "percentile(l_extendedprice, CAST(0.5 AS DOUBLE))"), 6
        ).alias("exact_p50"))
    return (
        est.join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            F.col("est").alias("est_p50"),
            "exact_p50",
            round_portable(F.expr("abs(est - exact_p50)"), 6
                           ).alias("abs_err"),
            "n",
        )
    )


_ORACLE_ERROR_AUDIT = f"""
WITH est AS (
  {_duck_quantile_sql("lineitem", "l_extendedprice", (0.5,), N_BUCKETS,
                      group="l_returnflag")}
), exact AS (
  SELECT l_returnflag,
    {round_portable_duck(
        "quantile_cont(l_extendedprice, CAST(0.5 AS DOUBLE))", 6)}
      AS exact_p50
  FROM lineitem GROUP BY 1
)
SELECT e.l_returnflag, e.est AS est_p50, x.exact_p50,
  {round_portable_duck("abs(e.est - x.exact_p50)", 6)} AS abs_err,
  e.n
FROM est e JOIN exact x ON e.l_returnflag = x.l_returnflag
"""


def _q_kl_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift of o_totalprice between H1 (months 1-6)
    and H2 (months 7-12) via the two halves' sketches on one shared
    grid — the register-level drift monitor."""
    o = load(spark, sf_dir, "orders").withColumn(
        "__h", F.expr("CASE WHEN month(o_orderdate) <= 6 "
                      "THEN 0 ELSE 1 END"))
    bounds = value_bounds(o, "o_totalprice")
    sk = build_sketch(o, "o_totalprice", ["__h"], bounds,
                      n_buckets=KL_BUCKETS)
    sk_a = sk.filter("__h = 0").select("__b", "__c")
    sk_b = sk.filter("__h = 1").select("__b", "__c")
    return sketch_kl(sk_a, sk_b, KL_BUCKETS)


_ORACLE_KL_DRIFT = f"""
WITH bounds AS (
  SELECT CAST(min(o_totalprice) AS DOUBLE) AS lo,
         CAST(max(o_totalprice) AS DOUBLE) AS hi
  FROM orders
), bk AS (
  SELECT CASE WHEN month(o_orderdate) <= 6 THEN 0 ELSE 1 END AS h,
    CASE WHEN bo.hi <= bo.lo THEN CAST(0 AS BIGINT) ELSE
      CAST(least(CAST({KL_BUCKETS - 1} AS BIGINT),
        CAST(floor((CAST(o_totalprice AS DOUBLE) - bo.lo)
          * {KL_BUCKETS} / (bo.hi - bo.lo)) AS BIGINT)) AS BIGINT)
      END AS b
  FROM orders, bounds bo
), sk AS (
  SELECT h, b, CAST(count(*) AS BIGINT) AS c FROM bk GROUP BY 1, 2
), grid AS (
  SELECT CAST(range AS BIGINT) AS b FROM range({KL_BUCKETS})
), j AS (
  SELECT g.b,
    COALESCE(a.c, 0) AS ca, COALESCE(bb.c, 0) AS cb
  FROM grid g
  LEFT JOIN (SELECT b, c FROM sk WHERE h = 0) a ON a.b = g.b
  LEFT JOIN (SELECT b, c FROM sk WHERE h = 1) bb ON bb.b = g.b
), tot AS (
  SELECT CAST((SELECT COALESCE(sum(c), 0) FROM sk WHERE h = 0)
         AS BIGINT) AS na,
         CAST((SELECT COALESCE(sum(c), 0) FROM sk WHERE h = 1)
         AS BIGINT) AS nb
), terms AS (
  SELECT
    CAST(round((CAST(ca + 1 AS DOUBLE) / CAST(na + {KL_BUCKETS} AS DOUBLE))
      * ln((CAST(ca + 1 AS DOUBLE) / CAST(na + {KL_BUCKETS} AS DOUBLE))
         / (CAST(cb + 1 AS DOUBLE) / CAST(nb + {KL_BUCKETS} AS DOUBLE)))
      * {_TERM_SCALE!r}) AS BIGINT) AS tab,
    CAST(round((CAST(cb + 1 AS DOUBLE) / CAST(nb + {KL_BUCKETS} AS DOUBLE))
      * ln((CAST(cb + 1 AS DOUBLE) / CAST(nb + {KL_BUCKETS} AS DOUBLE))
         / (CAST(ca + 1 AS DOUBLE) / CAST(na + {KL_BUCKETS} AS DOUBLE)))
      * {_TERM_SCALE!r}) AS BIGINT) AS tba
  FROM j, tot
)
SELECT (SELECT na FROM tot) AS n_a, (SELECT nb FROM tot) AS n_b,
  {round_portable_duck(
      f"CAST(CAST(sum(tab) AS BIGINT) AS DOUBLE) / {_TERM_SCALE!r}", 6)}
    AS kl_ab,
  {round_portable_duck(
      f"CAST(CAST(sum(tba) AS BIGINT) AS DOUBLE) / {_TERM_SCALE!r}", 6)}
    AS kl_ba
FROM terms
"""


QUERIES: dict = {
    "qs_quantiles_lineitem": (
        _q_quantiles_lineitem, _ORACLE_QUANTILES_LINEITEM),
    "qs_merge_by_month_orders": (
        _q_merge_by_month_orders, _ORACLE_MERGE_BY_MONTH),
    "qs_error_audit_lineitem": (
        _q_error_audit_lineitem, _ORACLE_ERROR_AUDIT),
    "qs_kl_drift_orders": (_q_kl_drift_orders, _ORACLE_KL_DRIFT),
}
