"""Percentile-threshold quality filtering: drop every document below
its group's q-th percentile of a quality metric.

The data-driven variant of fixed-threshold filtering (``pipeline``):
thresholds adapt per source/domain, so a verbose domain doesn't drown a
terse one. Scale shape: ONE small aggregation computes each group's
exact interpolated percentile (groups = sources/domains — thousands,
not billions), the threshold table is **broadcast** back, and the
corpus-side filter is a scan projection — the corpus never shuffles.

Determinism: both engines implement the same linear-interpolation
percentile (Spark ``percentile`` / DuckDB ``quantile_cont``); the
threshold is rounded with the portable 0-dp-scale trick BEFORE the
comparison so a last-ulp difference in interpolation can never flip a
boundary row.

Memory bound: exact ``percentile`` buffers each group's values on the
agg reducer — fine while a group's row count fits an executor (the
documented bound in SCALING.md). For 100 TB **monitoring** paths pass
``approx=True``: ``approx_percentile`` is a constant-memory mergeable
sketch (map-side partial, no value buffering) at the cost of a bounded
rank error (1/accuracy quantile rank). The exact path stays the
oracle-gated default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.series import round_portable, round_portable_duck
from ..sources.tables import load

__all__ = ["percentile_filter", "winsorize"]


APPROX_ACCURACY = 10_000  # rank error <= 1/accuracy of the group size


def _pct_expr(value_col: str, q: float, approx: bool) -> F.Column:
    if approx:
        return F.expr(
            f"approx_percentile({value_col}, {q!r}, {APPROX_ACCURACY})"
        ).cast("double")
    return F.expr(f"percentile({value_col}, {q!r})")


def percentile_filter(df: DataFrame, value_col: str, group_col: str,
                      q: float = 0.25, approx: bool = False) -> DataFrame:
    """Keep rows with ``value_col >= round4(percentile_q)`` of their
    group. Adds ``__thr`` is not exposed; output schema == input.

    ``approx=True`` swaps the exact interpolated percentile for the
    constant-memory ``approx_percentile`` sketch — the 100 TB
    monitoring path (no per-group value buffering; rank error bounded
    by 1/``APPROX_ACCURACY``)."""
    if not 0.0 <= q <= 1.0:
        raise ValueError("q must be in [0, 1]")
    thr = df.groupBy(group_col).agg(
        round_portable(_pct_expr(value_col, q, approx)).alias("__thr")
    )
    return (
        df.join(F.broadcast(thr), group_col)
        .filter(F.col(value_col) >= F.col("__thr"))
        .drop("__thr")
    )


def winsorize(df: DataFrame, value_col: str, group_col: str,
              lo: float = 0.05, hi: float = 0.95,
              approx: bool = False) -> DataFrame:
    """Clip ``value_col`` to its group's [lo, hi] exact percentiles —
    the standard outlier treatment before aggregation or training.
    Adds ``<value_col>_w``; same broadcast-threshold shape as
    ``percentile_filter`` (tiny per-group bounds table broadcast back,
    corpus never shuffles). Bounds are rounded portably before the
    clamp so interpolation ulps cannot flip a boundary row.
    ``approx=True``: sketch-based bounds for 100 TB monitoring (see
    ``percentile_filter``).
    """
    if not 0.0 <= lo <= hi <= 1.0:
        raise ValueError("need 0 <= lo <= hi <= 1")
    bounds = df.groupBy(group_col).agg(
        round_portable(_pct_expr(value_col, lo, approx)).alias("__lo"),
        round_portable(_pct_expr(value_col, hi, approx)).alias("__hi"),
    )
    return (
        df.join(F.broadcast(bounds), group_col)
        .withColumn(
            f"{value_col}_w",
            F.least(F.greatest(F.col(value_col).cast("double"),
                               F.col("__lo")), F.col("__hi")),
        )
        .drop("__lo", "__hi")
    )


# --------------------------------------------------------------------------
# Gate query: per-source p25 length filter on the documents table.
# --------------------------------------------------------------------------

_Q = 0.25


def _q_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = percentile_filter(load(spark, sf_dir, "documents"), "n_chars",
                            "source", q=_Q)
    return out.select("doc_id", "source", "n_chars")


_ORACLE_PERCENTILE_FILTER = f"""
WITH thr AS (
  SELECT source,
         {round_portable_duck(f"quantile_cont(n_chars, {_Q!r})")} AS t
  FROM documents GROUP BY source
)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d JOIN thr USING (source)
WHERE d.n_chars >= thr.t
"""

_W_LO, _W_HI = 0.05, 0.95


def _q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = winsorize(load(spark, sf_dir, "lineitem"), "l_extendedprice",
                    "l_returnflag", lo=_W_LO, hi=_W_HI)
    return out.selectExpr(
        "l_orderkey", "l_linenumber", "l_returnflag",
        "round(l_extendedprice_w * 100.0) / 100.0 AS price_w",
    )


_ORACLE_WINSORIZE = f"""
WITH b AS (
  SELECT l_returnflag,
         {round_portable_duck(f"quantile_cont(l_extendedprice, {_W_LO!r})")}
           AS lo,
         {round_portable_duck(f"quantile_cont(l_extendedprice, {_W_HI!r})")}
           AS hi
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
       round(least(greatest(CAST(l.l_extendedprice AS DOUBLE), b.lo),
                   b.hi) * 100.0) / 100.0 AS price_w
FROM lineitem l JOIN b USING (l_returnflag)
"""

QUERIES: dict = {
    "quality_percentile_filter_documents":
        (_q_percentile_filter, _ORACLE_PERCENTILE_FILTER),
    "quality_winsorize_lineitem": (_q_winsorize, _ORACLE_WINSORIZE),
}
