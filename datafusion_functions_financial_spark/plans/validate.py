"""Data-quality validators + ValidationReport (SURVEY §2.A A21-A23).

Reference behavior (``/root/reference/src/polygon/validator.rs``):
four SQL checks over minute aggregates (total count; timestamp gaps
via LAG with a 60_000_000_000 ns threshold; negative/invalid value
counts via ``COUNT(CASE WHEN ...)``; OHLC logic errors) and a day-agg
weekend check via ``EXTRACT(DOW) IN (0, 6)``; a report marks failure
if any check count > 0 (validator.rs:25-31).

Here the same checks run as single-pass conditional aggregations over
the driver's testdata tables (events = minute-agg analog with long-ns
timestamps; lineitem = value checks; orders = weekend check). Each
validator is also exposed Polygon-schema-native via ``validate_minute_aggs``
/ ``validate_day_aggs`` for loader-produced tables.

Scale: every check is a map-side partial aggregation (one row out); the
gap check is a windowed LAG over the time order — at 100 TB that window
should be partitioned (per symbol/day); the global variant mirrors the
reference and is kept for parity.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load

NS_MINUTE = 60_000_000_000
US_MINUTE = 60_000_000


@dataclass
class ValidationReport:
    """Mirror of the reference report (validator.rs:9-55)."""

    checks: dict[str, int] = field(default_factory=dict)
    total_rows: int = 0

    def add_check(self, name: str, failed_rows: int) -> None:
        self.checks[name] = int(failed_rows)

    def set_total_rows(self, n: int) -> None:
        self.total_rows = int(n)

    @property
    def passed(self) -> bool:
        return all(v == 0 for v in self.checks.values())

    def summary(self) -> str:
        lines = [
            "=== Data Validation Report ===",
            f"Total rows: {self.total_rows}",
            f"Status: {'PASSED' if self.passed else 'FAILED'}",
        ]
        for name, count in self.checks.items():
            status = "OK" if count == 0 else f"{count} failures"
            lines.append(f"  {name}: {status}")
        return "\n".join(lines)


def _count_if(cond) -> F.Column:
    return F.count(F.when(cond, F.lit(1)))


def _minute_checks() -> list[F.Column]:
    """The row count and the value and OHLC checks of validator.rs."""
    return [
        F.count(F.lit(1)).alias("total"),
        (
            _count_if(F.col("volume") < 0)
            + _count_if(F.col("open") <= 0)
            + _count_if(F.col("close") <= 0)
            + _count_if(F.col("high") <= 0)
            + _count_if(F.col("low") <= 0)
        ).alias("negative_values"),
        _count_if(
            (F.col("high") < F.col("low"))
            | (F.col("high") < F.col("open"))
            | (F.col("high") < F.col("close"))
            | (F.col("low") > F.col("open"))
            | (F.col("low") > F.col("close"))
        ).alias("logic_errors"),
    ]


def _minute_report(row, gaps: int) -> ValidationReport:
    report = ValidationReport()
    report.set_total_rows(row["total"])
    report.add_check("Negative Values", row["negative_values"])
    report.add_check("Time Gaps", gaps)
    report.add_check("Logic Errors", row["logic_errors"])
    return report


def validate_minute_aggs(
    df: DataFrame, ts_col: str = "window_start", gap_ns: int = NS_MINUTE
) -> ValidationReport:
    """Reference minute-agg checks on a Polygon-schema DataFrame.

    ``ts_col`` must be epoch-nanosecond LongType (the reference's
    TimestampNanosecond model); gap threshold is in nanoseconds.
    """
    w = Window.orderBy(ts_col)
    gaps = (
        df.select(
            (F.col(ts_col) - F.lag(ts_col).over(w)).alias("gap_ns")
        )
        .filter(F.col("gap_ns") > gap_ns)
        .count()
    )
    return _minute_report(df.agg(*_minute_checks()).collect()[0], gaps)


def validate_day_aggs(df: DataFrame, date_col: str = "date") -> ValidationReport:
    """Reference day-agg weekend check. Spark dayofweek: 1=Sun..7=Sat;
    the reference's EXTRACT(DOW): 0=Sun..6=Sat — translated here."""
    row = df.agg(
        F.count(F.lit(1)).alias("total"),
        _count_if(F.dayofweek(date_col).isin(1, 7)).alias("weekend"),
    ).collect()[0]
    report = ValidationReport()
    report.set_total_rows(row["total"])
    report.add_check("Weekend Data", row["weekend"])
    return report


US_DAY = 86_400_000_000


def _gap_buckets(
    df: DataFrame,
    keys: list[str],
    ts_us: F.Column,
    tiebreak: list[str],
    bucket_us: int,
    *aggs: F.Column,
) -> tuple[DataFrame, DataFrame, F.Column]:
    """The bucketed decomposition of a per-key ordered gap scan, as
    ``(rows, per_bucket, boundary)``:

    - ``rows``: ``df`` with its time ``__us``, its time bucket
      ``__bucket`` and ``__gap``, the gap to the previous row of its
      (keys, bucket) window (NULL on a bucket's first row);
    - ``per_bucket``: one row per (keys, bucket), aggregated on that
      window's own exchange: ``aggs`` (over ``__gap`` and ``df``'s
      columns) and the bucket's time range ``__mn``, ``__mx``;
    - ``boundary``: a column of ``per_bucket``, the gap from the same
      key's previous bucket's last row to this bucket's first row
      (NULL on a key's first bucket).
    """
    # Integer DIV: epoch-ns/us magnitudes exceed double's exact-integer
    # range, so float division would mis-bucket boundary rows.
    rows = df.withColumn("__us", ts_us).withColumn(
        "__bucket", F.expr(f"__us DIV {bucket_us}")
    )
    w_in = Window.partitionBy(*keys, "__bucket").orderBy("__us", *tiebreak)
    rows = rows.withColumn("__gap", F.col("__us") - F.lag("__us").over(w_in))
    per_bucket = rows.groupBy(*keys, "__bucket").agg(
        *aggs, F.min("__us").alias("__mn"), F.max("__us").alias("__mx")
    )
    w_b = Window.partitionBy(*keys).orderBy("__bucket")
    return rows, per_bucket, F.col("__mn") - F.lag("__mx").over(w_b)


def keyed_time_gaps(
    df: DataFrame,
    keys: list[str],
    ts_us: F.Column,
    tiebreak: list[str],
    bucket_us: int = US_DAY,
) -> DataFrame:
    """All consecutive-row time gaps per key — (keys..., gap_us) —
    WITHOUT a global or whole-key single-task sort.

    Lossless decomposition of the per-key ordered scan (``_gap_buckets``):
    rows bucket by time (default 1 day); within-bucket gaps come from a
    window hash-partitioned on (keys, bucket) — parallel across buckets
    even for one giant key — and the bucket-boundary gaps are recovered
    from per-bucket (min, max) aggregates via a window over the tiny
    aggregated table (one row per key-bucket). The union equals the
    gap multiset of ``lag() OVER (PARTITION BY keys ORDER BY ts)``
    exactly: bucketing is monotonic in ts, so bucket-local adjacency
    plus boundary adjacency is global adjacency.
    """
    rows, per_bucket, boundary = _gap_buckets(
        df, keys, ts_us, tiebreak, bucket_us)
    within = rows.select(*keys, F.col("__gap").alias("gap_us"))
    at_boundary = per_bucket.select(*keys, boundary.alias("gap_us"))
    return within.unionByName(at_boundary).filter(
        F.col("gap_us").isNotNull())


def validate_minute_aggs_partitioned(
    df: DataFrame,
    keys: list[str] = ["ticker"],
    ts_col: str = "window_start",
    gap_ns: int = NS_MINUTE,
    tiebreak: list[str] = [],
    bucket_us: int = US_DAY,
) -> ValidationReport:
    """The reference minute-agg checks with the gap scan partitioned
    per key (and day-bucketed within a key) — the variant a 100 TB
    deployment runs instead of the reference's global ORDER BY. Value
    checks are identical to ``validate_minute_aggs``.

    One action over one read: the within-bucket gaps come from a
    window on (keys, bucket), and ONE per-(key, bucket) aggregate over
    that window's exchange counts them together with the rows, the
    value checks and the OHLC checks and keeps the bucket's (min, max)
    time. The bucket-boundary gaps are a lag over that small relation
    (``_gap_buckets``, the decomposition of ``keyed_time_gaps``)."""
    thr = gap_ns // 1000
    _, per_bucket, boundary_gap = _gap_buckets(
        df, keys, F.expr(f"{ts_col} DIV 1000"), tiebreak, bucket_us,
        *_minute_checks(),
        _count_if(F.col("__gap") > thr).alias("gaps"),
    )
    # A sum over no rows is NULL: an empty input reports zeros.
    row = per_bucket.select(
        "total", "negative_values", "logic_errors",
        (F.col("gaps") + F.when(boundary_gap > thr, 1).otherwise(0))
        .alias("gaps"),
    ).agg(*[
        F.coalesce(F.sum(c), F.lit(0)).alias(c)
        for c in ("total", "negative_values", "logic_errors", "gaps")
    ]).collect()[0]
    return _minute_report(row, row["gaps"])


# ---------------------------------------------------------------------------
# Registry query/oracle pairs over the driver testdata
# ---------------------------------------------------------------------------


def _q_validate_events_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    # events.ts is epoch-ns long (see sources.tables): the gap arithmetic
    # mirrors the reference's raw timestamp subtraction. Comparison runs
    # at microsecond precision because DuckDB truncates the nanos parquet
    # column to a us TIMESTAMP. Global order like the reference.
    df = load(spark, sf_dir, "events")
    w = Window.orderBy("ts", "event_id")
    us = F.expr("ts DIV 1000")
    gaps = df.select((us - F.lag(us).over(w)).alias("gap_us"))
    return gaps.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.count(F.when(F.col("gap_us") > 10 * US_MINUTE, 1)).alias(
            "gap_count"
        ),
        F.max("gap_us").alias("max_gap_us"),
    )


_ORACLE_EVENTS_GAPS = f"""
WITH time_gaps AS (
  SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT count(*) AS total_rows,
       count(CASE WHEN gap_us > {10 * US_MINUTE} THEN 1 END) AS gap_count,
       max(gap_us) AS max_gap_us
FROM time_gaps
"""


def _q_validate_lineitem_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reference "negative values" conditional-aggregation idiom
    # (validator.rs:110-139) applied to lineitem columns.
    df = load(spark, sf_dir, "lineitem")
    return df.agg(
        F.count(F.lit(1)).alias("total_rows"),
        _count_if(F.col("l_quantity") < 0).alias("negative_quantity"),
        _count_if(F.col("l_extendedprice") <= 0).alias("invalid_price"),
        _count_if(F.col("l_discount") < 0).alias("negative_discount"),
        _count_if(F.col("l_discount") > 0.05).alias("high_discount"),
        _count_if(F.col("l_tax") > F.col("l_discount")).alias(
            "tax_over_discount"
        ),
        _count_if(
            F.col("l_extendedprice") < F.col("l_quantity")
        ).alias("logic_errors"),
    )


_ORACLE_LINEITEM_VALUES = """
SELECT count(*) AS total_rows,
       count(CASE WHEN l_quantity < 0 THEN 1 END) AS negative_quantity,
       count(CASE WHEN l_extendedprice <= 0 THEN 1 END) AS invalid_price,
       count(CASE WHEN l_discount < 0 THEN 1 END) AS negative_discount,
       count(CASE WHEN l_discount > 0.05 THEN 1 END) AS high_discount,
       count(CASE WHEN l_tax > l_discount THEN 1 END) AS tax_over_discount,
       count(CASE WHEN l_extendedprice < l_quantity THEN 1 END) AS logic_errors
FROM lineitem
"""


def _q_validate_orders_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Weekend check; Spark dayofweek 1=Sun..7=Sat vs DuckDB DOW 0=Sun..6=Sat.
    df = load(spark, sf_dir, "orders")
    return df.agg(
        F.count(F.lit(1)).alias("total_rows"),
        _count_if(F.dayofweek("o_orderdate").isin(1, 7)).alias(
            "weekend_count"
        ),
    )


_ORACLE_ORDERS_WEEKEND = """
SELECT count(*) AS total_rows,
       count(CASE WHEN EXTRACT(DOW FROM o_orderdate) IN (0, 6) THEN 1 END)
         AS weekend_count
FROM orders
"""


def _q_validate_events_gaps_keyed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # Per-user keyed gap validation through the bucketed lossless
    # decomposition of keyed_time_gaps (_gap_buckets), the scale-safe
    # variant of _q_validate_events_gaps, with the reductions folded in
    # as validate_minute_aggs_partitioned does: the within-bucket gaps
    # reduce per (user, bucket) on their window's own exchange, and the
    # bucket-boundary gap is a lag over that small relation. The oracle
    # declares the equivalent per-key window; results match because the
    # decomposition is exact.
    thr = 10 * US_MINUTE
    _, per_bucket, boundary = _gap_buckets(
        load(spark, sf_dir, "events").select("user_id", "event_id", "ts"),
        ["user_id"], F.expr("ts DIV 1000"), ["event_id"], US_DAY,
        F.count("__gap").alias("n"),
        _count_if(F.col("__gap") > thr).alias("over"),
        F.max("__gap").alias("mx_gap"),
    )
    has_gap = (F.col("n") > 0) | boundary.isNotNull()
    # A user counts once, on its first bucket that holds a gap: the
    # running max over the earlier buckets of the boundary lag's window.
    seen = F.max(has_gap.cast("int")).over(
        Window.partitionBy("user_id").orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1))
    flagged = per_bucket.select(
        (F.col("n") + boundary.isNotNull().cast("bigint")).alias("n"),
        (F.col("over") + F.when(boundary > thr, 1).otherwise(0))
        .alias("over"),
        F.greatest("mx_gap", boundary).alias("mx_gap"),
        (F.col("user_id").isNotNull() & has_gap
         & (F.coalesce(seen, F.lit(0)) == 0)).alias("first"),
    )
    # A sum over no rows is NULL: an empty input reports zeros.
    return flagged.agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_gaps"),
        F.coalesce(F.sum("over"), F.lit(0)).alias("gap_count"),
        F.max("mx_gap").alias("max_gap_us"),
        _count_if(F.col("first")).alias("n_keys"),
    )


_ORACLE_EVENTS_GAPS_KEYED = f"""
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT count(*) AS n_gaps,
       count(CASE WHEN gap_us > {10 * US_MINUTE} THEN 1 END) AS gap_count,
       max(gap_us) AS max_gap_us,
       count(DISTINCT user_id) AS n_keys
FROM g WHERE gap_us IS NOT NULL
"""


QUERIES: dict = {
    "validate_events_gaps": (_q_validate_events_gaps, _ORACLE_EVENTS_GAPS),
    "validate_events_gaps_keyed": (
        _q_validate_events_gaps_keyed,
        _ORACLE_EVENTS_GAPS_KEYED,
    ),
    "validate_lineitem_values": (
        _q_validate_lineitem_values,
        _ORACLE_LINEITEM_VALUES,
    ),
    "validate_orders_weekend": (
        _q_validate_orders_weekend,
        _ORACLE_ORDERS_WEEKEND,
    ),
}
