"""Validator API tests on Polygon-schema data with injected violations
(FIXTURES.md F6 generation requirements)."""

import pytest

from datafusion_functions_financial_spark.plans.validate import (
    NS_MINUTE,
    ValidationReport,
    validate_day_aggs,
    validate_minute_aggs,
)
from datafusion_functions_financial_spark.sources.schemas import (
    DAY_AGGS,
    MINUTE_AGGS,
)


def minute_rows():
    base = 1_700_000_000_000_000_000
    rows = []
    # Clean consecutive minutes for two tickers.
    for t_idx, ticker in enumerate(["AAA", "BBB"]):
        for i in range(60):
            ts = base + i * NS_MINUTE + t_idx  # offset avoids global ties
            rows.append((ticker, ts, 10.0, 11.0, 9.0, 10.5, 1000))
    # One 5-minute gap.
    rows.append(("AAA", base + 66 * NS_MINUTE, 10.0, 11.0, 9.0, 10.5, 1000))
    # Violations: negative volume; non-positive open; OHLC logic error.
    rows.append(("AAA", base + 67 * NS_MINUTE, 10.0, 11.0, 9.0, 10.5, -5))
    rows.append(("AAA", base + 68 * NS_MINUTE, 0.0, 11.0, 9.0, 10.5, 1000))
    rows.append(("AAA", base + 69 * NS_MINUTE, 10.0, 8.0, 9.0, 10.5, 1000))
    return rows


def test_validate_minute_aggs(spark):
    df = spark.createDataFrame(minute_rows(), MINUTE_AGGS)
    report = validate_minute_aggs(df, ts_col="window_start")
    assert report.total_rows == 124
    # negative volume + open<=0 = 2 value violations
    assert report.checks["Negative Values"] == 2
    # high<low row, plus the open=0 row also trips low>open -> 2 rows
    assert report.checks["Logic Errors"] == 2
    assert report.checks["Time Gaps"] == 1  # the 5-minute jump
    assert not report.passed
    assert "FAILED" in report.summary()


def test_validate_minute_aggs_clean(spark):
    clean = [r for r in minute_rows()[:120]]
    df = spark.createDataFrame(clean, MINUTE_AGGS)
    report = validate_minute_aggs(df)
    assert report.passed
    assert "PASSED" in report.summary()


def test_validate_day_aggs_weekend(spark):
    import datetime as dt

    rows = [
        # 2023-01-16 is a Monday; 2023-01-14/15 are Sat/Sun.
        ("BTC", dt.date(2023, 1, 16), 1.0, 2.0, 0.5, 1.5, 10, 1.2, 3),
        ("BTC", dt.date(2023, 1, 14), 1.0, 2.0, 0.5, 1.5, 10, 1.2, 3),
        ("BTC", dt.date(2023, 1, 15), 1.0, 2.0, 0.5, 1.5, 10, 1.2, 3),
    ]
    df = spark.createDataFrame(rows, DAY_AGGS)
    report = validate_day_aggs(df)
    assert report.total_rows == 3
    assert report.checks["Weekend Data"] == 2
    assert not report.passed


def test_report_accumulates():
    r = ValidationReport()
    r.set_total_rows(10)
    r.add_check("A", 0)
    assert r.passed
    r.add_check("B", 3)
    assert not r.passed
    assert "B: 3 failures" in r.summary()


def test_validate_minute_aggs_partitioned(spark):
    # Per-ticker gap semantics: the interleaved AAA/BBB series have no
    # cross-ticker false gaps, and the one real AAA gap (60->66 min)
    # is found even though rows bucket by day internally.
    from datafusion_functions_financial_spark.plans.validate import (
        validate_minute_aggs_partitioned,
    )

    df = spark.createDataFrame(minute_rows(), MINUTE_AGGS)
    sc = spark.sparkContext
    sc.setJobGroup("validate-partitioned", "one action")
    try:
        report = validate_minute_aggs_partitioned(
            df, keys=["ticker"], ts_col="window_start", gap_ns=2 * NS_MINUTE
        )
        # One action (the test session runs without AQE: one job).
        jobs = sc.statusTracker().getJobIdsForGroup("validate-partitioned")
    finally:
        sc.setJobGroup(None, None)
    assert len(jobs) == 1
    # Only AAA's minute-59 -> minute-66 jump (7 min) exceeds 2 min;
    # BBB is consecutive and never produces cross-ticker false gaps.
    assert report.checks["Time Gaps"] == 1
    assert report.checks["Negative Values"] == 2  # volume<0, open<=0
    # open=0 row also trips low > open; plus the high < low row.
    assert report.checks["Logic Errors"] == 2
    assert not report.passed


def test_keyed_gaps_equal_global_per_key_window(spark):
    # The bucketed decomposition must reproduce the per-key window gap
    # multiset exactly, including gaps crossing bucket boundaries.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from datafusion_functions_financial_spark.plans.validate import (
        keyed_time_gaps,
    )

    rows = []
    us_day = 86_400_000_000
    for k in ("a", "b"):
        base = 1_700_000_000_000_000
        # spread rows across 3 day-buckets incl. exact boundary values
        offs = [0, 5, us_day - 1, us_day, us_day + 7,
                2 * us_day - 3, 2 * us_day, 2 * us_day + 1]
        for i, o in enumerate(offs):
            rows.append((k, i, base + o))
    df = spark.createDataFrame(rows, "k string, seq long, us long")

    got = sorted(
        (r.k, r.gap_us)
        for r in keyed_time_gaps(df, ["k"], F.col("us"), ["seq"]).collect()
    )
    w = Window.partitionBy("k").orderBy("us", "seq")
    want = sorted(
        (r.k, r.gap_us)
        for r in df.select(
            "k", (F.col("us") - F.lag("us").over(w)).alias("gap_us")
        ).collect()
        if r.gap_us is not None
    )
    assert got == want


def test_keyed_gaps_plan_has_no_single_partition_sort(spark):
    from pyspark.sql import functions as F

    from datafusion_functions_financial_spark.plans.validate import (
        keyed_time_gaps,
    )

    df = spark.range(100).selectExpr(
        "CAST(id % 3 AS STRING) AS k", "id AS seq",
        "1700000000000000 + id * 60000000 AS us"
    )
    plan = (
        keyed_time_gaps(df, ["k"], F.col("us"), ["seq"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SinglePartition" not in plan, plan


def test_validate_minute_aggs_partitioned_empty_input(spark):
    # A sum over no groups is NULL: the report must still read zeros.
    from datafusion_functions_financial_spark.plans.validate import (
        validate_minute_aggs_partitioned,
    )

    report = validate_minute_aggs_partitioned(
        spark.createDataFrame([], MINUTE_AGGS))
    assert report.total_rows == 0
    assert report.checks == {"Negative Values": 0, "Time Gaps": 0,
                             "Logic Errors": 0}
    assert report.passed


@pytest.mark.slow
def test_validate_minute_aggs_partitioned_matches_global_per_key(spark):
    # Per key (a NULL ticker among them), the partitioned validator
    # reports what the reference's global validator reports on that
    # key's rows, including a gap that straddles a day bucket.
    from pyspark.sql import functions as F

    from datafusion_functions_financial_spark.plans.validate import (
        validate_minute_aggs_partitioned,
    )

    day = 86_400 * 1_000_000_000
    base = 1_700_006_400 * 1_000_000_000  # a UTC midnight
    rows = minute_rows()
    for ticker in ("AAA", None):
        # Ten minutes before midnight, then ten minutes after: one gap
        # whose two rows fall in different day buckets.
        for ts in (base + day - 10 * NS_MINUTE, base + day + 10 * NS_MINUTE):
            rows.append((ticker, ts, 10.0, 11.0, 9.0, 10.5, 1000))
    rows.append((None, base + 2 * day, 10.0, 8.0, 9.0, 10.5, -1))
    df = spark.createDataFrame(rows, MINUTE_AGGS)

    def as_tuple(r):
        return (r.total_rows, r.checks["Negative Values"],
                r.checks["Time Gaps"], r.checks["Logic Errors"])

    total = [0, 0, 0, 0]
    for ticker in ("AAA", "BBB", None):
        one = df.filter(F.col("ticker").eqNullSafe(F.lit(ticker)))
        want = as_tuple(validate_minute_aggs(one))
        assert as_tuple(validate_minute_aggs_partitioned(one)) == want
        total = [a + b for a, b in zip(total, want)]
    assert as_tuple(validate_minute_aggs_partitioned(df)) == tuple(total)
    assert total[2] >= 3  # AAA's 7-minute gap and both midnight gaps
