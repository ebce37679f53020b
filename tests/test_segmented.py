"""Segmented (parallel-in-time) indicators vs the serial kernels."""

import math
import re

import numpy as np
import pandas as pd
import pytest

from datafusion_functions_financial_spark.functions import indicators as ind
from datafusion_functions_financial_spark.functions.kernels import (
    ema_kernel,
    macd_kernel,
    rsi_kernel,
    sma_kernel,
)
from datafusion_functions_financial_spark.functions.segmented import (
    with_indicators_segmented,
)

SPECS = [ind.sma(10), ind.ema(12), ind.rsi(14), ind.macd()]


@pytest.fixture(scope="module")
def series_df(spark):
    rng = np.random.default_rng(7)
    rows = []
    for sym in ("AAA", "BBB"):
        # One long series per symbol, 40-row buckets (first > window=14).
        price = 100.0
        for i in range(400):
            price += float(rng.normal(0, 1))
            rows.append((sym, i, i // 40, price))
    pdf = pd.DataFrame(rows, columns=["symbol", "seq", "bucket", "price"])
    return spark.createDataFrame(pdf), pdf


def test_segmented_matches_serial(spark, series_df):
    sdf, pdf = series_df
    out = with_indicators_segmented(
        sdf, "price", ["seq"], ["symbol"], "bucket", SPECS
    ).toPandas().sort_values(["symbol", "seq"]).reset_index(drop=True)

    for sym in ("AAA", "BBB"):
        mask = out["symbol"] == sym
        prices = pdf[pdf["symbol"] == sym]["price"].to_numpy()
        expected = {
            "sma_10": sma_kernel(prices, 10),
            "ema_12": ema_kernel(prices, 12),
            "rsi_14": rsi_kernel(prices, 14),
            "macd": macd_kernel(prices),
        }
        for col, exp in expected.items():
            got = out[mask][col].to_numpy()
            assert len(got) == len(exp)
            for i, (g, e) in enumerate(zip(got, exp)):
                if math.isnan(e):
                    assert g is None or math.isnan(g), (sym, col, i)
                else:
                    assert g == pytest.approx(e, rel=1e-9, abs=1e-9), (
                        sym, col, i,
                    )


def test_segmented_rsi_requires_seed_in_first_bucket(spark):
    pdf = pd.DataFrame({
        "symbol": ["A"] * 20,
        "seq": range(20),
        "bucket": [i // 5 for i in range(20)],  # buckets of 5 < window
        "price": [float(100 + i) for i in range(20)],
    })
    # The whole pipeline is lazy now (no driver-side combine), so the
    # seed assertion surfaces at action time inside the executor task.
    with pytest.raises(Exception, match="first bucket"):
        with_indicators_segmented(
            spark.createDataFrame(pdf), "price", ["seq"], ["symbol"],
            "bucket", [ind.rsi(14)],
        ).collect()


@pytest.mark.slow
def test_max_rows_per_task_splits_hot_series(spark):
    """Hot-key splitting (SCALING.md): one giant series routes through
    the segmented path and matches the unsplit serial kernels; a small
    series on the normal path is bit-identical."""
    rng = np.random.default_rng(11)
    rows = []
    price = 100.0
    for i in range(20_000):  # hot: 10 buckets at cap 2000
        price += float(rng.normal(0, 1))
        rows.append(("HOT", i, price))
    price = 50.0
    for i in range(300):  # cold: untouched by the split
        price += float(rng.normal(0, 1))
        rows.append(("COLD", i, price))
    pdf = pd.DataFrame(rows, columns=["symbol", "seq", "price"])

    out = ind.with_indicators(
        spark.createDataFrame(pdf), "price", ["seq"], ["symbol"], SPECS,
        max_rows_per_task=2000,
    ).toPandas().sort_values(["symbol", "seq"]).reset_index(drop=True)

    for sym, exact in (("HOT", False), ("COLD", True)):
        prices = pdf[pdf["symbol"] == sym]["price"].to_numpy()
        got_df = out[out["symbol"] == sym]
        expected = {
            "sma_10": sma_kernel(prices, 10),
            "ema_12": ema_kernel(prices, 12),
            "rsi_14": rsi_kernel(prices, 14),
            "macd": macd_kernel(prices),
        }
        for col, exp in expected.items():
            got = got_df[col].to_numpy()
            assert len(got) == len(exp)
            nn = ~np.isnan(exp)
            assert np.isnan(got[~nn]).all(), (sym, col)
            if exact:
                assert (got[nn] == exp[nn]).all(), (sym, col)
            else:
                np.testing.assert_allclose(
                    got[nn], exp[nn], rtol=1e-9, atol=1e-9,
                    err_msg=f"{sym}/{col}",
                )


def test_max_rows_per_task_noop_when_no_hot_series(spark, series_df):
    """With every series under the cap the split path must return the
    bit-identical serial-kernel output (pure pass-through)."""
    sdf, _ = series_df
    plain = ind.with_indicators(
        sdf, "price", ["seq"], ["symbol"], SPECS
    ).toPandas().sort_values(["symbol", "seq"]).reset_index(drop=True)
    split = ind.with_indicators(
        sdf, "price", ["seq"], ["symbol"], SPECS, max_rows_per_task=1000
    ).toPandas().sort_values(["symbol", "seq"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(plain, split[plain.columns])


def test_max_rows_per_task_too_small_raises(spark, series_df):
    sdf, _ = series_df
    with pytest.raises(ValueError, match="max_rows_per_task"):
        ind.with_indicators(
            sdf, "price", ["seq"], ["symbol"], SPECS, max_rows_per_task=50
        )


def test_segmented_plan_is_fully_distributed(spark, series_df, tmp_path):
    """VERDICT r03 item 4: the prefix combine must be an executor-side
    pass over the summary relation — no driver collect materialized back
    as a local relation. The full data crosses ONE exchange on
    (series, bucket), which the summary pass and the output pass share:
    the input is scanned once."""
    sdf, _ = series_df
    # Parquet round-trip so the ONLY possible LocalTableScan in the plan
    # would be a driver-side materialization (the fixture's
    # createDataFrame source would otherwise be one itself).
    path = str(tmp_path / "series")
    sdf.write.mode("overwrite").parquet(path)
    out = with_indicators_segmented(
        spark.read.parquet(path), "price", ["seq"], ["symbol"], "bucket",
        SPECS,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # Driver round-trips show up as LocalTableScan / Scan ExistingRDD.
    assert "LocalTableScan" not in plan
    assert "ExistingRDD" not in plan
    assert plan.count("FileScan") == 1
    full = re.findall(
        r"(?m)^[ :+-]*Exchange hashpartitioning\(symbol#\d+, bucket#", plan)
    assert len(full) == 1, plan
    assert plan.count("ReusedExchange") == 1
    # Summary and output passes over partitions, the combine over the
    # per-series summary groups.
    assert plan.count("MapInPandas") == 2
    assert plan.count("FlatMapGroupsInPandas") == 1
    # The carry relation (tiny: one row per series x bucket) is the
    # broadcast side of the join with the full data.
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


@pytest.mark.slow
def test_hot_split_edge_cases_read_the_input_once(spark, tmp_path):
    """Several hot keys (one of them NULL) next to cold ones, and a
    keyless call: cold series are bit-identical to the uncapped path,
    hot ones within 1e-9, and the returned frame scans its input once
    (the census and the bucket bounds are already collected)."""
    rng = np.random.default_rng(5)
    rows = []
    for sym, n in (("H1", 900), (None, 700), ("H2", 400), ("C1", 150),
                   ("C2", 20)):
        price = 100.0
        for i in range(n):
            price += float(rng.normal(0, 1))
            # NULL values in a cold series take the null-skipping path.
            null = sym == "C1" and i % 17 == 3
            rows.append((sym, i, None if null else price))
    path = str(tmp_path / "hot")
    spark.createDataFrame(
        rows, "symbol string, seq long, price double"
    ).write.parquet(path)
    df = spark.read.parquet(path)
    cols = [s.out_col for s in SPECS]

    def run(frame, keys, **kw):
        out = ind.with_indicators(frame, "price", ["seq"], keys, SPECS, **kw)
        got = out.toPandas().fillna({"symbol": "<null>"} if keys else {})
        return out, got.sort_values([*keys, "seq"], ignore_index=True)

    split, got = run(df, ["symbol"], max_rows_per_task=300)
    plan = split._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan
    _, want = run(df, ["symbol"])
    assert list(got.columns) == list(want.columns)
    assert (got["symbol"] == want["symbol"]).all()
    for sym in ("H1", "<null>", "H2", "C1", "C2"):
        m = (got["symbol"] == sym).to_numpy()
        for c in cols:
            a = got.loc[m, c].to_numpy(float)
            b = want.loc[m, c].to_numpy(float)
            if sym.startswith("C"):
                assert np.array_equal(a, b, equal_nan=True), (sym, c)
            else:
                np.testing.assert_allclose(a, b, rtol=1e-9, atol=1e-9,
                                           err_msg=f"{sym}/{c}")

    one = df.filter("symbol = 'H1'").drop("symbol")
    _, got = run(one, [], max_rows_per_task=300)
    with pytest.warns(UserWarning, match="partition_by"):
        _, want = run(one, [])
    assert list(got.columns) == ["seq", "price", *cols]
    for c in cols:
        np.testing.assert_allclose(got[c].to_numpy(float),
                                   want[c].to_numpy(float),
                                   rtol=1e-9, atol=1e-9, err_msg=c)
