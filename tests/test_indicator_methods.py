"""with_indicators must be row-for-row identical to a driver-side
pandas ``groupby(dropna=False)`` through the scalar kernels — guards
the partition-packed runner against group-boundary bugs."""

import numpy as np
import pytest

from datafusion_functions_financial_spark.functions import indicators as ind
from tests.test_series_runner import assert_same, kernel_reference

SPECS = [ind.sma(5), ind.ema(7), ind.rsi(6), ind.macd()]
SCHEMA = "k string, seq long, x double, xn double"


@pytest.fixture(scope="module")
def random_rows():
    rng = np.random.default_rng(11)
    rows = []
    # Ragged series lengths incl. shorter-than-window groups; duplicate
    # order keys avoided via seq.
    for g, length in enumerate([1, 3, 7, 20, 55, 120]):
        price = 50.0
        for i in range(length):
            price += float(rng.normal(0, 2))
            rows.append((f"g{g}", i, price, price))
    return rows


def _collect(df, cols):
    out = {}
    for r in df.collect():
        out[(r["k"], r["seq"])] = tuple(r[c] for c in cols)
    return out


def test_null_partition_keys_form_one_group(spark):
    # Null keys must be ONE group, as in groupBy (pandas NaN != NaN
    # would otherwise split the runner into per-row groups, silently
    # resetting the indicators).
    rows = [(None, i, 100.0 + i, None) for i in range(12)]
    rows += [("a", i, 200.0 + i, None) for i in range(12)]
    df = spark.createDataFrame(rows, SCHEMA)
    specs = [ind.sma(5), ind.ema(7)]
    got = _collect(ind.with_indicators(df, "x", ["seq"], ["k"], specs),
                   [s.out_col for s in specs])
    assert_same(got, kernel_reference(rows, specs))
    # The null group must actually produce values (12 rows > window 5).
    assert got[(None, 11)][0] is not None


def test_ragged_series_match_kernels(spark, random_rows):
    df = spark.createDataFrame(random_rows, SCHEMA)
    got = _collect(ind.with_indicators(df, "x", ["seq"], ["k"], SPECS),
                   [s.out_col for s in SPECS])
    assert_same(got, kernel_reference(random_rows, SPECS))
