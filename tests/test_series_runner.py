"""Contract of the one partition-packed series runner
(``indicators._map_series``) behind ``with_indicators``, ``trix``,
``kama`` and ``holt_smooth``: with partitions spread over several
Arrow batches, NULL partition keys and ragged series lengths, every
output equals a driver-side ``groupby(dropna=False)`` over the same
rows plus the scalar kernels, bit for bit."""

from __future__ import annotations

import math
from contextlib import contextmanager
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pytest

from datafusion_functions_financial_spark.functions import forecast
from datafusion_functions_financial_spark.functions import indicators as ind
from datafusion_functions_financial_spark.functions import kernels
from datafusion_functions_financial_spark.functions import technical3
from datafusion_functions_financial_spark.functions import technical6
from datafusion_functions_financial_spark.plans.series import ROUND_DP

SCHEMA = "k string, seq long, x double, xn double"
# Few long series per partition (scalar kernels) and many short ones
# (row-parallel kernels): the two shapes with_indicators tells apart.
LENGTHS = {None: 20, "a": 1, "b": 2, "c": 5, "d": 7, "e": 13, "f": 30,
           "g": 64}
MANY_SHORT = {None: 8, **{f"s{i}": 3 + i % 6 for i in range(200)}}
BATCH_ROWS = 7
SPECS = [ind.sma(5), ind.ema(7), ind.rsi(6), ind.macd(),
         ind.sma(3, "sma_n", "xn"), ind.ema(4, "ema_n", "xn"),
         ind.rsi(3, "rsi_n", "xn")]
SCALAR = {
    "sma": lambda v, s: kernels.sma_kernel(v, s.window),
    "ema": lambda v, s: kernels.ema_kernel(v, s.window),
    "rsi": lambda v, s: kernels.rsi_kernel(v, s.window),
    "macd": lambda v, s: kernels.macd_kernel(v),
}


def make_rows(lengths, seed=7):
    """(k, seq, x, xn) rows: strictly positive ``x``; ``xn`` is ``x``
    with every fifth value NULL."""
    rng = np.random.default_rng(seed)
    rows = []
    for k, n in lengths.items():
        x = 50.0 + np.cumsum(rng.normal(0, 1, n)).round(6)
        for i in range(n):
            rows.append((k, i, float(x[i]),
                         None if i % 5 == 2 else float(x[i])))
    rng.shuffle(rows)
    return rows


def per_series(rows, fn):
    """{(k, seq): row i of ``fn(group)``} over a driver-side
    ``groupby(dropna=False)`` of ``rows`` in seq order (NULL keys form
    one group); ``fn`` maps a group's frame to per-row arrays."""
    pdf = pd.DataFrame(rows, columns=["k", "seq", "x", "xn"])
    out = {}
    for _, g in pdf.sort_values("seq").groupby("k", dropna=False,
                                               sort=False):
        vals = fn(g)
        keys = zip(g["k"].where(g["k"].notna(), None), g["seq"])
        for i, key in enumerate(keys):
            out[key] = tuple(v[i] for v in vals)
    return out


def kernel_reference(rows, specs):
    """Driver-side reference for ``with_indicators``: the scalar
    kernels over each group."""
    return per_series(rows, lambda g: [
        SCALAR[s.kind](g[s.value_col or "x"], s) for s in specs])


def collect(df, cols):
    return {(r["k"], r["seq"]): tuple(r[c] for c in cols)
            for r in df.collect()}


def assert_same(got, want):
    """Bit-identical, NULL and NaN alike."""
    assert got.keys() == want.keys()
    for key, row in got.items():
        for a, b in zip(row, want[key]):
            if a is None or (isinstance(a, float) and math.isnan(a)):
                assert b is None or math.isnan(b), (key, a, b)
            else:
                assert a == b, (key, a, b)


@contextmanager
def small_arrow_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(BATCH_ROWS))
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.fixture(scope="module")
def rows():
    return make_rows(LENGTHS)


@pytest.fixture(scope="module")
def source(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_partitions_span_several_arrow_batches(spark, source):
    def count(batches):
        yield pd.DataFrame({"n": [sum(1 for _ in batches)]})

    with small_arrow_batches(spark):
        n = (source.repartition("k").sortWithinPartitions("k", "seq")
             .mapInPandas(count, "n long").collect())
    assert max(r["n"] for r in n) > 1


@pytest.mark.parametrize("lengths", [LENGTHS, MANY_SHORT],
                         ids=["few_long", "many_short"])
def test_with_indicators_matches_kernels(spark, lengths):
    rows = make_rows(lengths)
    cols = [s.out_col for s in SPECS]
    with small_arrow_batches(spark):
        got = collect(ind.with_indicators(
            spark.createDataFrame(rows, SCHEMA), "x", ["seq"], ["k"],
            SPECS), cols)
    assert_same(got, kernel_reference(rows, SPECS))
    # the NULL-key series folds: its EMA is set on every row
    assert got[(None, lengths[None] - 1)][1] is not None


def test_with_indicators_without_keys_is_one_series(spark):
    # Keys "a"/"b" interleave along one global seq: without
    # partition_by the runner must not split on them.
    rows = [(("a", "b")[i % 2], *r[1:])
            for i, r in enumerate(make_rows({None: 30}, seed=3))]
    specs = [ind.ema(4), ind.rsi(3, value_col="xn")]
    cols = [s.out_col for s in specs]
    with small_arrow_batches(spark), pytest.warns(UserWarning,
                                                  match="partition_by"):
        got = collect(ind.with_indicators(
            spark.createDataFrame(rows, SCHEMA), "x", ["seq"], [], specs),
            cols)
    one = kernel_reference([(None, *r[1:]) for r in rows], specs)
    assert_same(got, {(r[0], r[1]): one[(None, r[1])] for r in rows})


def _round_portable(v):
    scale = float(10 ** ROUND_DP)
    if math.isnan(v):
        return None
    q = Decimal(repr(v * scale)).quantize(Decimal(1),
                                          rounding=ROUND_HALF_UP)
    return float(q) / scale + 0.0


def test_trix_matches_scalar_chain(spark, source, rows):
    n = 12
    alpha = 2.0 / (float(n) + 1.0)

    def scalar(x):
        e3 = kernels.ema_fold(kernels.ema_fold(kernels.ema_fold(
            x, alpha), alpha), alpha)
        out = np.full(x.shape, np.nan)
        for i in range(1, len(x)):
            if e3[i - 1] != 0.0:
                out[i] = 100.0 * (e3[i] / e3[i - 1] - 1.0)
        return ([_round_portable(v) for v in out],)

    with small_arrow_batches(spark):
        got = collect(technical3.trix(source, "x", ["k"], ["seq"], n=n),
                      ["trix"])
    assert_same(got, per_series(rows, lambda g: scalar(g["x"].to_numpy())))


def test_kama_matches_scalar_recursion(spark, source, rows):
    f, s = 2.0 / technical6.KAMA_FAST, 2.0 / technical6.KAMA_SLOW
    lookback = technical6.KAMA_N

    def scalar(x):
        d = np.abs(np.diff(x))
        out = np.empty(len(x))
        state = x[0]
        out[0] = state
        for t in range(1, len(x)):
            vol = 0.0
            for j in range(max(t - lookback + 1, 1), t + 1):
                vol = vol + d[j - 1]
            chg = abs(x[t] - x[max(t - lookback, 0)])
            er = 1.0 if vol == 0.0 else chg / vol
            sc = er * (f - s) + s
            state = state + (sc * sc) * (x[t] - state)
            out[t] = state
        return (out,)

    with small_arrow_batches(spark):
        got = collect(technical6.kama(source, "x", ["k"], ["seq"]),
                      ["kama"])
    assert_same(got, per_series(rows, lambda g: scalar(g["x"].to_numpy())))


def test_holt_matches_scalar_kernel(spark, source, rows):
    with small_arrow_batches(spark):
        got = collect(forecast.holt_smooth(source, "x", ["k"], ["seq"]),
                      ["level", "trend"])
    assert_same(got, per_series(
        rows, lambda g: forecast.holt_kernel(g["x"].to_numpy())))


@pytest.mark.parametrize("lengths", [LENGTHS, MANY_SHORT],
                         ids=["few_long", "many_short"])
def test_fold_over_a_subset_of_runs(lengths):
    # The segmented output pass folds only the runs without a carry;
    # the fold must fill exactly those runs, as the scalar kernels
    # would, and leave every other row NaN.
    rows = sorted(make_rows(lengths), key=lambda r: (r[0] or "", r[1]))
    pdf = pd.DataFrame(rows, columns=["k", "seq", "x", "xn"])
    starts, ends = ind._runs(pdf, ["k"])
    pick = np.arange(len(starts)) % 3 != 1
    fold = ind._indicator_fold(SPECS, "x")
    outs = fold(pdf, starts[pick], ends[pick])
    inside = np.zeros(len(pdf), dtype=bool)
    for st, en in zip(starts[pick], ends[pick]):
        inside[st:en] = True
        for s in SPECS:
            v = pdf[s.value_col or "x"].to_numpy(float)[st:en]
            assert np.array_equal(outs[s.out_col][st:en], SCALAR[s.kind](v, s),
                                  equal_nan=True), (s.out_col, st)
    for s in SPECS:
        assert np.isnan(outs[s.out_col][~inside]).all(), s.out_col
