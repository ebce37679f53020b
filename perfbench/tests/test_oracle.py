"""The independent computations agree with the library on small inputs
(so a failed check in a run points at the library, not the check)."""

import numpy as np

import gen
import oracle


def test_indicators_match_kernels():
    from datafusion_functions_financial_spark.functions import kernels

    v = 100 * np.exp(np.cumsum(np.random.default_rng(0).normal(0, 0.01, 300)))
    want = oracle.indicators(v)
    assert oracle.close_enough(kernels.sma_kernel(v, 20), want["sma20"])
    assert oracle.close_enough(kernels.ema_kernel(v, 12), want["ema12"])
    assert oracle.close_enough(kernels.rsi_kernel(v, 14), want["rsi14"])
    assert oracle.close_enough(kernels.macd_kernel(v), want["macd"])


def test_stream_signals_match_engine():
    from datafusion_functions_financial_spark.streaming.engine import (
        MarketTick, StreamingProcessor)

    t = gen.ticks(1, 3_000, 7)
    fired = []
    proc = StreamingProcessor(20)
    proc.add_signal_handler(fired.append)
    got = np.zeros(3_000, dtype=np.int64)
    for i, (s, p, v) in enumerate(zip(t["symbol"].tolist(),
                                      t["price"].tolist(),
                                      t["volume"].tolist())):
        n = len(fired)
        proc.process_tick(MarketTick(s, i, p, v))
        got[i] = len(fired) - n
    want = oracle.stream_signals(t["symbol"], t["price"], t["volume"], 20)
    np.testing.assert_array_equal(got, want)
    assert want.sum() > 0


def test_rows_and_hash_ignores_dtype_and_order():
    import pandas as pd

    a = pd.DataFrame({"b": [2, 1], "a": ["y", "x"], "c": [0.0, -0.0]})
    b = pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.0], "c": [0.0, 0.0]})
    assert oracle.rows_and_hash(a) == oracle.rows_and_hash(b)
    b.loc[0, "b"] = 1.5
    assert oracle.rows_and_hash(a) != oracle.rows_and_hash(b)
