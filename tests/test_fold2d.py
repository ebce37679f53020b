"""Row-parallel fold2d kernels must be BIT-identical to the scalar
kernels on every series — including NaN interleavings, short series,
and empty rows. (The partition path now uses fold2d; the group path
uses the scalar kernels; oracle parity requires they agree exactly.)"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from datafusion_functions_financial_spark.functions import kernels as K

series_strategy = st.lists(
    st.lists(
        st.one_of(
            st.floats(min_value=-1e6, max_value=1e6,
                      allow_nan=False, allow_infinity=False),
            st.just(float("nan")),
        ),
        min_size=0, max_size=60,
    ),
    min_size=1, max_size=12,
)


def _pack(series):
    comp = [np.asarray([x for x in s if not np.isnan(x)], dtype=np.float64)
            for s in series]
    return K.pack_segments(comp), comp


def _identical(a: np.ndarray, b: np.ndarray) -> bool:
    return np.array_equal(a, b, equal_nan=True)


@settings(max_examples=80, deadline=None)
@given(series=series_strategy, window=st.integers(1, 10))
def test_ema_fold2d_matches_scalar(series, window):
    (M, lens), comp = _pack(series)
    alpha = 2.0 / (float(window) + 1.0)
    R = K.ema_fold2d(M, alpha)
    for g, c in enumerate(comp):
        scalar = K.ema_fold(c, alpha)
        assert _identical(R[g, : len(c)], scalar)


@settings(max_examples=80, deadline=None)
@given(series=series_strategy, window=st.integers(1, 10))
def test_rsi_fold2d_matches_scalar(series, window):
    (M, lens), comp = _pack(series)
    R = K.rsi_fold2d(M, lens, window)
    for g, c in enumerate(comp):
        scalar = K.rsi_kernel(c, window)  # compressed input: no nulls
        assert _identical(R[g, : len(c)], scalar)


@settings(max_examples=40, deadline=None)
@given(series=series_strategy)
def test_macd_via_fold2d_matches_scalar(series):
    (M, lens), comp = _pack(series)
    R = K.ema_fold2d(M, 2.0 / 13.0) - K.ema_fold2d(M, 2.0 / 27.0)
    for g, c in enumerate(comp):
        scalar = K.macd_kernel(c)
        assert _identical(R[g, : len(c)], scalar)


def _rsi_python(comp, window):
    """Reference RSI in Python floats, whose division overflows to inf
    without a warning."""
    chg = [b - a for a, b in zip(comp[:-1], comp[1:])]
    gains = [c if c > 0.0 else 0.0 for c in chg]
    losses = [-c if c < 0.0 else 0.0 for c in chg]
    ag, al = sum(gains[:window]) / window, sum(losses[:window]) / window
    out = [float("nan")] * len(comp)
    for i in range(window, len(chg) + 1):
        if i > window:
            ag = ag * (1.0 - 1.0 / window) + gains[i - 1] * (1.0 / window)
            al = al * (1.0 - 1.0 / window) + losses[i - 1] * (1.0 / window)
        out[i] = 100.0 if al == 0.0 else 100.0 - 100.0 / (1.0 + ag / al)
    return np.array(out)


def test_rsi_subnormal_average_loss_does_not_warn():
    # A subnormal average loss makes ag / al overflow to inf; the RSI
    # of 100.0 is right and no RuntimeWarning may reach the caller.
    import warnings

    from datafusion_functions_financial_spark.functions.segmented import (
        _rsi_continue,
    )

    comp = np.array([0.0, 1e-310, 0.0, 1.0, 2.0, 3.0, 4.0])
    want = _rsi_python(comp.tolist(), 2)
    assert want[-1] == 100.0
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert _identical(K.rsi_kernel(comp, 2), want)
        M, lens = K.pack_segments([comp, comp[:3]])
        R = K.rsi_fold2d(M, lens, 2)
        assert _identical(R[0], want)
        # Continuing from a carry whose average loss is subnormal.
        cont = _rsi_continue(np.array([1.0, 2.0]), 2, 0.0, 1e-310, 0.0)
    assert (cont == 100.0).all()
