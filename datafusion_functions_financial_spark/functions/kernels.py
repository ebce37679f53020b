"""Pure pandas/numpy indicator kernels.

These replicate, value-for-value, the recurrences of the reference
window UDFs (``/root/reference/src/functions/{sma,ema,rsi,macd}.rs``),
re-derived from their documented semantics:

- ``sma`` (sma.rs:92-117): simple moving average over the last N
  *non-null* values; NULL until N non-null values seen; NULL input ->
  NULL output with state unchanged.
- ``ema`` (ema.rs:101-124): alpha = 2/(N+1); seeded with the first
  non-null value (output = that value); recurrence
  ``alpha*x + (1-alpha)*prev``; NULL input -> NULL output, state kept.
- ``rsi`` (rsi.rs:118-161): Wilder RSI. First value -> NULL; changes
  split into gains/losses; NULL until N changes seen; first RSI seeds
  the averages with the simple mean of the first N gains/losses;
  afterwards Wilder smoothing ``avg*(1-1/N) + x*(1/N)``;
  ``avg_loss == 0 -> 100.0``.
- ``macd`` (macd.rs:59-116): EMA12 - EMA26 with hard-coded
  alpha12 = 2/13, alpha26 = 2/27, both seeded with the first value, so
  the first output is 0.0.

Floating-point determinism: the recursive folds are written as plain
sequential loops with the *same expression tree* that the DuckDB
oracle SQL uses (see ``plans/oracles.py``), so Spark results and
oracle results are bit-identical, not merely close.

Note: the reference's null branch (``value_array.value(i).into()``)
can never actually observe a null Arrow slot; we implement the
*documented* skip-null semantics, which is also what its streaming
engine does.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

__all__ = [
    "sma_kernel",
    "ema_kernel",
    "rsi_kernel",
    "macd_kernel",
    "ema_fold",
]


def _to_array(values) -> np.ndarray:
    """Coerce a pandas Series / sequence to a float64 array (NaN = null)."""
    if isinstance(values, pd.Series):
        return values.to_numpy(dtype="float64", na_value=np.nan)
    return np.asarray(values, dtype="float64")


def sma_kernel(values, window: int) -> np.ndarray:
    """Null-skipping simple moving average (reference sma.rs semantics)."""
    if window <= 0:
        raise ValueError("window must be positive")
    v = _to_array(values)
    out = np.full(v.shape, np.nan)
    mask = ~np.isnan(v)
    comp = v[mask]
    n = comp.shape[0]
    if n >= window:
        # Sliding-window sums accumulated column-by-column: vectorized
        # across windows, STRICTLY SEQUENTIAL (left-to-right, 0.0 seed)
        # within each window. This is the same add order as Spark's
        # JVM sliding-frame avg and the oracle's explicit list fold, so
        # all three paths produce bit-identical SMAs — numpy's own
        # sum(axis=1) uses 8-way unrolled accumulation for widths > 8,
        # which diverges in the last bit exactly where crossover
        # predicates compare near-equal averages.
        sw = np.lib.stride_tricks.sliding_window_view(comp, window)
        acc = np.zeros(sw.shape[0], dtype=np.float64)
        for j in range(window):
            acc = acc + sw[:, j]
        comp_out = np.full(n, np.nan)
        comp_out[window - 1 :] = acc / float(window)
        out[mask] = comp_out
    return out


def ema_fold(comp: np.ndarray, alpha: float) -> np.ndarray:
    """Sequential EMA fold seeded with the first element.

    Expression tree matches the DuckDB oracle lambda
    ``alpha*v + (1.0-alpha)*acc`` exactly for bit-identical results.
    """
    n = comp.shape[0]
    out = np.empty(n)
    if n == 0:
        return out
    one_minus = 1.0 - alpha
    acc = comp[0]
    out[0] = acc
    for i in range(1, n):
        acc = alpha * comp[i] + one_minus * acc
        out[i] = acc
    return out


def ema_kernel(values, window: int) -> np.ndarray:
    """Exponential moving average, alpha = 2/(N+1), first-value seed."""
    if window <= 0:
        raise ValueError("window must be positive")
    v = _to_array(values)
    out = np.full(v.shape, np.nan)
    mask = ~np.isnan(v)
    comp = v[mask]
    if comp.shape[0]:
        alpha = 2.0 / (float(window) + 1.0)
        out[mask] = ema_fold(comp, alpha)
    return out


def rsi_kernel(values, window: int) -> np.ndarray:
    """Wilder RSI with simple-average seed then Wilder smoothing."""
    if window <= 0:
        raise ValueError("window must be positive")
    v = _to_array(values)
    out = np.full(v.shape, np.nan)
    mask = ~np.isnan(v)
    comp = v[mask]
    n = comp.shape[0]
    if n < window + 1:
        return out
    chg = comp[1:] - comp[:-1]
    gains = np.where(chg > 0.0, chg, 0.0)
    losses = np.where(chg < 0.0, -chg, 0.0)

    alpha = 1.0 / float(window)
    one_minus = 1.0 - alpha
    # Simple-average seed: strictly sequential sum to match the oracle fold.
    sg = gains[0]
    sl = losses[0]
    for i in range(1, window):
        sg = sg + gains[i]
        sl = sl + losses[i]
    avg_gain = sg / float(window)
    avg_loss = sl / float(window)

    comp_out = np.full(n, np.nan)

    def _rsi(ag: float, al: float) -> float:
        if al == 0.0:
            return 100.0
        return 100.0 - (100.0 / (1.0 + ag / al))

    # ag / al overflows to inf when al is subnormal: the RSI is 100.0
    with np.errstate(over="ignore"):
        comp_out[window] = _rsi(avg_gain, avg_loss)
        for i in range(window, chg.shape[0]):
            avg_gain = avg_gain * one_minus + gains[i] * alpha
            avg_loss = avg_loss * one_minus + losses[i] * alpha
            comp_out[i + 1] = _rsi(avg_gain, avg_loss)
    out[mask] = comp_out
    return out


# --------------------------------------------------------------------------
# Batched (parallel-across-series) folds
#
# The recurrences are inherently sequential IN TIME but independent
# ACROSS SERIES. ``*_fold2d`` runs one vectorized numpy step per time
# index over a (series x time) matrix padded with NaN tails: a
# partition holding G series of length L costs L vector ops instead of
# G*L Python-loop steps. Every element sees the EXACT expression tree
# of the scalar kernels (alpha*x + (1-alpha)*acc etc. applied
# elementwise), so outputs stay bit-identical — asserted by tests and
# the oracle parity gate.
# --------------------------------------------------------------------------


def _data_mask(lens: np.ndarray) -> np.ndarray:
    """(G, maxlen) mask of the data slots of a packed matrix."""
    maxlen = int(lens.max()) if len(lens) else 0
    return np.arange(maxlen) < lens[:, None]


def pack_series(values: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """NaN-padded (G, maxlen) matrix whose row g holds the next
    ``lens[g]`` elements of ``values`` (the series laid end to end)."""
    mask = _data_mask(lens)
    M = np.full(mask.shape, np.nan)
    M[mask] = values
    return M


def unpack_series(R: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Inverse of ``pack_series``: the first ``lens[g]`` elements of
    each row of ``R``, laid end to end."""
    return R[_data_mask(lens)]


def pack_segments(segments: list) -> tuple[np.ndarray, np.ndarray]:
    """Stack compressed (non-null) per-series arrays into a NaN-padded
    (G, maxlen) matrix; returns (matrix, lengths)."""
    lens = np.array([s.shape[0] for s in segments], dtype=np.int64)
    values = np.concatenate(segments) if segments else np.empty(0)
    return pack_series(values, lens), lens


def ema_fold2d(M: np.ndarray, alpha: float) -> np.ndarray:
    """Row-parallel ``ema_fold``: NaN-padded tails leave acc unchanged."""
    G, L = M.shape
    out = np.full((G, L), np.nan)
    if L == 0:
        return out
    one_minus = 1.0 - alpha
    acc = M[:, 0].copy()
    out[:, 0] = acc
    for i in range(1, L):
        x = M[:, i]
        nxt = alpha * x + one_minus * acc
        valid = ~np.isnan(x)
        acc = np.where(valid, nxt, acc)
        out[:, i] = np.where(valid, nxt, np.nan)
    return out


def rsi_fold2d(M: np.ndarray, lens: np.ndarray, window: int) -> np.ndarray:
    """Row-parallel ``rsi_kernel`` over compressed series; rows shorter
    than window+1 come back all-NaN (the scalar kernel's contract)."""
    G, L = M.shape
    out = np.full((G, L), np.nan)
    if L < window + 1:
        return out
    with np.errstate(invalid="ignore", divide="ignore"):
        chg = M[:, 1:] - M[:, :-1]
        gains = np.where(chg > 0.0, chg, 0.0)
        losses = np.where(chg < 0.0, -chg, 0.0)
        alpha = 1.0 / float(window)
        one_minus = 1.0 - alpha
        sg = gains[:, 0].copy()
        sl = losses[:, 0].copy()
        for i in range(1, window):
            sg = sg + gains[:, i]
            sl = sl + losses[:, i]
        avg_gain = sg / float(window)
        avg_loss = sl / float(window)

        def _rsi_vec(ag: np.ndarray, al: np.ndarray) -> np.ndarray:
            # ag / al overflows to inf when al is subnormal: RSI 100.0
            with np.errstate(over="ignore"):
                return np.where(
                    al == 0.0, 100.0, 100.0 - (100.0 / (1.0 + ag / al))
                )

        out[:, window] = _rsi_vec(avg_gain, avg_loss)
        for i in range(window, chg.shape[1]):
            avg_gain = avg_gain * one_minus + gains[:, i] * alpha
            avg_loss = avg_loss * one_minus + losses[:, i] * alpha
            out[:, i + 1] = _rsi_vec(avg_gain, avg_loss)
    # Rows without window+1 non-null values never produce output; the
    # vectorized pass filled them with tail-NaN-propagated garbage.
    out[lens < window + 1, :] = np.nan
    return out


def macd_kernel(values) -> np.ndarray:
    """MACD line = EMA12 - EMA26 (alpha 2/13 and 2/27, first-value seed)."""
    v = _to_array(values)
    out = np.full(v.shape, np.nan)
    mask = ~np.isnan(v)
    comp = v[mask]
    if comp.shape[0]:
        e12 = ema_fold(comp, 2.0 / 13.0)
        e26 = ema_fold(comp, 2.0 / 27.0)
        out[mask] = e12 - e26
    return out
