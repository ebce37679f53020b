"""Independent computations the checks compare the library against.

Written from the reference semantics, not from the library's kernels:
plain per-series loops and pandas/numpy windows. Nothing here runs
inside a timed region.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

RTOL = 1e-9


def sma(v: np.ndarray, n: int) -> np.ndarray:
    """Trailing mean, summed left to right within each window (the
    reference's add order, so crossover comparisons agree bit for bit)."""
    out = np.full(v.shape, np.nan)
    if v.shape[0] >= n:
        w = np.lib.stride_tricks.sliding_window_view(v, n)
        acc = np.zeros(w.shape[0])
        for j in range(n):
            acc = acc + w[:, j]
        out[n - 1:] = acc / n
    return out


def ema(v: np.ndarray, n: int) -> np.ndarray:
    a = 2.0 / (n + 1.0)
    out = np.empty(v.shape)
    acc = None
    for i, x in enumerate(v.tolist()):
        acc = x if acc is None else a * x + (1.0 - a) * acc
        out[i] = acc
    return out


def rsi(v: np.ndarray, n: int) -> np.ndarray:
    """Wilder RSI: simple-average seed over the first ``n`` changes."""
    out = np.full(v.shape, np.nan)
    if v.shape[0] < n + 1:
        return out
    chg = np.diff(v)
    g = np.maximum(chg, 0.0).tolist()
    lo = np.maximum(-chg, 0.0).tolist()
    ag = al = 0.0
    for i in range(n):
        ag, al = ag + g[i], al + lo[i]
    ag, al = ag / n, al / n
    a = 1.0 / n
    for i in range(n, len(g) + 1):
        if i > n:
            ag = ag * (1.0 - a) + g[i - 1] * a
            al = al * (1.0 - a) + lo[i - 1] * a
        out[i] = 100.0 if al == 0.0 else 100.0 - 100.0 / (1.0 + ag / al)
    return out


def macd(v: np.ndarray) -> np.ndarray:
    return ema(v, 12) - ema(v, 26)


def indicators(v: np.ndarray) -> dict[str, np.ndarray]:
    """The four indicator columns every workload asks for."""
    return {"sma20": sma(v, 20), "ema12": ema(v, 12), "rsi14": rsi(v, 14),
            "macd": macd(v)}


def rsi_signals(r: np.ndarray, low: float = 30.0, high: float = 70.0) -> int:
    r = r[~np.isnan(r)]
    return int(((r < low) | (r > high)).sum())


def crossovers(v: np.ndarray, fast: int = 20, slow: int = 50) -> int:
    f, s = sma(v, fast), sma(v, slow)
    pf, ps = f[:-1], s[:-1]
    f, s = f[1:], s[1:]
    ok = ~(np.isnan(f) | np.isnan(s) | np.isnan(pf) | np.isnan(ps))
    crossed = ((pf <= ps) & (f > s)) | ((pf >= ps) & (f < s))
    return int((ok & crossed).sum())


def close_enough(got: np.ndarray, want: np.ndarray) -> bool:
    return bool(np.allclose(got, want, rtol=RTOL, atol=1e-9, equal_nan=True))


# ---------------------------------------------------------------------------
# Streaming signals (reference streaming.rs semantics, batch RSI seed)
# ---------------------------------------------------------------------------


def stream_signals(symbols: np.ndarray, price: np.ndarray,
                   volume: np.ndarray, window: int) -> np.ndarray:
    """Signals fired per tick, replaying the tape symbol by symbol."""
    fired = np.zeros(price.shape[0], dtype=np.int64)
    a = 2.0 / (window + 1.0)
    for sym in np.unique(symbols):
        idx = np.flatnonzero(symbols == sym)
        p, vol = price[idx].tolist(), volume[idx].tolist()
        ema_v, ag, al, seeded = None, 0.0, 0.0, False
        gains: list[float] = []
        losses: list[float] = []
        for k in range(len(p)):
            x = p[k]
            ema_v = x if ema_v is None else a * x + (1.0 - a) * ema_v
            n_sig = 0
            if k >= 1:
                c = x - p[k - 1]
                gains.append(c if c > 0.0 else 0.0)
                losses.append(-c if c < 0.0 else 0.0)
                if len(gains) >= window:
                    if not seeded:
                        ag = sum(gains[-window:]) / window
                        al = sum(losses[-window:]) / window
                        seeded = True
                    else:
                        w = 1.0 / window
                        ag = ag * (1.0 - w) + gains[-1] * w
                        al = al * (1.0 - w) + losses[-1] * w
                    r = 100.0 if al == 0.0 else 100.0 - 100.0 / (1.0 + ag / al)
                    n_sig += (r < 30.0) or (r > 70.0)
            if k + 1 >= window:
                s = 0.0
                for q in p[k + 1 - window:k + 1]:
                    s += q
                s /= window
                vs = sum(vol[k + 1 - window:k + 1]) / window
                n_sig += vol[k] / vs > 2.0
                n_sig += (ema_v > s * 1.002) or (ema_v < s * 0.998)
            fired[idx[k]] = n_sig
    return fired


# ---------------------------------------------------------------------------
# Registry results
# ---------------------------------------------------------------------------


def _normalized(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, numbers as float64 (-0.0 folded into
    0.0), times as epoch nanoseconds, everything else as text; rows
    sorted. Spark and DuckDB then agree exactly on equal results."""
    out = {}
    for c in sorted(df.columns):
        x = df[c]
        if x.dtype.kind in "iufb":
            out[c] = x.astype("float64") + 0.0
        elif x.dtype.kind == "M":
            out[c] = x.astype("datetime64[ns]").astype("int64")
        else:
            out[c] = x.astype(str)
    norm = pd.DataFrame(out)
    return norm.sort_values(list(norm.columns)).reset_index(drop=True)


def rows_and_hash(df: pd.DataFrame) -> tuple[int, str]:
    rows = pd.util.hash_pandas_object(_normalized(df), index=False)
    return len(df), hashlib.sha256(rows.to_numpy().tobytes()).hexdigest()
