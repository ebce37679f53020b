"""Seeded, vectorised input generator for the benchmark.

Made here from one ``--seed``: the Polygon-layout CSV.gz flat files
(``minute_aggs_v1`` for many short series, ``trades_v1`` for a few long
skewed ones) and the tick sequence of the streaming workloads. (The
registry queries read the repository's own sf0.01 test tables, vendored
under ``data/``.) The generator plants known counts of time gaps, negative
values and OHLC logic errors and returns them as the truth the checks
compare against; the library never sees the truth.

Run alone to materialise one seed's inputs at the benchmark's sizes::

    python3 perfbench/gen.py --seed 7 --out /tmp/inputs
"""

from __future__ import annotations

import argparse
import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

NS_MINUTE = 60_000_000_000
NS_DAY = 86_400_000_000_000
BARS_PER_DAY = 390
OPEN_NS = (13 * 60 + 30) * NS_MINUTE  # 09:30 New York in UTC (winter)
FIRST_DAY_NS = 1_704_153_600_000_000_000  # 2024-01-02 00:00 UTC
MINUTE_DIR = "us_stocks_sip/minute_aggs_v1/2024"
TRADES_DIR = "us_stocks_sip/trades_v1/2024"
TRADE_DAY = "2024-01-02"
# Share of rows per symbol in the trades file: one hot symbol.
TRADE_SHARES = (0.60, 0.15, 0.10, 0.07, 0.05, 0.03)

# The benchmark's input sizes.
TICKERS, DAYS = 20, 2  # minute bars: 20 x 2 x 390
TRADES = 20_000
TICKS, SYMBOLS = 40_000, 200


def day_names(n_days: int) -> list[str]:
    """Consecutive calendar days from 2024-01-02 (the loader only needs
    one file per date; weekends are irrelevant to the minute checks)."""
    return [f"2024-01-{2 + d:02d}" for d in range(n_days)]


def _write_csv_gz(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with pa.CompressedOutputStream(path, "gzip") as out:
        pacsv.write_csv(table, out)


def _ohlc(rng: np.random.Generator, close: np.ndarray):
    """Open/high/low around a close path with strictly consistent OHLC."""
    n = close.shape[0]
    opn = close * np.exp(rng.normal(0.0, 4e-4, n))
    wick = 1.0 + 1e-4 + np.abs(rng.normal(0.0, 5e-4, (2, n)))
    high = np.maximum(opn, close) * wick[0]
    low = np.minimum(opn, close) / wick[1]
    return opn, high, low


@dataclass(frozen=True)
class MinuteTruth:
    """What ``validate_minute_aggs_partitioned`` must report."""

    tickers: int
    days: int
    rows: int
    time_gaps: int
    negative_values: int
    logic_errors: int


def minute_aggs(seed: int, root: str, n_tickers: int, n_days: int,
                planted: int = 40) -> MinuteTruth:
    """One ``minute_aggs_v1`` CSV.gz per day under ``root``.

    Each ticker trades 390 one-minute bars a day. ``planted`` bars are
    dropped (each makes one intra-day gap; no two in one ticker-day),
    ``planted`` other bars get a negative volume and ``planted`` more
    get high and low swapped. Every ticker also shows one overnight gap
    per day boundary, which the keyed gap scan counts too.
    """
    rng = np.random.default_rng([seed, 1])
    T, D, B = n_tickers, n_days, BARS_PER_DAY
    tickers = np.array([f"T{t:04d}" for t in range(T)])
    n = T * D * B
    steps = rng.normal(0.0, 1e-3, (T, D * B))
    close = (rng.uniform(20.0, 400.0, (T, 1)) * np.exp(
        np.cumsum(steps, axis=1))).reshape(-1)
    opn, high, low = _ohlc(rng, close)
    volume = rng.integers(100, 20_000, n)
    tix = np.repeat(np.arange(T), D * B)
    day = np.tile(np.repeat(np.arange(D), B), T)
    minute = np.tile(np.arange(B), T * D)
    ts = FIRST_DAY_NS + day * NS_DAY + OPEN_NS + minute * NS_MINUTE

    # Disjoint planted rows; dropped bars are interior and one per
    # ticker-day, so each drop is exactly one gap of two minutes.
    ticker_days = rng.choice(T * D, size=planted, replace=False)
    drop = ticker_days * B + rng.integers(1, B - 1, planted)
    rest = np.setdiff1d(np.arange(n), drop)
    marked = rng.choice(rest, size=2 * planted, replace=False)
    neg, swap = marked[:planted], marked[planted:]
    volume[neg] = -volume[neg]
    high[swap], low[swap] = low[swap].copy(), high[swap].copy()

    keep = np.ones(n, dtype=bool)
    keep[drop] = False
    for d, name in enumerate(day_names(D)):
        sel = keep & (day == d)
        table = pa.table({
            "ticker": tickers[tix[sel]],
            "window_start": ts[sel],
            "open": np.round(opn[sel], 4),
            "high": np.round(high[sel], 4),
            "low": np.round(low[sel], 4),
            "close": np.round(close[sel], 4),
            "volume": volume[sel],
        })
        _write_csv_gz(table, f"{root}/{MINUTE_DIR}/{name}.csv.gz")
    return MinuteTruth(
        tickers=T, days=D, rows=int(keep.sum()),
        time_gaps=T * (D - 1) + planted,
        negative_values=planted, logic_errors=planted,
    )


def trades(seed: int, root: str, n_rows: int) -> dict[str, int]:
    """One day of ``trades_v1`` for six symbols with skewed sizes.

    Timestamps are strictly increasing per symbol, so ``sip_timestamp``
    orders every series uniquely. Returns rows per symbol.
    """
    rng = np.random.default_rng([seed, 2])
    counts = np.floor(np.asarray(TRADE_SHARES) * n_rows).astype(np.int64)
    symbols = [f"H{s}" for s in range(len(counts))]
    start = FIRST_DAY_NS + OPEN_NS
    parts = []
    for sym, c in zip(symbols, counts):
        gaps = rng.integers(1_000, 50_000_000, c)
        price = rng.uniform(50, 500) * np.exp(
            np.cumsum(rng.normal(0.0, 2e-4, c)))
        parts.append(pa.table({
            "ticker": np.full(c, sym),
            "sip_timestamp": start + np.cumsum(gaps),
            "price": np.round(price, 4),
            "size": rng.integers(1, 2_000, c),
            "exchange": rng.integers(1, 20, c),
            "conditions": np.full(c, "12,37"),
        }))
    table = pa.concat_tables(parts)
    # Interleave symbols by time, as a consolidated tape is.
    table = table.take(pa.array(np.argsort(
        table.column("sip_timestamp").to_numpy(), kind="stable")))
    _write_csv_gz(table, f"{root}/{TRADES_DIR}/{TRADE_DAY}.csv.gz")
    return {s: int(c) for s, c in zip(symbols, counts)}


def ticks(seed: int, n_ticks: int, n_symbols: int) -> dict[str, np.ndarray]:
    """A tick tape over ``n_symbols`` symbols with Zipf-like activity;
    timestamps are strictly increasing (microseconds)."""
    rng = np.random.default_rng([seed, 3])
    weights = 1.0 / np.arange(1, n_symbols + 1) ** 0.6
    sym = rng.choice(n_symbols, size=n_ticks, p=weights / weights.sum())
    steps = rng.normal(0.0, 1.5e-3, n_ticks)
    base = rng.uniform(10.0, 300.0, n_symbols)
    # Per-symbol random walk in tape order.
    order = np.argsort(sym, kind="stable")
    walk = np.empty(n_ticks)
    s_sorted = sym[order]
    cs = np.cumsum(steps[order])
    first = np.r_[0, np.flatnonzero(np.diff(s_sorted)) + 1]
    offset = np.repeat(cs[first] - steps[order][first],
                       np.diff(np.r_[first, n_ticks]))
    walk[order] = cs - offset
    price = np.round(base[sym] * np.exp(walk), 4)
    # Heavy-tailed volumes so volume spikes fire.
    volume = np.maximum(1, rng.pareto(2.5, n_ticks) * 300).astype(np.int64)
    spread = np.round(price * 2e-4, 4)
    ts_us = 1_704_187_800_000_000 + np.cumsum(rng.integers(50, 2_000,
                                                          n_ticks))
    return {
        "symbol": np.array([f"S{s:03d}" for s in range(n_symbols)])[sym],
        "ts_us": ts_us,
        "price": price,
        "volume": volume,
        "bid": price - spread,
        "ask": price + spread,
    }


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    os.makedirs(args.out, exist_ok=True)
    pq.write_table(pa.table(ticks(args.seed, TICKS, SYMBOLS)),
                   f"{args.out}/ticks.parquet")
    truth = {
        "minute_aggs": asdict(minute_aggs(args.seed, args.out, TICKERS,
                                          DAYS)),
        "trades": trades(args.seed, args.out, TRADES),
    }
    print(json.dumps(truth))


if __name__ == "__main__":
    main()
