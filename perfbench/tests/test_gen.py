"""The generator is deterministic per seed and plants what it reports."""

import glob
import gzip

import numpy as np
import pandas as pd
import pyarrow.csv as pacsv

import gen


def _csv_bytes(root):
    return {p[len(root):]: gzip.decompress(open(p, "rb").read())
            for p in sorted(glob.glob(f"{root}/**/*.csv.gz", recursive=True))}


def test_minute_aggs_same_seed_same_files(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    assert gen.minute_aggs(5, a, 8, 3, planted=4) == gen.minute_aggs(
        5, b, 8, 3, planted=4)
    assert _csv_bytes(a) == _csv_bytes(b)
    gen.minute_aggs(6, c, 8, 3, planted=4)
    assert _csv_bytes(a) != _csv_bytes(c)


def test_minute_aggs_planted_counts(tmp_path):
    root = str(tmp_path)
    truth = gen.minute_aggs(3, root, 10, 3, planted=7)
    t = pd.concat([pacsv.read_csv(p).to_pandas() for p in sorted(
        glob.glob(f"{root}/{gen.MINUTE_DIR}/*.csv.gz"))], ignore_index=True)
    assert len(t) == truth.rows == 10 * 3 * gen.BARS_PER_DAY - 7
    assert list(t.columns) == ["ticker", "window_start", "open", "high",
                               "low", "close", "volume"]
    assert (t.volume < 0).sum() == truth.negative_values == 7
    logic = ((t.high < t.low) | (t.high < t.open) | (t.high < t.close)
             | (t.low > t.open) | (t.low > t.close))
    assert logic.sum() == truth.logic_errors == 7
    t = t.sort_values(["ticker", "window_start"])
    gaps = t.groupby("ticker").window_start.diff()
    assert (gaps > gen.NS_MINUTE).sum() == truth.time_gaps == 10 * 2 + 7


def test_trades_skew_and_order(tmp_path):
    root = str(tmp_path)
    rows = gen.trades(2, root, 10_000)
    assert max(rows.values()) == 6_000
    t = pacsv.read_csv(
        f"{root}/{gen.TRADES_DIR}/{gen.TRADE_DAY}.csv.gz").to_pandas()
    assert len(t) == sum(rows.values())
    assert t.groupby("ticker").sip_timestamp.apply(
        lambda s: s.is_monotonic_increasing and s.is_unique).all()


def test_ticks_deterministic():
    a, b = gen.ticks(9, 2_000, 20), gen.ticks(9, 2_000, 20)
    for k in a:
        np.testing.assert_array_equal(a[k], b[k])
    assert not np.array_equal(a["price"], gen.ticks(10, 2_000, 20)["price"])
    assert (np.diff(a["ts_us"]) > 0).all()

