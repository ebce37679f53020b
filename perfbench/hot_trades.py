"""``hot_trades``, the second half of ``polygon_mix``: the indicator
layer over a few long, skewed series.

One pass runs ``with_indicators`` over a day of ``trades_v1`` twice: on
the default partition path and with ``max_rows_per_task``, which sends
the series over the cap through ``functions.segmented``. One scan file
that cannot be split, ``fold2d`` stepping once per time index, and
Python-worker memory that grows with the partition: a gain for
``minute_bars`` that costs long series shows here.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.csv as pacsv

import gen
import oracle
from common import Pass
from minute_bars import INDICATOR_COLS, specs

# Over the cap: the hottest symbol (60 % of the rows, 12,000 at
# gen.TRADES); the other five stay on the partition path.
MAX_ROWS_PER_TASK = 5_000


def summarize(df):
    """Per-symbol count and sum of every indicator column (NaN and NULL
    skipped) — small enough to collect, exact enough to check."""
    from pyspark.sql import functions as F

    aggs = []
    for c in INDICATOR_COLS:
        ok = F.col(c).isNotNull() & ~F.isnan(c)
        aggs += [F.count(F.when(ok, 1)).alias(f"n_{c}"),
                 F.sum(F.when(ok, F.col(c))).alias(f"s_{c}")]
    return df.groupBy("ticker").agg(*aggs)


class HotTrades:
    """The trades half of ``polygon_mix``."""

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.inputs = os.path.join(work, "inputs")
        self.seed = seed
        self.tracer = tracer

    def setup(self) -> None:
        from datafusion_functions_financial_spark.sources.polygon import (
            PolygonClient, PolygonConfig)

        self.rows = gen.trades(self.seed, self.inputs, gen.TRADES)
        self.client = PolygonClient(self.spark, PolygonConfig.demo(),
                                    local_root=self.inputs)
        self._want = None

    def run_pass(self) -> Pass:
        from datafusion_functions_financial_spark.functions import (
            indicators as ind)

        span = self.tracer.span
        args = ("price", ["sip_timestamp"], ["ticker"], specs(ind))
        t0 = time.perf_counter()
        with span("polygon.load_data"):
            trades = self.client.load_data("us_stocks", "trades_v1",
                                           gen.TRADE_DAY)
        with span("indicators.with_indicators"):
            part = summarize(ind.with_indicators(trades, *args)).collect()
        with span("segmented.with_indicators"):
            seg = summarize(ind.with_indicators(
                trades, *args,
                max_rows_per_task=MAX_ROWS_PER_TASK)).collect()
        wall = time.perf_counter() - t0
        return Pass(wall, sum(self.rows.values()), 2,
                    {"partition": part, "segmented": seg})

    def series(self) -> dict[str, np.ndarray]:
        t = pacsv.read_csv(
            f"{self.inputs}/{gen.TRADES_DIR}/{gen.TRADE_DAY}.csv.gz")
        tick = t.column("ticker").to_numpy().astype(str)
        ts = t.column("sip_timestamp").to_numpy()
        price = t.column("price").to_numpy()
        return {s: price[tick == s][np.argsort(ts[tick == s], kind="stable")]
                for s in self.rows}

    def _expected(self) -> dict:
        if self._want is None:
            self._want = {}
            for s, v in self.series().items():
                cols = oracle.indicators(v)
                self._want[s] = {c: (int((~np.isnan(x)).sum()),
                                     float(np.nansum(x)),
                                     float(np.nansum(np.abs(x))))
                                 for c, x in cols.items()}
        return self._want

    def check(self, p: Pass) -> int:
        want = self._expected()
        return sum(not _rows_ok(p.outputs[k], want)
                   for k in ("partition", "segmented"))


def _rows_ok(rows, want) -> bool:
    got = {r["ticker"]: r for r in rows}
    if set(got) != set(want):
        return False
    for s, cols in want.items():
        for c, (n, total, scale) in cols.items():
            if got[s][f"n_{c}"] != n:
                return False
            if abs(got[s][f"s_{c}"] - total) > oracle.RTOL * max(scale, 1.0):
                return False
    return True
