"""``minute_bars``, the first half of ``polygon_mix``: the reference
pipeline over many short series.

One pass: load every day's ``minute_aggs_v1`` file, add sma20/ema12/
rsi14/macd and write them partitioned by day, detect RSI and 20/50
crossover signals, run one reference-style RSI query through
``sql_with_indicators`` and validate the bars. Many short series is the
real daily-equity shape; the per-partition Arrow round trip, the shuffle
and the validator's eager jobs dominate.
"""

from __future__ import annotations

import glob
import os
import statistics
import time
from functools import reduce

import numpy as np
import pyarrow.csv as pacsv
import pyarrow.dataset as ds

import gen
import oracle
from common import Pass, fold_ms

SAMPLED = 3  # series whose sink values are compared per pass

RSI_SQL = """
SELECT ticker, window_start, close, rsi_14
FROM (
  SELECT ticker, window_start, close,
         rsi(close, 14) OVER (PARTITION BY ticker ORDER BY window_start)
           AS rsi_14
  FROM bars
) s
WHERE rsi_14 < 30 OR rsi_14 > 70
"""

INDICATOR_COLS = ("sma20", "ema12", "rsi14", "macd")


def specs(ind):
    return [ind.sma(20, "sma20"), ind.ema(12, "ema12"), ind.rsi(14, "rsi14"),
            ind.macd("macd")]


class MinuteBars:
    """The minute half of ``polygon_mix``."""

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.seed = seed
        self.tracer = tracer

    def setup(self) -> None:
        from datafusion_functions_financial_spark.sources.polygon import (
            PolygonClient, PolygonConfig)

        self.truth = gen.minute_aggs(self.seed, self.inputs, gen.TICKERS,
                                     gen.DAYS)
        self.client = PolygonClient(self.spark, PolygonConfig.demo(),
                                    local_root=self.inputs)
        self.out = os.path.join(self.work, "sink_minute_bars")
        self._series = None
        self._n_checked = 0

    def run_pass(self) -> Pass:
        from pyspark.sql import functions as F

        from datafusion_functions_financial_spark.functions import (
            indicators as ind)
        from datafusion_functions_financial_spark.functions.sql import (
            sql_with_indicators)
        from datafusion_functions_financial_spark.plans.signals import (
            detect_ma_crossover_signals, detect_rsi_signals)
        from datafusion_functions_financial_spark.plans.validate import (
            validate_minute_aggs_partitioned)
        from datafusion_functions_financial_spark.sources.sink import (
            write_partitioned)

        span = self.tracer.span
        key, order = ["ticker"], ["window_start"]
        t0 = time.perf_counter()
        with span("polygon.load_data"):
            bars = reduce(lambda a, b: a.unionByName(b), [
                self.client.load_data("us_stocks", "minute_aggs_v1", d)
                for d in gen.day_names(gen.DAYS)])
        with span("indicators.with_indicators"):
            enriched = ind.with_indicators(bars, "close", order, key,
                                           specs(ind))
        with span("sink.write_partitioned"):
            write_partitioned(
                enriched.withColumn(
                    "day", F.expr(f"window_start DIV {gen.NS_DAY}")),
                self.out, ["day"])
        with span("signals.rsi"):
            n_rsi = detect_rsi_signals(bars, "close", order, key).count()
        with span("signals.xover"):
            n_xo = detect_ma_crossover_signals(
                bars, "close", order, key, 20, 50).count()
        with span("sql.rewrite"):
            bars.createOrReplaceTempView("bars")
            q = sql_with_indicators(self.spark, RSI_SQL)
        with span("sql.exec"):
            n_sql = q.count()
        with span("validate"):
            report = validate_minute_aggs_partitioned(bars)
        wall = time.perf_counter() - t0
        return Pass(wall, self.truth.rows, 5, {
            "rsi": n_rsi, "xover": n_xo, "sql": n_sql,
            "checks": dict(report.checks), "total": report.total_rows,
        })

    # -- checks -------------------------------------------------------------

    def _load_series(self) -> dict[str, np.ndarray]:
        cols = {}
        for path in sorted(glob.glob(
                f"{self.inputs}/{gen.MINUTE_DIR}/*.csv.gz")):
            t = pacsv.read_csv(path)
            for k in ("ticker", "window_start", "close"):
                cols.setdefault(k, []).append(t.column(k).to_numpy())
        tick = np.concatenate(cols["ticker"]).astype(str)
        ts = np.concatenate(cols["window_start"])
        close = np.concatenate(cols["close"])
        order = np.lexsort((ts, tick))
        tick, close = tick[order], close[order]
        bounds = np.flatnonzero(tick[1:] != tick[:-1]) + 1
        return dict(zip(tick[np.r_[0, bounds]], np.split(close, bounds)))

    def _expected(self) -> dict:
        if self._series is None:
            self._series = self._load_series()
            self._rsi = {k: oracle.rsi(v, 14) for k, v in self._series.items()}
            self._want = {
                "rsi": sum(oracle.rsi_signals(r) for r in self._rsi.values()),
                "xover": sum(oracle.crossovers(v)
                             for v in self._series.values()),
            }
        return self._want

    def check(self, p: Pass) -> int:
        want = self._expected()
        t = self.truth
        out = p.outputs
        failed = 0
        failed += out["rsi"] != want["rsi"]
        failed += out["xover"] != want["xover"]
        failed += out["sql"] != want["rsi"]
        failed += (out["total"] != t.rows or out["checks"] != {
            "Negative Values": t.negative_values,
            "Time Gaps": t.time_gaps,
            "Logic Errors": t.logic_errors,
        })
        failed += not self._sink_ok()
        return failed

    def _sink_ok(self) -> bool:
        dataset = ds.dataset(self.out, format="parquet", partitioning="hive")
        if dataset.count_rows() != self.truth.rows:
            return False
        names = sorted(self._series)
        start = self._n_checked * SAMPLED
        self._n_checked += 1
        for name in (names[(start + i) % len(names)] for i in range(SAMPLED)):
            got = dataset.to_table(
                filter=ds.field("ticker") == name,
                columns=["window_start", *INDICATOR_COLS]).to_pandas()
            got = got.sort_values("window_start")
            want = oracle.indicators(self._series[name])
            for c in INDICATOR_COLS:
                if not oracle.close_enough(
                        got[c].to_numpy(dtype=float, na_value=np.nan),
                        want[c]):
                    return False
        return True

    def layers(self, passes: list[Pass]) -> dict:
        self._expected()
        files = glob.glob(f"{self.out}/**/*.parquet", recursive=True)
        return {
            "kernels.fold_ms": fold_ms(self._series.values()),
            "signals.rows": statistics.mean(
                p.outputs["rsi"] + p.outputs["xover"] for p in passes),
            "sink.files": len(files),
            "sink.bytes": sum(os.path.getsize(f) for f in files),
        }
