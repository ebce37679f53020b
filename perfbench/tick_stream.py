"""``tick_stream``: one seeded tick tape through ``StreamingProcessor``.

Each pass replays the whole tape through a fresh
``StreamingProcessor.process_tick`` with a counting signal handler,
timing every call (callbacks included). This is the only hot path that
does not touch Spark, so the workload runs without a Spark session; the
Spark streaming path (``streaming.spark``) is measured in
``registry_mix``.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

import gen
import oracle
from common import CALIBRATION_MS, Pass, Workload, calibration_loop

WINDOW = 20
CHUNK = 1_000  # ticks per throughput sample
class TickStream(Workload):
    name = "tick_stream"
    needs_spark = False
    setup_repeats = 5

    def setup(self) -> None:
        from datafusion_functions_financial_spark.streaming.engine import (
            MarketTick)

        t = self.tape = gen.ticks(self.seed, gen.TICKS, gen.SYMBOLS)
        stamps = t["ts_us"].astype("datetime64[us]").astype(object)
        self.market_ticks = [
            MarketTick(s, ts, p, v, b, a) for s, ts, p, v, b, a in zip(
                t["symbol"].tolist(), stamps, t["price"].tolist(),
                t["volume"].tolist(), t["bid"].tolist(), t["ask"].tolist())]
        self._fired = None

    def run_pass(self) -> Pass:
        from datafusion_functions_financial_spark.streaming.engine import (
            StreamingProcessor)

        signals = 0

        def count(_signal) -> None:
            nonlocal signals
            signals += 1

        clock, cpu_clock = time.perf_counter_ns, time.thread_time_ns
        ticks = self.market_ticks
        lat = np.zeros(len(ticks), dtype=np.int64)
        cpu = np.zeros(len(ticks) // CHUNK, dtype=np.int64)
        cal = np.zeros(len(cpu), dtype=np.int64)
        t0 = time.perf_counter()
        with self.tracer.span("engine.process_tick"):
            proc = StreamingProcessor(WINDOW)
            proc.add_signal_handler(count)
            for c in range(len(cpu)):
                c_cpu = cpu_clock()
                for i in range(c * CHUNK, (c + 1) * CHUNK):
                    c0 = clock()
                    proc.process_tick(ticks[i])
                    lat[i] = clock() - c0
                cpu[c] = cpu_clock() - c_cpu
                c_cpu = cpu_clock()
                calibration_loop()
                cal[c] = cpu_clock() - c_cpu
        wall = time.perf_counter() - t0 - cal.sum() / 1e9
        return Pass(wall, len(lat), 1, {
            "tick_ns": lat, "chunk_cpu_ns": cpu, "calibration_ns": cal,
            "signals": signals, "symbols": len(proc._indicators)})

    def items_per_s(self, passes: list[Pass]) -> float:
        """Median over 1,000-tick chunks of ticks per second of the
        calling thread's CPU time (timing each call included), each chunk
        scaled by the calibration loop that ran right after it."""
        cpu = np.concatenate([p.outputs["chunk_cpu_ns"] for p in passes])
        cal = np.concatenate([p.outputs["calibration_ns"] for p in passes])
        return float(np.median(CHUNK * 1e9 / cpu * cal
                               / (CALIBRATION_MS * 1e6)))

    def speed(self, passes: list[Pass]) -> float:
        cal = np.concatenate([p.outputs["calibration_ns"] for p in passes])
        return float(CALIBRATION_MS * 1e6 / np.median(cal))

    def op_p50_ms(self, passes: list[Pass]) -> float:
        """Median ``process_tick`` wall latency, scaled like
        ``items_per_s``."""
        return self.tick_us(passes, 0.5) / 1e3 * self.speed(passes)

    def tick_us(self, passes: list[Pass], q: float) -> float:
        lat = np.concatenate([p.outputs["tick_ns"] for p in passes])
        return float(np.quantile(lat, q)) / 1e3

    def check(self, p: Pass) -> int:
        if self._fired is None:
            t = self.tape
            self._fired = oracle.stream_signals(t["symbol"], t["price"],
                                                t["volume"], WINDOW)
        return int(p.outputs["signals"] != int(self._fired.sum()))

    def layers(self, passes: list[Pass], plain: list[Pass]) -> dict:
        return {
            "engine.tick_us": 1e6 * sum(p.wall_s for p in passes)
            / sum(p.items for p in passes),
            "engine.tick_p50_us": self.tick_us(plain, 0.5),
            "engine.tick_p99_us": self.tick_us(plain, 0.99),
            "engine.signals": statistics.mean(p.outputs["signals"]
                                              for p in passes),
            "engine.symbols": passes[-1].outputs["symbols"],
        }
