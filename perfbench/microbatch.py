"""A tick tape fed through ``streaming.spark.start_signal_stream`` one
micro-batch at a time.

The tape is staged as fixed-size parquet files; ``step`` moves the next
one into the watched directory and waits until the query has processed
it, so each batch runs to completion before the next arrives (a closed
loop). Signal counts per batch are checked against an independent
replay of the tape.
"""

from __future__ import annotations

import os
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
from tick_stream import WINDOW

BATCH = 1_000  # ticks per micro-batch


class MicroBatchFeed:
    def __init__(self, spark, root: str, seed: int):
        from datafusion_functions_financial_spark.streaming.spark import (
            TICK_SCHEMA, start_signal_stream)

        t = self.tape = gen.ticks(seed, gen.TICKS, gen.SYMBOLS)
        self.staged = os.path.join(root, "staged")
        self.watched = os.path.join(root, "watched")
        os.makedirs(self.staged)
        os.makedirs(self.watched)
        table = pa.table({
            "symbol": t["symbol"],
            "timestamp": pa.array(t["ts_us"], pa.timestamp("us", tz="UTC")),
            "price": t["price"], "volume": t["volume"],
            "bid": t["bid"], "ask": t["ask"],
        })
        self.n_batches = gen.TICKS // BATCH
        for k in range(self.n_batches):
            pq.write_table(table.slice(k * BATCH, BATCH),
                           f"{self.staged}/batch-{k:05d}.parquet")
        self.next_batch = 0
        self.received = 0
        self.progress: dict[int, dict] = {}
        self._fired = None

        def handler(_row) -> None:
            self.received += 1

        stream = (spark.readStream.schema(TICK_SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(self.watched))
        self.query = start_signal_stream(
            stream, WINDOW, handler,
            checkpointLocation=os.path.join(root, "checkpoint"))

    def step(self) -> tuple[float, int, int]:
        """Feed one batch; returns (ms, batch index, signals received)."""
        k = self.next_batch
        if k >= self.n_batches:
            raise RuntimeError("tick tape exhausted")
        self.next_batch += 1
        before = self.received
        t0 = time.perf_counter()
        os.rename(f"{self.staged}/batch-{k:05d}.parquet",
                  f"{self.watched}/batch-{k:05d}.parquet")
        self.query.processAllAvailable()
        ms = (time.perf_counter() - t0) * 1e3
        for p in self.query.recentProgress:
            if p["numInputRows"] > 0:
                self.progress[p["batchId"]] = p
        return ms, k, self.received - before

    def expected(self, k: int) -> int:
        if self._fired is None:
            t = self.tape
            self._fired = oracle.stream_signals(t["symbol"], t["price"],
                                                t["volume"], WINDOW)
        return int(self._fired[k * BATCH:(k + 1) * BATCH].sum())

    def stats(self) -> dict[str, float]:
        done = [self.progress[k] for k in sorted(self.progress)]
        if not done:
            return {}
        last = done[-1]["stateOperators"][0]
        return {
            "stream.trigger_ms": statistics.median(
                p["durationMs"]["triggerExecution"] for p in done),
            "stream.dispatch_ms": statistics.median(
                p["durationMs"]["addBatch"] for p in done),
            "stream.state_rows": last["numRowsTotal"],
            "stream.state_bytes": last["memoryUsedBytes"],
        }

    def close(self) -> None:
        self.query.stop()
