"""What every workload shares: the pass record and the base class.

A workload is a closed loop with one client. ``setup`` makes the inputs
(and may start long-lived queries); ``run_pass`` performs one pass of
synchronous public calls and times it; ``check`` compares a pass's
outputs with independently computed truth outside the timed region and
returns how many of its operations failed.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import deque
from dataclasses import dataclass, field


@dataclass
class Pass:
    """One closed-loop pass; ``ops`` are its checked operations."""

    wall_s: float
    items: int
    ops: int
    outputs: dict = field(default_factory=dict)


class Workload:
    name = ""
    needs_spark = True
    # Set-up (inputs and warm-up passes) is repeated this many times and
    # its median reported; only where set-up is cheap.
    setup_repeats = 1
    # Inputs are Polygon flat files (scan stages count as polygon.*).
    polygon_input = False

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.inputs = os.path.join(work, "inputs")

    def setup(self) -> None:
        raise NotImplementedError

    def run_pass(self) -> Pass:
        raise NotImplementedError

    def check(self, p: Pass) -> int:
        raise NotImplementedError

    def items_per_s(self, passes: list[Pass]) -> float:
        return sum(p.items for p in passes) / sum(p.wall_s for p in passes)

    def op_p50_ms(self, passes: list[Pass]) -> float:
        """Median latency of one operation; by default the pass."""
        return statistics.median(p.wall_s for p in passes) * 1e3

    def speed(self, passes: list[Pass]) -> float:
        """How much faster the calibration host is than this one, as
        measured during ``passes``; times are multiplied by it. 1 for a
        workload that is not calibrated."""
        return 1.0

    def layers(self, passes: list[Pass], plain: list[Pass]) -> dict:
        """Workload-specific per-layer metrics of a traced run: ``passes``
        ran traced, ``plain`` untraced (latency quantiles come from
        those)."""
        return {}

    def close(self) -> None:
        pass


# Calibration (``tick_stream``): a fixed pure-Python loop whose time
# against CALIBRATION_MS is the host's speed at that moment; calibrated
# figures are scaled to a host where the loop takes that long. On a
# shared host the speed of a core moved by up to 40 % between runs of the
# same code, and the loop moves with it.
CALIBRATION_MS = 4.0
CALIBRATION_STEPS = 6_000


def calibration_loop() -> float:
    windows: dict[int, deque] = {}
    acc = 0.0
    for i in range(CALIBRATION_STEPS):
        w = windows.get(i % 7)
        if w is None:
            w = windows[i % 7] = deque(maxlen=20)
        w.append(i * 0.5)
        s = 0.0
        for x in w:
            s += x
        acc += s / len(w)
    return acc


def fold_ms(series) -> float:
    """Time the public fold kernels once over ``series`` (ema12, rsi14,
    macd's two EMAs as one 2-D fold each; sma20 per series)."""
    from datafusion_functions_financial_spark.functions import kernels

    M, lens = kernels.pack_segments(list(series))
    t0 = time.perf_counter()
    kernels.ema_fold2d(M, 2.0 / 13.0)
    kernels.rsi_fold2d(M, lens, 14)
    kernels.ema_fold2d(M, 2.0 / 27.0)
    for v in series:
        kernels.sma_kernel(v, 20)
    return (time.perf_counter() - t0) * 1e3
