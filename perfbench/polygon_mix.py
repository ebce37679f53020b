"""``polygon_mix``: one pass of ``minute_bars`` then one of ``hot_trades``.

Both halves read Polygon flat files and run the indicator layer, in
opposite shapes: many short minute-bar series through the whole
reference pipeline, and a few long, skewed trade series on the partition
and segmented paths. They share one Spark session and one warm-up, so the
benchmark's run budget pays for one session start and one cold pass
instead of two; the traced run still splits their layers.
"""

from __future__ import annotations

from common import Pass, Workload, fold_ms
from hot_trades import HotTrades
from minute_bars import MinuteBars


class PolygonMix(Workload):
    name = "polygon_mix"
    polygon_input = True

    def __init__(self, spark, work: str, seed: int, tracer):
        super().__init__(spark, work, seed, tracer)
        self.bars = MinuteBars(spark, work, seed, tracer)
        self.trades = HotTrades(spark, work, seed, tracer)

    def setup(self) -> None:
        self.bars.setup()
        self.trades.setup()

    def run_pass(self) -> Pass:
        a, b = self.bars.run_pass(), self.trades.run_pass()
        return Pass(a.wall_s + b.wall_s, a.items + b.items, a.ops + b.ops,
                    {"bars": a, "trades": b})

    def check(self, p: Pass) -> int:
        return (self.bars.check(p.outputs["bars"])
                + self.trades.check(p.outputs["trades"]))

    def layers(self, passes: list[Pass], plain: list[Pass]) -> dict:
        out = self.bars.layers([p.outputs["bars"] for p in passes])
        out["kernels.fold_ms"] += fold_ms(self.trades.series().values())
        return out
