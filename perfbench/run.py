"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload polygon_mix --seed 1 \\
        --seconds 15 --trace 0

Run from the repository root: the library is imported from there. Set-up
(session start, input generation, one warm-up pass) is timed as
``setup_s``; then passes run back to back until ``--seconds`` of pass
time is spent. Each pass's outputs are checked against independently
computed truth outside the timed region. With ``--trace 0`` the metrics
are the end-to-end ones; with ``--trace 1`` the measurement is split
into an untraced and a traced half, and the metrics are the per-layer
ones plus ``trace.overhead_pct`` (traced vs untraced median pass).
Spans of a traced run are written to ``.perfbench_work/spans-*.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_work"


def workloads() -> dict:
    from polygon_mix import PolygonMix
    from registry_mix import RegistryMix
    from tick_stream import TickStream

    return {w.name: w for w in (PolygonMix, RegistryMix, TickStream)}


def parse(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("polygon_mix", "registry_mix", "tick_stream"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Counter:
    """Operations attempted and failed, over every checked pass."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0

    def check(self, p) -> None:
        self.attempted += p.ops
        try:
            bad = self.wl.check(p)
        except Exception:  # noqa: BLE001 - a broken check fails the pass
            traceback.print_exc()
            bad = p.ops
        self.failed += min(bad, p.ops)


def measure(wl, counter, seconds: float) -> list:
    passes, spent = [], 0.0
    while spent < seconds:
        with wl.tracer.span("pass"):
            p = wl.run_pass()
        spent += p.wall_s
        passes.append(p)
        counter.check(p)
    print(f"{wl.name}: {len(passes)} passes in {spent:.2f} s",
          file=sys.stderr)
    return passes


def run(args) -> dict:
    import layers
    import rss
    import session
    import spans

    name = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = WORK / name
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cls = workloads()[args.workload]
    sampler = rss.TreeSampler()
    try:
        with sampler:
            spark, session_s = (session.start(str(work)) if cls.needs_spark
                                else (None, 0.0))
            try:
                tracer = spans.Tracer(spark, False, name)
                wl = cls(spark, str(work), args.seed, tracer)
                counter = Counter(wl)
                setup_s = session_s + statistics.median(
                    set_up(wl, counter) for _ in range(wl.setup_repeats))
                if args.trace:
                    metrics = traced(wl, tracer, counter, args.seconds)
                else:
                    passes = measure(wl, counter, args.seconds)
                    metrics = {
                        "items_per_s": wl.items_per_s(passes),
                        "op_p50_ms": wl.op_p50_ms(passes),
                        "setup_s": setup_s,
                    }
                wl.close()
            finally:
                if spark is not None:
                    session.stop(spark)
        if not args.trace:
            metrics["peak_rss_mb"] = sampler.peak_mb()
        else:
            metrics.update({
                "proc.driver_rss_mb": sampler.peak_mb("driver"),
                "proc.jvm_rss_mb": sampler.peak_mb("jvm"),
                "proc.worker_rss_mb": sampler.peak_mb("worker"),
            })
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = layers.PER_LAYER if args.trace else layers.END_TO_END
    return {
        "correct": counter.failed == 0,
        "attempted": counter.attempted,
        "failed": counter.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()},
    }


def set_up(wl, counter) -> float:
    """Make the inputs and run one warm-up pass; returns their seconds
    (the pass's check excluded), scaled by the workload's host-speed
    calibration where it has one.

    The warm-up pass pays for code generation and the Python workers.
    The next pass still runs up to 20 % slower than later ones, but a
    second warm-up pass would not fit the run budget, so every run
    measures that pass too."""
    t0 = time.perf_counter()
    wl.setup()
    seconds = time.perf_counter() - t0
    with wl.tracer.span("pass"):
        p = wl.run_pass()
    counter.check(p)
    return (seconds + p.wall_s) * wl.speed([p])


def traced(wl, tracer, counter, seconds: float) -> dict:
    """Untraced then traced halves; per-layer metrics of the traced one."""
    import layers

    # One more warm-up pass (a traced run reports no setup_s), so the
    # pass that still runs slow is in neither half and does not skew
    # trace.overhead_pct.
    counter.check(wl.run_pass())
    plain = measure(wl, counter, seconds / 2)
    tracer.enabled = True
    passes = measure(wl, counter, seconds / 2)
    tracer.enabled = False
    tracer.collect()
    tracer.write(str(WORK / f"spans-{tracer.run_id}.jsonl"))
    out = layers.from_spans(tracer, len(passes), wl.polygon_input)
    out.update(wl.layers(passes, plain))
    out["trace.overhead_pct"] = 100.0 * (
        statistics.median(p.wall_s for p in passes)
        / statistics.median(p.wall_s for p in plain) - 1.0)
    return out


def main(argv=None) -> int:
    args = parse(argv)
    if not (ROOT / "datafusion_functions_financial_spark").is_dir():
        print(f"library package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(1, str(ROOT))
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
