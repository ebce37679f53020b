"""Metric names and units, and the per-layer metrics of a traced run.

Every workload reports every metric; a layer a workload does not call
reads 0 there (the "predicted flat" cells of the layer map in
README.md). Per-layer values are per pass: totals over the traced
passes divided by their number.
"""

from __future__ import annotations

import spans

END_TO_END = {
    "items_per_s": "1/s",
    "op_p50_ms": "ms",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

PER_LAYER = {
    "polygon.scan_ms": "ms",
    "polygon.scan_tasks": "count",
    "polygon.input_bytes": "bytes",
    "indicators.ms": "ms",
    "indicators.map_stage_ms": "ms",
    "indicators.python_stage_ms": "ms",
    "indicators.python_gap_ms": "ms",
    "indicators.shuffle_write_bytes": "bytes",
    "indicators.spill_bytes": "bytes",
    "kernels.fold_ms": "ms",
    "segmented.ms": "ms",
    "segmented.jobs": "count",
    "sql.rewrite_ms": "ms",
    "sql.exec_ms": "ms",
    "signals.rsi_ms": "ms",
    "signals.xover_ms": "ms",
    "signals.rows": "count",
    "validate.ms": "ms",
    "validate.jobs": "count",
    "sink.write_ms": "ms",
    "sink.files": "count",
    "sink.bytes": "bytes",
    "registry.build_ms": "ms",
    "registry.build_jobs": "count",
    "registry.exec_ms": "ms",
    "registry.exec_jobs": "count",
    "registry.plan_ms": "ms",
    "registry.stages": "count",
    "registry.query_p90_ms": "ms",
    "engine.tick_us": "us",
    "engine.tick_p50_us": "us",
    "engine.tick_p99_us": "us",
    "engine.signals": "count",
    "engine.symbols": "count",
    "stream.microbatch_p50_ms": "ms",
    "stream.trigger_ms": "ms",
    "stream.dispatch_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_bytes": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.run_ms": "ms",
    "spark.cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "proc.driver_rss_mb": "MB",
    "proc.jvm_rss_mb": "MB",
    "proc.worker_rss_mb": "MB",
    "trace.overhead_pct": "%",
    "trace.span_coverage_pct": "%",
}


# Spans whose jobs evaluate ``with_indicators`` (directly, or through the
# signal detectors, the SQL rewrite's window functions and the sink), and
# the registry spans (``registry.<build|exec>.<query>``) of the ``ind_*``
# queries.
INDICATOR_SPANS = ("indicators.", "segmented.", "sink.", "signals.",
                   "sql.exec", "registry.build.ind_", "registry.exec.ind_")


def from_spans(tracer, n_passes: int, polygon_input: bool) -> dict:
    """The span- and stage-derived metrics, per pass."""
    out = dict.fromkeys(PER_LAYER, 0.0)

    def ms(prefix: str) -> float:
        return sum(s.ms for s in tracer.by_name(prefix))

    def jobs(prefix: str) -> int:
        return sum(len(s.jobs) for s in tracer.by_name(prefix))

    def stages(prefix: str):
        return [st for s in tracer.by_name(prefix) for st in s.stages]

    everything = [st for s in tracer.spans for st in s.stages]
    if polygon_input:
        scan = spans.sum_stages(everything, lambda st: st.input_bytes > 0)
        out["polygon.scan_ms"] = scan["run_ms"]
        out["polygon.scan_tasks"] = scan["tasks"]
        out["polygon.input_bytes"] = scan["input_bytes"]

    # Indicator execution: the Python stages of the spans that compute
    # indicators, plus the shuffle-map stages feeding them (in those of
    # the spans that ran a Python stage). Other Python stages (the
    # state-store path under ``stream.*``, pandas operators of other
    # registry queries) are not indicator cost.
    ind = [st for s in tracer.spans
           if s.name.startswith(INDICATOR_SPANS)
           and any(x.python for x in s.stages)
           for st in s.stages]
    py = spans.sum_stages(ind, lambda st: st.python)
    feed = spans.sum_stages(ind, lambda st: not st.python
                            and st.shuffle_write_bytes > 0)
    out["indicators.python_stage_ms"] = py["run_ms"]
    out["indicators.python_gap_ms"] = py["run_ms"] - py["cpu_ms"]
    out["indicators.map_stage_ms"] = feed["run_ms"]
    out["indicators.ms"] = py["run_ms"] + feed["run_ms"]
    out["indicators.shuffle_write_bytes"] = feed["shuffle_write_bytes"]
    out["indicators.spill_bytes"] = py["spill_bytes"] + feed["spill_bytes"]

    out["segmented.ms"] = ms("segmented.")
    out["segmented.jobs"] = jobs("segmented.")
    out["sql.rewrite_ms"] = ms("sql.rewrite")
    out["sql.exec_ms"] = ms("sql.exec")
    out["signals.rsi_ms"] = ms("signals.rsi")
    out["signals.xover_ms"] = ms("signals.xover")
    out["validate.ms"] = ms("validate")
    out["validate.jobs"] = jobs("validate")
    out["sink.write_ms"] = ms("sink.")
    out["registry.build_ms"] = ms("registry.build")
    out["registry.build_jobs"] = jobs("registry.build")
    out["registry.exec_ms"] = ms("registry.exec")
    out["registry.exec_jobs"] = jobs("registry.exec")
    out["registry.stages"] = len({st.stage_id
                                  for st in stages("registry.")})

    total = spans.sum_stages(everything)
    out["spark.jobs"] = len({j for s in tracer.spans for j in s.jobs})
    out["spark.stages"] = len({st.stage_id for st in everything})
    for k in ("tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes"):
        out[f"spark.{k}"] = total[k]

    for k in out:
        out[k] /= n_passes

    # Share of each pass's wall time its direct children account for.
    passes = [i for i, s in enumerate(tracer.spans) if s.name == "pass"]
    covered = sum(tracer.spans[i].ms - tracer.self_ms(i) for i in passes)
    out["trace.span_coverage_pct"] = 100.0 * covered / sum(
        tracer.spans[i].ms for i in passes)
    return out
