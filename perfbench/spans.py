"""Spans around every public call the benchmark makes, with the Spark
counters of the jobs each span ran.

A span is (name, start, end, parent, run id). With tracing on, each span
runs under its own Spark job group, so at exit the jobs it caused can be
read back from ``statusTracker`` and their stages from the JVM status
store. With tracing off, ``span`` records nothing and sets no job group.
Spans live in memory until ``write`` is called.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# SparkPlan nodes that run Python; a stage holding one is a Python stage.
PYTHON_NODES = (
    "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
    "FlatMapGroupsInPandasWithState", "FlatMapCoGroupsInPandas",
    "ArrowEvalPython", "BatchEvalPython", "AggregateInPandas",
    "WindowInPandas", "PythonMapInArrow",
)

STAGE_FIELDS = ("run_ms", "cpu_ms", "gc_ms", "tasks", "input_bytes",
                "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes")


@dataclass
class Stage:
    stage_id: int
    python: bool
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    tasks: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class Span:
    name: str
    start_ns: int
    end_ns: int
    parent: int | None
    run_id: str
    group: str | None
    # Owns the jobs submitted between the wall-clock bounds instead.
    by_time: bool = False
    wall_ms: tuple[int, int] = (0, 0)
    jobs: list[int] = field(default_factory=list)
    stages: list[Stage] = field(default_factory=list)

    @property
    def ms(self) -> float:
        return (self.end_ns - self.start_ns) / 1e6


class Tracer:
    def __init__(self, spark, enabled: bool, run_id: str):
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, by_time: bool = False):
        """Time the block as one span. With ``by_time`` the span sets no
        job group and owns every job submitted while it is open: for
        work that runs on threads the caller does not control (a
        streaming query's micro-batch)."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext if self.spark is not None else None
        idx = len(self.spans)
        group = None
        if sc is not None and not by_time:
            group = f"{self.run_id}/{idx}/{name}"
            sc.setJobGroup(group, name)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(idx)
        span = Span(name, time.perf_counter_ns(), 0, parent, self.run_id,
                    group, by_time=by_time)
        span.wall_ms = (int(time.time() * 1e3), 0)
        self.spans.append(span)
        try:
            yield
        finally:
            span.end_ns = time.perf_counter_ns()
            span.wall_ms = (span.wall_ms[0], int(time.time() * 1e3) + 1)
            self._stack.pop()
            if group is not None:
                if parent is not None and self.spans[parent].group:
                    p = self.spans[parent]
                    sc.setJobGroup(p.group, p.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    # -- counters -----------------------------------------------------------

    def collect(self) -> None:
        """Attach jobs and stage metrics to every span (call once, at
        exit; the status store keeps them until then)."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        empty = jvm.java.util.ArrayList()
        no_q = sc._gateway.new_array(jvm.double, 0)
        seen: dict[int, Stage] = {}
        submitted = None
        for s in self.spans:
            if s.by_time:
                if submitted is None:
                    submitted = {j: _submitted(store, j)
                                 for j in _all_jobs(store)}
                s.jobs = sorted(j for j, t in submitted.items()
                                if s.wall_ms[0] <= t <= s.wall_ms[1])
            elif s.group is not None:
                s.jobs = sorted(tracker.getJobIdsForGroup(s.group))
            else:
                continue
            stage_ids: set[int] = set()
            for j in s.jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            for sid in sorted(stage_ids):
                if sid not in seen:
                    seen[sid] = _stage(store, sid, empty, no_q)
                s.stages.append(seen[sid])

    # -- derived ------------------------------------------------------------

    def self_ms(self, idx: int) -> float:
        """Span duration minus the part its children cover."""
        s = self.spans[idx]
        child = sum(c.ms for c in self.spans if c.parent == idx)
        return s.ms - child

    def by_name(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                rec = asdict(s)
                rec["self_ms"] = self.self_ms(i)
                f.write(json.dumps(rec) + "\n")


def _stage(store, sid: int, empty, no_q) -> Stage:
    attempts = store.stageData(sid, False, empty, False, no_q)
    python = _is_python(store, sid)
    st = Stage(sid, python)
    for i in range(attempts.length()):
        d = attempts.apply(i)
        st.run_ms += d.executorRunTime()
        st.cpu_ms += d.executorCpuTime() / 1e6
        st.gc_ms += d.jvmGcTime()
        st.tasks += d.numCompleteTasks()
        st.input_bytes += d.inputBytes()
        st.output_bytes += d.outputBytes()
        st.shuffle_read_bytes += d.shuffleReadBytes()
        st.shuffle_write_bytes += d.shuffleWriteBytes()
        st.spill_bytes += d.memoryBytesSpilled() + d.diskBytesSpilled()
    return st


def _all_jobs(store) -> list[int]:
    jobs = store.jobsList(None)
    return [jobs.apply(i).jobId() for i in range(jobs.length())]


def _submitted(store, job: int) -> int:
    when = store.job(job).submissionTime()
    return when.get().getTime() if when.isDefined() else -1


def _is_python(store, sid: int) -> bool:
    try:
        root = store.operationGraphForStage(sid).rootCluster()
    except Exception:  # noqa: BLE001 - stage pruned from the store
        return False
    todo = [root]
    while todo:
        c = todo.pop()
        if any(c.name().startswith(n) for n in PYTHON_NODES):
            return True
        kids = c.childClusters()
        todo.extend(kids.apply(i) for i in range(kids.length()))
    return False


def sum_stages(stages, pred=lambda st: True) -> dict[str, float]:
    """Totals of ``STAGE_FIELDS`` over distinct stages matching ``pred``."""
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    for st in {st.stage_id: st for st in stages}.values():
        if pred(st):
            for k in STAGE_FIELDS:
                out[k] += getattr(st, k)
    return out
