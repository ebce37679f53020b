"""``registry_mix``: a fixed list of registry queries, each timed from
the registry call to the last row at a ``noop`` sink, and one streaming
micro-batch per pass.

Cost here is planning plus per-job latency, not data volume: the list
mixes sub-second queries with ones that fire eager jobs while they are
built (``graph_pagerank_nations``, ``validate_events_gaps_keyed``),
and building counts. The first pass collects every result instead, and each
is compared once per run with its oracle SQL in DuckDB. The micro-batch
(``microbatch.py``) is the Spark state-store path of the tick stream, the
same kind of job-latency-bound operation.
"""

from __future__ import annotations

import os
import time

import numpy as np

import oracle
from common import Pass, Workload
from microbatch import MicroBatchFeed

QUERIES = (
    "ind_combined_events",
    "validate_events_gaps_keyed",
    "graph_pagerank_nations",
)
# The repository's sf0.01 test tables (the ones its oracle-parity gate
# reads), vendored so the benchmark reads nothing outside its checkout.
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                      "sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


class RegistryMix(Workload):
    name = "registry_mix"

    def setup(self) -> None:
        from datafusion_functions_financial_spark.plans import registry

        self.sf = SF_DIR
        all_queries = registry.all_queries()
        oracles = registry.all_oracles()
        self.queries = {n: all_queries[n] for n in QUERIES}
        self.oracles = {n: oracles[n] for n in QUERIES}
        self._collect = True
        self.feed = MicroBatchFeed(self.spark,
                                   os.path.join(self.inputs, "stream"),
                                   self.seed)

    def run_pass(self) -> Pass:
        span = self.tracer.span
        collect, self._collect = self._collect, False
        op_ms, results, self.dfs = [], {}, []
        t0 = time.perf_counter()
        for name, fn in self.queries.items():
            q0 = time.perf_counter()
            with span(f"registry.build.{name}"):
                df = fn(self.spark, self.sf)
            with span(f"registry.exec.{name}"):
                if collect:
                    results[name] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
            op_ms.append((time.perf_counter() - q0) * 1e3)
            self.dfs.append(df)
        with span("stream.trigger", by_time=True):
            ms, k, n = self.feed.step()
        op_ms.append(ms)
        wall = time.perf_counter() - t0
        return Pass(wall, len(op_ms), len(op_ms),
                    {"results": results, "batch": (k, n, ms),
                     "query_ms": op_ms[:-1]})

    def check(self, p: Pass) -> int:
        k, n, _ = p.outputs["batch"]
        return (n != self.feed.expected(k)) + self._check_results(
            p.outputs["results"])

    def _check_results(self, results: dict) -> int:
        if not results:
            return 0  # noop-sink passes; results were checked on pass one
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.sf}/{t}.parquet'")
            failed = 0
            for name, got in results.items():
                want = con.execute(self.oracles[name]).fetchdf()
                failed += (oracle.rows_and_hash(got)
                           != oracle.rows_and_hash(want))
            return failed
        finally:
            con.close()

    def layers(self, passes: list[Pass], plain: list[Pass]) -> dict:
        lat = [ms for p in plain for ms in p.outputs["query_ms"]]
        return {"registry.plan_ms": self.plan_ms(),
                "registry.query_p90_ms": float(np.quantile(lat, 0.9)),
                "stream.microbatch_p50_ms": float(np.median(
                    [p.outputs["batch"][2] for p in plain])),
                **self.feed.stats()}

    def close(self) -> None:
        self.feed.close()

    def plan_ms(self) -> float:
        """Planning phases (QueryPlanningTracker) of the last pass's
        queries, summed; forces each plan outside any timed region."""
        total = 0.0
        for df in self.dfs:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            it = phases.values().iterator()
            while it.hasNext():
                total += it.next().durationMs()
        return total
