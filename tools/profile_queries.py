#!/usr/bin/env python
"""Profiler: capture explain('formatted') and noop-sink wall times
for a named list of registry queries at sf0.1.

Usage: python tools/profile_queries.py out_dir out_suffix q1 q2 ...
Writes <out_dir>/<query>_<suffix>.txt (e.g. out_dir = plans/r14) and
prints one timing line per query (two runs each; min reported, both
shown). ``classes=a/b`` is the number of classes Spark's code generator
compiled while the query was built and run the first and the second
time (the CodegenMetrics compile count): ``a`` is the query's
generated-class footprint, and a nonzero ``b`` means its classes did
not all stay in the JVM-wide codegen cache
(``spark.sql.codegen.cache.maxEntries``) between two runs.
"""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("dffs-profile")
        .config("spark.sql.shuffle.partitions", str(2 * int(cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from datafusion_functions_financial_spark.plans.registry import (
        all_queries,
    )

    queries = all_queries()
    os.makedirs(out_dir, exist_ok=True)

    # Warm up JVM / Python workers once.
    queries["ind_combined_events"](spark, sf_dir).write.format(
        "noop").mode("overwrite").save()

    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    for name in names:
        before = compiled.getCount()
        df = queries[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"),
                  "w") as f:
            f.write(plan)
        runs, classes = [], []
        for _ in range(2):
            df = queries[name](spark, sf_dir)
            spark.sparkContext.setJobDescription(f"{name} [{suffix}]")
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
            classes.append(compiled.getCount() - before)
            before = compiled.getCount()
        ex = plan.count("Exchange")
        py = (plan.count("BatchEvalPython")
              + plan.count("ArrowEvalPython")
              + plan.count("MapInPandas") + plan.count("MapInArrow")
              + plan.count("FlatMapGroupsInPandas"))
        print(f"{min(runs):8.3f}  runs={runs}  exchanges={ex} "
              f"python_nodes={py}  classes={classes[0]}/{classes[1]}  "
              f"{name}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
