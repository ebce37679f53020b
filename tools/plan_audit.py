#!/usr/bin/env python
"""Plan-pathology audit: explain every bench headline query and
flag row-at-a-time Python (BatchEvalPython), cartesian products /
broadcast nested-loop joins, and scans of the big tables without
pushed filters. Explain-only (no execution); writes a JSON summary.

Usage: python tools/plan_audit.py out.json  (e.g. plans/r14/plan_audit.json)
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def main() -> None:
    out_path = sys.argv[1]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("plan-audit")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import bench
    from datafusion_functions_financial_spark.plans.registry import (
        all_queries,
    )

    # Import the bench module's own HEADLINE constant rather than
    # regexing bench.py source (a regex silently shrinks to a subset
    # under any reformat); assert the census so drift fails loudly.
    names = list(bench.HEADLINE)
    queries = all_queries()
    missing = [n for n in names if n not in queries]
    assert not missing, f"HEADLINE names absent from registry: {missing}"
    assert len(names) >= 100, f"suspiciously small HEADLINE: {len(names)}"

    audit: dict[str, dict] = {}
    for n in names:
        df = queries[n](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        flags = {
            "batch_eval_python": plan.count("BatchEvalPython"),
            "arrow_eval_python": plan.count("ArrowEvalPython"),
            "map_in_pandas": (plan.count("MapInPandas")
                              + plan.count("FlatMapGroupsInPandas")),
            "cartesian": plan.count("CartesianProduct"),
            "bnlj": plan.count("BroadcastNestedLoopJoin"),
            "exchanges": len(re.findall(r"\) Exchange\b", plan)),
            "scans": plan.count("Scan parquet"),
            "sort_merge_joins": plan.count("SortMergeJoin"),
        }
        audit[n] = flags
        print(f"{n}: {flags}", flush=True)

    summary = {
        "n_queries": len(audit),
        "queries_with_batch_eval_python": sorted(
            q for q, f in audit.items() if f["batch_eval_python"]),
        "queries_with_cartesian": sorted(
            q for q, f in audit.items() if f["cartesian"]),
        "queries_with_bnlj": sorted(
            q for q, f in audit.items() if f["bnlj"]),
        "per_query": audit,
    }
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    print(json.dumps({k: v for k, v in summary.items()
                      if k != "per_query"}, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
