"""Small driver-side relations (``indicators.literal_relation``) are
built in the JVM. ``spark.createDataFrame`` of a Python list plans a
Python RDD (``Scan ExistingRDD`` over a ``PythonRDD``), whose scan
forks Python workers outside the pandas-UDF pool; no plan below may
hold one, and the registry pairs built on these relations stay
oracle-exact."""

import math

import pytest
from test_oracle_parity import normalize, values_equal

from datafusion_functions_financial_spark.functions.indicators import (
    literal_relation,
)
from datafusion_functions_financial_spark.operators.kcenter import (
    _min_dist,
)
from datafusion_functions_financial_spark.plans.registry import (
    all_oracles,
    all_queries,
)
from datafusion_functions_financial_spark.streaming.squantiles import (
    windowed_sketch_quantiles,
)

# Every registry pair whose plan scans a literal relation: portfolio
# weights, value bands, k-center results, distributed-median targets
# and results, sketch quantile probabilities.
_PAIRS = [
    "q_portfolio_returns_events", "q_market_beta_events",
    "risk_capture_events", "risk_jensen_treynor_events",
    "q_orders_value_bands", "emb_kcenter_embeddings",
    "q_distributed_median_lineitem", "q_mood_median_events",
    "qs_quantiles_lineitem", "qs_merge_by_month_orders",
    "qs_error_audit_lineitem",
]


def _python_rdd_scans(df):
    """Lineages of the plan's ``ExistingRDD`` scans that run Python
    (a ``localCheckpoint`` is an ``ExistingRDD`` too, a JVM one)."""
    found, stack = [], [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "LogicalRDD":
            lineage = node.rdd().toDebugString()
            if "PythonRDD" in lineage:
                found.append(lineage)
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return found


def _assert_jvm_only(df):
    assert _python_rdd_scans(df) == []
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan(
    ).toString()


def test_literal_relation_values_and_empty(spark):
    src = spark.sql(
        "SELECT 7L AS a, CAST(NULL AS STRING) AS b, array(1.5D, -0.0D) AS c,"
        " TIMESTAMP'2024-01-02 03:04:05.123456' AS t, DATE'2024-01-02' AS d,"
        " CAST(1.25 AS DECIMAL(10, 2)) AS x, double('nan') AS n")
    rows = src.collect()
    rel = literal_relation(spark, rows, src.schema)
    _assert_jvm_only(rel)
    assert rel.schema == src.schema
    (got,) = rel.collect()
    assert got[:6] == rows[0][:6] and math.isnan(got["n"])
    assert math.copysign(1.0, got["c"][1]) == -1.0

    empty = literal_relation(spark, [], "k bigint, v double")
    _assert_jvm_only(empty)
    assert empty.schema.simpleString() == "struct<k:bigint,v:double>"
    assert empty.collect() == []


def test_streaming_and_join_relations_stay_in_the_jvm(spark):
    counts = spark.sql(
        "SELECT named_struct('start', TIMESTAMP'2024-01-01 00:00:00',"
        " 'end', TIMESTAMP'2024-01-01 00:01:00') AS window,"
        " 3L AS __b, 5L AS __c")
    _assert_jvm_only(windowed_sketch_quantiles(counts, (0.5,), 0.0, 1.0))
    emb = spark.sql("SELECT 1L AS vec_id, array(0.0D, 1.0D) AS embedding")
    _assert_jvm_only(_min_dist(emb, [(1, [0.0, 1.0])], "join"))


@pytest.mark.slow
@pytest.mark.parametrize("name", _PAIRS)
def test_pair_scans_no_python_rdd_and_matches_oracle(name, spark, duck,
                                                     sf_dir):
    sdf = all_queries()[name](spark, sf_dir)
    _assert_jvm_only(sdf)
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(all_oracles()[name])
    dcols = [d[0] for d in res.description]
    s_norm, cols = normalize(srows, sdf.columns)
    d_norm, dcols_sorted = normalize([tuple(r) for r in res.fetchall()],
                                     dcols)
    assert cols == dcols_sorted and len(s_norm) == len(d_norm)
    for sr, dr in zip(s_norm, d_norm):
        assert all(values_equal(s, d) for s, d in zip(sr, dr)), (sr, dr)
