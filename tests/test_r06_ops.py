"""Unit tests for the r06 operator additions: kernel properties
(adaptive fold), semantics vs naive references (skyline, nearest
as-of, sampling invariants), and physical-plan shapes for the
scale-critical queries."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.test_plans import plan_of


# --------------------------------------------------------------------------
# adaptive_ema_fold2d (KAMA kernel)
# --------------------------------------------------------------------------


def _adaptive_scalar(xs, sc):
    out = np.full(len(xs), np.nan)
    if not len(xs):
        return out
    state = xs[0]
    out[0] = state
    for i in range(1, len(xs)):
        state = state + sc[i] * (xs[i] - state)
        out[i] = state
    return out


@settings(max_examples=30, deadline=None)
@given(st.lists(
    st.lists(st.tuples(
        st.one_of(st.floats(-1e6, 1e6), st.just(float("nan"))),
        st.floats(0.0, 1.0)),
        min_size=1, max_size=30),
    min_size=1, max_size=6))
def test_adaptive_fold2d_matches_scalar(series_list):
    from datafusion_functions_financial_spark.functions.technical6 import (
        adaptive_ema_fold2d,
    )
    lens = np.array([len(s) for s in series_list], dtype=np.int64)
    L = int(lens.max())
    X = np.full((len(series_list), L), np.nan)
    A = np.full((len(series_list), L), np.nan)
    for g, s in enumerate(series_list):
        X[g, :len(s)] = [v for v, _ in s]
        A[g, :len(s)] = [a for _, a in s]
    K = adaptive_ema_fold2d(X, A, lens)
    for g, s in enumerate(series_list):
        want = _adaptive_scalar([v for v, _ in s], [a for _, a in s])
        assert np.array_equal(K[g, :len(s)], want, equal_nan=True)


# --------------------------------------------------------------------------
# skyline_2d vs naive dominance
# --------------------------------------------------------------------------


def test_skyline_matches_naive(spark):
    from datafusion_functions_financial_spark.plans.analytics6 import (
        skyline_2d,
    )
    rows = [(i, t, v) for i, (t, v) in enumerate(
        [(1, 5.0), (1, 7.0), (2, 7.0), (2, 6.0), (3, 8.0),
         (3, 8.0), (4, 2.0), (5, 9.0), (5, 1.0)])]
    df = spark.createDataFrame(rows, "id long, t long, v double")
    got = sorted((r.id) for r in skyline_2d(
        df, "t", "v", ["id"]).collect())
    naive = [
        i for i, t, v in rows
        if not any(
            (t2 <= t and v2 >= v and (t2 < t or v2 > v))
            for _, t2, v2 in [r for r in rows]
        )
    ]
    assert got == sorted(naive)


def test_skyline_never_sorts_raw_relation(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_skyline_orders")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan, plan  # frontier joined broadcast


# --------------------------------------------------------------------------
# nearest as-of
# --------------------------------------------------------------------------


def test_asof_nearest_matches_naive(spark):
    from datafusion_functions_financial_spark.operators.asof import (
        asof_join,
    )
    left = spark.createDataFrame(
        [("a", t) for t in (0, 5, 9, 12, 30)] + [("b", 7), ("c", 1)],
        "k string, t long")
    right = spark.createDataFrame(
        [("a", 4, 1.0), ("a", 10, 2.0), ("a", 20, None), ("b", 7, 5.0)],
        "k string, t long, v double")
    got = {
        (r.k, r.t): (r.v, r.mt)
        for r in asof_join(left, right, ["k"], "t", "t", ["v"],
                           direction="nearest",
                           matched_on_col="mt").collect()
    }
    rrows = [("a", 4, 1.0), ("a", 10, 2.0), ("a", 20, None),
             ("b", 7, 5.0)]

    def naive(k, t):
        cands = [(rt, v) for rk, rt, v in rrows if rk == k]
        if not cands:
            return (None, None)
        best = min(cands, key=lambda c: (abs(c[0] - t), c[0] > t))
        return (best[1], best[0])

    for (k, t), want in {
        ("a", 0): naive("a", 0), ("a", 5): naive("a", 5),
        ("a", 9): naive("a", 9), ("a", 12): naive("a", 12),
        ("a", 30): naive("a", 30), ("b", 7): naive("b", 7),
        ("c", 1): (None, None),
    }.items():
        assert got[(k, t)] == want, (k, t, got[(k, t)], want)
    # tie at a=7 (|7-4|=3, |10-7|=3): backward wins
    assert got[("a", 5)] == (1.0, 4)


@pytest.mark.slow
def test_asof_nearest_tolerance_and_inner(spark):
    from datafusion_functions_financial_spark.operators.asof import (
        asof_join,
    )
    left = spark.createDataFrame([("a", 100)], "k string, t long")
    right = spark.createDataFrame([("a", 4, 1.0)],
                                  "k string, t long, v double")
    [row] = asof_join(left, right, ["k"], "t", "t", ["v"],
                      direction="nearest", tolerance=10).collect()
    assert row.v is None
    assert asof_join(left, right, ["k"], "t", "t", ["v"],
                     direction="nearest", tolerance=10,
                     how="inner").count() == 0


def test_asof_nearest_one_shuffle(spark):
    import re
    from datafusion_functions_financial_spark.operators.asof import (
        asof_join,
    )
    left = spark.createDataFrame([("a", 1)], "k string, t long")
    right = spark.createDataFrame([("a", 1, 1.0)],
                                  "k string, t long, v double")
    plan = (
        asof_join(left, right, ["k"], "t", "t", ["v"],
                  direction="nearest")
        ._jdf.queryExecution().executedPlan().toString()
    )
    for marker in ("SortMergeJoin", "BroadcastHashJoin",
                   "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert marker not in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


# --------------------------------------------------------------------------
# sampling invariants
# --------------------------------------------------------------------------


def test_token_budget_monotone_and_bounded(spark, sf_dir):
    from datafusion_functions_financial_spark.operators.sampling2 import (
        token_budget_sample,
    )
    from datafusion_functions_financial_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    out = token_budget_sample(docs, "text", "doc_id", budget=2000)
    pdf = out.select("doc_id", "n_tokens", "cum_tokens").toPandas()
    # budget exhausted before each kept doc; overshoot <= one doc
    assert ((pdf["cum_tokens"] - pdf["n_tokens"]) < 2000).all()
    assert pdf["cum_tokens"].max() >= 2000 or len(pdf) == docs.count()
    # a smaller budget selects a strict prefix of a bigger one
    small = set(r.doc_id for r in token_budget_sample(
        docs, "text", "doc_id", budget=1000).select("doc_id").collect())
    assert small <= set(pdf["doc_id"])


def test_temperature_sample_quota_shapes(spark, sf_dir):
    from datafusion_functions_financial_spark.operators.sampling2 import (
        temperature_sample,
    )
    from datafusion_functions_financial_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    out = temperature_sample(docs, "source", "doc_id", k=100)
    per = {r.source: r.n for r in out.groupBy("source")
           .agg(F.count(F.lit(1)).alias("n")).collect()}
    # never exceeds k total; every represented source within 1 of the
    # uniform share (sources are equal-sized, so sqrt weights tie)
    assert sum(per.values()) <= 100
    if len(per) > 1:
        lo, hi = min(per.values()), max(per.values())
        assert hi - lo <= 1


# --------------------------------------------------------------------------
# plan shapes for the new gate queries
# --------------------------------------------------------------------------


@pytest.mark.parametrize("name", [
    "graph_pagerank_nations",
    "q_seasonal_hourly_events",
    "micro_kyle_lambda_events",
    "micro_variance_ratio_events",
    "q_grubbs_events",
    "q_ewma_control_events",
    "q_mutual_info_events",
    "text_diversity_documents",
    "sample_token_budget_documents",
    "sample_temperature_documents",
    "ind_kama_events",
    "ind_hull_ma_events",
    "vol_parkinson_gk_events",
])
def test_new_query_no_cartesian(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, plan


def _plan_nodes(plan: str, name: str) -> int:
    """Plan nodes of kind ``name``; a ``ReusedExchange`` line names the
    exchange it reuses but runs none, so it is not counted."""
    return sum(1 for line in plan.splitlines()
               if line.lstrip(" :+-").startswith(name + " "))


def _pagerank(spark, sf_dir, iters=3):
    from datafusion_functions_financial_spark.plans.analytics6 import (
        _trade_edges, pagerank_edges,
    )
    from datafusion_functions_financial_spark.sources.tables import load
    nodes = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"))
    return pagerank_edges(_trade_edges(spark, sf_dir), nodes, n_nodes=25,
                          iters=iters)


def _pagerank_plan(spark, sf_dir, iters):
    return _pagerank(spark, sf_dir, iters)._jdf.queryExecution(
    ).executedPlan().toString()


def test_pagerank_iterations_broadcast(spark, sf_dir):
    # The 25-node iterate runs in one task's fold: its steps add no
    # broadcast, no shuffle and no plan operator at all, so the executed
    # plan is the same for any number of iterations.
    one, three, ten = (_pagerank_plan(spark, sf_dir, k) for k in (1, 3, 10))
    for kind in ("BroadcastExchange", "BroadcastHashJoin", "Exchange"):
        assert _plan_nodes(three, kind) == _plan_nodes(one, kind), three
    assert len(ten.splitlines()) == len(one.splitlines()), ten


def _jobs(spark, group, fn):
    """``fn()``'s result and the number of Spark jobs it fired under
    the job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)


def test_pagerank_jobs_with_aqe(spark, sf_dir):
    # The production config (AQE on): building fires no job, and the
    # run pays the edge aggregation's broadcasts and shuffle, the nation
    # name broadcast and the result stage, none per iteration.
    from datafusion_functions_financial_spark.plans.registry import (
        all_queries,
    )
    q = all_queries()["graph_pagerank_nations"]
    q(spark, sf_dir)  # the session's first load of a table reads its schema
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        df, built = _jobs(spark, "pagerank-build", lambda: q(spark, sf_dir))
        _, ran = _jobs(spark, "pagerank-exec", lambda: df.write.format(
            "noop").mode("overwrite").save())
    finally:
        spark.conf.set(key, before)
    assert built == 0
    assert ran <= 6


def test_pagerank_edges_outside_nodes_leak(spark):
    # Edges with a NULL dst or a dst outside the nodes count in their
    # source's out-weight, and their mass leaks: one step over node 0
    # -> {1, NULL, 99} (w 1 each) hands node 1 a third of node 0's
    # rank, and only the nodes get a rank row.
    from datafusion_functions_financial_spark.plans.analytics6 import (
        Q, pagerank_edges,
    )
    nodes = spark.createDataFrame([(0,), (1,)], "node bigint")
    edges = spark.createDataFrame([(0, 1, 1), (0, None, 1), (0, 99, 1)],
                                  "src bigint, dst bigint, w bigint")
    got = {r.node: r.pagerank
           for r in pagerank_edges(edges, nodes, 2, iters=1).collect()}
    base = 15.0 / 200
    assert got == {
        0: base,
        1: base + 85.0 / 100 * (round(0.5 * (1.0 / 3.0) * Q) / float(Q)),
    }


def _pagerank_duck(rows, n, iters):
    """The SQL step (``_pr_iter_sql``) in DuckDB over edge ``rows``
    and nodes ``0..n-1``: {node: pagerank}."""
    import duckdb
    from datafusion_functions_financial_spark.plans.analytics6 import (
        _pr_iter_sql,
    )
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE edges (src BIGINT, dst BIGINT, w BIGINT)")
        con.executemany("INSERT INTO edges VALUES (?, ?, ?)", rows)
        steps = ",\n".join(_pr_iter_sql(f"rank{i}", i + 1, n)
                           for i in range(iters))
        sql = f"""WITH e AS (
          SELECT src, dst, w,
                 CAST(sum(w) OVER (PARTITION BY src) AS BIGINT) AS ow
          FROM edges
        ), nodes AS (SELECT range AS node FROM range({n})
        ), rank0 AS (
          SELECT node, CAST(1 AS DOUBLE) / {n} AS pr FROM nodes
        ), {steps}
        SELECT node, pr FROM rank{iters}"""
        return dict(con.execute(sql).fetchall())
    finally:
        con.close()


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_pagerank_fold_matches_sql_steps(spark, seed):
    # Seeded graphs with every edge case of the contract: NULL and
    # non-node dst (mass leaks), non-node src and NULL w (no
    # contribution), nodes without in-edges; bit-equal to the SQL steps.
    from datafusion_functions_financial_spark.plans.analytics6 import (
        pagerank_edges,
    )
    rng = np.random.default_rng(seed)
    n = int(rng.integers(4, 30))
    rows = []
    for _ in range(int(rng.integers(n, n * n))):
        dst = int(rng.integers(0, n + 3))
        rows.append((int(rng.integers(0, n + 3)),
                     None if rng.random() < 0.1 else dst,
                     None if rng.random() < 0.1 else int(
                         rng.integers(1, 1000))))
    edges = spark.createDataFrame(rows, "src bigint, dst bigint, w bigint")
    nodes = spark.range(n).select(F.col("id").alias("node"))
    for iters in (1, 3, 10):
        got = {r.node: r.pagerank for r in
               pagerank_edges(edges, nodes, n, iters=iters).collect()}
        assert got == _pagerank_duck(rows, n, iters), (seed, iters)


def test_pagerank_zero_out_weight_raises(spark):
    # A source node whose weights sum to 0 divides by zero: the ANSI
    # DIVIDE_BY_ZERO of the SQL step, never a silent NaN rank.
    from datafusion_functions_financial_spark.plans.analytics6 import (
        pagerank_edges,
    )
    nodes = spark.createDataFrame([(0,), (1,)], "node bigint")
    edges = spark.createDataFrame([(0, 1, 0), (1, 0, 1)],
                                  "src bigint, dst bigint, w bigint")
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        pagerank_edges(edges, nodes, 2, iters=1).collect()
