"""Markov stationary distribution + seasonal eta² tests."""

import numpy as np
import pytest


US_DAY = 86_400_000_000


@pytest.mark.slow
def test_stationary_matches_numpy_power_iteration(spark):
    from datafusion_functions_financial_spark.operators.markov2 import (
        ITERS, stationary_distribution,
    )
    # deterministic cycle with a self-loop: a->b, b->c (2/3) | b (1/3),
    # c->a. Build a user stream realizing those transitions.
    seq = "a b c a b b c a b c a b c a b b c a".split()
    rows = [(1, i * 1000, i, s) for i, s in enumerate(seq)]
    df = spark.createDataFrame(
        rows, "user_id long, ts long, event_id long, event_type string")
    out = {r["state"]: r["p_stationary"] for r in
           stationary_distribution(df).collect()}
    # numpy reference with the same count-derived P and 4 iterations
    states = sorted(set(seq))
    idx = {s: i for i, s in enumerate(states)}
    counts = np.zeros((3, 3))
    for cur, nxt in zip(seq, seq[1:]):
        counts[idx[cur], idx[nxt]] += 1
    p = counts / counts.sum(axis=1, keepdims=True)
    v = np.full(3, 1 / 3)
    for _ in range(ITERS):
        v = v @ p
    for s in states:
        assert out[s] == pytest.approx(v[idx[s]], abs=1e-5), s


def test_stationary_sums_to_one(spark, sf_dir):
    from datafusion_functions_financial_spark.plans.registry import (
        all_queries,
    )
    rows = all_queries()["q_markov_stationary_events"](
        spark, sf_dir).collect()
    assert sum(r["p_stationary"] for r in rows) == pytest.approx(
        1.0, abs=1e-4)
    assert sum(r["p_empirical"] for r in rows) == pytest.approx(
        1.0, abs=1e-4)


def test_stationary_build_fires_no_job(spark, sf_dir):
    # The uniform start 1/k is a window over the states inside the
    # plan, not a count() while the query is built.
    from datafusion_functions_financial_spark.plans.registry import (
        all_queries,
    )
    from tests.test_r06_ops import _jobs
    q = all_queries()["q_markov_stationary_events"]
    q(spark, sf_dir)  # the session's first load of a table reads its schema
    _, jobs = _jobs(spark, "markov-build", lambda: q(spark, sf_dir))
    assert jobs == 0


def test_stationary_jobs_independent_of_iters(spark, sf_dir):
    # All power steps run in one task's fold: 1 step and 4 steps run
    # the same Spark jobs.
    from datafusion_functions_financial_spark.operators.markov2 import (
        stationary_distribution,
    )
    from datafusion_functions_financial_spark.sources.tables import load
    from tests.test_r06_ops import _jobs
    ev = load(spark, sf_dir, "events")
    ran = []
    for iters in (1, 4):
        df = stationary_distribution(ev, iters=iters)
        _, jobs = _jobs(spark, f"markov-exec-{iters}", lambda: df.write.format(
            "noop").mode("overwrite").save())
        ran.append(jobs)
    assert ran[0] == ran[1], ran


def _daily_events_df(spark, values, key="a"):
    return spark.createDataFrame(
        [(key, i * US_DAY + 1, float(v)) for i, v in enumerate(values)],
        "event_type string, us long, value double")


def test_seasonal_strength_pure_weekly_pattern(spark):
    from datafusion_functions_financial_spark.operators.stats6 import (
        seasonal_strength,
    )
    # value depends ONLY on day-of-week: eta2 = 1
    values = [float((i % 7) * 10) for i in range(35)]
    [row] = seasonal_strength(
        _daily_events_df(spark, values), "value", "event_type",
        "us").collect()
    assert row["eta2"] == pytest.approx(1.0, abs=1e-6)


def test_seasonal_strength_flat_and_noise(spark):
    from datafusion_functions_financial_spark.operators.stats6 import (
        seasonal_strength,
    )
    [flat] = seasonal_strength(
        _daily_events_df(spark, [5.0] * 28), "value", "event_type",
        "us").collect()
    assert flat["eta2"] == pytest.approx(0.0)
    rng = np.random.RandomState(3)
    [noise] = seasonal_strength(
        _daily_events_df(spark, rng.normal(size=140)), "value",
        "event_type", "us").collect()
    assert 0.0 <= noise["eta2"] < 0.2  # no real weekly signal
