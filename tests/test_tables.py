"""``sources.tables.load``: the per-session parquet schema cache."""

from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datafusion_functions_financial_spark.sources.tables import load

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs(spark, fn):
    """``fn()``'s result and the number of Spark jobs it fired."""
    sc = spark.sparkContext
    sc.setJobGroup("tables-load", "schema cache")
    try:
        out = fn()
        return out, len(sc.statusTracker().getJobIdsForGroup("tables-load"))
    finally:
        sc.setJobGroup(None, None)


def test_second_load_fires_no_job(spark, sf_dir):
    first = load(spark, sf_dir, "lineitem")
    again, jobs = _jobs(spark, lambda: load(spark, sf_dir, "lineitem"))
    assert jobs == 0
    assert again.schema == first.schema


def test_rewrite_at_same_path_is_seen(spark, tmp_path):
    # A rewrite at the same path with another schema is seen, for a
    # single file and for a directory dataset whose file is replaced.
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load(spark, str(tmp_path), "region").columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df = load(spark, str(tmp_path), "region")
    assert df.columns == ["b", "c"] and df.collect()[0]["b"] == "x"

    path.unlink()
    path.mkdir()
    pq.write_table(pa.table({"a": [1]}), path / "part-0.parquet")
    assert load(spark, str(tmp_path), "region").columns == ["a"]
    (path / "part-0.parquet").unlink()
    pq.write_table(pa.table({"d": [3]}), path / "part-1.parquet")
    assert load(spark, str(tmp_path), "region").columns == ["d"]


@pytest.mark.slow
def test_events_under_both_nanos_confs(spark, tmp_path):
    # ``ts`` as TIMESTAMP(NANOS) and as TIMESTAMP(MICROS): both load as
    # epoch-ns longs whichever nanosAsLong value the session had.
    ts = [datetime(2024, 1, 2, 3, 4, 5, 6), datetime(2024, 1, 2, 3, 4, 6)]
    want = [1704164645000006000, 1704164646000000000]
    for unit in ("ns", "us"):
        (tmp_path / unit).mkdir()
        pq.write_table(
            pa.table({"event_id": [1, 2], "ts": pa.array(ts, pa.timestamp(unit))}),
            tmp_path / unit / "events.parquet")
    before = spark.conf.get(NANOS)
    try:
        for conf in ("false", "true", "false"):
            for unit in ("ns", "us"):
                spark.conf.set(NANOS, conf)
                got = load(spark, str(tmp_path / unit), "events")
                assert [r.ts for r in got.orderBy("event_id").collect()] == want
    finally:
        spark.conf.set(NANOS, before)
