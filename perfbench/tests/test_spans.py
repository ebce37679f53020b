"""Spans nest, restore the parent's job group and compute self time;
indicator metrics come only from spans that evaluate indicators."""

import time

import pytest

import layers
import spans


class FakeContext:
    def __init__(self):
        self.props = {}

    def setJobGroup(self, group, description):
        self.props["spark.jobGroup.id"] = group

    def setLocalProperty(self, key, value):
        self.props[key] = value


class FakeSpark:
    def __init__(self):
        self.sparkContext = FakeContext()


def test_disabled_records_nothing():
    spark = FakeSpark()
    t = spans.Tracer(spark, False, "r")
    with t.span("pass"):
        pass
    assert t.spans == [] and spark.sparkContext.props == {}


def test_nesting_groups_and_self_time():
    spark = FakeSpark()
    t = spans.Tracer(spark, True, "r")
    props = spark.sparkContext.props
    with t.span("pass"):
        outer = props["spark.jobGroup.id"]
        with t.span("a"):
            assert props["spark.jobGroup.id"] != outer
            time.sleep(0.02)
        assert props["spark.jobGroup.id"] == outer
        with t.span("b"):
            time.sleep(0.02)
    assert props["spark.jobGroup.id"] is None
    assert [(s.name, s.parent, s.run_id) for s in t.spans] == [
        ("pass", None, "r"), ("a", 0, "r"), ("b", 0, "r")]
    assert t.self_ms(0) == pytest.approx(
        t.spans[0].ms - t.spans[1].ms - t.spans[2].ms)
    assert t.self_ms(1) == t.spans[1].ms >= 20


def test_sum_stages_counts_each_stage_once():
    a = spans.Stage(1, False, run_ms=10, tasks=2)
    b = spans.Stage(2, True, run_ms=5, tasks=1)
    total = spans.sum_stages([a, b, a])
    assert total["run_ms"] == 15 and total["tasks"] == 3
    assert spans.sum_stages([a, b], lambda s: s.python)["run_ms"] == 5


def test_indicator_metrics_skip_other_python_stages():
    t = spans.Tracer(None, True, "r")
    names = ("sink.write_partitioned", "stream.trigger",
             "registry.exec.ind_combined_events",
             "registry.exec.graph_pagerank_nations")
    with t.span("pass"):
        for name in names:
            with t.span(name):
                pass
    t.spans[1].stages = [spans.Stage(1, True, run_ms=10),
                         spans.Stage(2, False, run_ms=3,
                                     shuffle_write_bytes=7)]
    t.spans[2].stages = [spans.Stage(3, True, run_ms=100),
                         spans.Stage(4, False, run_ms=50,
                                     shuffle_write_bytes=9)]
    t.spans[3].stages = [spans.Stage(5, True, run_ms=20)]
    t.spans[4].stages = [spans.Stage(6, True, run_ms=1000)]
    out = layers.from_spans(t, 1, False)
    assert out["indicators.python_stage_ms"] == 30
    assert out["indicators.map_stage_ms"] == 3
    assert out["indicators.shuffle_write_bytes"] == 7
    assert out["spark.run_ms"] == 1183
