"""Streaming tests: pure-Python engine semantics (F7) and the
Structured Streaming path cross-checked against the engine."""

import math
from datetime import datetime, timedelta

import pytest

from datafusion_functions_financial_spark.streaming.engine import (
    MarketTick,
    StreamingIndicators,
    StreamingProcessor,
    StreamingSignalDetector,
    StreamingIndicatorValues,
)


def make_ticks(symbol, prices, volumes=None, start=None):
    start = start or datetime(2024, 1, 1)
    volumes = volumes or [1000] * len(prices)
    return [
        MarketTick(symbol, start + timedelta(seconds=i), p, v)
        for i, (p, v) in enumerate(zip(prices, volumes))
    ]


def test_streaming_single_tick_echo():
    # streaming.rs:328-345 — first tick echoes inputs, indicators None
    # except EMA (first-value seed).
    eng = StreamingIndicators("AAPL", 10)
    v = eng.update(make_ticks("AAPL", [150.0])[0])
    assert v.symbol == "AAPL" and v.price == 150.0 and v.volume == 1000
    assert v.sma is None and v.rsi is None and v.volume_sma is None
    assert v.ema == 150.0


def test_streaming_sma_matches_mean_of_window():
    eng = StreamingIndicators("X", 3)
    prices = [1.0, 2.0, 3.0, 4.0, 5.0]
    smas = [eng.update(t).sma for t in make_ticks("X", prices)]
    assert smas == [None, None, 2.0, 3.0, 4.0]


def test_streaming_ema_matches_batch_kernel():
    from datafusion_functions_financial_spark.functions.kernels import (
        ema_kernel,
    )

    prices = [10.0, 12.0, 13.0, 12.0, 15.0, 11.0, 16.0, 14.0]
    eng = StreamingIndicators("X", 3)
    got = [eng.update(t).ema for t in make_ticks("X", prices)]
    exp = list(ema_kernel(prices, 3))
    assert got == pytest.approx(exp)


def test_streaming_rsi_batch_mode_matches_batch_kernel_prefix():
    # With seed_mode='batch' the streaming RSI matches the batch kernel
    # until the gains window starts sliding past the seed (first W+1
    # outputs are identical by construction).
    from datafusion_functions_financial_spark.functions.kernels import (
        rsi_kernel,
    )

    w = 5
    prices = [44.34, 44.09, 44.15, 43.61, 44.33, 44.83, 45.85, 46.08]
    eng = StreamingIndicators("X", w, seed_mode="batch")
    got = [eng.update(t).rsi for t in make_ticks("X", prices)]
    exp = rsi_kernel(prices, w)
    for i in range(len(prices)):
        if math.isnan(exp[i]):
            assert got[i] is None
        else:
            assert got[i] == pytest.approx(exp[i], abs=1e-12)


def test_streaming_volume_ratio():
    eng = StreamingIndicators("X", 2)
    ticks = make_ticks("X", [1.0, 1.0, 1.0], volumes=[100, 100, 400])
    out = [eng.update(t) for t in ticks]
    assert out[0].volume_ratio is None
    assert out[1].volume_ratio == pytest.approx(1.0)
    # window now [100, 400] -> sma 250, ratio 400/250
    assert out[2].volume_ratio == pytest.approx(1.6)


def test_signal_detection_reference_vectors():
    # streaming.rs:347-366 — rsi=25 & volume_ratio=2.5 fire Oversold +
    # VolumeSpike.
    values = StreamingIndicatorValues(
        symbol="AAPL", timestamp=datetime(2024, 1, 1), price=150.0,
        volume=1000, sma=149.0, ema=149.1, rsi=25.0, volume_sma=400.0,
        volume_ratio=2.5,
    )
    kinds = {s.signal_type: s for s in
             StreamingSignalDetector(values).detect_signals()}
    assert "Oversold" in kinds and "VolumeSpike" in kinds
    assert kinds["Oversold"].strength == pytest.approx((30 - 25) / 30)
    assert kinds["VolumeSpike"].strength == pytest.approx((2.5 - 2) / 3)


def test_signal_crossovers():
    base = dict(symbol="X", timestamp=None, price=100.0, volume=1,
                volume_sma=None, volume_ratio=None, rsi=None)
    bull = StreamingIndicatorValues(**base, sma=100.0, ema=100.5)
    bear = StreamingIndicatorValues(**base, sma=100.0, ema=99.5)
    flat = StreamingIndicatorValues(**base, sma=100.0, ema=100.1)
    assert [s.signal_type for s in
            StreamingSignalDetector(bull).detect_signals()] == [
        "BullishCrossover"]
    assert [s.signal_type for s in
            StreamingSignalDetector(bear).detect_signals()] == [
        "BearishCrossover"]
    assert StreamingSignalDetector(flat).detect_signals() == []


def test_processor_callbacks_and_multi_symbol():
    proc = StreamingProcessor(window_size=3)
    fired = []
    proc.add_signal_handler(fired.append)
    # Strongly rising then crashing price path for one symbol; stable
    # for the other.
    prices = [100, 101, 102, 103, 104, 105, 90, 80, 70, 60, 50]
    for t in make_ticks("VOLATILE", [float(p) for p in prices]):
        proc.process_tick(t)
    # NB: a constant-price series has avg_loss == 0 -> RSI = 100
    # (reference rule, streaming.rs:145-150), so it reads "Overbought".
    for t in make_ticks("STABLE", [100.0] * 11):
        proc.process_tick(t)
    assert any(s.signal_type == "Overbought" and s.symbol == "VOLATILE"
               for s in fired)
    assert any(s.signal_type == "Oversold" and s.symbol == "VOLATILE"
               for s in fired)
    # The stable symbol fires no volume/crossover signals.
    assert not any(
        s.symbol == "STABLE"
        and s.signal_type in ("VolumeSpike", "BullishCrossover",
                              "BearishCrossover")
        for s in fired
    )


def test_processor_builds_one_state_per_symbol(monkeypatch):
    # process_tick must not build (and throw away) a fresh
    # StreamingIndicators on every tick.
    from datafusion_functions_financial_spark.streaming import engine

    built = []

    class Counting(engine.StreamingIndicators):
        def __init__(self, symbol, *args):
            built.append(symbol)
            super().__init__(symbol, *args)

    monkeypatch.setattr(engine, "StreamingIndicators", Counting)
    proc = StreamingProcessor(window_size=3)
    for sym in ("A", "B"):
        for t in make_ticks(sym, [float(p) for p in range(100, 110)]):
            proc.process_tick(t)
    assert sorted(built) == ["A", "B"]


def test_reference_seed_mode_quirk():
    # seed_mode='reference' re-seeds whenever avg_gain == 0 with a full
    # buffer (streaming.rs:134); after an all-loss window the two modes
    # diverge.
    # A long all-loss run keeps avg_gain == 0, so 'reference' mode keeps
    # re-seeding from the sliding window while 'batch' mode applies
    # Wilder smoothing to the same window — they diverge once a gain
    # finally arrives after differing avg_loss trajectories.
    w = 3
    prices = [10.0, 9.0, 8.0, 7.0, 5.0, 4.0, 6.0]
    ref = StreamingIndicators("X", w, seed_mode="reference")
    bat = StreamingIndicators("X", w, seed_mode="batch")
    r_out = [ref.update(t).rsi for t in make_ticks("X", prices)]
    b_out = [bat.update(t).rsi for t in make_ticks("X", prices)]
    assert r_out[3] == b_out[3] == 0.0  # all losses -> RSI 0 both modes
    assert r_out[-1] != b_out[-1]  # divergence after the re-seed


@pytest.mark.slow
def test_spark_streaming_matches_engine(spark, tmp_path):
    """availableNow file stream -> applyInPandasWithState -> memory sink,
    cross-checked row-for-row against the pure-Python engine."""
    import pandas as pd
    from datafusion_functions_financial_spark.streaming.spark import (
        TICK_SCHEMA,
        streaming_indicators,
    )

    prices_a = [100.0, 101.0, 99.0, 102.0, 104.0, 103.0, 105.0, 101.0]
    prices_b = [50.0, 51.0, 52.0, 50.0, 49.0, 53.0, 54.0, 52.0]
    ticks = make_ticks("A", prices_a, volumes=[10, 20, 10, 40, 10, 10, 80, 10])
    ticks += make_ticks("B", prices_b)
    pdf = pd.DataFrame([
        dict(symbol=t.symbol, timestamp=t.timestamp, price=t.price,
             volume=t.volume, bid=None, ask=None)
        for t in ticks
    ])
    src = tmp_path / "ticks"
    spark.createDataFrame(pdf, schema=TICK_SCHEMA).write.parquet(str(src))

    stream = spark.readStream.schema(TICK_SCHEMA).parquet(str(src))
    enriched = streaming_indicators(stream, window_size=3)
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["symbol"], r["timestamp"]): r
        for r in spark.sql("SELECT * FROM enriched_test").collect()
    }
    assert len(got) == len(ticks)

    for symbol, prices in (("A", prices_a), ("B", prices_b)):
        eng = StreamingIndicators(symbol, 3)
        sym_ticks = [t for t in ticks if t.symbol == symbol]
        for t in sym_ticks:
            exp = eng.update(t)
            row = got[(symbol, t.timestamp)]
            for f in ("sma", "ema", "rsi", "volume_sma", "volume_ratio"):
                e, g = getattr(exp, f), row[f]
                if e is None:
                    assert g is None or (isinstance(g, float) and math.isnan(g))
                else:
                    assert g == pytest.approx(e, abs=1e-9), (symbol, t, f)


@pytest.mark.slow
def test_signal_stream_end_to_end(spark, tmp_path):
    """ticks -> stateful enrich -> signal exprs -> foreachBatch handler,
    cross-checked against the Python processor's callback output."""
    import pandas as pd
    from datafusion_functions_financial_spark.streaming.spark import (
        TICK_SCHEMA,
        start_signal_stream,
    )

    # Overbought ramp then oversold crash, plus one volume spike.
    prices = [100.0, 102.0, 104.0, 106.0, 108.0, 110.0, 112.0,
              90.0, 80.0, 72.0, 65.0, 60.0]
    volumes = [10, 10, 10, 10, 10, 10, 100, 10, 10, 10, 10, 10]
    ticks = make_ticks("SYM", prices, volumes=volumes)
    pdf = pd.DataFrame([
        dict(symbol=t.symbol, timestamp=t.timestamp, price=t.price,
             volume=t.volume, bid=None, ask=None)
        for t in ticks
    ])
    src = tmp_path / "sig_ticks"
    spark.createDataFrame(pdf, schema=TICK_SCHEMA).write.parquet(str(src))

    fired = []
    stream = spark.readStream.schema(TICK_SCHEMA).parquet(str(src))
    q = start_signal_stream(
        stream, window_size=3,
        handler=lambda row: fired.append((row["signal_type"],
                                          row["timestamp"],
                                          row["strength"])),
    )
    # availableNow semantics via stop-after-drain: process then stop.
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    q.awaitTermination(30)

    # Expected signals from the Python engine.
    proc = StreamingProcessor(window_size=3)
    expected = []
    proc.add_signal_handler(
        lambda s: expected.append((s.signal_type, s.timestamp, s.strength))
    )
    for t in ticks:
        proc.process_tick(t)
    assert expected, "test vector must fire signals"
    got, want = sorted(fired), sorted(expected)
    assert [(k, ts) for k, ts, _ in got] == [(k, ts) for k, ts, _ in want]
    for (k, ts, g), (_, _, e) in zip(got, want):
        assert g == pytest.approx(e), (k, ts)
    got_kinds = {k for k, _, _ in fired}
    assert "Overbought" in got_kinds and "Oversold" in got_kinds
    assert "VolumeSpike" in got_kinds


@pytest.mark.slow
def test_streaming_state_survives_restart(spark, tmp_path):
    """applyInPandasWithState + checkpoint: a restarted query resumes
    per-symbol ring-buffer state instead of reseeding — indicator values
    for late-arriving files match one continuous run."""
    import pandas as pd
    from datafusion_functions_financial_spark.streaming.spark import (
        TICK_SCHEMA,
        streaming_indicators,
    )

    prices = [100.0, 101.0, 99.0, 102.0, 104.0, 103.0, 105.0, 101.0,
              98.0, 97.0, 99.5, 100.5]
    ticks = make_ticks("R", prices)
    first, second = ticks[:7], ticks[7:]

    src = tmp_path / "restart_ticks"
    out = tmp_path / "restart_out"
    ckpt = tmp_path / "restart_ckpt"
    src.mkdir()

    def write_batch(batch, name):
        pdf = pd.DataFrame([
            dict(symbol=t.symbol, timestamp=t.timestamp, price=t.price,
                 volume=t.volume, bid=None, ask=None) for t in batch
        ])
        spark.createDataFrame(pdf, schema=TICK_SCHEMA).write.parquet(
            str(src / name)
        )

    def run_query():
        stream = (
            spark.readStream.schema(TICK_SCHEMA)
            .option("pathGlobFilter", "*.parquet")
            .parquet(str(src) + "/*")
        )
        q = (
            streaming_indicators(stream, window_size=3)
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_batch(first, "b1")
    run_query()
    write_batch(second, "b2")
    run_query()  # restart from checkpoint; must NOT reprocess/reseed

    got = {
        r["timestamp"]: r
        for r in spark.read.parquet(str(out)).collect()
    }
    assert len(got) == len(ticks)  # no duplicates from reprocessing

    eng = StreamingIndicators("R", 3)
    for t in ticks:
        exp = eng.update(t)
        row = got[t.timestamp]
        for f in ("sma", "ema", "rsi"):
            e, g = getattr(exp, f), row[f]
            if e is None:
                assert g is None or (isinstance(g, float) and math.isnan(g))
            else:
                assert g == pytest.approx(e, abs=1e-9), (t, f)


def _ramp_ticks(n_symbols):
    """Ticks of ``n_symbols`` symbols, each an overbought ramp (>= 1
    signal per symbol), as a pandas frame of TICK_SCHEMA."""
    import pandas as pd

    prices = [100.0, 104.0, 108.0, 112.0, 116.0, 120.0]
    return pd.DataFrame([
        dict(symbol=t.symbol, timestamp=t.timestamp, price=t.price,
             volume=t.volume, bid=None, ask=None)
        for i in range(n_symbols) for t in make_ticks(f"S{i}", prices)
    ])


@pytest.mark.slow
def test_foreachbatch_bridge_streams_all_partitions(spark, tmp_path):
    """The foreachBatch bridge collects a micro-batch as Arrow in one
    job and builds Rows one record batch at a time. Every signal row
    must reach the handler exactly once across a multi-partition
    micro-batch."""
    from datafusion_functions_financial_spark.streaming.spark import (
        TICK_SCHEMA,
        start_signal_stream,
    )

    # 8 symbols spread over several input partitions.
    src = tmp_path / "many_ticks"
    spark.createDataFrame(_ramp_ticks(8), schema=TICK_SCHEMA) \
        .repartition(8).write.parquet(str(src))

    fired = []
    stream = spark.readStream.schema(TICK_SCHEMA).parquet(str(src))
    q = start_signal_stream(
        stream, window_size=3,
        handler=lambda row: fired.append(
            (row["symbol"], row["timestamp"], row["signal_type"])),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # No duplicates (exactly-once within the batch) and full coverage
    # (every symbol's signals crossed the bridge).
    assert len(fired) == len(set(fired))
    assert {s for s, _, _ in fired} == {f"S{i}" for i in range(8)}


@pytest.mark.slow
def test_signal_stream_one_job_per_microbatch(spark, tmp_path):
    """A micro-batch is one Spark job whatever the number of state
    partitions, and the handler gets exactly the Rows ``collect()``
    gives: values, field names, Python types, naive datetimes."""
    from datafusion_functions_financial_spark.streaming.spark import (
        TICK_SCHEMA,
        detect_signal_exprs,
        start_signal_stream,
        streaming_indicators,
    )

    src = tmp_path / "ticks"
    spark.createDataFrame(_ramp_ticks(16), schema=TICK_SCHEMA) \
        .repartition(4).write.parquet(str(src))
    # The same signals through a memory sink (applyInPandasWithState has
    # no batch form), read back with collect().
    q = (detect_signal_exprs(streaming_indicators(
            spark.readStream.schema(TICK_SCHEMA).parquet(str(src)), 3))
         .writeStream.format("memory").queryName("bridge_signals")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    want = spark.sql("SELECT * FROM bridge_signals").collect()

    def run(partitions):
        fired = []
        stream = spark.readStream.schema(TICK_SCHEMA).parquet(str(src))
        before = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
        try:
            q = start_signal_stream(
                stream, 3, fired.append,
                checkpointLocation=str(tmp_path / f"ckpt{partitions}"))
            try:
                q.processAllAvailable()
                jobs = spark.sparkContext.statusTracker() \
                    .getJobIdsForGroup(str(q.runId))
            finally:
                q.stop()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", before)
        return fired, len(jobs)

    fired2, jobs2 = run(2)
    fired8, jobs8 = run(8)
    assert jobs8 == jobs2 >= 1

    def key(r):
        return (r.symbol, r.timestamp, r.signal_type)

    want = sorted(want, key=key)
    for fired in (fired2, fired8):
        got = sorted(fired, key=key)
        assert got == want
        assert [r.__fields__ for r in got] == [r.__fields__ for r in want]
        assert [[type(v) for v in r] for r in got] == \
            [[type(v) for v in r] for r in want]
        assert all(r.timestamp.tzinfo is None for r in got)
