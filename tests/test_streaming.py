"""Streaming-surface tests (SURVEY §3.4 F1–F7, §3.7 T1–T8).

Mirrors the reference's buffered-forwarder tests [P:
dp/dpbuffered/bufferedforwarder_test.go]: fake sinks, counter
invariants (out = in − counted drops), overflow shedding, and the
stateful-op edge cases the DuckDB oracles can't express (counter
resets, late-duplicate expiry).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from metricproxy_spark.streaming.pipeline import ProxyPipeline, SinkSpec
from metricproxy_spark.streaming.source import (
    read_stream_table,
    stage_stream_source,
)
from metricproxy_spark.streaming.stateful import counter_to_rate
from metricproxy_spark.streaming.windows import (
    session_stats,
    watermarked_dedup,
)


def _write_parquet_stream_src(spark, rows, schema, path, n_files=1):
    """Write rows as n_files single-file parquet dirs with increasing
    mtimes (ordered micro-batch replay)."""
    import time

    os.makedirs(path, exist_ok=True)
    chunk = max(1, len(rows) // n_files)
    base = time.time() - 1000
    for i in range(n_files):
        part = rows[i * chunk :] if i == n_files - 1 else rows[i * chunk : (i + 1) * chunk]
        p = os.path.join(path, f"part_{i:04d}")
        spark.createDataFrame(part, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(p)
        for root, _d, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (base + i, base + i))


class CollectingSink:
    """dpsink fake: accumulates per-batch row counts driver-side."""

    def __init__(self):
        self.batches: list[int] = []

    def __call__(self, df, batch_id):
        self.batches.append(df.count())


def test_pipeline_fanout_counts(spark, tmp_path):
    """F1 invariant: every sink sees every datapoint; counters agree."""
    src_dir = str(tmp_path / "src")
    rows = [(i, float(i)) for i in range(100)]
    _write_parquet_stream_src(
        spark, rows, "id long, value double", src_dir, n_files=2
    )
    stream = read_stream_table(spark, src_dir, max_files_per_trigger=1)
    s1, s2 = CollectingSink(), CollectingSink()
    pipe = ProxyPipeline(
        source=stream,
        sinks=[SinkSpec("a", s1), SinkSpec("b", s2)],
    )
    stats = pipe.run_available_now(str(tmp_path / "ckpt"))
    assert sum(s1.batches) == 100
    assert sum(s2.batches) == 100
    assert len(s1.batches) == 2  # maxFilesPerTrigger=1 -> 2 micro-batches
    assert stats["datapoints_in"] == 100
    assert stats["sink.a.datapoints"] == 100
    assert stats["sink.b.datapoints"] == 100


def test_pipeline_load_shedding(spark, tmp_path):
    """F2: rows past max_batch_rows are dropped AND counted — the
    reference's buffer-full drop [P: dpbuffered — "buffer full"]."""
    src_dir = str(tmp_path / "src")
    rows = [(i, float(i)) for i in range(100)]
    _write_parquet_stream_src(
        spark, rows, "id long, value double", src_dir, n_files=1
    )
    stream = read_stream_table(spark, src_dir)
    sink = CollectingSink()
    pipe = ProxyPipeline(
        source=stream,
        sinks=[SinkSpec("a", sink)],
        max_batch_rows=30,
    )
    stats = pipe.run_available_now(str(tmp_path / "ckpt"))
    assert stats["datapoints_in"] == 100
    assert stats["datapoints_dropped"] == 70
    assert sum(sink.batches) == 30  # out = in - dropped


def test_pipeline_shedding_soak_bounded_memory(spark, tmp_path):
    """F2 soak proof [P: dpbuffered — BufferSize]: a deliberately slow
    sink under sustained overload for 20+ micro-batches. The pipeline
    must (a) account every drop exactly — Σ delivered = Σ in − Σ
    counted drops, per batch and in total — and (b) hold cluster
    memory FLAT: each micro-batch's persisted block is released in the
    same batch (cache plateau ≤ baseline+1 during every batch, back to
    baseline after), so a slow sink causes latency, never growth."""
    import time

    src_dir = str(tmp_path / "src")
    n_files, per_file, cap = 20, 20, 12
    rows = [(i, float(i)) for i in range(n_files * per_file)]
    _write_parquet_stream_src(
        spark, rows, "id long, value double", src_dir, n_files=n_files
    )
    stream = read_stream_table(spark, src_dir, max_files_per_trigger=1)

    jsc = spark.sparkContext._jsc
    baseline = jsc.getPersistentRDDs().size()
    plateau: list[int] = []

    class SlowSink(CollectingSink):
        def __call__(self, df, batch_id):
            time.sleep(0.02)  # sustained slow consumer
            plateau.append(jsc.getPersistentRDDs().size())
            super().__call__(df, batch_id)

    sink = SlowSink()
    pipe = ProxyPipeline(
        source=stream,
        sinks=[SinkSpec("slow", sink)],
        max_batch_rows=cap,
    )
    stats = pipe.run_available_now(str(tmp_path / "ckpt"))
    assert len(sink.batches) >= 20
    # exact drop accounting, per batch and in total
    assert all(b == cap for b in sink.batches)
    assert stats["datapoints_in"] == n_files * per_file
    assert stats["datapoints_dropped"] == n_files * (per_file - cap)
    assert (
        sum(sink.batches)
        == stats["datapoints_in"] - stats["datapoints_dropped"]
    )
    # memory plateau: never more than ONE extra cached block mid-batch,
    # and nothing left cached once the stream drains
    assert max(plateau) <= baseline + 1, plateau
    assert jsc.getPersistentRDDs().size() == baseline


def test_pipeline_independent_sinks(spark, tmp_path):
    """F5: per-sink queries with isolated checkpoints still each
    deliver everything."""
    src_dir = str(tmp_path / "src")
    rows = [(i, float(i)) for i in range(50)]
    _write_parquet_stream_src(
        spark, rows, "id long, value double", src_dir
    )
    stream = read_stream_table(spark, src_dir)
    s1, s2 = CollectingSink(), CollectingSink()
    pipe = ProxyPipeline(
        source=stream, sinks=[SinkSpec("a", s1), SinkSpec("b", s2)]
    )
    stats = pipe.run_available_now(str(tmp_path / "ckpt"), independent=True)
    assert sum(s1.batches) == 50 and sum(s2.batches) == 50
    assert stats["sink.a.datapoints"] == 50


def test_watermarked_dedup_drops_in_window_duplicates(spark, tmp_path):
    """T5: duplicates arriving within the watermark window are dropped;
    the survivor set is one row per key."""
    src_dir = str(tmp_path / "src")
    rows = []
    for i in range(20):
        ts = f"2026-01-01 10:{i:02d}:00"
        rows.append((i % 10, ts))  # each key twice, close together
    _write_parquet_stream_src(
        spark,
        [(k, t) for k, t in rows],
        "event_id long, ts_s string",
        src_dir,
    )
    stream = read_stream_table(spark, src_dir).withColumn(
        "ts", F.to_timestamp("ts_s")
    )
    deduped = watermarked_dedup(stream, ["event_id"], watermark="2 hours")
    name = "t_wm_dedup"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name)
    assert out.count() == 10
    assert out.select("event_id").distinct().count() == 10


def test_counter_to_rate_with_reset(spark, tmp_path):
    """T6: per-key rates across 3 micro-batches with a counter reset in
    the middle — the reset pair emits nothing; state survives batch
    boundaries. Expected: m: 0→10→20 | reset 5→15; rates 10/60, 10/60
    then (post-reset) 10/60."""
    src_dir = str(tmp_path / "src")
    rows = [
        ("m", "2026-01-01 00:00:00", 0.0),
        ("m", "2026-01-01 00:01:00", 10.0),
        ("m", "2026-01-01 00:02:00", 20.0),
        ("m", "2026-01-01 00:03:00", 5.0),   # reset (process restart)
        ("m", "2026-01-01 00:04:00", 15.0),
        ("n", "2026-01-01 00:00:00", 100.0),
        ("n", "2026-01-01 00:02:00", 160.0),
    ]
    _write_parquet_stream_src(
        spark, rows, "metric string, ts_s string, value double",
        src_dir, n_files=3,
    )
    stream = read_stream_table(spark, src_dir, max_files_per_trigger=1)
    rates = counter_to_rate(
        stream.withColumn("ts", F.to_timestamp("ts_s"))
    )
    name = "t_c2r"
    q = (
        rates.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.metric, str(r.ts)): round(r.rate, 6)
        for r in spark.table(name).collect()
    }
    assert got == {
        ("m", "2026-01-01 00:01:00"): round(10 / 60, 6),
        ("m", "2026-01-01 00:02:00"): round(10 / 60, 6),
        # 00:03 reset pair suppressed
        ("m", "2026-01-01 00:04:00"): round(10 / 60, 6),
        ("n", "2026-01-01 00:02:00"): round(60 / 120, 6),
    }


def test_streamed_sessions_match_batch(spark, tmp_path):
    """T3: sessions emitted by the streamed (watermarked, append-mode)
    session window are exactly the batch session windows whose end
    precedes the final watermark — and with a tiny watermark, that is
    all of them except possibly the last session per key."""
    sf = "/root/testdata/sf0.001"
    src = stage_stream_source(
        spark, sf, "events", str(tmp_path / "src")
    )
    stream = read_stream_table(spark, src)
    streamed = session_stats(
        stream, keys=("user_id",), gap="30 minutes", watermark="1 minute"
    )
    name = "t_sessions"
    q = (
        streamed.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in spark.table(name).collect()
    }
    from metricproxy_spark.io import load_table

    batch = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in session_stats(
            load_table(spark, sf, "events"), keys=("user_id",), gap="30 minutes"
        ).collect()
    }
    assert got <= batch
    # everything closed before the final watermark must have been emitted
    assert len(got) >= len(batch) - spark.table(name).select(
        "user_id"
    ).distinct().count() - 50  # slack: open sessions near stream end
    assert len(got) > 0


def test_observed_metrics_match_counts(spark, tmp_path):
    """A1 via observe(): StreamingQueryProgress.observedMetrics report
    the same datapoint totals the driver-side counters saw."""
    src_dir = str(tmp_path / "src")
    rows = [(i, float(i)) for i in range(80)]
    _write_parquet_stream_src(
        spark, rows, "id long, value double", src_dir, n_files=2
    )
    stream = read_stream_table(spark, src_dir, max_files_per_trigger=1)
    sink = CollectingSink()
    pipe = ProxyPipeline(source=stream, sinks=[SinkSpec("a", sink)])
    stats = pipe.run_available_now(str(tmp_path / "ckpt"))
    assert stats["datapoints_in"] == 80
    assert stats.get("observed_datapoints") == 80


def test_observed_metrics_count_every_batch_of_a_long_run(spark, tmp_path):
    """``observed_datapoints`` folds every batch's progress event, not
    only the few ``recentProgress`` retains."""
    src_dir = str(tmp_path / "src")
    rows = [(i, float(i)) for i in range(90)]
    _write_parquet_stream_src(
        spark, rows, "id long, value double", src_dir, n_files=3
    )
    stream = read_stream_table(spark, src_dir, max_files_per_trigger=1)
    sink = CollectingSink()
    pipe = ProxyPipeline(source=stream, sinks=[SinkSpec("a", sink)])
    key = "spark.sql.streaming.numRecentProgressUpdates"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        stats = pipe.run_available_now(str(tmp_path / "ckpt"))
    finally:
        spark.conf.set(key, prev)
    assert sink.batches == [30, 30, 30]
    assert stats["observed_datapoints"] == 90


def test_counter_to_rate_v2_parity(spark, tmp_path):
    """T6 on transformWithStateInPandas (RocksDB state store): same
    output as the applyInPandasWithState implementation, including the
    reset suppression, across 3 micro-batches."""
    from metricproxy_spark.streaming.stateful_v2 import (
        HAS_TWS,
        ROCKSDB_PROVIDER,
        counter_to_rate_v2,
    )

    if not HAS_TWS:
        pytest.skip(
            "transformWithStateInPandas needs Spark>=4.0 AND the "
            "google.protobuf package (its state-server protocol); "
            "absent in this container"
        )
    src_dir = str(tmp_path / "src")
    rows = [
        ("m", "2026-01-01 00:00:00", 0.0),
        ("m", "2026-01-01 00:01:00", 10.0),
        ("m", "2026-01-01 00:02:00", 20.0),
        ("m", "2026-01-01 00:03:00", 5.0),   # reset
        ("m", "2026-01-01 00:04:00", 15.0),
        ("n", "2026-01-01 00:00:00", 100.0),
        ("n", "2026-01-01 00:02:00", 160.0),
    ]
    _write_parquet_stream_src(
        spark, rows, "metric string, ts_s string, value double",
        src_dir, n_files=3,
    )
    old = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
    )
    try:
        stream = read_stream_table(spark, src_dir, max_files_per_trigger=1)
        rates = counter_to_rate_v2(
            stream.withColumn("ts", F.to_timestamp("ts_s"))
        )
        name = "t_c2r_v2"
        q = (
            rates.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (r.metric, str(r.ts)): round(r.rate, 6)
            for r in spark.table(name).collect()
        }
    finally:
        if old is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", old
            )
    assert got == {
        ("m", "2026-01-01 00:01:00"): round(10 / 60, 6),
        ("m", "2026-01-01 00:02:00"): round(10 / 60, 6),
        ("m", "2026-01-01 00:04:00"): round(10 / 60, 6),
        ("n", "2026-01-01 00:02:00"): round(60 / 120, 6),
    }


def test_checkpoint_resume_idempotent_sink_exactly_once(spark, tmp_path):
    """F6 + the real exactly-once contract: foreachBatch is
    AT-LEAST-ONCE across restarts (a batch whose offsets weren't yet
    committed replays with the SAME batch_id), so a sink must be
    idempotent keyed by batch_id — then restart-from-checkpoint yields
    effective exactly-once. The test kills the query mid-run, restarts
    from the same checkpoint, observes the replay, and verifies the
    batch_id-keyed sink still lands on exactly the full input."""
    import time as _time

    src_dir = str(tmp_path / "src")
    rows = [(i, float(i)) for i in range(90)]
    _write_parquet_stream_src(
        spark, rows, "id long, value double", src_dir, n_files=3
    )
    ckpt = str(tmp_path / "ckpt")
    by_batch: dict[int, int] = {}   # idempotent: replay overwrites
    deliveries: list[int] = []      # raw delivery log (may have dups)

    def sink(df, batch_id):
        n = df.count()
        deliveries.append(n)
        by_batch[batch_id] = n

    # Phase 1: stop as soon as the first batch has landed (its offsets
    # may not be committed yet — that is the point).
    stream = read_stream_table(spark, src_dir, max_files_per_trigger=1)
    pipe = ProxyPipeline(source=stream, sinks=[SinkSpec("s", sink)])
    [q] = pipe.start(ckpt, available_now=True)
    while not deliveries and q.isActive:
        _time.sleep(0.05)
    q.stop()
    q.awaitTermination()
    assert deliveries  # at least one batch delivered before the kill

    # Phase 2: fresh query, same checkpoint -> offsets resume; an
    # uncommitted batch replays under its original batch_id.
    stream2 = read_stream_table(spark, src_dir, max_files_per_trigger=1)
    pipe2 = ProxyPipeline(source=stream2, sinks=[SinkSpec("s", sink)])
    for q2 in pipe2.start(ckpt, available_now=True):
        q2.awaitTermination()

    assert sum(by_batch.values()) == 90      # exactly-once, idempotent view
    assert sum(deliveries) >= 90             # raw channel: at-least-once


def test_stream_stream_join_state_survives_restart(spark):
    """A purchase seen in run 1 must match a click that only arrives in
    run 2: the symmetric-hash-join state carries across checkpointed
    restarts, and the pair is emitted exactly once."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    src = tempfile.mkdtemp(prefix="mps_ssj_src_")
    ckpt = tempfile.mkdtemp(prefix="mps_ssj_ck_")
    out = tempfile.mkdtemp(prefix="mps_ssj_out_")

    def write_batch(name, rows):
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, ts timestamp"
        )
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src, name)
        )

    def drain():
        schema = spark.read.option("recursiveFileLookup", "true").parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        purchases = (
            stream.filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                "user_id",
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "2 hours")
        )
        clicks = (
            stream.filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user_id"),
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "2 hours")
        )
        joined = purchases.join(
            clicks,
            (purchases.user_id == clicks.c_user_id)
            & (clicks.c_ts >= purchases.p_ts)
            & (clicks.c_ts <= purchases.p_ts + F.expr("INTERVAL 60 MINUTES")),
        ).select("purchase_id", "click_id", "user_id")
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r.purchase_id, r.click_id)
            for r in spark.read.parquet(out).collect()
        }

    from datetime import datetime

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    write_batch("f1", [(1, 7, "purchase", t0)])
    assert drain() == set()  # no click yet; purchase parked in state
    from datetime import timedelta

    write_batch("f2", [(2, 7, "click", t0 + timedelta(minutes=10))])
    assert drain() == {(1, 2)}  # matched across the restart
    # a third drain with nothing new must not re-emit
    assert drain() == {(1, 2)}


def test_windowed_agg_state_survives_restart(spark):
    """Tumbling-window counts accumulated in run 1 must MERGE with rows
    that only arrive in run 2 (same window, new process): append-mode
    window state survives the checkpointed restart and each finalized
    window is emitted exactly once, equal to the batch aggregate."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    src = tempfile.mkdtemp(prefix="mps_win_src_")
    ckpt = tempfile.mkdtemp(prefix="mps_win_ck_")
    out = tempfile.mkdtemp(prefix="mps_win_out_")

    def ts(m, s=0):
        import datetime as _dt

        return _dt.datetime(2026, 1, 1, 0, m, s)

    def write_batch(name, rows):
        spark.createDataFrame(
            rows, "k string, ts timestamp, v double"
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, name))

    def drain():
        schema = spark.read.option("recursiveFileLookup", "true").parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "5 minutes").alias("w"), "k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
            .select(F.col("w.start").alias("ws"), "k", "n", "s")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: window A complete, window B partial
    write_batch("b1", [("x", ts(1), 1.0), ("x", ts(2), 2.0), ("x", ts(6), 4.0)])
    drain()
    # run 2 (fresh query, same checkpoint): rest of window B + sentinel
    # in window C that pushes the watermark past B's end
    write_batch("b2", [("x", ts(7), 8.0), ("y", ts(8), 16.0), ("x", ts(11), 0.5)])
    drain()

    got = {
        (r.ws.minute, r.k): (r.n, r.s)
        for r in spark.read.parquet(out).collect()
    }
    # window A [00:00,00:05) emitted in run 2's watermark advance or run 1;
    # window B [00:05,00:10) merges run-1 state (4.0) with run-2 rows
    assert got[(0, "x")] == (2, 3.0)
    assert got[(5, "x")] == (2, 12.0)
    assert got[(5, "y")] == (1, 16.0)
    # window C not finalized -> absent; nothing emitted twice
    assert len(got) == 3, got


def test_space_saving_error_bounds_over_capacity(spark):
    """Capacity 3 with 6 distinct items: the space-saving guarantees
    must hold — cnt overestimates, cnt − err underestimates, and the
    genuinely frequent item (freq > N/capacity) is present and top."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from metricproxy_spark.streaming.stateful import streaming_topk

    # item 100 appears 10x, 200 5x, the rest once each (N=19)
    rows = []
    t = 0
    for u, n in ((100, 10), (200, 5), (1, 1), (2, 1), (3, 1), (4, 1)):
        for _ in range(n):
            t += 1
            rows.append((f"k", u, t))
    df = spark.createDataFrame(rows, "event_type string, user_id long, t long").select(
        "event_type", "user_id", F.timestamp_seconds("t").alias("ts")
    )
    src = tempfile.mkdtemp(prefix="mps_ss_src_")
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b1"))
    schema = spark.read.option("recursiveFileLookup", "true").parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    out = streaming_topk(stream, capacity=3, emit=3)
    name = "mps_ss_topk_tbl"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.user_id: r for r in spark.table(name).collect()}
    true = {100: 10, 200: 5, 1: 1, 2: 1, 3: 1, 4: 1}
    assert 100 in got and got[100].rank == 1
    for u, r in got.items():
        tc = true[u]
        assert r.cnt >= tc, (u, r)          # never underestimates
        assert r.cnt - r.err <= tc, (u, r)  # guaranteed-count bound
        assert r.version == 19


def test_pipeline_crash_recovery_exactly_once(spark, tmp_path):
    """T-family recovery: the stream crashes mid-run (sink raises on
    its second micro-batch), then a RESTART from the same checkpoint
    resumes at the failed batch — every row delivered exactly once
    across the two runs, none lost, none duplicated (the checkpointed
    offset + fail-before-write sink give idempotent delivery)."""
    src_dir = str(tmp_path / "src")
    rows = [(i, float(i)) for i in range(90)]
    _write_parquet_stream_src(
        spark, rows, "id long, value double", src_dir, n_files=3
    )

    delivered: list[int] = []

    class CrashOnceSink:
        def __init__(self):
            self.crashed = False

        def __call__(self, df, batch_id):
            ids = [r.id for r in df.select("id").collect()]
            if batch_id == 1 and not self.crashed:
                self.crashed = True
                raise RuntimeError("simulated sink outage")
            delivered.extend(ids)

    sink = CrashOnceSink()

    def run():
        stream = read_stream_table(spark, src_dir, max_files_per_trigger=1)
        pipe = ProxyPipeline(source=stream, sinks=[SinkSpec("s", sink)])
        return pipe.run_available_now(str(tmp_path / "ckpt"))

    with pytest.raises(Exception, match="simulated sink outage"):
        run()
    assert sorted(delivered) == list(range(30))  # batch 0 only
    run()  # restart from the SAME checkpoint
    assert sorted(delivered) == list(range(90))
    assert len(delivered) == len(set(delivered))  # no duplicates
