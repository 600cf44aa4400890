"""Streaming queries (SURVEY §3.7 T1–T8) — REAL Structured Streaming
runs, graded by the batch oracle.

Each query stages testdata as a file-stream source, runs an
``availableNow`` streaming query (checkpointed, micro-batched) into a
memory sink, and returns the final table as the result DataFrame.
Because Spark's batch/streaming semantics are unified and the file
replay is deterministic, the DuckDB oracle can check the *streamed*
result exactly — the strongest correctness statement available for the
streaming path. ``stream_counter_to_rate`` exercises cross-batch
operator state (applyInPandasWithState) with 2 time-ordered
micro-batches (the minimum that proves cross-batch state handoff:
batch 2's first rate needs batch 1's last (ts, value) per key); its
oracle is the ``lag()`` window twin.

The fan-out query drives the ProxyPipeline (demux → counters → K1/K2/K3
sinks) end-to-end and returns the per-sink delivery counters — the
reference's invariant "every sink sees every datapoint exactly once"
[P: protocol/demultiplexer/demultiplexer.go], checked against
``count(*)`` per sink.
"""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metricproxy_spark.registry import register
from metricproxy_spark.streaming.pipeline import ProxyPipeline, SinkSpec
from metricproxy_spark.streaming.sinks import (
    carbon_sink,
    count_rows_in_dir,
    csv_sink,
    signalfx_sink,
)
from metricproxy_spark.streaming.source import (
    read_stream_table,
    stage_stream_source,
)
from metricproxy_spark.streaming.stateful import counter_to_rate
from metricproxy_spark.streaming.windows import (
    session_stats,
    sliding_stats,
    tumbling_stats,
)

_SEQ = itertools.count()


def _workdir() -> str:
    return tempfile.mkdtemp(prefix=f"mps_stream_{os.getpid()}_")


def _run_to_memory(
    sdf: DataFrame,
    checkpoint: str,
    mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Run an availableNow streaming query into a memory sink.

    ``state_partitions`` scopes ``spark.sql.shuffle.partitions`` for the
    duration of the run only: a stateful streaming aggregation opens one
    state-store dir per shuffle partition per micro-batch (load + commit
    + file per partition), so the partition count should track the
    operator's KEY CARDINALITY, not the session default sized for batch
    fact-table shuffles — a vanilla 200-partition session pays 200
    store commits to hold a few thousand window keys (measured 1.4 s →
    0.75 s per run at 32 → 8 on the 5-minute tumbling rollup). At real
    scale the streaming job sets this from expected key volume; the
    conf is restored before returning."""
    spark = sdf.sparkSession
    name = f"mps_mem_{os.getpid()}_{next(_SEQ)}"
    prev = None
    if state_partitions is not None:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(state_partitions)
        )
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


@register(
    "stream_tumbling_stats",
    oracle="""
    SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start,
           event_type,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: the reference's StatsDelay rollup as a streaming tumbling
    window, complete output mode. Decimal-exact sums so the streamed
    aggregation hash-matches DuckDB regardless of batch order."""
    wd = _workdir()
    src = stage_stream_source(
        spark, sf_dir, "events", os.path.join(wd, "src")
    )
    stream = read_stream_table(spark, src)
    agg = (
        stream.groupBy(
            F.window("ts", "5 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(27,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    # ~12 5-minute windows x handful of event types: key-sized state
    return _run_to_memory(
        agg, os.path.join(wd, "ckpt"), state_partitions=8
    )


@register(
    "stream_sliding_counts",
    oracle="""
    WITH offsets AS (SELECT unnest([0, 5]) AS off_min)
    SELECT time_bucket(INTERVAL 5 MINUTE, ts)
             - to_minutes(off_min) AS window_start,
           event_type,
           count(*) AS n
    FROM events CROSS JOIN offsets
    GROUP BY 1, 2
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: 10-minute windows sliding by 5 — every event falls in two
    windows; the oracle materializes the same assignment with an
    explicit offset unnest."""
    wd = _workdir()
    src = stage_stream_source(
        spark, sf_dir, "events", os.path.join(wd, "src")
    )
    stream = read_stream_table(spark, src)
    agg = sliding_stats(
        stream, length="10 minutes", slide="5 minutes"
    )
    # ~2 windows x handful of event types: key-sized state store
    return _run_to_memory(
        agg, os.path.join(wd, "ckpt"), state_partitions=8
    )


@register(
    "stream_dedup",
    oracle="SELECT DISTINCT event_id, ts, user_id, event_type, value, props FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: exact streaming dedup. The source is staged TWICE (a client
    retrying its send — the duplicate-delivery case the proxy tolerates);
    ``dropDuplicates`` on event_id restores exactly-once. Unbounded
    state by design here; the watermark-bounded variant
    (dropDuplicatesWithinWatermark) is unit-tested in
    tests/test_streaming.py since its late-duplicate semantics are
    batch-timing-dependent."""
    wd = _workdir()
    src = stage_stream_source(
        spark, sf_dir, "events", os.path.join(wd, "src"), copies=2
    )
    stream = read_stream_table(spark, src)
    deduped = stream.dropDuplicates(["event_id"])
    return _run_to_memory(
        deduped, os.path.join(wd, "ckpt"), mode="append",
        state_partitions=8,
    )


@register(
    "stream_counter_to_rate",
    oracle="""
    WITH per_min AS (
        SELECT event_type AS metric,
               time_bucket(INTERVAL 1 MINUTE, ts) AS ts,
               count(*) AS dn
        FROM events GROUP BY 1, 2
    ), cum AS (
        SELECT metric, ts,
               CAST(SUM(dn) OVER (
                   PARTITION BY metric ORDER BY ts
               ) AS DOUBLE) AS value
        FROM per_min
    )
    SELECT metric, ts,
           (value - lag(value) OVER w)
             / CAST(epoch(ts - lag(ts) OVER w) AS DOUBLE) AS rate
    FROM cum
    WINDOW w AS (PARTITION BY metric ORDER BY ts)
    QUALIFY lag(value) OVER w IS NOT NULL
    """,
)
def stream_counter_to_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: cumulative-counter → rate with cross-batch operator state.

    Stage: build a monotone cumulative counter per event_type (running
    event count sampled per minute — unique event-time per key), split
    it into 2 time-ranged files, and replay with maxFilesPerTrigger=1 so
    the stateful operator sees 2 micro-batches in event-time order and
    must carry (last_ts, last_value) across them in GroupState — the
    minimum batch count that proves the handoff (batch 2's first rate
    is computable ONLY from batch 1's final state). The oracle is the
    batch lag() twin — agreement proves the state handoff is exact,
    not just row counts; tests/test_streaming.py covers the 3-batch
    replay and restart-from-checkpoint variants."""
    from pyspark.sql import Window

    wd = _workdir()
    counters = (
        # per-minute event counts -> running cumulative sum per type
        _load_events(spark, sf_dir)
        .groupBy(
            F.col("event_type").alias("metric"),
            F.date_trunc("minute", "ts").alias("ts"),
        )
        .agg(F.count(F.lit(1)).alias("dn"))
        .withColumn(
            "value",
            F.sum("dn")
            .over(
                Window.partitionBy("metric").orderBy("ts")
            )
            .cast("double"),
        )
        .select("metric", "ts", "value")
    )
    src_dir = os.path.join(wd, "src")
    os.makedirs(src_dir, exist_ok=True)
    _write_range_split(counters, "ts", src_dir, num_files=2)
    stream = read_stream_table(spark, src_dir, max_files_per_trigger=1)
    rates = counter_to_rate(stream)
    # The stateful shuffle keys on `metric` (a handful of distinct
    # values): 32 shuffle partitions would spin 32 state-store dirs +
    # Python workers PER MICRO-BATCH for mostly-empty partitions.
    # Scope the partition count to the key cardinality for this query
    # only (state-partition count is fixed at first checkpoint, so
    # this also keeps restarts consistent). ~3s saved of a 9s query.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        return _run_to_memory(
            rates, os.path.join(wd, "ckpt"), mode="append"
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@register(
    "stream_fanout_pipeline",
    oracle="""
    SELECT 'carbon' AS sink, count(*) AS datapoints FROM events
    UNION ALL
    SELECT 'csv', count(*) FROM events
    UNION ALL
    SELECT 'signalfx', count(*) FROM events
    """,
)
def stream_fanout_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1–F7 end-to-end: file stream → normalize to datapoints →
    demultiplex to K1 (signalfx JSON), K2 (carbon lines), K3 (CSV) with
    one fused write job per batch and delivery counters. Result = rows each
    sink durably wrote, re-counted FROM THE SINK FILES (not the
    in-memory counters), proving every sink saw every datapoint exactly
    once."""
    wd = _workdir()
    src = stage_stream_source(
        spark, sf_dir, "events", os.path.join(wd, "src")
    )
    stream = read_stream_table(spark, src)

    def normalize(df: DataFrame) -> DataFrame:
        return df.select(
            F.concat(F.lit("events."), F.col("event_type")).alias("metric"),
            F.col("value"),
            F.col("ts"),
            F.create_map(
                F.lit("user_id"), F.col("user_id").cast("string")
            ).alias("dimensions"),
        )

    sink_dirs = {
        name: os.path.join(wd, f"sink_{name}")
        for name in ("carbon", "csv", "signalfx")
    }
    pipe = ProxyPipeline(
        source=stream,
        transform=normalize,
        sinks=[
            SinkSpec("carbon", carbon_sink(sink_dirs["carbon"], meta_col=None)),
            SinkSpec("csv", csv_sink(sink_dirs["csv"])),
            SinkSpec("signalfx", signalfx_sink(path=sink_dirs["signalfx"])),
        ],
    )
    pipe.run_available_now(os.path.join(wd, "ckpt"))
    rows = [
        ("carbon", count_rows_in_dir(spark, sink_dirs["carbon"], fmt="text")),
        ("csv", count_rows_in_dir(spark, sink_dirs["csv"], fmt="csv")),
        (
            "signalfx",
            count_rows_in_dir(spark, sink_dirs["signalfx"], fmt="text"),
        ),
    ]
    shutil.rmtree(wd, ignore_errors=True)
    return spark.createDataFrame(
        rows, "sink string, datapoints bigint"
    )


@register(
    "stream_session_stats",
    oracle="""
    WITH s AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM events
    ), g AS (
        SELECT *, SUM(brk) OVER (
            PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
        ) AS sid
        FROM s
    ), sess AS (
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               count(*) AS n_events
        FROM g GROUP BY user_id, sid
    )
    SELECT session_start, session_end, user_id, n_events
    FROM sess,
         (SELECT make_timestamp(epoch_ms(max(ts))*1000 - 60000000) AS wm
          FROM events) w
    WHERE session_end < wm
    """,
)
def stream_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3/T4: session windows (30-min gap per user) over the stream with
    a watermark, run as a REAL append-mode streaming query. Append mode
    emits exactly the sessions the final watermark closed, and with the
    deterministic single-file replay that set is itself exact SQL: the
    oracle sessionizes (lag >= gap breaks, cumulative-sum ids), builds
    [min(ts), max(ts)+gap) windows, and keeps those ending strictly
    before the end-of-stream watermark (max event time, ms-floored,
    minus the 1-minute delay). Hash agreement proves BOTH the session
    merge semantics and the watermark eviction boundary."""
    wd = _workdir()
    src = stage_stream_source(
        spark, sf_dir, "events", os.path.join(wd, "src")
    )
    stream = read_stream_table(spark, src)
    sess = session_stats(
        stream, keys=("user_id",), gap="30 minutes", watermark="1 minute"
    )
    return _run_to_memory(
        sess, os.path.join(wd, "ckpt"), mode="append",
        state_partitions=8,
    )


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metricproxy_spark.io import load_table

    return load_table(spark, sf_dir, "events")


def _write_range_split(
    df: DataFrame, order_col: str, out_dir: str, num_files: int
) -> None:
    """Write df as num_files files, range-partitioned on order_col,
    with increasing mtimes (micro-batch replay order).

    ONE write job: repartitionByRange yields contiguous ordered ranges
    (every key in partition i <= every key in partition i+1, equal
    keys never split) and the writer emits them as part-0000N in
    partition order — replacing the old cache + approxQuantile probe
    + one write JOB per range file (measured ~0.5 s of pure staging
    overhead per extra job, plus the cache materialization). An
    explicit numPartitions is never coalesced by AQE, so the staged
    file count stays pinned; an EMPTY input (e.g. the alert true-eval
    series at sf0.001, where no hour breaches) still stages
    schema-bearing files, and replay order is all that remains."""
    from metricproxy_spark.streaming.source import (
        _bump_part_file_mtimes,
    )

    df.repartitionByRange(num_files, F.col(order_col)).write.mode(
        "overwrite"
    ).parquet(out_dir)
    _bump_part_file_mtimes(out_dir)


@register(
    "stream_static_enrich",
    oracle="""
    SELECT e.event_id, e.event_type, c.c_name, c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7: stream-static broadcast join — the v1 metric-type registry
    pattern (S5): every streamed datapoint enriched against a small
    static dimension table at ingest [P: signalfxlistener.go —
    MetricTypeGetter]. The static side (customer) is broadcast, so the
    stream never shuffles; the oracle is the plain batch join."""
    from pyspark.sql.functions import broadcast

    from metricproxy_spark.io import load_table

    wd = _workdir()
    src = stage_stream_source(
        spark, sf_dir, "events", os.path.join(wd, "src")
    )
    stream = read_stream_table(spark, src)
    customers = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    enriched = stream.join(
        broadcast(customers), stream.user_id == customers.c_custkey
    ).select("event_id", "event_type", "c_name", "c_mktsegment")
    return _run_to_memory(enriched, os.path.join(wd, "ckpt"), mode="append")


@register(
    "stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS gap_s
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase'
     AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 60 MINUTE
     AND c.ts <= p.ts
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7b: stream-STREAM inner join with an event-time range bound —
    attribution ("which click preceded this purchase within 60
    minutes"), the canonical two-stream correlation the reference's
    single-pipe fan-out cannot express at all.

    Both sides are real file streams with watermarks; the time-range
    predicate lets Spark's symmetric hash join evict state once the
    watermark passes ``purchase.ts`` (without it, both state stores
    grow forever — the 100 TB failure mode). Inner join in append mode
    is deterministic under availableNow replay, so the DuckDB oracle
    checks the streamed result exactly.
    """
    wd = _workdir()
    src = stage_stream_source(
        spark, sf_dir, "events", os.path.join(wd, "src")
    )
    purchases = (
        read_stream_table(spark, src)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        read_stream_table(spark, src)
        .filter(F.col("event_type") == "click")
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
        & (clicks.c_ts >= purchases.p_ts - F.expr("INTERVAL 60 MINUTES"))
        & (clicks.c_ts <= purchases.p_ts),
    ).select(
        "purchase_id",
        "click_id",
        "user_id",
        (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")).alias(
            "gap_s"
        ),
    )
    # Symmetric-hash-join state is partitioned on user_id; at test
    # volumes 32 partitions means 2x32 mostly-empty state stores per
    # micro-batch. Scope to a modest count for this query (fixed at
    # first checkpoint); a production deployment sizes this to key
    # cardinality x state size instead.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        return _run_to_memory(
            joined, os.path.join(wd, "ckpt"), mode="append"
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@register(
    "stream_stream_outer_join",
    oracle="""
    WITH wm AS (
        SELECT least((SELECT max(ts) FROM events WHERE event_type = 'purchase'),
                     (SELECT max(ts) FROM events WHERE event_type = 'click'))
               - INTERVAL 2 HOUR AS w
    ), matched AS (
        SELECT p.event_id AS purchase_id, c.event_id AS click_id,
               p.user_id,
               CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS gap_s
        FROM events p JOIN events c
          ON p.user_id = c.user_id
         AND p.event_type = 'purchase' AND c.event_type = 'click'
         AND c.ts >= p.ts - INTERVAL 60 MINUTE AND c.ts <= p.ts
    ), expired_unmatched AS (
        SELECT p.event_id AS purchase_id, CAST(NULL AS BIGINT) AS click_id,
               p.user_id, CAST(NULL AS BIGINT) AS gap_s
        FROM events p, wm
        WHERE p.event_type = 'purchase' AND p.ts < wm.w
          AND NOT EXISTS (
              SELECT 1 FROM events c
              WHERE c.event_type = 'click' AND c.user_id = p.user_id
                AND c.ts >= p.ts - INTERVAL 60 MINUTE AND c.ts <= p.ts)
    )
    SELECT * FROM matched UNION ALL SELECT * FROM expired_unmatched
    """,
)
def stream_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7c: LEFT OUTER stream-stream join — purchases with no click in
    the hour before them must still come out (with nulls), which a
    streaming engine can only decide once the watermark proves no
    matching click can ever arrive.

    The oracle encodes that temporal semantics in SQL: matched pairs,
    plus unmatched purchases strictly below the end-of-stream
    watermark ``min(max purchase ts, max click ts) - 2h`` (Spark's
    multi-watermark min policy); purchases younger than the watermark
    stay in state, suppressed — exactly what a restart would resume.
    This is the strongest available check that outer-join state expiry
    fires neither early (dropped matches) nor late (phantom nulls).
    """
    wd = _workdir()
    src = stage_stream_source(
        spark, sf_dir, "events", os.path.join(wd, "src")
    )
    purchases = (
        read_stream_table(spark, src)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        read_stream_table(spark, src)
        .filter(F.col("event_type") == "click")
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
        & (clicks.c_ts >= purchases.p_ts - F.expr("INTERVAL 60 MINUTES"))
        & (clicks.c_ts <= purchases.p_ts),
        "left_outer",
    ).select(
        "purchase_id",
        "click_id",
        "user_id",
        (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")).alias(
            "gap_s"
        ),
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        return _run_to_memory(
            joined, os.path.join(wd, "ckpt"), mode="append"
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@register(
    "stream_histogram_rollup",
    oracle="""
    WITH daily AS (
        SELECT event_type, time_bucket(INTERVAL 1 DAY, ts) AS day,
               CAST(floor(value / 5.0) AS BIGINT) AS bin,
               count(*) AS cnt
        FROM events GROUP BY 1, 2, 3
    ), weekly AS (
        SELECT event_type, date_trunc('week', day) AS week, bin,
               CAST(sum(cnt) AS BIGINT) AS cnt
        FROM daily GROUP BY 1, 2, 3
    ), cum AS (
        SELECT event_type, week, bin, cnt,
               sum(cnt) OVER (PARTITION BY event_type, week
                              ORDER BY bin) AS cum,
               sum(cnt) OVER (PARTITION BY event_type, week) AS total
        FROM weekly
    )
    SELECT event_type, week,
           CAST(max(total) AS BIGINT) AS n_events,
           round(min(CASE WHEN 2 * cum >= total THEN bin END) * 5.0, 1)
             AS p50_lo,
           round(min(CASE WHEN 20 * cum >= 19 * total THEN bin END) * 5.0, 1)
             AS p95_lo
    FROM cum GROUP BY event_type, week
    """,
)
def stream_histogram_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1×pre-aggregation: the mergeable histogram rollup fed by a REAL
    stream — per-(day, type, bin) counts accumulate as streaming window
    state across micro-batches (complete mode), and the weekly p50/p95
    derivation runs on the streamed day-level table. Bin counts are
    integers, so cross-batch merging is exact and the streamed result
    hash-matches the one-shot batch oracle — the streaming proof that
    day histograms are safe pre-aggregation state at 100 TB."""
    from pyspark.sql import Window

    wd = _workdir()
    src = stage_stream_source(
        spark, sf_dir, "events", os.path.join(wd, "src")
    )
    stream = read_stream_table(spark, src)
    daily = (
        stream.groupBy(
            F.window("ts", "1 day").alias("w"),
            "event_type",
            F.floor(F.col("value") / 5.0).cast("bigint").alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").alias("day"), "event_type", "bin", "cnt"
        )
    )
    tbl = _run_to_memory(
        daily, os.path.join(wd, "ckpt"), state_partitions=8
    )
    weekly = tbl.groupBy(
        "event_type", F.date_trunc("week", "day").alias("week"), "bin"
    ).agg(F.sum("cnt").alias("cnt"))
    wsum = Window.partitionBy("event_type", "week").orderBy("bin")
    wall = Window.partitionBy("event_type", "week")
    cum = weekly.select(
        "event_type",
        "week",
        "bin",
        "cnt",
        F.sum("cnt").over(wsum).alias("cum"),
        F.sum("cnt").over(wall).alias("total"),
    )
    return cum.groupBy("event_type", "week").agg(
        F.max("total").cast("bigint").alias("n_events"),
        F.round(
            F.min(F.when(2 * F.col("cum") >= F.col("total"), F.col("bin")))
            * 5.0,
            1,
        ).alias("p50_lo"),
        F.round(
            F.min(
                F.when(20 * F.col("cum") >= 19 * F.col("total"), F.col("bin"))
            )
            * 5.0,
            1,
        ).alias("p95_lo"),
    )


@register(
    "stream_topk_users",
    oracle="""
    WITH c AS (
        SELECT event_type, user_id, count(*) AS cnt
        FROM events GROUP BY 1, 2
    ), tot AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS version
        FROM events GROUP BY 1
    ), ranked AS (
        SELECT event_type, user_id, cnt,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cnt DESC, user_id) AS rn
        FROM c
    )
    SELECT r.event_type, t.version, r.user_id,
           CAST(r.cnt AS BIGINT) AS cnt,
           CAST(0 AS BIGINT) AS err,
           CAST(r.rn AS BIGINT) AS rank
    FROM ranked r JOIN tot t ON r.event_type = t.event_type
    WHERE r.rn <= 5
    """,
)
def stream_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters: per-type top-5 users via a REAL
    space-saving summary in applyInPandasWithState (bounded capacity,
    cross-batch GroupState, 2 time-ordered micro-batches). In the
    exact regime (distinct users ≤ capacity — true at driver scale
    factors) every count is exact with err = 0, so the streamed sketch
    hash-matches the batch GROUP BY oracle including the version stamp
    (= total events per type). The over-capacity error-bound regime is
    unit-tested in tests/test_streaming.py."""
    from pyspark.sql import Window

    from metricproxy_spark.streaming.stateful import streaming_topk

    wd = _workdir()
    src = stage_stream_source(
        spark,
        sf_dir,
        "events",
        os.path.join(wd, "src"),
        num_files=2,
        order_col="ts",
    )
    stream = read_stream_table(spark, src, max_files_per_trigger=1)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        snapshots = _run_to_memory(
            streaming_topk(stream), os.path.join(wd, "ckpt"), mode="append"
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    w = Window.partitionBy("event_type")
    return (
        snapshots.withColumn("_vmax", F.max("version").over(w))
        .where(F.col("version") == F.col("_vmax"))
        .drop("_vmax")
    )


@register(
    "stream_alert_rules",
    oracle="""
    WITH rules AS (
        SELECT * FROM (VALUES
            ('click',    40.0, 'warn'),
            ('click',    48.0, 'crit'),
            ('error',     5.0, 'warn'),
            ('purchase', 45.0, 'crit')
        ) AS t(rule_type, threshold, severity)
    )
    SELECT e.event_type, r.severity, r.threshold,
           CAST(count(*) AS BIGINT) AS n_alerts,
           CAST(min(e.event_id) AS BIGINT) AS first_event_id,
           round(max(e.value), 2) AS worst_value
    FROM events e JOIN rules r
      ON e.event_type = r.rule_type AND e.value > r.threshold
    GROUP BY e.event_type, r.severity, r.threshold
    """,
)
def stream_alert_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2×T7 composition on a REAL stream: the broadcast rules dim
    joins each micro-batch (stream-static join) and breaches
    accumulate in a complete-mode aggregation — the in-proxy alert
    evaluator running continuously. Hash-matches the batch oracle:
    stream-static join + streamed agg lose nothing across batches."""
    wd = _workdir()
    src = stage_stream_source(
        spark, sf_dir, "events", os.path.join(wd, "src")
    )
    stream = read_stream_table(spark, src)
    rules = spark.createDataFrame(
        [
            ("click", 40.0, "warn"),
            ("click", 48.0, "crit"),
            ("error", 5.0, "warn"),
            ("purchase", 45.0, "crit"),
        ],
        "rule_type string, threshold double, severity string",
    )
    agg = (
        stream.join(
            F.broadcast(rules),
            (F.col("event_type") == F.col("rule_type"))
            & (F.col("value") > F.col("threshold")),
        )
        .groupBy("event_type", "severity", "threshold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_alerts"),
            F.min("event_id").cast("bigint").alias("first_event_id"),
            F.round(F.max("value"), 2).alias("worst_value"),
        )
    )
    return _run_to_memory(
        agg, os.path.join(wd, "ckpt"), state_partitions=8
    )


@register(
    "stream_downsample_m4",
    oracle="""
    WITH b AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket,
               ts, event_id, value
        FROM events
    ), ranked AS (
        SELECT event_type, bucket, value,
               row_number() OVER (PARTITION BY event_type, bucket
                                  ORDER BY ts, event_id) AS rn_first,
               row_number() OVER (PARTITION BY event_type, bucket
                                  ORDER BY ts DESC, event_id DESC) AS rn_last
        FROM b
    )
    SELECT event_type, bucket,
           count(*) AS n_points,
           min(value) AS v_min,
           max(value) AS v_max,
           min(CASE WHEN rn_first = 1 THEN value END) AS v_first,
           min(CASE WHEN rn_last = 1 THEN value END) AS v_last
    FROM ranked
    GROUP BY event_type, bucket
    """,
)
def stream_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed twin of ``events_downsample_m4``: the M4 chart rollup
    maintained as streaming window state. min/max/count merge
    associatively, and first/last ride (ts, event_id)-ordered structs
    whose min/max are ALSO associative — so the whole M4 tuple is a
    monoid and cross-micro-batch merging is exact. The streamed result
    hash-matches the one-shot batch oracle, proving M4 is safe
    incremental state for a live charting backend (the reference's
    forwarder loop shape: ingest → windowed rollup → serve)."""
    wd = _workdir()
    src = stage_stream_source(
        spark, sf_dir, "events", os.path.join(wd, "src")
    )
    stream = read_stream_table(spark, src)
    key = F.struct(F.col("ts"), F.col("event_id"), F.col("value"))
    agg = (
        stream.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
            F.min(key).getField("value").alias("v_first"),
            F.max(key).getField("value").alias("v_last"),
        )
        .select(
            "event_type",
            F.col("w.start").alias("bucket"),
            "n_points",
            "v_min",
            "v_max",
            "v_first",
            "v_last",
        )
    )
    # Key space is |types|·|hours| (~3.4k) — scope the state store to 8
    # partitions so a vanilla 200-partition session doesn't spin 200
    # state dirs per micro-batch for a few thousand keys.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        return _run_to_memory(agg, os.path.join(wd, "ckpt"))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@register(
    "stream_http_live_pipeline",
    oracle="""
    SELECT event_type AS metric,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS sum_value
    FROM events
    WHERE event_id % 7 = 0
    GROUP BY 1
    """,
)
def stream_http_live_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full LIVE front door as one streamed query: a real HTTP
    server accepts loopback POSTs of sfx v2 JSON (the client posts a
    deterministic events subset in 11 requests), the accepted spool is
    consumed EXACTLY ONCE through the httpwire streaming connector,
    parsed by the same C3 parser as every other path, and aggregated
    per metric with decimal-exact sums in complete mode — so even the
    live-network streamed result hash-matches the DuckDB batch oracle.
    JSON double repr round-trips IEEE-exactly, which is what makes a
    value-checked live wire possible."""
    import http.client
    import json as _json

    from metricproxy_spark.io import ensure_package_on_workers, load_table
    from metricproxy_spark.sources.signalfx import parse_sfx_v2_json
    from metricproxy_spark.streaming.httplistener import (
        HttpIngestListener,
        http_spool_stream,
    )

    from metricproxy_spark.operators.scale import guarded_wire_pandas

    ensure_package_on_workers(spark)
    wd = _workdir()
    pdf = guarded_wire_pandas(
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") % 7 == 0)
        .select(
            "event_id",
            "event_type",
            "value",
            F.unix_millis("ts").alias("ts_ms"),
            (F.col("user_id") % 11).alias("req"),
        )
    )
    spool = os.path.join(wd, "spool")
    with HttpIngestListener(spool) as lis:
        conn = http.client.HTTPConnection(lis.host, lis.port, timeout=30)
        for _req, grp in pdf.groupby("req"):
            grp = grp.sort_values("event_id")
            body = _json.dumps(
                {
                    "gauge": [
                        {"metric": m, "value": float(v), "timestamp": int(t)}
                        for m, v, t in zip(
                            grp["event_type"], grp["value"], grp["ts_ms"]
                        )
                    ]
                }
            ).encode()
            conn.request(
                "POST",
                "/v2/datapoint",
                body=body,
                headers={"Content-Type": "application/json"},
            )
            assert conn.getresponse().read() == b'"OK"'
        conn.close()
        lis.seal()  # every acked request visible to the stream
        parsed = parse_sfx_v2_json(
            http_spool_stream(spark, spool), body_col="body"
        )
        agg = parsed.groupBy(F.col("metric")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(27,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        # ~5 metric keys: scope the state-store width (200 default
        # partitions would spin 200 state dirs for 5 keys)
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            out = _run_to_memory(agg, os.path.join(wd, "ckpt"))
            result = spark.createDataFrame(
                out.collect(), "metric string, n bigint, sum_value double"
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    shutil.rmtree(wd, ignore_errors=True)
    return result


@register(
    "stream_statsd_pipeline",
    oracle=None,  # set just below to share the batch twin's SQL
)
def stream_statsd_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The statsd front door fully STREAMED: wire lines pushed over
    real loopback TCP into the line-socket listener's spool, the
    spool consumed EXACTLY ONCE through the carbonwire STREAMING
    connector (checkpointed first-N-files offset), parsed by the same
    shared statsd parser, flush-aggregated in complete mode — the
    streamed result hash-matches the SAME DuckDB oracle as the
    at-rest (`ingest_statsd`) and live-batch (`ingest_statsd_live`)
    twins. One parser, three transports, one oracle; at 100 TB this
    is the micro-batched listener pipeline with per-batch state in
    the store, not the driver."""
    from metricproxy_spark.io import ensure_package_on_workers, load_table
    from metricproxy_spark.sources.pyds import register_carbonwire
    from metricproxy_spark.sources.statsd import (
        aggregate_statsd,
        parse_statsd_lines,
        statsd_wire_lines,
    )
    from metricproxy_spark.streaming.socketlistener import (
        LineSocketListener,
        send_lines_tcp,
    )

    ensure_package_on_workers(spark)
    register_carbonwire(spark)
    wd = _workdir()
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 3 == 0
    )
    from metricproxy_spark.operators.scale import guarded_wire_payload

    payload = [
        r.line
        for r in guarded_wire_payload(
            ev.select(statsd_wire_lines(ev).alias("line"))
        )
    ]
    spool = os.path.join(wd, "spool")
    os.makedirs(spool, exist_ok=True)
    with LineSocketListener(
        spool, mode="tcp", lines_per_file=50_000
    ) as lis:
        send_lines_tcp(lis.host, lis.port, payload)
    lines = (
        spark.readStream.format("carbonwire")
        .option("path", spool)
        .load()
        .select("line")
    )
    parsed = parse_statsd_lines(lines)
    # Streaming disallows count_distinct: the STREAMING agg groups by
    # (name, mtype, member) — set members dedup into state keys, so
    # per-key state stays bounded — and the distinct COUNT happens in
    # one batch rollup over the flushed complete-mode state.
    member = F.when(F.col("mtype") == "s", F.col("raw_val"))
    pre = parsed.groupBy(
        "name", "mtype", member.alias("member")
    ).agg(
        F.count(F.lit(1)).alias("n_l"),
        F.sum("scaled").alias("total_dec"),
    )
    # ~100 (name, type) keys: scope the state-store width
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = _run_to_memory(pre, os.path.join(wd, "ckpt"))
        rolled = out.groupBy("name", "mtype").agg(
            F.sum("n_l").cast("bigint").alias("n_lines"),
            F.sum("total_dec").cast("double").alias("total"),
            F.when(
                F.first("mtype") == "s", F.count("member")
            ).alias("n_members"),
        )
        result = spark.createDataFrame(
            rolled.collect(),
            "name string, mtype string, n_lines bigint,"
            " total double, n_members bigint",
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    shutil.rmtree(wd, ignore_errors=True)
    return result


def _share_statsd_oracle() -> None:
    from metricproxy_spark.queries.ingest import _STATSD_ORACLE
    from metricproxy_spark.registry import ORACLES

    # the streamed twin pushes the deterministic 1/3 subset through
    # the wire; same oracle SQL with the matching predicate
    ORACLES["stream_statsd_pipeline"] = _STATSD_ORACLE.replace(
        "FROM events", "FROM events WHERE event_id % 3 = 0"
    )


_share_statsd_oracle()


@register(
    "stream_influx_pipeline",
    oracle=None,  # set just below to share the batch twin's SQL
)
def stream_influx_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Influx line protocol fully STREAMED (see stream_statsd_pipeline
    for the transport chain): real TCP push → line spool → carbonwire
    streaming connector exactly-once → shared influx parser →
    complete-mode rollup per (measurement, host) with decimal-exact
    sums — hash-matches the same oracle as the at-rest and live-batch
    twins, on the deterministic 1/3 subset."""
    from metricproxy_spark.io import ensure_package_on_workers, load_table
    from metricproxy_spark.sources.influx import (
        aggregate_influx,
        influx_wire_lines,
        parse_influx_lines,
    )
    from metricproxy_spark.sources.pyds import register_carbonwire
    from metricproxy_spark.streaming.socketlistener import (
        LineSocketListener,
        send_lines_tcp,
    )

    ensure_package_on_workers(spark)
    register_carbonwire(spark)
    wd = _workdir()
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 3 == 0
    )
    from metricproxy_spark.operators.scale import guarded_wire_payload

    payload = [
        r.line
        for r in guarded_wire_payload(
            ev.select(influx_wire_lines(ev).alias("line"))
        )
    ]
    spool = os.path.join(wd, "spool")
    os.makedirs(spool, exist_ok=True)
    with LineSocketListener(
        spool, mode="tcp", lines_per_file=50_000
    ) as lis:
        send_lines_tcp(lis.host, lis.port, payload)
    lines = (
        spark.readStream.format("carbonwire")
        .option("path", spool)
        .load()
        .select("line")
    )
    agg = aggregate_influx(parse_influx_lines(lines))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = _run_to_memory(agg, os.path.join(wd, "ckpt"))
        result = spark.createDataFrame(
            out.collect(),
            "measurement string, host string, n_points bigint,"
            " sum_value double, sum_count bigint,"
            " min_ts_ns bigint, max_ts_ns bigint",
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    shutil.rmtree(wd, ignore_errors=True)
    return result


def _share_influx_oracle() -> None:
    from metricproxy_spark.queries.ingest import _INFLUX_ORACLE
    from metricproxy_spark.registry import ORACLES

    ORACLES["stream_influx_pipeline"] = _INFLUX_ORACLE.replace(
        "FROM events", "FROM events WHERE event_id % 3 = 0"
    )


_share_influx_oracle()


@register(
    "stream_graphite_pipeline",
    oracle=None,  # set just below to share the batch twin's SQL
)
def stream_graphite_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graphite tagged-carbon fully STREAMED (the transport chain of
    stream_statsd_pipeline): wire lines over real loopback TCP into
    the line-socket spool, consumed exactly-once through the
    carbonwire STREAMING connector, parsed by the shared graphite
    parser, complete-mode rollup per (name, host-tag) with
    decimal-exact sums — hash-matches the same oracle as the at-rest
    twin (`ingest_graphite_tags`) on the deterministic 1/3 subset.
    One parser, two transports, one oracle."""
    from metricproxy_spark.io import ensure_package_on_workers, load_table
    from metricproxy_spark.sources.graphite import (
        graphite_wire_lines,
        parse_graphite_lines,
    )
    from metricproxy_spark.sources.pyds import register_carbonwire
    from metricproxy_spark.streaming.socketlistener import (
        LineSocketListener,
        send_lines_tcp,
    )

    ensure_package_on_workers(spark)
    register_carbonwire(spark)
    wd = _workdir()
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") % 3 == 0)
    from metricproxy_spark.operators.scale import guarded_wire_payload

    payload = [
        r.line
        for r in guarded_wire_payload(
            ev.select(graphite_wire_lines(ev).alias("line"))
        )
    ]
    spool = os.path.join(wd, "spool")
    os.makedirs(spool, exist_ok=True)
    with LineSocketListener(spool, mode="tcp", lines_per_file=50_000) as lis:
        send_lines_tcp(lis.host, lis.port, payload)
    lines = (
        spark.readStream.format("carbonwire")
        .option("path", spool)
        .load()
        .select("line")
    )
    parsed = parse_graphite_lines(lines)
    pre = parsed.groupBy(
        "name", F.col("tags").getItem("host").alias("host")
    ).agg(
        F.count(F.lit(1)).alias("n_p"),
        F.sum(F.col("value").cast("decimal(27,4)")).alias("sum_dec"),
        F.min("ts_sec").alias("min_t"),
        F.max("ts_sec").alias("max_t"),
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = _run_to_memory(pre, os.path.join(wd, "ckpt"))
        result = spark.createDataFrame(
            out.select(
                "name",
                "host",
                F.col("n_p").cast("bigint").alias("n_points"),
                F.col("sum_dec").cast("double").alias("sum_value"),
                F.col("min_t").alias("min_ts_sec"),
                F.col("max_t").alias("max_ts_sec"),
            ).collect(),
            "name string, host string, n_points bigint, sum_value double,"
            " min_ts_sec bigint, max_ts_sec bigint",
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    shutil.rmtree(wd, ignore_errors=True)
    return result


def _share_graphite_oracle() -> None:
    from metricproxy_spark.queries.ingest import _GRAPHITE_ORACLE
    from metricproxy_spark.registry import ORACLES

    ORACLES["stream_graphite_pipeline"] = _GRAPHITE_ORACLE.replace(
        "FROM events", "FROM events WHERE event_id % 3 = 0"
    )


_share_graphite_oracle()


@register(
    "stream_otlp_pipeline",
    oracle=None,  # set just below to share the live-batch twin's SQL
)
def stream_otlp_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTLP fully STREAMED: the OTLP/JSON requests of the live twin
    POSTed over real loopback HTTP to `/v1/metrics`, the accepted
    spool consumed EXACTLY ONCE through the httpwire STREAMING
    connector, decoded by the shared OTLP parser (explicit from_json
    schema + explodes) and rolled up per (name, type, host) with
    decimal-exact sums in complete mode — hash-matches the SAME
    DuckDB oracle as `ingest_otlp_json`-family on the deterministic
    user_id % 13 subset. One parser, three transports (at-rest,
    live-batch, streamed), one oracle.

    Driver-evidence note: pinned at the head of the round-7
    _PRIORITY window.
    """
    import http.client

    from metricproxy_spark.io import ensure_package_on_workers, load_table
    from metricproxy_spark.sources.otlp import (
        otlp_request_json,
        parse_otlp_requests,
    )
    from metricproxy_spark.streaming.httplistener import (
        HttpIngestListener,
        http_spool_stream,
    )

    ensure_package_on_workers(spark)
    wd = _workdir()
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id") % 13 == 0
    )
    from metricproxy_spark.operators.scale import guarded_wire_payload

    payload = [
        r.request for r in guarded_wire_payload(otlp_request_json(ev))
    ]
    spool = os.path.join(wd, "spool")
    with HttpIngestListener(spool) as lis:
        conn = http.client.HTTPConnection(lis.host, lis.port, timeout=30)
        for raw in payload:
            conn.request(
                "POST",
                "/v1/metrics",
                body=raw.encode(),
                headers={"Content-Type": "application/json"},
            )
            resp = conn.getresponse()
            assert resp.status == 200
            resp.read()
        conn.close()
    points = parse_otlp_requests(
        http_spool_stream(spark, spool).select(
            F.col("body").alias("request")
        )
    )
    agg = points.groupBy("name", "mtype", "host").agg(
        F.count(F.lit(1)).alias("n_p"),
        F.sum(F.col("value").cast("decimal(27,4)")).alias("sum_dec"),
        F.min("ts_ns").alias("min_t"),
        F.max("ts_ns").alias("max_t"),
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = _run_to_memory(agg, os.path.join(wd, "ckpt"))
        result = spark.createDataFrame(
            out.select(
                "name",
                "mtype",
                "host",
                F.col("n_p").cast("bigint").alias("n_points"),
                F.col("sum_dec").cast("double").alias("sum_value"),
                F.col("min_t").alias("min_ts_ns"),
                F.col("max_t").alias("max_ts_ns"),
            ).collect(),
            "name string, mtype string, host string, n_points bigint,"
            " sum_value double, min_ts_ns bigint, max_ts_ns bigint",
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    shutil.rmtree(wd, ignore_errors=True)
    return result


def _share_otlp_oracle() -> None:
    from metricproxy_spark.queries.ingest import _OTLP_LIVE_ORACLE
    from metricproxy_spark.registry import ORACLES

    ORACLES["stream_otlp_pipeline"] = _OTLP_LIVE_ORACLE


_share_otlp_oracle()


@register(
    "stream_collectd_pipeline",
    oracle="""
    WITH src AS (
        SELECT * FROM events WHERE event_id % 5 = 0
    ), expanded AS (
        SELECT event_id, user_id, event_type, ts, value,
               UNNEST(['shortterm', 'midterm', 'value']) AS dsname,
               UNNEST(['gauge', 'derive', 'absolute']) AS dstype,
               UNNEST([value, value * 2, value + user_id]) AS v
        FROM src
    )
    SELECT concat('load',
               CASE WHEN event_id % 2 = 0 THEN '.avg' ELSE '' END,
               CASE WHEN dsname <> 'value' THEN '.' || dsname ELSE '' END
           ) AS metric,
           CASE dstype WHEN 'gauge' THEN 'gauge'
                       WHEN 'derive' THEN 'cumulative_counter'
                       ELSE 'count' END AS metric_type,
           count(*) AS n_points,
           CAST(SUM(CAST(v AS DECIMAL(27,4))) AS DOUBLE) AS sum_value
    FROM expanded GROUP BY 1, 2
    """,
)
def stream_collectd_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The collectd write_http front door fully STREAMED (r6 VERDICT
    task 4) — the last reference wire family without a streamed twin,
    now sharing one parser across three transports like
    statsd/influx/graphite: a real HTTP server accepts loopback POSTs
    to ``/post-collectd`` (each body a JSON array of write_http
    elements, chunked into 11 requests), the accepted spool is consumed
    EXACTLY ONCE through the httpwire streaming connector, exploded by
    the same S6+C2 parser as ``ingest_collectd_explode`` (one datapoint
    per values[i], type[.type_instance][.dsname] naming, dstype
    mapping), and rolled up per (metric, metric_type) with
    decimal-exact sums in complete mode — the streamed result
    hash-matches the batch DuckDB oracle because JSON double repr
    round-trips IEEE-exactly. Deterministic 1/5 events subset."""
    import http.client
    import json as _json

    from metricproxy_spark.io import ensure_package_on_workers, load_table
    from metricproxy_spark.sources.collectd import parse_collectd_json
    from metricproxy_spark.streaming.httplistener import (
        HttpIngestListener,
        http_spool_stream,
    )

    ensure_package_on_workers(spark)
    wd = _workdir()
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") % 5 == 0)
    elem = F.to_json(
        F.struct(
            F.array(
                F.lit("shortterm"), F.lit("midterm"), F.lit("value")
            ).alias("dsnames"),
            F.array(F.lit("gauge"), F.lit("derive"), F.lit("absolute")).alias(
                "dstypes"
            ),
            F.array(
                F.col("value"),
                F.col("value") * 2,
                F.col("value") + F.col("user_id"),
            ).alias("values"),
            (F.unix_micros("ts") / F.lit(1_000_000.0)).alias("time"),
            F.lit(10.0).alias("interval"),
            F.concat(F.lit("h"), (F.col("user_id") % 5).cast("string")).alias(
                "host"
            ),
            F.col("event_type").alias("plugin"),
            F.lit("").alias("plugin_instance"),
            F.lit("load").alias("type"),
            F.when(F.col("event_id") % 2 == 0, F.lit("avg"))
            .otherwise(F.lit(""))
            .alias("type_instance"),
        )
    )
    from metricproxy_spark.operators.scale import guarded_wire_pandas

    pdf = guarded_wire_pandas(
        ev.select(
            F.col("event_id"),
            elem.alias("elem"),
            (F.col("user_id") % 11).alias("req"),
        )
    )
    spool = os.path.join(wd, "spool")
    with HttpIngestListener(spool) as lis:
        conn = http.client.HTTPConnection(lis.host, lis.port, timeout=30)
        for _req, grp in pdf.groupby("req"):
            grp = grp.sort_values("event_id")
            body = ("[" + ",".join(grp["elem"]) + "]").encode()
            conn.request(
                "POST",
                "/post-collectd",
                body=body,
                headers={"Content-Type": "application/json"},
            )
            assert conn.getresponse().read() == b'"OK"'
        conn.close()
        lis.seal()  # every acked request visible to the stream
        parsed = parse_collectd_json(
            http_spool_stream(spark, spool), body_col="body"
        )
        agg = parsed.groupBy("metric", "metric_type").agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(F.col("value").cast("decimal(27,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        # 6 (metric, type) keys: scope the state-store width
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            out = _run_to_memory(agg, os.path.join(wd, "ckpt"))
            result = spark.createDataFrame(
                out.collect(),
                "metric string, metric_type string, n_points bigint,"
                " sum_value double",
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    shutil.rmtree(wd, ignore_errors=True)
    return result


@register(
    "stream_sfx_v1_pipeline",
    oracle="""
    SELECT e.event_type AS metric,
           'src' || CAST(e.user_id % 3 AS VARCHAR) AS source,
           coalesce(r.mt, 'gauge') AS metric_type,
           count(*) AS n_points,
           CAST(SUM(CAST(e.value AS DECIMAL(27,4))) AS DOUBLE) AS sum_value
    FROM events e
    LEFT JOIN (VALUES ('error', 'counter'),
                      ('purchase', 'cumulative_counter')) r(et, mt)
           ON e.event_type = r.et
    WHERE e.event_id % 4 = 0
    GROUP BY 1, 2, 3
    """,
)
def stream_sfx_v1_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SignalFx v1 newline-JSON fully STREAMED (r6 VERDICT task 4):
    wire lines pushed over real loopback TCP into the line-socket
    listener's spool, consumed EXACTLY ONCE through the carbonwire
    streaming connector, parsed by the same S4 parser as
    ``ingest_sfx_v1_registry`` with the S5 metric-type registry joined
    STREAM-STATIC (broadcast — the bounded dimension never shuffles the
    stream), then rolled up per (metric, source, metric_type) with
    decimal-exact sums in complete mode. One parser + registry, two
    transports, one oracle; deterministic 1/4 events subset."""
    from metricproxy_spark.io import ensure_package_on_workers, load_table
    from metricproxy_spark.sources.pyds import register_carbonwire
    from metricproxy_spark.sources.signalfx import parse_sfx_v1_json
    from metricproxy_spark.streaming.socketlistener import (
        LineSocketListener,
        send_lines_tcp,
    )

    ensure_package_on_workers(spark)
    register_carbonwire(spark)
    wd = _workdir()
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") % 4 == 0)
    line = F.to_json(
        F.struct(
            F.col("event_type").alias("metric"),
            F.col("value").alias("value"),
            F.concat(
                F.lit("src"), (F.col("user_id") % 3).cast("string")
            ).alias("source"),
        )
    )
    from metricproxy_spark.operators.scale import guarded_wire_payload

    payload = [
        r.line
        for r in guarded_wire_payload(ev.select(line.alias("line")))
    ]
    spool = os.path.join(wd, "spool")
    os.makedirs(spool, exist_ok=True)
    with LineSocketListener(spool, mode="tcp", lines_per_file=50_000) as lis:
        send_lines_tcp(lis.host, lis.port, payload)
    registry = spark.createDataFrame(
        [("error", "counter"), ("purchase", "cumulative_counter")],
        "sf_metric string, metric_type string",
    )
    lines = (
        spark.readStream.format("carbonwire")
        .option("path", spool)
        .load()
        .select("line")
    )
    parsed = parse_sfx_v1_json(lines, registry)
    agg = parsed.groupBy("metric", "source", "metric_type").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(F.col("value").cast("decimal(27,4)"))
        .cast("double")
        .alias("sum_value"),
    )
    # ~15 (metric, source) keys: scope the state-store width
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = _run_to_memory(agg, os.path.join(wd, "ckpt"))
        result = spark.createDataFrame(
            out.collect(),
            "metric string, source string, metric_type string,"
            " n_points bigint, sum_value double",
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    shutil.rmtree(wd, ignore_errors=True)
    return result


@register(
    "stream_msgpack_pipeline",
    oracle="""
    SELECT concat('events.', event_type) AS metric,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS sum_value,
           MIN(epoch_ms(ts)) AS min_ts_ms,
           MAX(epoch_ms(ts)) AS max_ts_ms
    FROM events WHERE event_id % 5 = 0
    GROUP BY 1
    """,
)
def stream_msgpack_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MessagePack fully STREAMED: binary msgpack frames POSTed over
    real loopback HTTP to `/v1/msgpack` as base64 text (the httpwire
    spool is string-typed — the documented binary-over-text seam),
    consumed EXACTLY ONCE through the httpwire streaming connector,
    unbase64'd back to bytes IN the stream, decoded by the
    `sources/msgpack.py` stream framer in Arrow batches, and rolled
    up per metric with decimal-exact sums in complete mode — the
    streamed member of the msgpack transport family
    (`ingest_msgpack_roundtrip` is the at-rest twin). Oracle is the
    direct SQL rollup of the deterministic event_id % 5 subset."""
    import base64
    import http.client

    import pandas as pd

    from metricproxy_spark.io import ensure_package_on_workers, load_table
    from metricproxy_spark.operators.scale import guarded_wire_pandas
    from metricproxy_spark.streaming.httplistener import (
        HttpIngestListener,
        http_spool_stream,
    )

    ensure_package_on_workers(spark)
    wd = _workdir()
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") % 5 == 0)
    src = guarded_wire_pandas(
        ev.select(
            F.concat(F.lit("events."), F.col("event_type")).alias("metric"),
            "value",
            F.unix_millis("ts").alias("ts_ms"),
        )
    )

    from metricproxy_spark.sources.msgpack import encode_msgpack

    frames = []
    for start in range(0, len(src), 200):
        chunk = src.iloc[start : start + 200]
        buf = bytearray()
        for m, v, t in zip(chunk["metric"], chunk["value"], chunk["ts_ms"]):
            buf += encode_msgpack(
                {"metric": str(m), "value": float(v), "ts": int(t)}
            )
        frames.append(bytes(buf))

    spool = os.path.join(wd, "spool")
    with HttpIngestListener(spool) as lis:
        conn = http.client.HTTPConnection(lis.host, lis.port, timeout=30)
        for blob in frames:
            conn.request(
                "POST",
                "/v1/msgpack",
                body=base64.b64encode(blob),
                headers={"Content-Type": "application/octet-stream;base64"},
            )
            resp = conn.getresponse()
            assert resp.status == 200
            resp.read()
        conn.close()

    bodies = http_spool_stream(spark, spool).select(
        F.unbase64(F.col("body")).alias("frame")
    )

    def decode(batches):
        from metricproxy_spark.sources.msgpack import decode_msgpack_stream

        for pdf in batches:
            rows = []
            for frame in pdf["frame"]:
                for o in decode_msgpack_stream(bytes(frame)):
                    rows.append((o["metric"], o["value"], o["ts"]))
            yield pd.DataFrame(rows, columns=["metric", "value", "ts_ms"])

    points = bodies.mapInPandas(
        decode, "metric string, value double, ts_ms long"
    )
    agg = points.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n_p"),
        F.sum(F.col("value").cast("decimal(27,4)")).alias("sum_dec"),
        F.min("ts_ms").alias("min_t"),
        F.max("ts_ms").alias("max_t"),
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = _run_to_memory(agg, os.path.join(wd, "ckpt"))
        result = spark.createDataFrame(
            out.select(
                "metric",
                F.col("n_p").cast("bigint").alias("n_points"),
                F.col("sum_dec").cast("double").alias("sum_value"),
                F.col("min_t").alias("min_ts_ms"),
                F.col("max_t").alias("max_ts_ms"),
            ).collect(),
            "metric string, n_points bigint, sum_value double,"
            " min_ts_ms bigint, max_ts_ms bigint",
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    shutil.rmtree(wd, ignore_errors=True)
    return result


@register(
    "stream_gorilla_pipeline",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS t,
               CAST(SUM(CAST(value AS DECIMAL(27,4))) * 10000 AS BIGINT) AS v
        FROM events GROUP BY 1, 2, date_trunc('hour', ts)
    )
    SELECT event_type,
           CAST(COUNT(DISTINCT day) AS BIGINT) AS n_blocks,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(t) AS BIGINT) AS sum_ts,
           CAST(SUM(v) AS BIGINT) AS sum_v_scaled
    FROM hourly GROUP BY 1
    """,
)
def stream_gorilla_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gorilla chunks fully STREAMED — the storage-format member of
    the streamed-twin family: per-(type, day) hourly series compress
    into Gorilla blocks staged as one BINARY FILE each (the chunk-file
    layout a Prometheus-class TSDB ships), consumed exactly once
    through the `binaryFile` streaming source (explicit schema — the
    source cannot infer one), decompressed IN the stream by an Arrow
    map stage, and rolled up per type in complete mode. Losslessness
    makes the oracle the direct SQL rollup of the raw events — the
    whole compress → file → stream → decompress → aggregate chain is
    value-checked. Scale: blocks are series-day-sized (the driver
    stages ~|types|x|days| small files under the wire-payload guard;
    a real deployment writes them executor-side), the stream stage is
    map-only per file, and the final agg is |types|-keyed."""
    import numpy as np
    import pandas as pd

    from metricproxy_spark.io import (
        ensure_package_on_workers,
        load_table,
        staged_artifact_dir,
    )
    from metricproxy_spark.operators.scale import guarded_wire_pandas
    from metricproxy_spark.operators.scale import guarded_series

    ensure_package_on_workers(spark)
    chunk_dir = staged_artifact_dir("gorilla_chunks", sf_dir)
    if not os.path.isdir(chunk_dir):
        staging = chunk_dir + f".staging.{os.getpid()}"
        os.makedirs(staging, exist_ok=True)
        events = load_table(spark, sf_dir, "events")
        hourly = events.groupBy(
            "event_type",
            F.date_format(F.date_trunc("day", "ts"), "yyyyMMdd").alias("day"),
            F.unix_timestamp(F.date_trunc("hour", "ts"))
            .cast("bigint")
            .alias("t"),
        ).agg(
            (F.sum(F.col("value").cast("decimal(27,4)")) * 10000)
            .cast("bigint")
            .alias("v")
        )
        series = guarded_series(hourly, ["event_type", "day"], ["t", "v"])

        def pack(batches):
            from metricproxy_spark.operators.gorilla import compress_gorilla

            for pdf in batches:
                out = []
                for et, day, rows in zip(
                    pdf["event_type"], pdf["day"], pdf["rows"]
                ):
                    t = np.array([r["t"] for r in rows], np.int64)
                    v = np.array([r["v"] for r in rows], np.float64)
                    out.append(
                        (f"{et}__{day}", compress_gorilla(t, v, first_delta_bits=17))
                    )
                yield pd.DataFrame(out, columns=["name", "block"])

        blocks = guarded_wire_pandas(
            series.select("event_type", "day", "rows").mapInPandas(
                pack, "name string, block binary"
            )
        )
        for name, block in zip(blocks["name"], blocks["block"]):
            with open(os.path.join(staging, f"{name}.gor"), "wb") as f:
                f.write(bytes(block))
        try:
            os.rename(staging, chunk_dir)
        except OSError:  # lost the publish race; winner is identical
            shutil.rmtree(staging, ignore_errors=True)

    sdf = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp,"
            " length long, content binary"
        )
        .load(chunk_dir)
    )

    def unpack(batches):
        from metricproxy_spark.operators.gorilla import decompress_gorilla

        for pdf in batches:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                et = os.path.basename(path).split("__")[0]
                td, vd = decompress_gorilla(bytes(content))
                out.append(
                    (et, len(td), int(td.sum()), int(vd.astype(np.int64).sum()))
                )
            yield pd.DataFrame(
                out, columns=["event_type", "n_p", "s_t", "s_v"]
            )

    per_block = sdf.mapInPandas(
        unpack, "event_type string, n_p long, s_t long, s_v long"
    )
    agg = per_block.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum("n_p").alias("n_points"),
        F.sum("s_t").alias("sum_ts"),
        F.sum("s_v").alias("sum_v_scaled"),
    )
    wd = _workdir()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = _run_to_memory(agg, os.path.join(wd, "ckpt"))
        result = spark.createDataFrame(
            out.select(
                "event_type",
                F.col("n_blocks").cast("bigint"),
                F.col("n_points").cast("bigint"),
                F.col("sum_ts").cast("bigint"),
                F.col("sum_v_scaled").cast("bigint"),
            ).collect(),
            "event_type string, n_blocks bigint, n_points bigint,"
            " sum_ts bigint, sum_v_scaled bigint",
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    shutil.rmtree(wd, ignore_errors=True)
    return result


@register(
    "stream_cbor_pipeline",
    oracle="""
    SELECT concat('events.', event_type) AS metric,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS sum_value,
           MIN(epoch_ms(ts)) AS min_ts_ms,
           MAX(epoch_ms(ts)) AS max_ts_ms
    FROM events WHERE event_id % 5 = 1
    GROUP BY 1
    """,
)
def stream_cbor_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CBOR fully STREAMED: RFC 8742 CBOR Sequence frames POSTed over
    real loopback HTTP to `/v1/cbor` as base64 text (the httpwire
    spool's binary-over-text seam), consumed exactly once through the
    httpwire streaming connector, unbase64'd IN the stream, decoded by
    the `sources/cbor.py` sequence framer in Arrow batches (every
    third datapoint indefinite-framed, so the streaming decode path
    covers RFC 8949 §3.2 too), and rolled up per metric with
    decimal-exact sums in complete mode — the streamed member of the
    CBOR transport family (`ingest_cbor_roundtrip` is the at-rest
    twin). Oracle is the direct SQL rollup of the deterministic
    event_id % 5 = 1 subset."""
    import base64
    import http.client

    import pandas as pd

    from metricproxy_spark.io import ensure_package_on_workers, load_table
    from metricproxy_spark.operators.scale import guarded_wire_pandas
    from metricproxy_spark.streaming.httplistener import (
        HttpIngestListener,
        http_spool_stream,
    )

    ensure_package_on_workers(spark)
    wd = _workdir()
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") % 5 == 1)
    src = guarded_wire_pandas(
        ev.select(
            F.concat(F.lit("events."), F.col("event_type")).alias("metric"),
            "value",
            F.unix_millis("ts").alias("ts_ms"),
            F.col("event_id").alias("eid"),
        )
    )

    from metricproxy_spark.sources.cbor import encode_cbor

    frames = []
    for start in range(0, len(src), 200):
        chunk = src.iloc[start : start + 200]
        buf = bytearray()
        for m, v, t, e in zip(
            chunk["metric"], chunk["value"], chunk["ts_ms"], chunk["eid"]
        ):
            buf += encode_cbor(
                {"metric": str(m), "value": float(v), "ts": int(t)},
                indefinite=int(e) % 3 == 0,
            )
        frames.append(bytes(buf))

    spool = os.path.join(wd, "spool")
    with HttpIngestListener(spool) as lis:
        conn = http.client.HTTPConnection(lis.host, lis.port, timeout=30)
        for blob in frames:
            conn.request(
                "POST",
                "/v1/cbor",
                body=base64.b64encode(blob),
                headers={"Content-Type": "application/cbor-seq;base64"},
            )
            resp = conn.getresponse()
            assert resp.status == 200
            resp.read()
        conn.close()

    bodies = http_spool_stream(spark, spool).select(
        F.unbase64(F.col("body")).alias("frame")
    )

    def decode(batches):
        from metricproxy_spark.sources.cbor import decode_cbor_sequence

        for pdf in batches:
            rows = []
            for frame in pdf["frame"]:
                for o in decode_cbor_sequence(bytes(frame)):
                    rows.append((o["metric"], o["value"], o["ts"]))
            yield pd.DataFrame(rows, columns=["metric", "value", "ts_ms"])

    points = bodies.mapInPandas(
        decode, "metric string, value double, ts_ms long"
    )
    agg = points.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n_p"),
        F.sum(F.col("value").cast("decimal(27,4)")).alias("sum_dec"),
        F.min("ts_ms").alias("min_t"),
        F.max("ts_ms").alias("max_t"),
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = _run_to_memory(agg, os.path.join(wd, "ckpt"))
        result = spark.createDataFrame(
            out.select(
                "metric",
                F.col("n_p").cast("bigint").alias("n_points"),
                F.col("sum_dec").cast("double").alias("sum_value"),
                F.col("min_t").alias("min_ts_ms"),
                F.col("max_t").alias("max_ts_ms"),
            ).collect(),
            "metric string, n_points bigint, sum_value double,"
            " min_ts_ms bigint, max_ts_ms bigint",
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    shutil.rmtree(wd, ignore_errors=True)
    return result


@register(
    "stream_remote_write_pipeline",
    oracle="""
    SELECT 'events_value' AS metric,
           event_type AS dim_type,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS sum_value,
           MIN(epoch_ms(ts)) AS min_ts_ms,
           MAX(epoch_ms(ts)) AS max_ts_ms
    FROM events WHERE event_id % 7 = 2
    GROUP BY 1, 2
    """,
)
def stream_remote_write_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus remote write fully STREAMED: snappy-compressed
    protobuf ``WriteRequest`` bodies POSTed over real loopback HTTP to
    the listener's ``/api/v1/write`` route (the spec's mandatory
    endpoint) as base64 text (the httpwire spool's binary-over-text
    seam), consumed exactly once through the httpwire streaming
    connector, unbase64'd IN the stream, decompressed + protobuf-walked
    by the from-scratch codecs (`sources/snappy.py`,
    `sources/remote_write.py`) in Arrow batches, and rolled up per
    (metric, type-label) with decimal-exact sums in complete mode —
    the streamed member of the remote-write transport family
    (`ingest_remote_write` is the at-rest twin). Oracle is the direct
    SQL rollup of the deterministic event_id % 7 = 2 subset."""
    import base64
    import http.client

    import pandas as pd

    from metricproxy_spark.io import ensure_package_on_workers, load_table
    from metricproxy_spark.operators.scale import guarded_wire_pandas
    from metricproxy_spark.streaming.httplistener import (
        HttpIngestListener,
        http_spool_stream,
    )

    ensure_package_on_workers(spark)
    wd = _workdir()
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") % 7 == 2)
    src = guarded_wire_pandas(
        ev.select(
            F.col("event_type"),
            F.col("user_id").cast("string").alias("user"),
            "value",
            F.unix_millis("ts").alias("ts_ms"),
        )
    )

    from metricproxy_spark.sources.remote_write import encode_remote_write_body

    bodies64 = []
    for start in range(0, len(src), 250):
        chunk = src.iloc[start : start + 250]
        series = [
            (
                {"__name__": "events_value", "type": str(et), "user": str(u)},
                [
                    (float(v), int(t))
                    for v, t in zip(grp["value"], grp["ts_ms"])
                ],
            )
            for (et, u), grp in chunk.groupby(["event_type", "user"], sort=True)
        ]
        bodies64.append(base64.b64encode(encode_remote_write_body(series)))

    spool = os.path.join(wd, "spool")
    with HttpIngestListener(spool) as lis:
        conn = http.client.HTTPConnection(lis.host, lis.port, timeout=30)
        for b64 in bodies64:
            conn.request(
                "POST",
                "/api/v1/write",
                body=b64,
                headers={"Content-Type": "application/x-protobuf;base64",
                         "Content-Encoding": "snappy"},
            )
            resp = conn.getresponse()
            assert resp.status == 200
            resp.read()
        conn.close()

    frames = http_spool_stream(spark, spool).select(
        F.unbase64(F.col("body")).alias("body")
    )

    def decode(batches):
        from metricproxy_spark.sources.remote_write import (
            decode_remote_write_body,
        )

        for pdf in batches:
            rows = []
            for body in pdf["body"]:
                for labels, samples in decode_remote_write_body(bytes(body)):
                    for v, t in samples:
                        rows.append(
                            (labels["__name__"], labels["type"], v, t)
                        )
            yield pd.DataFrame(
                rows, columns=["metric", "dim_type", "value", "ts_ms"]
            )

    points = frames.mapInPandas(
        decode, "metric string, dim_type string, value double, ts_ms long"
    )
    agg = points.groupBy("metric", "dim_type").agg(
        F.count(F.lit(1)).alias("n_s"),
        F.sum(F.col("value").cast("decimal(27,4)")).alias("sum_dec"),
        F.min("ts_ms").alias("min_t"),
        F.max("ts_ms").alias("max_t"),
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = _run_to_memory(agg, os.path.join(wd, "ckpt"))
        result = spark.createDataFrame(
            out.select(
                "metric",
                "dim_type",
                F.col("n_s").cast("bigint").alias("n_samples"),
                F.col("sum_dec").cast("double").alias("sum_value"),
                F.col("min_t").alias("min_ts_ms"),
                F.col("max_t").alias("max_ts_ms"),
            ).collect(),
            "metric string, dim_type string, n_samples bigint,"
            " sum_value double, min_ts_ms bigint, max_ts_ms bigint",
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    shutil.rmtree(wd, ignore_errors=True)
    return result


@register(
    "stream_otlp_protobuf_pipeline",
    oracle="""
    SELECT 'events.' || event_type AS metric,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE)
               AS sum_gauge,
           CAST(SUM(user_id) AS BIGINT) AS sum_counter,
           MIN(epoch_us(ts) * 1000) AS min_t_ns,
           MAX(epoch_us(ts) * 1000) AS max_t_ns
    FROM events WHERE event_id % 9 = 4
    GROUP BY 1
    """,
)
def stream_otlp_protobuf_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OTLP/PROTOBUF fully STREAMED: binary ExportMetricsServiceRequest
    bodies POSTed over real loopback HTTP to the listener's
    ``/v1/metrics`` route (the OTLP/HTTP endpoint, here with the
    `application/x-protobuf` binding its spec pairs with the JSON one)
    as base64 text, consumed exactly once through the httpwire
    streaming connector, decoded by the from-scratch wire codec
    (`sources/otlp_protobuf.py`) in Arrow batches — per-type GAUGE
    (double) and monotonic SUM (sfixed64) metrics in every request —
    and rolled up per metric with decimal-exact sums in complete mode.
    Completes the OTLP matrix: JSON at-rest + JSON live + protobuf
    at-rest (`ingest_otlp_protobuf`) + protobuf streamed. Oracle is
    the direct SQL rollup of the deterministic event_id % 9 = 4
    subset."""
    import base64
    import http.client

    import pandas as pd

    from metricproxy_spark.io import ensure_package_on_workers, load_table
    from metricproxy_spark.operators.scale import guarded_wire_pandas
    from metricproxy_spark.streaming.httplistener import (
        HttpIngestListener,
        http_spool_stream,
    )

    ensure_package_on_workers(spark)
    wd = _workdir()
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") % 9 == 4)
    src = guarded_wire_pandas(
        ev.select(
            F.col("event_type"),
            F.col("user_id"),
            "value",
            (F.unix_micros("ts") * 1000).alias("t_ns"),
        )
    )

    from metricproxy_spark.sources.otlp_protobuf import (
        GAUGE_KIND,
        SUM_KIND,
        encode_export_request,
    )

    bodies64 = []
    for start in range(0, len(src), 250):
        chunk = src.iloc[start : start + 250]
        metrics = []
        for et, grp in chunk.groupby("event_type", sort=True):
            metrics.append(
                (
                    f"events.{et}",
                    GAUGE_KIND,
                    [
                        ({"user": str(int(u))}, int(t), float(v), None)
                        for u, t, v in zip(
                            grp["user_id"], grp["t_ns"], grp["value"]
                        )
                    ],
                )
            )
            metrics.append(
                (
                    f"events.{et}",
                    SUM_KIND,
                    [
                        ({"user": str(int(u))}, int(t), None, int(u))
                        for u, t in zip(grp["user_id"], grp["t_ns"])
                    ],
                )
            )
        body = encode_export_request(
            {"service.name": "events"}, "metricproxy-spark", metrics
        )
        bodies64.append(base64.b64encode(body))

    spool = os.path.join(wd, "spool")
    with HttpIngestListener(spool) as lis:
        conn = http.client.HTTPConnection(lis.host, lis.port, timeout=30)
        for b64 in bodies64:
            conn.request(
                "POST",
                "/v1/metrics",
                body=b64,
                headers={"Content-Type": "application/x-protobuf;base64"},
            )
            resp = conn.getresponse()
            assert resp.status == 200
            resp.read()
        conn.close()

    frames = http_spool_stream(spark, spool).select(
        F.unbase64(F.col("body")).alias("body")
    )

    def decode(batches):
        from metricproxy_spark.sources.otlp_protobuf import (
            GAUGE_KIND as GK,
            decode_export_request,
        )

        for pdf in batches:
            rows = []
            for body in pdf["body"]:
                _, _, metrics = decode_export_request(bytes(body))
                for name, kind, dps in metrics:
                    for _attrs, t_ns, as_double, as_int in dps:
                        rows.append(
                            (
                                name,
                                as_double if kind == GK else None,
                                as_int if kind != GK else None,
                                t_ns,
                            )
                        )
            yield pd.DataFrame(
                rows, columns=["metric", "g", "c", "t_ns"]
            )

    points = frames.mapInPandas(
        decode, "metric string, g double, c bigint, t_ns long"
    )
    agg = points.groupBy("metric").agg(
        F.count(F.col("g")).alias("n_g"),
        F.sum(F.col("g").cast("decimal(27,4)")).alias("sum_g"),
        F.sum("c").alias("sum_c"),
        F.min("t_ns").alias("min_t"),
        F.max("t_ns").alias("max_t"),
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = _run_to_memory(agg, os.path.join(wd, "ckpt"))
        result = spark.createDataFrame(
            out.select(
                "metric",
                F.col("n_g").cast("bigint").alias("n_points"),
                F.col("sum_g").cast("double").alias("sum_gauge"),
                F.col("sum_c").cast("bigint").alias("sum_counter"),
                F.col("min_t").alias("min_t_ns"),
                F.col("max_t").alias("max_t_ns"),
            ).collect(),
            "metric string, n_points bigint, sum_gauge double,"
            " sum_counter bigint, min_t_ns bigint, max_t_ns bigint",
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    shutil.rmtree(wd, ignore_errors=True)
    return result


@register(
    "stream_alert_for_duration",
    oracle="""
    WITH hours AS (SELECT DISTINCT date_trunc('hour', ts) AS h FROM events),
    idx AS (
        SELECT h, CAST(row_number() OVER (ORDER BY h) - 1 AS BIGINT) AS hidx
        FROM hours
    ),
    cnt AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    tr AS (
        SELECT c.event_type, i.hidx,
               i.hidx - row_number() OVER (PARTITION BY c.event_type
                                           ORDER BY i.hidx) AS isl_key
        FROM cnt c JOIN idx i ON c.h = i.h
        WHERE c.n >= 4
    ),
    isl AS (
        SELECT event_type, isl_key, min(hidx) AS s, max(hidx) AS e,
               CAST(count(*) AS BIGINT) AS len
        FROM tr GROUP BY 1, 2
    ),
    w AS (
        SELECT *, max(e) OVER (PARTITION BY event_type ORDER BY s
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS prev_e
        FROM isl
    ),
    f AS (
        SELECT *, CASE WHEN prev_e IS NULL OR s - prev_e > 2
                       THEN 1 ELSE 0 END AS new_c
        FROM w
    ),
    cl AS (
        SELECT *, sum(new_c) OVER (PARTITION BY event_type ORDER BY s
                                   ROWS UNBOUNDED PRECEDING) AS cid
        FROM f
    )
    SELECT event_type, CAST(cid AS BIGINT) AS incident_id,
           min(s) AS cluster_start, max(e) AS cluster_end,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(len) AS BIGINT) AS n_true,
           (min(CASE WHEN len >= 3 THEN s END) IS NOT NULL) AS fired,
           min(CASE WHEN len >= 3 THEN s END) + 2 AS fired_at,
           CASE WHEN min(CASE WHEN len >= 3 THEN s END) IS NOT NULL
                THEN max(e) + 3 END AS resolved_at
    FROM cl GROUP BY 1, 2
    """,
)
def stream_alert_for_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMED twin of ``events_alert_for_duration`` — the Prometheus
    alert ``for:``/``keep_firing_for:`` state machine carried across
    REAL micro-batches in applyInPandasWithState (the production form:
    alert state must survive evaluation cycles, not be recomputed from
    history). The TRUE-eval step series (hourly breach evals on the
    shared grid, the recording-rule rollup) is staged as 2 time-ranged
    files and replayed with maxFilesPerTrigger=1, so islands and
    keep-firing clusters SPAN the batch boundary and must be stitched
    from GroupState — batch 2's first eval can extend an island only
    via batch 1's carried (island start, length, last step). Each
    batch emits the full per-series incident snapshot stamped with a
    monotone version (= last step folded); the final table takes each
    series' max-version rows and hash-matches the one-shot batch
    island-rewrite oracle — the strongest streaming-correctness
    statement available (same convention as `stream_topk_users`).
    Note the oracle needs no dense grid: false/missing evals are
    implicit hidx gaps, so only TRUE evals flow (the stream stays
    sparse). State is O(incidents) per series."""
    from pyspark.sql import Window

    from metricproxy_spark.streaming.stateful import alert_for_islands

    wd = _workdir()
    events = _load_events(spark, sf_dir)
    hours = events.select(F.date_trunc("hour", "ts").alias("h")).distinct()
    idx = hours.select(
        "h",
        (F.row_number().over(Window.orderBy("h")) - 1)
        .cast("bigint")
        .alias("hidx"),
    )
    cnt = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    true_evals = (
        cnt.where(F.col("n") >= 4)
        .join(idx, "h")
        .select("event_type", "hidx")
    )
    src_dir = os.path.join(wd, "src")
    os.makedirs(src_dir, exist_ok=True)
    _write_range_split(true_evals, "hidx", src_dir, num_files=2)
    stream = read_stream_table(spark, src_dir, max_files_per_trigger=1)
    snapshots = alert_for_islands(stream)
    # Key space is |series| (a handful): scope the state store like the
    # sibling stateful queries so a vanilla 200-partition session does
    # not spin 200 state dirs per micro-batch.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = _run_to_memory(
            snapshots, os.path.join(wd, "ckpt"), mode="append"
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    w = Window.partitionBy("event_type")
    return (
        out.withColumn("_vmax", F.max("version").over(w))
        .where(F.col("version") == F.col("_vmax"))
        .drop("_vmax", "version")
    )


@register(
    "stream_gzip_pipeline",
    oracle="""
    SELECT concat('events.', event_type) AS metric,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS sum_value,
           MIN(epoch_ms(ts)) AS min_ts_ms,
           MAX(epoch_ms(ts)) AS max_ts_ms
    FROM events WHERE event_id % 7 = 3
    GROUP BY 1
    """,
)
def stream_gzip_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEFLATE family fully STREAMED — the 13th streamed wire family:
    gzip members (from-scratch `sources/deflate.py`, CRC-32 + ISIZE
    verified per member) each wrapping a batch of carbon plaintext
    lines (the gzipped graphite bulk-upload shape), POSTed over real
    loopback HTTP to `/v1/gzip` as base64 text, consumed exactly once
    through the httpwire streaming connector, ungzipped + line-parsed
    IN the stream (Arrow batches), and rolled up per metric with
    decimal-exact sums in complete mode — the streamed member of the
    DEFLATE transport family (`ingest_gzip_documents` is the at-rest
    twin). Values ride as shortest-roundtrip repr text and parse back
    to bit-identical doubles (the divergence suite's repr-roundtrip
    pin), so the oracle's DECIMAL sum of the source column matches
    exactly."""
    import base64
    import http.client

    import pandas as pd

    from metricproxy_spark.io import ensure_package_on_workers, load_table
    from metricproxy_spark.operators.scale import guarded_wire_pandas
    from metricproxy_spark.streaming.httplistener import (
        HttpIngestListener,
        http_spool_stream,
    )

    ensure_package_on_workers(spark)
    wd = _workdir()
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") % 7 == 3)
    src = guarded_wire_pandas(
        ev.select(
            F.concat(F.lit("events."), F.col("event_type")).alias("metric"),
            "value",
            F.unix_millis("ts").alias("ts_ms"),
        )
    )

    from metricproxy_spark.sources.deflate import compress_gzip

    frames = []
    for start in range(0, len(src), 200):
        chunk = src.iloc[start : start + 200]
        # float(v)!r — plain-float shortest repr; a raw numpy scalar
        # would repr as "np.float64(...)" under numpy >= 2
        text = "".join(
            f"{m} {float(v)!r} {int(t)}\n"
            for m, v, t in zip(chunk["metric"], chunk["value"], chunk["ts_ms"])
        )
        frames.append(compress_gzip(text.encode("utf-8")))

    spool = os.path.join(wd, "spool")
    with HttpIngestListener(spool) as lis:
        conn = http.client.HTTPConnection(lis.host, lis.port, timeout=30)
        for blob in frames:
            conn.request(
                "POST",
                "/v1/gzip",
                body=base64.b64encode(blob),
                headers={"Content-Type": "application/gzip;base64"},
            )
            resp = conn.getresponse()
            assert resp.status == 200
            resp.read()
        conn.close()

    bodies = http_spool_stream(spark, spool).select(
        F.unbase64(F.col("body")).alias("frame")
    )

    def decode(batches):
        from metricproxy_spark.sources.deflate import decompress_gzip

        for pdf in batches:
            rows = []
            for frame in pdf["frame"]:
                text = decompress_gzip(
                    bytes(frame), max_out=len(frame) * 64 + 1024
                ).decode("utf-8")
                for line in text.splitlines():
                    m, v, t = line.split(" ")
                    rows.append((m, float(v), int(t)))
            yield pd.DataFrame(rows, columns=["metric", "value", "ts_ms"])

    points = bodies.mapInPandas(
        decode, "metric string, value double, ts_ms long"
    )
    agg = points.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n_p"),
        F.sum(F.col("value").cast("decimal(27,4)")).alias("sum_dec"),
        F.min("ts_ms").alias("min_t"),
        F.max("ts_ms").alias("max_t"),
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = _run_to_memory(agg, os.path.join(wd, "ckpt"))
        result = spark.createDataFrame(
            out.select(
                "metric",
                F.col("n_p").cast("bigint").alias("n_points"),
                F.col("sum_dec").cast("double").alias("sum_value"),
                F.col("min_t").alias("min_ts_ms"),
                F.col("max_t").alias("max_ts_ms"),
            ).collect(),
            "metric string, n_points bigint, sum_value double,"
            " min_ts_ms bigint, max_ts_ms bigint",
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    shutil.rmtree(wd, ignore_errors=True)
    return result


@register(
    "stream_kafka_recordbatch_pipeline",
    oracle="""
    SELECT event_type AS dim_type,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS sum_value,
           MIN(epoch_ms(ts)) AS min_ts_ms,
           MAX(epoch_ms(ts)) AS max_ts_ms
    FROM events WHERE event_id % 7 = 4
    GROUP BY 1
    """,
)
def stream_kafka_recordbatch_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kafka RecordBatch fully STREAMED — the 14th streamed wire
    family, and the engine's Kafka split made literal: v2 record
    batches (CRC-32C-verified, compression cycling none/gzip/
    xerial-snappy/LZ4-frame — `sources/kafka_records.py`) are the
    producer's wire, POSTed over real loopback HTTP as base64 text,
    consumed exactly once through the httpwire streaming connector,
    batch-decoded IN the stream (CRC first, then the compression
    unwrap, then the zigzag record walk), and rolled up per type with
    decimal-exact sums in complete mode. `ingest_kafka_recordbatch`
    is the at-rest twin; `streaming/kafka.py` holds the real-broker
    connector gate — this pipeline proves the record FORMAT end to
    end without needing the broker."""
    import base64
    import http.client

    import pandas as pd

    from metricproxy_spark.io import ensure_package_on_workers, load_table
    from metricproxy_spark.operators.scale import guarded_wire_pandas
    from metricproxy_spark.streaming.httplistener import (
        HttpIngestListener,
        http_spool_stream,
    )

    ensure_package_on_workers(spark)
    wd = _workdir()
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") % 7 == 4)
    src = guarded_wire_pandas(
        ev.select(
            "event_type",
            "value",
            F.unix_millis("ts").alias("ts_ms"),
        )
    )

    from metricproxy_spark.sources.kafka_records import encode_record_batch

    frames = []
    for bi, start in enumerate(range(0, len(src), 200)):
        chunk = src.iloc[start : start + 200]
        records = [
            (int(t), None, repr(float(v)).encode(), [("type", str(et).encode())])
            for et, v, t in zip(chunk["event_type"], chunk["value"], chunk["ts_ms"])
        ]
        frames.append(
            encode_record_batch(records, base_offset=start, compression=bi % 4)
        )

    spool = os.path.join(wd, "spool")
    with HttpIngestListener(spool) as lis:
        conn = http.client.HTTPConnection(lis.host, lis.port, timeout=30)
        for blob in frames:
            conn.request(
                "POST",
                "/v1/kafka",
                body=base64.b64encode(blob),
                headers={"Content-Type": "application/vnd.kafka.v2;base64"},
            )
            resp = conn.getresponse()
            assert resp.status == 200
            resp.read()
        conn.close()

    bodies = http_spool_stream(spark, spool).select(
        F.unbase64(F.col("body")).alias("frame")
    )

    def decode(batches):
        from metricproxy_spark.sources.kafka_records import (
            decode_record_batch,
        )

        for pdf in batches:
            rows = []
            for frame in pdf["frame"]:
                _bo, _c, records = decode_record_batch(bytes(frame))
                for _off, ts, (_t, _key, value, headers) in records:
                    rows.append(
                        (dict(headers)["type"].decode(),
                         float(value.decode()), ts)
                    )
            yield pd.DataFrame(rows, columns=["dim_type", "value", "ts_ms"])

    points = bodies.mapInPandas(
        decode, "dim_type string, value double, ts_ms long"
    )
    agg = points.groupBy("dim_type").agg(
        F.count(F.lit(1)).alias("n_r"),
        F.sum(F.col("value").cast("decimal(27,4)")).alias("sum_dec"),
        F.min("ts_ms").alias("min_t"),
        F.max("ts_ms").alias("max_t"),
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = _run_to_memory(agg, os.path.join(wd, "ckpt"))
        result = spark.createDataFrame(
            out.select(
                "dim_type",
                F.col("n_r").cast("bigint").alias("n_records"),
                F.col("sum_dec").cast("double").alias("sum_value"),
                F.col("min_t").alias("min_ts_ms"),
                F.col("max_t").alias("max_ts_ms"),
            ).collect(),
            "dim_type string, n_records bigint, sum_value double,"
            " min_ts_ms bigint, max_ts_ms bigint",
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    shutil.rmtree(wd, ignore_errors=True)
    return result


@register(
    "stream_otlp_logs_pipeline",
    oracle="""
    SELECT CASE WHEN event_type = 'error' THEN 17 ELSE 9 END
               AS severity_number,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           CAST(SUM(user_id) AS BIGINT) AS sum_user,
           MIN(epoch_ns(ts)) AS min_t_ns,
           MAX(epoch_ns(ts)) AS max_t_ns
    FROM events WHERE event_id % 7 = 5
    GROUP BY 1
    """,
)
def stream_otlp_logs_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTLP LOGS fully STREAMED — the 15th streamed wire family, and
    the logs signal's live form (the modern notification→event
    transport): ExportLogsServiceRequest blobs
    (`sources/otlp_logs.py` — severity enums, AnyValue bodies,
    KeyValue attrs) POSTed over real loopback HTTP to `/v1/metrics`'
    sibling route as base64 text, consumed exactly once through the
    httpwire streaming connector, protobuf-decoded IN the stream and
    rolled up per severity in complete mode (the user attribute folds
    into an exact BIGINT sum — streaming aggregation forbids DISTINCT,
    an honest micro-batch bound). `ingest_otlp_logs` is the at-rest
    twin."""
    import base64
    import http.client

    import pandas as pd

    from metricproxy_spark.io import ensure_package_on_workers, load_table
    from metricproxy_spark.operators.scale import guarded_wire_pandas
    from metricproxy_spark.streaming.httplistener import (
        HttpIngestListener,
        http_spool_stream,
    )

    ensure_package_on_workers(spark)
    wd = _workdir()
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") % 7 == 5)
    src = guarded_wire_pandas(
        ev.select(
            "event_type",
            F.col("user_id").cast("string").alias("user"),
            (F.unix_micros("ts") * 1000).alias("t_ns"),
        )
    )

    from metricproxy_spark.sources.otlp_logs import (
        SEVERITY_ERROR,
        SEVERITY_INFO,
        encode_logs_request,
    )

    frames = []
    for start in range(0, len(src), 300):
        chunk = src.iloc[start : start + 300]
        records = [
            (
                int(t),
                SEVERITY_ERROR if str(et) == "error" else SEVERITY_INFO,
                "ERROR" if str(et) == "error" else "INFO",
                str(et),
                {"user": str(u)},
                b"",
                b"",
            )
            for et, u, t in zip(chunk["event_type"], chunk["user"], chunk["t_ns"])
        ]
        frames.append(
            encode_logs_request({"service.name": "events"}, "mps", records)
        )

    spool = os.path.join(wd, "spool")
    with HttpIngestListener(spool) as lis:
        conn = http.client.HTTPConnection(lis.host, lis.port, timeout=30)
        for blob in frames:
            conn.request(
                "POST",
                "/v1/metrics",
                body=base64.b64encode(blob),
                headers={"Content-Type": "application/x-protobuf;base64"},
            )
            resp = conn.getresponse()
            assert resp.status == 200
            resp.read()
        conn.close()

    bodies = http_spool_stream(spark, spool).select(
        F.unbase64(F.col("body")).alias("frame")
    )

    def decode(batches):
        from metricproxy_spark.sources.otlp_logs import decode_logs_request

        for pdf in batches:
            rows = []
            for frame in pdf["frame"]:
                _ra, _sn, records = decode_logs_request(bytes(frame))
                for t_ns, sev, _txt, _body, attrs, _tid, _sid in records:
                    rows.append((sev, attrs["user"], t_ns))
            yield pd.DataFrame(rows, columns=["sev", "user", "t_ns"])

    points = bodies.mapInPandas(decode, "sev int, user string, t_ns long")
    agg = points.groupBy("sev").agg(
        F.count(F.lit(1)).alias("n_r"),
        F.sum(F.col("user").cast("bigint")).alias("sum_u"),
        F.min("t_ns").alias("min_t"),
        F.max("t_ns").alias("max_t"),
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = _run_to_memory(agg, os.path.join(wd, "ckpt"))
        result = spark.createDataFrame(
            out.select(
                F.col("sev").alias("severity_number"),
                F.col("n_r").cast("bigint").alias("n_records"),
                F.col("sum_u").cast("bigint").alias("sum_user"),
                F.col("min_t").alias("min_t_ns"),
                F.col("max_t").alias("max_t_ns"),
            ).collect(),
            "severity_number int, n_records bigint, sum_user bigint,"
            " min_t_ns long, max_t_ns long",
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    shutil.rmtree(wd, ignore_errors=True)
    return result


@register(
    "stream_zstd_pipeline",
    oracle="""
    SELECT concat('events.', event_type) AS metric,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS sum_value,
           MIN(epoch_ms(ts)) AS min_ts_ms,
           MAX(epoch_ms(ts)) AS max_ts_ms
    FROM events WHERE event_id % 7 = 6
    GROUP BY 1
    """,
)
def stream_zstd_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZSTD fully STREAMED — the 16th streamed wire family: each
    frame wraps a batch of carbon plaintext lines (the `.zst` bulk-
    upload shape), POSTed over real loopback HTTP to `/v1/zstd` as
    base64 text, consumed exactly once through the httpwire streaming
    connector, decoded IN the stream (Arrow batches) by the
    from-scratch RFC 8878 decoder (`sources/zstd.py`) and rolled up
    per metric with decimal-exact sums in complete mode —
    `ingest_zstd_shards` is the at-rest twin. Frames ALTERNATE between
    pyarrow's real libzstd (level 3 — full FSE/huff0/sequence decode
    paths exercised live, a cross-implementation interop pin inside a
    running stream) and this repo's own raw-block encoder (XXH64
    checksum verified), so both frame shapes ride the same stream.
    Values ride as shortest-roundtrip repr text and parse back to
    bit-identical doubles (the divergence suite's repr-roundtrip
    pin)."""
    import base64
    import http.client

    import pandas as pd

    from metricproxy_spark.io import ensure_package_on_workers, load_table
    from metricproxy_spark.operators.scale import guarded_wire_pandas
    from metricproxy_spark.streaming.httplistener import (
        HttpIngestListener,
        http_spool_stream,
    )

    ensure_package_on_workers(spark)
    wd = _workdir()
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") % 7 == 6)
    src = guarded_wire_pandas(
        ev.select(
            F.concat(F.lit("events."), F.col("event_type")).alias("metric"),
            "value",
            F.unix_millis("ts").alias("ts_ms"),
        )
    )

    import pyarrow as pa

    from metricproxy_spark.sources.zstd import compress_zstd

    frames = []
    for fi, start in enumerate(range(0, len(src), 200)):
        chunk = src.iloc[start : start + 200]
        text = "".join(
            f"{m} {float(v)!r} {int(t)}\n"
            for m, v, t in zip(chunk["metric"], chunk["value"], chunk["ts_ms"])
        )
        raw = text.encode("utf-8")
        if fi % 2 == 0:  # real libzstd frame -> from-scratch decode
            blob = pa.Codec("zstd", compression_level=3).compress(raw)
            blob = (
                blob.to_pybytes()
                if hasattr(blob, "to_pybytes")
                else bytes(blob)
            )
        else:  # this repo's huff0-coded frame (XXH64-checksummed)
            blob = compress_zstd(raw)
        frames.append(blob)

    spool = os.path.join(wd, "spool")
    with HttpIngestListener(spool) as lis:
        conn = http.client.HTTPConnection(lis.host, lis.port, timeout=30)
        for blob in frames:
            conn.request(
                "POST",
                "/v1/zstd",
                body=base64.b64encode(blob),
                headers={"Content-Type": "application/zstd;base64"},
            )
            resp = conn.getresponse()
            assert resp.status == 200
            resp.read()
        conn.close()

    bodies = http_spool_stream(spark, spool).select(
        F.unbase64(F.col("body")).alias("frame")
    )

    def decode(batches):
        from metricproxy_spark.sources.zstd import decompress_zstd

        for pdf in batches:
            rows = []
            for frame in pdf["frame"]:
                text = decompress_zstd(
                    bytes(frame), max_out=len(frame) * 64 + 1024
                ).decode("utf-8")
                for line in text.splitlines():
                    m, v, t = line.split(" ")
                    rows.append((m, float(v), int(t)))
            yield pd.DataFrame(rows, columns=["metric", "value", "ts_ms"])

    points = bodies.mapInPandas(
        decode, "metric string, value double, ts_ms long"
    )
    agg = points.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n_p"),
        F.sum(F.col("value").cast("decimal(27,4)")).alias("sum_dec"),
        F.min("ts_ms").alias("min_t"),
        F.max("ts_ms").alias("max_t"),
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = _run_to_memory(agg, os.path.join(wd, "ckpt"))
        result = spark.createDataFrame(
            out.select(
                "metric",
                F.col("n_p").cast("bigint").alias("n_points"),
                F.col("sum_dec").cast("double").alias("sum_value"),
                F.col("min_t").alias("min_ts_ms"),
                F.col("max_t").alias("max_ts_ms"),
            ).collect(),
            "metric string, n_points bigint, sum_value double,"
            " min_ts_ms bigint, max_ts_ms bigint",
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    shutil.rmtree(wd, ignore_errors=True)
    return result


@register(
    "stream_delta_commit_pipeline",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS sum_value,
           MIN(event_id) AS min_id,
           MAX(event_id) AS max_id
    FROM events WHERE event_id % 7 = 1
    GROUP BY 1
    """,
)
def stream_delta_commit_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING WRITES to a Delta-protocol table — the writer side of
    the lakehouse story (the read side is the `cdc_delta_*` family):
    the production "streaming → ACID table" pattern where every
    micro-batch lands one parquet file group plus ONE atomic JSON
    commit in `_delta_log/` (version = batch id; protocol/metaData
    ride commit 0; each add carries `stats.numRecords`, published
    via link(2)+EEXIST — the protocol's put-if-absent). The stream replays
    the `event_id % 7 = 1` slice as event_id-ordered micro-batches
    via foreachBatch; afterwards the LOG-REPLAY READER reconstructs
    the snapshot exactly as `cdc_delta_log_snapshot` does (adds
    anti-joined against later removes — none here, append-only) and
    rolls it up with decimal-exact sums. A hash match against the
    batch oracle proves no batch was lost, duplicated, or committed
    without its data — exactly-once END TO END through real
    micro-batch boundaries into a real table format. Scale: one
    commit per micro-batch is the Delta transaction rate limit by
    design; data rides distributed parquet writes; the log stays KB
    metadata."""
    import json as _json
    import uuid

    from metricproxy_spark.streaming.source import (
        read_stream_table,
        stage_stream_source,
    )

    wd = _workdir()
    src = stage_stream_source(
        spark,
        sf_dir,
        "events",
        os.path.join(wd, "src"),
        num_files=4,
        order_col="event_id",
    )
    stream = read_stream_table(spark, src, max_files_per_trigger=1).where(
        F.col("event_id") % 7 == 1
    )
    table_dir = os.path.join(wd, "delta_table")
    log_dir = os.path.join(table_dir, "_delta_log")
    os.makedirs(log_dir, exist_ok=True)

    def commit_batch(bdf, bid: int) -> None:
        rel = f"part-{bid:05d}"
        out = bdf.select("event_id", "event_type", "user_id", "value")
        out.write.mode("overwrite").parquet(os.path.join(table_dir, rel))
        n = spark.read.parquet(os.path.join(table_dir, rel)).count()
        actions = []
        if bid == 0:
            actions.append({"protocol": {"minReaderVersion": 1}})
            actions.append({"metaData": {"id": "mps-stream-delta"}})
        actions.append(
            {
                "add": {
                    "path": rel,
                    "dataChange": True,
                    "stats": _json.dumps({"numRecords": n}),
                }
            }
        )
        final = os.path.join(log_dir, f"{bid:020d}.json")
        # Per-attempt PRIVATE temp name: a shared ".tmp" would let a
        # contending writer truncate the file between our write and
        # link, publishing a half-written commit.
        tmp = f"{final}.{os.getpid()}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as fh:
            fh.write("\n".join(_json.dumps(a) for a in actions) + "\n")
        # Put-if-absent via link(2): hard-link fails with EEXIST if the
        # version file already exists (a retried batch), making the
        # commit idempotent — the same discipline as spool.SpoolAppender.
        try:
            os.link(tmp, final)
        except FileExistsError:
            pass  # an earlier attempt already committed this batch id
        finally:
            os.unlink(tmp)

    q = (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", os.path.join(wd, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # --- the log-replay reader over what the stream committed ---
    log = spark.read.json(os.path.join(log_dir, "*.json")).withColumn(
        "version",
        F.regexp_extract(F.input_file_name(), r"(\d{20})\.json", 1).cast(
            "bigint"
        ),
    )
    adds = log.where(F.col("add").isNotNull()).select(
        F.col("add.path").alias("path")
    )
    paths = [
        os.path.join(table_dir, r["path"])
        for r in adds.collect()  # bounded: the commit-log file list
    ]
    snap = spark.read.parquet(*paths)
    result = snap.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(27,4)"))
        .cast("double")
        .alias("sum_value"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )
    out = spark.createDataFrame(
        result.collect(),
        "event_type string, n_events bigint, sum_value double,"
        " min_id bigint, max_id bigint",
    )
    shutil.rmtree(wd, ignore_errors=True)
    return out
