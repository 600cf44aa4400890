"""Line forwarders: byte parity with Spark's own writers, and the
one-job fan-out contract of :func:`write_lines`.

Every :class:`LineSink` file must hold, as a multiset of lines, exactly
what ``DataFrame.write.csv`` / ``write.text`` writes for the same rows —
the forwarders' output format is Spark's, only the write path differs.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import shutil
import tempfile
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from metricproxy_spark.sources.carbon import to_carbon_lines
from metricproxy_spark.streaming.sinks import (
    LineSink,
    carbon_sink,
    csv_sink,
    signalfx_sink,
    write_lines,
)

AWKWARD = [
    None,
    "",
    "plain",
    "a,b",
    'say "hi"',
    "back\\slash",
    "two\nlines",
    "cr\r\nlf",
    "  padded  ",
    "naïve 東京 ☃",
]


def _lines(path: str) -> list[bytes]:
    data = b"".join(
        open(f, "rb").read() for f in sorted(glob.glob(os.path.join(path, "part-*")))
    )
    return sorted(data.split(b"\n"))


def _hidden(path: str) -> list[str]:
    return [f for f in os.listdir(path) if f.startswith(".")] if os.path.isdir(path) else []


@pytest.fixture(scope="module")
def datapoints(spark):
    """Canonical-shaped datapoints hitting every awkward value, spread
    over 3 partitions with several Arrow batches each."""
    rows = []
    for i in range(3000):
        s = AWKWARD[i % len(AWKWARD)]
        rows.append(
            (
                f"m.{i % 7}" if i % 11 else s,
                None if i % 13 == 0 else i / 8,
                s if i % 5 == 0 else None,
                dt.datetime(2023, 11, 14, 22, 13, 20) + dt.timedelta(milliseconds=37 * i),
                dt.date(2024, 2, 29),
                Decimal(i) / 100,
                i % 2 == 0,
                {"host": s or "h", "dc": "us"} if i % 3 else {},
                {"carbon_raw": f"raw.{i} {i} 1700000000"} if i % 4 == 0 else {"x": "y"},
            )
        )
    schema = (
        "metric string, value double, value_str string, ts timestamp, "
        "day date, amount decimal(10,2), flag boolean, "
        "dimensions map<string,string>, meta map<string,string>"
    )
    return spark.createDataFrame(rows, schema).repartition(3)


@pytest.fixture
def small_arrow_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "257")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def test_csv_sink_matches_spark_csv_writer(spark, datapoints, tmp_path, small_arrow_batches):
    ref = datapoints.withColumns(
        {c: F.col(c).cast("string") for c in ("dimensions", "meta")}
    )
    ref.write.option("header", "false").csv(str(tmp_path / "ref"))
    assert csv_sink(str(tmp_path / "got"))(datapoints, 0) == 3000
    got = _lines(str(tmp_path / "got"))
    assert got == _lines(str(tmp_path / "ref"))
    assert b'"say \\"hi\\""' in b"\n".join(got)  # the quoting was exercised
    assert all(f.endswith(".csv") for f in glob.glob(str(tmp_path / "got" / "part-*")))


@pytest.mark.parametrize("meta_col", [None, "meta"])
def test_carbon_sink_matches_spark_text_writer(spark, datapoints, tmp_path, meta_col):
    # the forwarder's line as it was built before line sinks: a
    # projected frame serialized by name, written by Spark
    prepared = datapoints.select(
        "metric", "value", "value_str",
        F.unix_timestamp("ts").alias("epoch_s"), "meta",
    )
    prepared.select(to_carbon_lines(prepared, meta_col=meta_col)).write.text(
        str(tmp_path / "ref")
    )
    sink = carbon_sink(str(tmp_path / "got"), meta_col=meta_col)
    assert sink(datapoints, 0) == 3000
    got = _lines(str(tmp_path / "got"))
    assert got == _lines(str(tmp_path / "ref"))
    assert (b"raw.0 0 1700000000" in got) == (meta_col is not None)


def test_carbon_sink_without_value_str_column(spark, datapoints, tmp_path):
    df = datapoints.drop("value_str")
    prepared = df.select(
        "metric", "value", F.lit(None).cast("string").alias("value_str"),
        F.unix_timestamp("ts").alias("epoch_s"),
    )
    prepared.select(to_carbon_lines(prepared, meta_col=None)).write.text(
        str(tmp_path / "ref")
    )
    carbon_sink(str(tmp_path / "got"))(df, 0)
    assert _lines(str(tmp_path / "got")) == _lines(str(tmp_path / "ref"))


def test_signalfx_sink_matches_spark_text_writer(spark, datapoints, tmp_path):
    sink = signalfx_sink(path=str(tmp_path / "got"))
    datapoints.select(sink.line(datapoints)).write.text(str(tmp_path / "ref"))
    assert sink(datapoints, 0) == 3000
    got = _lines(str(tmp_path / "got"))
    assert got == _lines(str(tmp_path / "ref"))
    keys = {"metric", "value", "dimensions", "timestamp"}
    assert any(set(json.loads(ln)) == keys for ln in got if ln)


@pytest.mark.parametrize("large_var_types", ["false", "true"])
def test_null_line_is_written_like_the_text_writer(spark, tmp_path, large_var_types):
    key = "spark.sql.execution.arrow.useLargeVarTypes"
    prev = spark.conf.get(key)
    spark.conf.set(key, large_var_types)  # 64-bit Arrow string offsets
    try:
        df = spark.createDataFrame([(s,) for s in AWKWARD], "s string")
        df.write.text(str(tmp_path / "ref"))
        sink = LineSink(str(tmp_path / "got"), ".txt", lambda d: F.col("s"))
        assert sink(df, 0) == len(AWKWARD)
    finally:
        spark.conf.set(key, prev)
    assert _lines(str(tmp_path / "got")) == _lines(str(tmp_path / "ref"))


def test_empty_batch_writes_no_part_file(spark, tmp_path):
    df = spark.createDataFrame([], "metric string, value double, ts timestamp")
    sinks = [csv_sink(str(tmp_path / "csv")), signalfx_sink(path=str(tmp_path / "sfx"))]
    assert write_lines(df, sinks) == 0
    for d in ("csv", "sfx"):
        assert glob.glob(str(tmp_path / d / "part-*")) == []
        assert _hidden(str(tmp_path / d)) == []


def test_fused_write_serves_every_sink(spark, datapoints, tmp_path):
    """One write_lines call over three sinks lands the same files as
    three single-sink calls."""
    def sinks(root):
        return [
            csv_sink(str(root / "csv")),
            carbon_sink(str(root / "carbon"), meta_col="meta"),
            signalfx_sink(path=str(root / "sfx")),
        ]

    assert write_lines(datapoints, sinks(tmp_path / "fused")) == 3000
    for s in sinks(tmp_path / "alone"):
        s(datapoints, 0)
    for d in ("csv", "carbon", "sfx"):
        fused = str(tmp_path / "fused" / d)
        assert _lines(fused) == _lines(str(tmp_path / "alone" / d))
        assert os.path.exists(os.path.join(fused, "_SUCCESS"))
        assert _hidden(fused) == []


def test_sinks_sharing_a_directory_keep_their_own_files(spark, tmp_path):
    df = spark.range(0, 100, numPartitions=2).select(F.col("id").cast("string").alias("s"))
    a = LineSink(str(tmp_path), ".txt", lambda d: F.concat(F.lit("a"), F.col("s")))
    b = LineSink(str(tmp_path), ".txt", lambda d: F.concat(F.lit("b"), F.col("s")))
    assert write_lines(df, [a, b]) == 100
    want = sorted(f"{k}{i}".encode() for k in "ab" for i in range(100))
    assert [ln for ln in _lines(str(tmp_path)) if ln] == want
    # a second call appends next to the first call's files, never over them
    first = set(glob.glob(os.path.join(tmp_path, "part-*")))
    assert write_lines(df, [a]) == 100
    assert first < set(glob.glob(os.path.join(tmp_path, "part-*")))
    want = sorted(want + [f"a{i}".encode() for i in range(100)])
    assert [ln for ln in _lines(str(tmp_path)) if ln] == want


def test_failing_line_leaves_no_file_in_any_forwarder(spark, tmp_path, small_arrow_batches):
    df = spark.range(0, 6000, numPartitions=2).select(
        F.col("id").cast("string").alias("metric"),
        F.col("id").cast("double").alias("value"),
        F.timestamp_seconds(F.col("id")).alias("ts"),
    )
    bad = LineSink(
        str(tmp_path / "bad"),
        ".txt",
        # fails late in the partition, after earlier Arrow batches of
        # every sink have been staged
        lambda d: F.when(F.col("value") == 5900, F.raise_error(F.lit("boom"))).otherwise(
            F.col("metric")
        ),
    )
    sinks = [csv_sink(str(tmp_path / "csv")), carbon_sink(str(tmp_path / "carbon")), bad]
    with pytest.raises(Exception, match="boom"):
        write_lines(df, sinks)
    for d in ("csv", "carbon", "bad"):
        path = str(tmp_path / d)
        assert glob.glob(os.path.join(path, "part-*")) == []
        assert _hidden(path) == []


def test_pipeline_batch_is_one_job_and_caches_nothing(spark, tmp_path):
    """A build_pipeline micro-batch with the three built-in forwarders
    runs exactly one Spark job in the query's job group and leaves no
    persisted RDD."""
    from metricproxy_spark.plans import build_pipeline

    src = tmp_path / "carbon_in"
    src.mkdir()
    lines = [f"servers.h{i % 5}.cpu {i}.5 {1700000000 + i}" for i in range(500)]
    (src / "part-0.txt").write_text("\n".join(lines) + "\n")
    out = tmp_path / "out"
    pipe = build_pipeline(
        spark,
        {
            "ListenFrom": [{"Type": "carbon", "Source": str(src)}],
            "ForwardTo": [
                {"Type": t, "Path": str(out / t)} for t in ("csv", "carbon", "signalfx")
            ],
        },
    )
    jsc = spark.sparkContext._jsc
    cached_before = jsc.getPersistentRDDs().size()
    (query,) = pipe.start(str(tmp_path / "ckpt"))
    query.awaitTermination()
    batches = [p for p in query.recentProgress if p["numInputRows"] > 0]
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId))
    assert len(batches) == 1
    assert len(jobs) == 1, jobs
    assert jsc.getPersistentRDDs().size() == cached_before
    assert pipe.stats["datapoints_in"] == 500
    for t in ("csv", "carbon", "signalfx"):
        assert pipe.stats[f"sink.{t}.datapoints"] == 500
        assert len(_lines(str(out / t))) == 501  # + the final newline's empty tail
    assert _lines(str(out / "carbon"))[1:] == sorted(ln.encode() for ln in lines)


def test_independent_line_sinks_count_without_a_second_scan(spark, tmp_path):
    """In per-sink mode a line forwarder's count is the row count its
    write returns: each query runs one job per batch, not write + count."""
    from metricproxy_spark.streaming.pipeline import ProxyPipeline, SinkSpec
    from metricproxy_spark.streaming.source import read_stream_table

    src = str(tmp_path / "src")
    spark.range(0, 300, numPartitions=1).select(
        F.concat(F.lit("m."), (F.col("id") % 3).cast("string")).alias("metric"),
        F.col("id").cast("double").alias("value"),
        F.timestamp_seconds(F.col("id") + 1700000000).alias("ts"),
    ).write.parquet(src)
    pipe = ProxyPipeline(
        source=read_stream_table(spark, src),
        sinks=[
            SinkSpec("csv", csv_sink(str(tmp_path / "csv"))),
            SinkSpec("signalfx", signalfx_sink(path=str(tmp_path / "sfx"))),
        ],
    )
    tracker = spark.sparkContext.statusTracker()
    for query in pipe.start(str(tmp_path / "ckpt"), independent=True):
        query.awaitTermination()
        batches = [p for p in query.recentProgress if p["numInputRows"] > 0]
        assert len(batches) == 1
        assert len(tracker.getJobIdsForGroup(str(query.runId))) == 1
    assert pipe.stats == {"sink.csv.datapoints": 300, "sink.signalfx.datapoints": 300}
    for d in ("csv", "sfx"):
        assert len([ln for ln in _lines(str(tmp_path / d)) if ln]) == 300


def test_line_sink_beside_a_generic_writer_needs_no_count_job(spark, tmp_path):
    """With a line forwarder and a generic writer on one pipeline, the
    line write's row count is the batch's: the pipeline runs that one
    write job beside the writer's own jobs (no count job), both sinks
    get the same count, and the batch's cache is released."""
    from metricproxy_spark.streaming.pipeline import ProxyPipeline, SinkSpec
    from metricproxy_spark.streaming.source import read_stream_table

    src = str(tmp_path / "src")
    spark.range(0, 300, numPartitions=1).select(
        F.concat(F.lit("m."), (F.col("id") % 3).cast("string")).alias("metric"),
        F.col("id").cast("double").alias("value"),
        F.timestamp_seconds(F.col("id") + 1700000000).alias("ts"),
    ).write.parquet(src)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    seen: list[float] = []
    writer_jobs: set[int] = set()

    def collecting(df, batch_id):
        group = sc.getLocalProperty("spark.jobGroup.id")
        before = set(tracker.getJobIdsForGroup(group))
        seen.extend(r.value for r in df.select("value").collect())
        writer_jobs.update(set(tracker.getJobIdsForGroup(group)) - before)

    pipe = ProxyPipeline(
        source=read_stream_table(spark, src),
        sinks=[
            SinkSpec("csv", csv_sink(str(tmp_path / "csv"))),
            SinkSpec("collect", collecting),
        ],
    )
    jsc = sc._jsc
    cached_before = jsc.getPersistentRDDs().size()
    (query,) = pipe.start(str(tmp_path / "ckpt"))
    query.awaitTermination()
    batches = [p for p in query.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 1
    jobs = tracker.getJobIdsForGroup(str(query.runId))
    assert writer_jobs and len(jobs) == 1 + len(writer_jobs), (jobs, writer_jobs)
    assert jsc.getPersistentRDDs().size() == cached_before
    assert sorted(seen) == [float(i) for i in range(300)]
    assert pipe.stats == {
        "datapoints_in": 300,
        "sink.csv.datapoints": 300,
        "sink.collect.datapoints": 300,
    }
    assert len([ln for ln in _lines(str(tmp_path / "csv")) if ln]) == 300


def test_split_output_files_keep_every_line(spark, tmp_path):
    """With maxRecordsPerFile a task writes several files per sink; each
    keeps its own name."""
    key = "spark.sql.files.maxRecordsPerFile"
    prev = spark.conf.get(key)
    spark.conf.set(key, "30")
    try:
        df = spark.range(0, 200, numPartitions=2).select(F.col("id").cast("string").alias("s"))
        sinks = [
            LineSink(str(tmp_path / k), ".txt", lambda d, k=k: F.concat(F.lit(k), F.col("s")))
            for k in "ab"
        ]
        assert write_lines(df, sinks) == 200
    finally:
        spark.conf.set(key, prev)
    for k in "ab":
        path = str(tmp_path / k)
        assert len(glob.glob(os.path.join(path, "part-*"))) >= 8
        assert [ln for ln in _lines(path) if ln] == sorted(f"{k}{i}".encode() for i in range(200))


def test_awkward_forwarder_directory(spark, tmp_path):
    root = tmp_path / "sp ace [b] {c,d} 100% a:b k=v * ? #frag"
    df = spark.range(0, 50, numPartitions=2).select(F.col("id").cast("string").alias("s"))
    sinks = [
        LineSink(str(root / "a"), ".txt", lambda d: F.concat(F.lit("a"), F.col("s"))),
        LineSink(str(root / "b=1"), ".csv", lambda d: F.concat(F.lit("b"), F.col("s"))),
    ]
    assert write_lines(df, sinks) == 50
    for k, d in (("a", "a"), ("b", "b=1")):
        path = str(root / d)
        # read by listing: the directory name is not a safe glob pattern
        data = b"".join(
            open(os.path.join(path, f), "rb").read()
            for f in os.listdir(path)
            if f.startswith("part-")
        )
        assert sorted(data.split()) == sorted(f"{k}{i}".encode() for i in range(50))
        assert os.path.exists(os.path.join(path, "_SUCCESS"))
        assert _hidden(path) == []
    assert sorted(os.listdir(root)) == ["a", "b=1"]


def test_sinks_on_two_filesystems_are_refused(spark, tmp_path):
    if not os.path.isdir("/dev/shm") or os.stat("/dev/shm").st_dev == os.stat(tmp_path).st_dev:
        pytest.skip("needs /dev/shm on its own filesystem")
    other = tempfile.mkdtemp(dir="/dev/shm")
    try:
        df = spark.range(0, 10).select(F.col("id").cast("string").alias("s"))
        sinks = [
            LineSink(str(tmp_path / "local"), ".txt", lambda d: F.col("s")),
            LineSink(os.path.join(other, "shm"), ".txt", lambda d: F.col("s")),
        ]
        with pytest.raises(ValueError, match="shm"):
            write_lines(df, sinks)
        assert os.listdir(tmp_path / "local") == []
        assert os.listdir(os.path.join(other, "shm")) == []
    finally:
        shutil.rmtree(other)
