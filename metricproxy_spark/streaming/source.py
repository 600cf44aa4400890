"""Streaming sources (SURVEY §3.1 S1–S6 in Spark form).

The reference's listeners are network servers; in Spark the idiomatic
equivalents are the built-in streaming sources. For reproducible tests
and driver runs we use the *file* source over staged parquet: it gives
deterministic replay, ordered micro-batches via ``maxFilesPerTrigger``,
and exactly-once semantics with checkpoints — the properties the
reference gets from TCP accept + bounded buffers. A live socket is
served by the listeners in ``httplistener`` and ``socketlistener``,
which spool into a directory that the same file sources replay; the
``rate`` source is a synthetic load for soak tests.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession

from metricproxy_spark.io import load_table


def stage_stream_source(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    out_dir: str,
    num_files: int = 1,
    order_col: str | None = None,
    copies: int = 1,
) -> str:
    """Materialize a testdata table as a file-stream source directory.

    - ``num_files`` > 1 with ``order_col``: range-split the table into
      that many files whose modification times increase with the range,
      so ``maxFilesPerTrigger=1`` replays micro-batches in ``order_col``
      order — the deterministic stand-in for "the network delivered
      points roughly in time order".
    - ``copies`` > 1: write the data multiple times (planted duplicates
      for dedup tests; mirrors a client retrying a send).

    Returns ``out_dir``. Also normalizes the events nanos timestamp on
    the way through (load_table does it), so streamed schemas match the
    batch schemas used by the oracles.
    """
    df = load_table(spark, sf_dir, table)
    os.makedirs(out_dir, exist_ok=True)
    seq = 0
    if order_col is None or num_files == 1:
        for c in range(copies):
            path = os.path.join(out_dir, f"part_{seq:04d}")
            df.coalesce(1).write.mode("overwrite").parquet(path)
            _bump_mtimes(path, seq)
            seq += 1
        return out_dir
    # Range-split in ONE write job per copy: repartitionByRange gives
    # contiguous, ordered ranges (partition i's keys all <= partition
    # i+1's; equal keys never split), and the writer emits the range
    # files as part-0000N in partition order — the exact property the
    # old per-range filter loop bought with an approxQuantile probe
    # plus num_files separate write jobs (measured ~0.5 s/job of pure
    # staging overhead). Explicit numPartitions is never coalesced by
    # AQE, so the file count is pinned.
    from pyspark.sql import functions as F

    for c in range(copies):
        path = os.path.join(out_dir, f"ranged_{c:04d}")
        df.repartitionByRange(num_files, F.col(order_col)).write.mode(
            "overwrite"
        ).parquet(path)
        _bump_part_file_mtimes(path, base_seq=c * num_files)
        seq += num_files
    return out_dir


def _bump_mtimes(path: str, seq: int) -> None:
    """File source orders files by modification time; make it explicit
    (same-second writes would otherwise tie-break arbitrarily)."""
    base = time.time() - 10_000
    for root, _dirs, files in os.walk(path):
        for f in files:
            os.utime(os.path.join(root, f), (base + seq, base + seq))


def _bump_part_file_mtimes(path: str, base_seq: int = 0) -> None:
    """Per-FILE mtime bump for a single ranged write: part-00000 <
    part-00001 < ... by filename is the range order, so replay order
    (file-source mtime sort) must follow it."""
    base = time.time() - 10_000
    parts = sorted(
        f
        for f in os.listdir(path)
        if not f.startswith(("_", ".")) and f.endswith(".parquet")
    )
    for i, f in enumerate(parts):
        t = base + base_seq + i
        os.utime(os.path.join(path, f), (t, t))


def rate_datapoints(
    spark: SparkSession,
    rows_per_second: int = 1000,
    num_partitions: int = 4,
) -> DataFrame:
    """Synthetic live stream in canonical datapoint shape, from the
    built-in ``rate`` source — the zero-dependency stand-in for a real
    listener when demoing latency/throughput (each row: a gauge point
    whose value is its sequence number). Useful for soak-testing a
    ProxyPipeline without staged files; unbounded, so drive it with a
    processing-time trigger and stop explicitly."""
    from pyspark.sql import functions as F

    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .option("numPartitions", str(num_partitions))
        .load()
    )
    return rate.select(
        F.concat(
            F.lit("rate.metric."), (F.col("value") % 10).cast("string")
        ).alias("metric"),
        F.col("value").cast("double").alias("value"),
        F.lit(None).cast("string").alias("value_str"),
        F.col("timestamp").alias("ts"),
        F.lit("gauge").alias("metric_type"),
        F.create_map(
            F.lit("source"), F.lit("rate")
        ).alias("dimensions"),
        F.create_map().cast("map<string,string>").alias("meta"),
    )


def read_stream_table(
    spark: SparkSession,
    src_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream reader with the schema inferred from the staged data
    (streaming sources require an explicit schema; we take it from a
    batch read of the same directory — cheap, footer-only)."""
    schema = spark.read.option("recursiveFileLookup", "true").parquet(
        src_dir
    ).schema
    reader = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_dir)
