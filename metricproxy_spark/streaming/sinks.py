"""Forwarder-shaped sinks (SURVEY §3.2 K1–K3).

Each factory returns a ``BatchWriter`` for :class:`ProxyPipeline`.
File-backed forms are the test/driver surface; the SignalFx forwarder
takes an injectable ``transport`` so a real deployment can POST the
serialized payloads (the HTTP client itself is out of scope here — no
network in this environment).

The three file forwarders are line sinks (:class:`LineSink`): a
directory, a file suffix and the wire line of one row.
:func:`write_lines` delivers any number of them in ONE Spark job — one
JVM text write of a ``(sink, line)`` row per row and sink, partitioned
by sink into a hidden scratch tree under the first sink's directory —
and the driver then renames each sink's files into place. So the
pipeline fans a micro-batch out to all of its forwarders with a single
scan, no cache, no count job and no Python worker. Because the files
are moved by rename, all line sinks of one call must share a
filesystem.

Delivery semantics: ``foreachBatch`` is AT-LEAST-ONCE across restarts —
a batch whose source offsets were not yet committed replays with the
same ``batch_id`` (demonstrated in
tests/test_streaming.py::test_checkpoint_resume_idempotent_sink_exactly_once).
A failed :func:`write_lines` job publishes no file to any forwarder and
its scratch tree is removed; a driver crash between two renames can
still publish a subset, and leave the scratch tree behind. The
append-mode writers therefore match the reference forwarders'
at-least-once posture; for effective exactly-once, key the write by
``batch_id`` (e.g. write to ``{path}/batch={batch_id}`` with overwrite,
or an idempotent upsert) — the ProxyPipeline hands every writer the id
for exactly this purpose.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass
from typing import Callable, Iterable, Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from metricproxy_spark.sources.carbon import to_carbon_lines


@dataclass(frozen=True)
class LineSink:
    """A file forwarder that writes one text line per row: appends
    ``part-*{suffix}`` files holding ``line(df)`` under directory
    ``path``. A null line is written as an empty one, as Spark's text
    writer does. Calling it as ``(df, batch_id)`` delivers to this sink
    alone and returns the row count."""

    path: str
    suffix: str
    line: Callable[[DataFrame], Column]

    def __call__(self, df: DataFrame, batch_id: int) -> int:
        return write_lines(df, [self])


def write_lines(df: DataFrame, sinks: Sequence[LineSink]) -> int:
    """Append ``df`` to every sink of ``sinks`` in one Spark job; returns
    the row count.

    The job is one JVM text write: each row becomes one ``(sink,
    value)`` row per sink, written with ``partitionBy("sink")`` into a
    hidden scratch tree ``._writing_{id}`` under the first sink's
    directory, with the row count observed on the way. Then the driver
    moves each ``sink=i/part-*`` file into sink ``i``'s directory as
    ``part-{id}-{i}-{spark name}{suffix}`` (the Spark name keeps the
    task number and file counter, so names never collide), writes
    ``_SUCCESS`` and removes the scratch tree. Empty partitions write no
    file; a failed job publishes nothing.

    The moves are renames, so every sink directory must be on the first
    sink's filesystem; otherwise ``ValueError`` is raised before
    anything is written."""
    dirs = [os.path.abspath(s.path) for s in sinks]
    for d in dirs:
        os.makedirs(d, exist_ok=True)
    for s, d in zip(sinks, dirs):
        if os.stat(d).st_dev != os.stat(dirs[0]).st_dev:
            raise ValueError(
                f"line sink {s.path!r} is not on the filesystem of {dirs[0]!r}"
            )
    wid = uuid.uuid4().hex[:12]
    scratch = os.path.join(dirs[0], f"._writing_{wid}")
    rows = Observation()
    df = df.observe(rows, F.count(F.lit(1)).alias("rows"))
    try:
        df.select(
            F.inline(
                F.array(
                    *(
                        F.struct(F.lit(i).alias("sink"), s.line(df).alias("value"))
                        for i, s in enumerate(sinks)
                    )
                )
            )
        ).write.partitionBy("sink").text(scratch)
        for i, (s, d) in enumerate(zip(sinks, dirs)):
            staged = os.path.join(scratch, f"sink={i}")
            for name in os.listdir(staged) if os.path.isdir(staged) else ():
                if name.startswith("part-"):
                    spark_name = name.removeprefix("part-").removesuffix(".txt")
                    os.replace(
                        os.path.join(staged, name),
                        os.path.join(d, f"part-{wid}-{i}-{spark_name}{s.suffix}"),
                    )
        for d in dirs:
            open(os.path.join(d, "_SUCCESS"), "w").close()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return rows.get["rows"]


# to_csv handles these types itself; every other column is written as
# its string cast, like the maps of the canonical datapoint.
_CSV_NATIVE = (
    "string", "long", "integer", "double", "float", "boolean",
    "timestamp", "date", "short", "byte", "decimal",
)


def _col(name: str) -> Column:
    return F.col("`" + name.replace("`", "``") + "`")


def csv_sink(path: str) -> LineSink:
    """K3: CSV debug forwarder [P: protocol/csv/csvforwarder.go] — the
    reference appends one line per datapoint to a local file; here each
    micro-batch appends ``.csv`` part files with the lines Spark's own
    CSV writer produces (no header; same contract: every datapoint
    durably on disk, append-only)."""

    def line(df: DataFrame) -> Column:
        return F.to_csv(
            F.struct(
                *(
                    _col(f.name)
                    if f.dataType.typeName() in _CSV_NATIVE
                    else _col(f.name).cast("string")
                    for f in df.schema.fields
                )
            )
        )

    return LineSink(path, ".csv", line)


def carbon_sink(
    path: str,
    metric_col: str = "metric",
    value_col: str = "value",
    ts_col: str = "ts",
    meta_col: str | None = None,
) -> LineSink:
    """K2: carbon forwarder [P: protocol/carbon/carbonforwarder.go] —
    serializes datapoints back to graphite plaintext. Uses the C7
    raw-line passthrough when ``meta_col`` carries the original wire
    line (carbon→carbon byte fidelity), else rebuilds ``name value
    unix_ts``. Events are dropped, as in the reference."""

    def line(df: DataFrame) -> Column:
        return to_carbon_lines(
            df,
            metric_col=metric_col,
            value_col=value_col,
            value_str_col=(
                "value_str"
                if "value_str" in df.columns
                else F.lit(None).cast("string")
            ),
            epoch_col=F.unix_timestamp(F.col(ts_col)),
            meta_col=meta_col,
        )

    return LineSink(path, ".txt", line)


def _signalfx_line(df: DataFrame) -> Column:
    dims = (
        F.col("dimensions")
        if "dimensions" in df.columns
        else F.expr("map()").cast("map<string,string>")
    )
    return F.to_json(
        F.struct(
            F.col("metric").alias("metric"),
            F.col("value").alias("value"),
            dims.alias("dimensions"),
            # v2 wire carries MILLISECOND timestamps; unix_millis keeps
            # sub-second precision (unix_timestamp*1000 truncates to
            # whole seconds).
            F.unix_millis(F.col("ts")).alias("timestamp"),
        )
    )


def signalfx_sink(
    path: str | None = None,
    transport: Callable[[Iterable[str]], None] | None = None,
) -> Callable[[DataFrame, int], None]:
    """K1: SignalFx forwarder [P: protocol/signalfx/signalfxforwarder.go
    — AddDatapoints, datumForPoint]. Serializes each datapoint to the
    v2 JSON wire shape (metric/value/dimensions/timestamp-millis). With
    a ``transport``, hands payload lines to it partition-by-partition
    (the reference POSTs batches; partition-parallel posting is the F4
    "DrainingThreads" analog); otherwise returns a :class:`LineSink`
    appending JSON-lines ``.txt`` files under ``path``."""
    if transport is None:
        if path is None:
            raise ValueError("signalfx_sink needs a path or transport")
        return LineSink(path, ".txt", _signalfx_line)

    def write(df: DataFrame, batch_id: int) -> None:
        payload = df.select(_signalfx_line(df).alias("line"))

        def post(rows):
            transport([r.line for r in rows])

        payload.foreachPartition(post)

    return write


def upsert_sink(
    path: str,
    keys: list[str],
    seq_cols: list[str],
    delete_predicate=None,
) -> Callable[[DataFrame, int], None]:
    """MERGE-style keyed snapshot sink (CDC upsert): each micro-batch
    is collapsed to its last-writer-wins state per key and merged onto
    the previous snapshot; tombstones (rows matching
    ``delete_predicate``) remove their key.

    Exactly-once under foreachBatch's at-least-once replay: snapshots
    are versioned by ``batch_id`` (``{path}/snap_v{N}``) and batch N
    always merges onto the newest snapshot with version < N — a
    replayed batch recomputes the identical snapshot instead of
    double-applying. At warehouse scale the same contract is Delta's
    MERGE + idempotent txn; here it is plain parquet + deterministic
    versioning. Scale note: the merge shuffles once on the key; with
    the snapshot bucketed by key this becomes a co-located rewrite of
    changed buckets only.
    """

    def write(df: DataFrame, batch_id: int) -> None:
        from metricproxy_spark.operators.cdc import (
            latest_snapshot,
            merge_upsert,
        )

        os.makedirs(path, exist_ok=True)
        versions = sorted(
            int(d.rsplit("_v", 1)[1])
            for d in os.listdir(path)
            if d.startswith("snap_v")
        )
        prior = [v for v in versions if v < batch_id]
        # Keep tombstone rows as within-batch winners here — they must
        # survive to the merge to delete base keys.
        batch_latest = latest_snapshot(df, keys, seq_cols)
        if prior:
            base = df.sparkSession.read.parquet(
                os.path.join(path, f"snap_v{prior[-1]}")
            )
            merged = merge_upsert(
                base, batch_latest, keys, seq_cols, delete_predicate
            )
        elif delete_predicate is not None:
            merged = batch_latest.filter(~delete_predicate)
        else:
            merged = batch_latest
        merged.write.mode("overwrite").parquet(
            os.path.join(path, f"snap_v{batch_id}")
        )

    return write


def read_latest_snapshot(spark, path: str) -> DataFrame | None:
    """Newest snapshot an :func:`upsert_sink` has produced, or None."""
    if not os.path.exists(path):
        return None
    versions = sorted(
        int(d.rsplit("_v", 1)[1])
        for d in os.listdir(path)
        if d.startswith("snap_v")
    )
    if not versions:
        return None
    return spark.read.parquet(os.path.join(path, f"snap_v{versions[-1]}"))


def count_rows_in_dir(spark, path: str, fmt: str = "csv") -> int:
    """Test helper: rows a sink has durably written so far."""
    if not os.path.exists(path):
        return 0
    if fmt == "csv":
        return spark.read.option("header", "false").csv(path).count()
    return spark.read.format(fmt).load(path).count()
