"""The proxy pipeline: demultiplex, count, drain (F1–F7).

Reference shape [P: protocol/demultiplexer/demultiplexer.go —
Demultiplexer.AddDatapoints; dp/dpbuffered/bufferedforwarder.go —
BufferedForwarder; main.go — setupForwarders]:

    listener → counter middleware → demultiplexer → per-sink
    bounded buffer → N drain goroutines → forwarder

Spark mapping implemented here:

- **Fan-out (F1)**: one ``foreachBatch`` hands the micro-batch to
  every sink — one source scan per batch regardless of sink count,
  exactly the demultiplexer's "loop over sinks" with the slice shared.
  :meth:`ProxyPipeline._deliver` is the one place a batch reaches its
  sinks. The line forwarders
  (:class:`~metricproxy_spark.streaming.sinks.LineSink`) are written
  together by one :func:`~metricproxy_spark.streaming.sinks.write_lines`
  job — a JVM text write partitioned by sink, whose observed row count
  is the batch's count — so a batch served only by them is ONE Spark
  job: no persist, no count job, no Python worker. A generic writer
  reads the slice again; then the batch is persisted once, every sink
  reads the cache, and the cache is released before the next batch.
- **Counters (A1/F7)**: ``_deliver`` is the one counter path. It adds
  each batch's row count to ``datapoints_in`` and to every
  ``sink.<name>.datapoints`` on the driver (``foreachBatch`` runs
  there, once per batch, however long the run) — the analog of the
  proxy's atomic ``TotalDatapoints`` counters, readable at any time in
  :attr:`ProxyPipeline.stats`. The count itself is the ``Observation``
  that :func:`~metricproxy_spark.streaming.sinks.write_lines` attaches
  to its write, so counting costs no job of its own.
- **No load shedding (F2)**: the reference *drops* datapoints past
  ``BufferSize`` so that a slow forwarder never blocks its listener.
  Here the spool already decouples the listener from the pipeline, and
  Spark's backpressure is pull-based (a slow sink slows the trigger),
  so the pipeline delivers every row the source hands it: dropping
  would only discard acked, durable datapoints. Overload is for the
  front door to refuse, and a bound on intake per trigger belongs to
  the source (e.g. the file source's ``maxFilesPerTrigger``).
- **Per-sink isolation (F5)**: ``independent=True`` starts one
  streaming query per sink, each with its own checkpoint subdir and
  trigger, each delivering through the same ``_deliver`` — a slow sink
  then only delays itself (the buffered-forwarder property). The
  default shared-batch mode matches the reference's synchronous demux
  instead.
- **Graceful drain (F6)**: ``run_available_now`` = flush the live
  listeners' buffers (``seal``), process everything, then stop — the
  SIGTERM drain path.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from functools import partial
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from metricproxy_spark.streaming.sinks import LineSink, write_lines

BatchWriter = Callable[[DataFrame, int], None]


@dataclass
class SinkSpec:
    """A named terminal for the fan-out; ``writer`` receives each
    (batch_df, batch_id) — the ``dpsink.Sink.AddDatapoints`` analog.

    ``lines`` is the :class:`LineSink` a line-forwarder spec was built
    with. The pipeline delivers through it rather than ``writer``, so
    replacing ``writer`` afterwards (e.g. with a timing wrapper) does not
    change how the batch is written."""

    name: str
    writer: BatchWriter
    lines: LineSink | None = field(init=False)

    def __post_init__(self) -> None:
        self.lines = self.writer if isinstance(self.writer, LineSink) else None


@dataclass
class ProxyPipeline:
    source: DataFrame
    sinks: list[SinkSpec] = field(default_factory=list)
    stats: dict[str, int] = field(default_factory=dict)
    # live network endpoints feeding this pipeline's sources (e.g. the
    # HTTP ingest listener a config's ListenAddr starts); owned by the
    # caller — see close_listeners()
    live_listeners: list = field(default_factory=list)

    def close_listeners(self) -> None:
        """Stop every live network endpoint attached by build_pipeline
        (idempotent; drain the stream first for exactly-once intake)."""
        for lis in self.live_listeners:
            lis.stop()

    def _count(self, key: str, n: int) -> None:
        self.stats[key] = self.stats.get(key, 0) + n

    def _deliver(
        self, sinks: list[SinkSpec], batch: DataFrame, batch_id: int
    ) -> int:
        """Hand ``batch`` to every sink of ``sinks``; returns its row
        count, which each sink's counter gets.

        The line sinks are written by one :func:`write_lines` job whose
        observed row count is the batch's. A generic writer reads the
        batch again, so then the batch is persisted first (and counted
        by a job of its own if no line sink counts it), and unpersisted
        when every sink has it."""
        lines = [s.lines for s in sinks if s.lines is not None]
        writers = [s for s in sinks if s.lines is None]
        if writers:
            batch = batch.persist()
        try:
            n = write_lines(batch, lines) if lines else batch.count()
            for sink in writers:
                sink.writer(batch, batch_id)
        finally:
            if writers:
                batch.unpersist()
        for sink in sinks:
            self._count(f"sink.{sink.name}.datapoints", n)
        return n

    def _process_batch(self, batch: DataFrame, batch_id: int) -> None:
        self._count("datapoints_in", self._deliver(self.sinks, batch, batch_id))

    def start(
        self,
        checkpoint_dir: str,
        independent: bool = False,
        available_now: bool = True,
        processing_time: str | None = None,
    ) -> list[StreamingQuery]:
        """Start the pipeline; returns the running queries (one in
        shared mode, one per sink in independent mode).

        ``available_now=True`` (default) drains and stops (F6);
        ``available_now=False`` runs continuously on a
        ``processing_time`` trigger (default "5 seconds") — the daemon
        mode `serve` uses."""

        def start_query(batch_fn, name: str) -> StreamingQuery:
            writer = self.source.writeStream.foreachBatch(batch_fn).option(
                "checkpointLocation", os.path.join(checkpoint_dir, name)
            )
            if available_now:
                writer = writer.trigger(availableNow=True)
            else:
                writer = writer.trigger(
                    processingTime=processing_time or "5 seconds"
                )
            return writer.start()

        if not independent:
            return [start_query(self._process_batch, "demux")]
        return [
            start_query(partial(self._deliver, [sink]), f"sink_{sink.name}")
            for sink in self.sinks
        ]

    def run_available_now(self, checkpoint_dir: str, independent: bool = False) -> dict[str, int]:
        """Seal the live listeners, drain everything now available and
        stop (F6); returns the counter snapshot."""
        for lis in self.live_listeners:
            lis.seal()
        for q in self.start(checkpoint_dir, independent=independent):
            q.awaitTermination()
        return dict(self.stats)
