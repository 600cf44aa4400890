"""The proxy pipeline: demultiplex, buffer, count, drain (F1–F7).

Reference shape [P: protocol/demultiplexer/demultiplexer.go —
Demultiplexer.AddDatapoints; dp/dpbuffered/bufferedforwarder.go —
BufferedForwarder; main.go — setupForwarders]:

    listener → counter middleware → demultiplexer → per-sink
    bounded buffer → N drain goroutines → forwarder

Spark mapping implemented here:

- **Fan-out (F1)**: one ``foreachBatch`` hands the micro-batch to
  every sink — one source scan per batch regardless of sink count,
  exactly the demultiplexer's "loop over sinks" with the slice shared.
  The line forwarders (:class:`~metricproxy_spark.streaming.sinks.LineSink`)
  are written together by one
  :func:`~metricproxy_spark.streaming.sinks.write_lines` job — a JVM
  text write partitioned by sink, whose observed row count feeds the
  counters — so a batch served only by them is ONE Spark job: no
  persist, no count job, no Python worker. Generic writers, or load shedding,
  need the slice more than once; then the batch is persisted once,
  counted, and every sink reads the cache.
- **Counters (A1/F7)**: per-batch, per-sink row counts accumulated
  driver-side (``foreachBatch`` runs on the driver) — the analog of the
  proxy's atomic ``TotalDatapoints`` counters, readable at any time in
  :attr:`ProxyPipeline.stats`. The source's own row count rides each
  batch as an ``observe`` metric, folded by a ``StreamingQueryListener``
  (every progress event, however long the run) into
  ``observed_datapoints``.
- **Load shedding (F2)**: the reference *drops* datapoints past
  ``BufferSize`` rather than block the listener. Spark's backpressure
  is pull-based (a slow sink slows the trigger, nothing is lost), so
  shedding is opt-in emulation: ``max_batch_rows`` caps each
  micro-batch with ``limit`` and counts the dropped remainder —
  semantics documented as *approximate* (drop choice is arbitrary,
  like the reference's "whatever overflowed").
- **Per-sink isolation (F5)**: ``independent=True`` starts one
  streaming query per sink, each with its own checkpoint subdir and
  trigger — a slow sink then only delays itself (the buffered-forwarder
  property). The default shared-batch mode matches the reference's
  synchronous demux instead.
- **Graceful drain (F6)**: ``run_available_now`` = flush the live
  listeners' buffers (``seal``), process everything, then stop — the
  SIGTERM drain path.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener

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


OBSERVATION_NAME = "proxy_stats"


class _ObservedDatapoints(StreamingQueryListener):
    """Sums the observed ``datapoints`` of every progress event per
    query id, and notes which queries ended. Unlike
    ``recentProgress``, which keeps only the last
    ``spark.sql.streaming.numRecentProgressUpdates`` events, it misses
    none."""

    def __init__(self) -> None:
        self._cond = threading.Condition()
        self._totals: dict[str, int] = {}
        self._ended: set[str] = set()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        om = event.progress.observedMetrics.get(OBSERVATION_NAME)
        if om is not None:  # a Row — index, don't .get
            key = str(event.progress.id)
            with self._cond:
                self._totals[key] = self._totals.get(key, 0) + int(
                    om["datapoints"]
                )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cond:
            self._ended.add(str(event.id))
            self._cond.notify_all()

    def take(self, query_id: str, ended: bool) -> int:
        """The datapoints not yet taken for ``query_id``. ``ended``: the
        query has stopped, so wait (bounded) for its last events, which
        reach listeners asynchronously."""
        with self._cond:
            if ended:
                self._cond.wait_for(lambda: query_id in self._ended, 30)
                self._ended.discard(query_id)
            return self._totals.pop(query_id, 0)


@dataclass
class ProxyPipeline:
    source: DataFrame
    transform: Callable[[DataFrame], DataFrame] | None = None
    sinks: list[SinkSpec] = field(default_factory=list)
    max_batch_rows: int | None = None
    stats: dict[str, int] = field(default_factory=dict)
    # live network endpoints feeding this pipeline's sources (e.g. the
    # HTTP ingest listener a config's ListenAddr starts); owned by the
    # caller — see close_listeners()
    live_listeners: list = field(default_factory=list)
    _observer: _ObservedDatapoints | None = field(default=None, init=False, repr=False)
    _observing: set[str] = field(default_factory=set, init=False, repr=False)

    def close_listeners(self) -> None:
        """Stop every live network endpoint attached by build_pipeline
        (idempotent; drain the stream first for exactly-once intake)."""
        for lis in self.live_listeners:
            lis.stop()

    def _count(self, key: str, n: int) -> None:
        self.stats[key] = self.stats.get(key, 0) + n

    def _observed_source(self) -> DataFrame:
        """A1 the Spark way: attach an ``observe`` to the source so
        every micro-batch reports row/value counters through
        ``StreamingQueryProgress.observedMetrics`` — the exact analog
        of the reference's lock-free stat counters read by the stats
        loop [P: golib dpsink/counter.go — Counter]. Zero extra jobs:
        metrics ride the batch's existing action."""
        from pyspark.sql import functions as F

        return self.source.observe(
            OBSERVATION_NAME,
            F.count(F.lit(1)).alias("datapoints"),
        )

    def drain_observed_metrics(self, query) -> dict[str, int]:
        """Fold the query's observed metrics into stats (call after
        awaitTermination; also usable live, then it folds what has
        been reported so far)."""
        if self._observer is None or query.id not in self._observing:
            return dict(self.stats)
        ended = not query.isActive
        total = self._observer.take(query.id, ended)
        if total:
            self.stats["observed_datapoints"] = (
                self.stats.get("observed_datapoints", 0) + total
            )
        if ended:
            self._observing.discard(query.id)
            if not self._observing:
                self.source.sparkSession.streams.removeListener(self._observer)
                self._observer = None
        return dict(self.stats)

    def _process_batch(self, batch: DataFrame, batch_id: int) -> None:
        df = self.transform(batch) if self.transform else batch
        lines = [s for s in self.sinks if s.lines is not None]
        writers = [s for s in self.sinks if s.lines is None]
        if lines and not writers and self.max_batch_rows is None:
            # Every sink is a line forwarder: one job writes them all and
            # its row count is the batch's.
            n = write_lines(df, [s.lines for s in lines])
            self._count("datapoints_in", n)
            for sink in lines:
                self._count(f"sink.{sink.name}.datapoints", n)
            return
        # Persist once, serve all sinks: the demultiplexer's shared
        # slice. Count via the persisted data (one job; sinks reuse).
        # Capture the persisted handle BEFORE the limit() shedding path
        # reassigns df, and unpersist that same handle — otherwise every
        # transformed micro-batch leaks its cached blocks for the life
        # of the stream (cache debt that eventually evicts/OOMs).
        persisted = df.persist()
        try:
            n = persisted.count()
            self._count("datapoints_in", n)
            if self.max_batch_rows is not None and n > self.max_batch_rows:
                # F2 emulation: shed everything past the cap, count it —
                # the buffered forwarder's drop-on-overflow.
                self._count("datapoints_dropped", n - self.max_batch_rows)
                df = persisted.limit(self.max_batch_rows)
                n = self.max_batch_rows
            if lines:
                write_lines(df, [s.lines for s in lines])
                for sink in lines:
                    self._count(f"sink.{sink.name}.datapoints", n)
            for sink in writers:
                sink.writer(df, batch_id)
                self._count(f"sink.{sink.name}.datapoints", n)
        finally:
            persisted.unpersist()

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

        def with_trigger(writer):
            if available_now:
                return writer.trigger(availableNow=True)
            return writer.trigger(
                processingTime=processing_time or "5 seconds"
            )

        if not independent:
            if self._observer is None:
                self._observer = _ObservedDatapoints()
                self.source.sparkSession.streams.addListener(self._observer)
            q = (
                with_trigger(
                    self._observed_source().writeStream.foreachBatch(
                        self._process_batch
                    ).option(
                        "checkpointLocation",
                        os.path.join(checkpoint_dir, "demux"),
                    )
                )
                .start()
            )
            self._observing.add(q.id)
            return [q]
        queries = []
        for sink in self.sinks:
            def per_sink(batch: DataFrame, batch_id: int, _s=sink) -> None:
                df = self.transform(batch) if self.transform else batch
                if _s.lines is not None:
                    n = write_lines(df, [_s.lines])
                else:
                    _s.writer(df, batch_id)
                    n = df.count()  # a second scan of the source
                self._count(f"sink.{_s.name}.datapoints", n)

            q = (
                with_trigger(
                    self.source.writeStream.foreachBatch(per_sink).option(
                        "checkpointLocation",
                        os.path.join(checkpoint_dir, f"sink_{sink.name}"),
                    )
                )
                .start()
            )
            queries.append(q)
        return queries

    def run_available_now(self, checkpoint_dir: str, independent: bool = False) -> dict[str, int]:
        """Seal the live listeners, drain everything now available and
        stop (F6); returns the counter snapshot."""
        for lis in self.live_listeners:
            lis.seal()
        for q in self.start(checkpoint_dir, independent=independent):
            q.awaitTermination()
            if not independent:
                self.drain_observed_metrics(q)
        return dict(self.stats)
