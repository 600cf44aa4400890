"""Structured Streaming surface (SURVEY §3.4 F1–F7, §3.7 T1–T8).

The reference proxy's runtime is a static dataflow: listeners decode
wire bytes into datapoints, a demultiplexer fans every slice out to all
configured forwarders, each forwarder buffers/batches/drains
concurrently, and an internal stats loop re-emits per-component
counters [P: main.go — setupForwarders, setupListeners;
protocol/demultiplexer/demultiplexer.go; dp/dpbuffered/
bufferedforwarder.go]. This package re-expresses that runtime on
Structured Streaming:

- listeners spool into a directory replayed by the file ``readStream``
  (``source``, ``httplistener``, ``socketlistener``)
- driver-side per-batch counts replace atomic counters (the line
  write's ``Observation`` is the batch count)
- ``foreachBatch`` replaces the demultiplexer: one job writes every
  line forwarder of a batch (a batch is persisted only for generic
  writers)
- per-sink checkpointed queries replace per-forwarder buffers
- watermarks/windows/stateful ops provide the T1–T6 surface the
  north star adds on top of the proxy semantics.
"""

from metricproxy_spark.streaming.pipeline import ProxyPipeline, SinkSpec
from metricproxy_spark.streaming.source import (
    read_stream_table,
    stage_stream_source,
)

__all__ = [
    "ProxyPipeline",
    "SinkSpec",
    "read_stream_table",
    "stage_stream_source",
]
