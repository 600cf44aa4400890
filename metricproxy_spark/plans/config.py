"""ProxyConfig → Structured Streaming plan.

Reference config shape [P: config/config.go — ProxyConfig]:

    {
      "ListenFrom": [ {"Type": "carbon", "ListenAddr": ...,
                       "MetricDeconstructor": "commakeys"} , ... ],
      "ForwardTo":  [ {"Type": "signalfx", "DefaultAuthToken": ...,
                       "BufferSize": ..., "DrainingThreads": ...}, ... ]
    }

One listener in the reference is a network server; here it is a
streaming source directory (the file source is the testable stand-in —
a Kafka topic drops in the same slot in production). Each ``Type`` is
declared once, as the row of :data:`LISTENERS` that gives both its
stream and its server. A ``ListenAddr`` binds a real server that spools into
that directory: HTTP for signalfx, a line socket for carbon, statsd
and influx (TCP, or ``Protocol``); parquet has no server, so it takes
none. Every server is built before any starts. A spool listener reads
through one ``spark.readStream`` reader built per spec: signalfx
through :func:`~metricproxy_spark.streaming.httplistener.http_spool`,
carbon, statsd and influx through
:func:`~metricproxy_spark.streaming.socketlistener.line_spool`.
``MaxFilesPerTrigger`` sets ``maxFilesPerTrigger`` for every type,
parquet included. Every listener's
output is normalized to the canonical datapoint schema (§2.2) before
the fan-out, exactly the reference's single in-memory datapoint model.
All ForwardTo entries receive all datapoints (demux F1); nothing is
shed. ``BufferSize`` and ``DrainingThreads`` load but have no effect,
and :func:`build_pipeline` warns once per key present. The spool is
the buffer: a datapoint is acked and on disk before the pipeline
reads it, so shedding would discard acked data. A forwarder writes
with one task per partition of the micro-batch, so its write
parallelism is the source's split count.
"""

from __future__ import annotations

import json
import warnings
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamReader

from metricproxy_spark.sources.carbon import (
    commakeys_deconstruct,
    parse_carbon_lines,
)
from metricproxy_spark.streaming.httplistener import (
    HttpIngestListener,
    SpoolServer,
    http_spool,
)
from metricproxy_spark.streaming.pipeline import ProxyPipeline, SinkSpec
from metricproxy_spark.streaming.sinks import (
    carbon_sink,
    csv_sink,
    signalfx_sink,
)
from metricproxy_spark.streaming.socketlistener import (
    LineSocketListener,
    line_spool,
)
from metricproxy_spark.streaming.source import read_stream_table

CANONICAL_COLS = (
    "metric",
    "value",
    "value_str",
    "ts",
    "metric_type",
    "dimensions",
    "meta",
)


def load_config(path_or_dict: str | dict[str, Any]) -> dict[str, Any]:
    """Parse the JSON config (path or pre-parsed dict) [P: config.Load]."""
    if isinstance(path_or_dict, dict):
        cfg = path_or_dict
    else:
        with open(path_or_dict) as f:
            cfg = json.load(f)
    for key in ("ListenFrom", "ForwardTo"):
        if key not in cfg:
            raise ValueError(f"config missing {key!r}")
    if not cfg["ListenFrom"]:
        raise ValueError("config 'ListenFrom' lists no listener")
    return cfg


def _canonicalize(df: DataFrame) -> DataFrame:
    cols = set(df.columns)
    out = df
    if "value_str" not in cols:
        out = out.withColumn("value_str", F.lit(None).cast("string"))
    if "metric_type" not in cols:
        out = out.withColumn("metric_type", F.lit("gauge"))
    if "dimensions" not in cols:
        out = out.withColumn(
            "dimensions", F.expr("map()").cast("map<string,string>")
        )
    if "meta" not in cols:
        out = out.withColumn(
            "meta", F.expr("map()").cast("map<string,string>")
        )
    return out.select(*CANONICAL_COLS)


def _carbon(
    spark: SparkSession, reader: DataStreamReader, spec: dict[str, Any]
) -> DataFrame:
    parsed = parse_carbon_lines(line_spool(reader, spec["Source"]))
    decon = spec.get("MetricDeconstructor", "identity")
    if decon == "commakeys":
        return commakeys_deconstruct(parsed, "metric")
    if decon != "identity":
        raise ValueError(f"unknown MetricDeconstructor {decon!r}")
    return parsed


def _parquet(
    spark: SparkSession, reader: DataStreamReader, spec: dict[str, Any]
) -> DataFrame:
    # pre-normalized datapoints (the internal replay/loopback path); the
    # stream needs the schema of the staged files, so it builds its own
    # reader with the same bound
    return read_stream_table(
        spark, spec["Source"], spec.get("MaxFilesPerTrigger")
    )


def _signalfx(
    spark: SparkSession, reader: DataStreamReader, spec: dict[str, Any]
) -> DataFrame:
    # The reference's HTTP front door [P: signalfxlistener.go].
    from metricproxy_spark.sources.signalfx import parse_sfx_v2_json

    requests = http_spool(reader, spec["Source"])
    parsed = parse_sfx_v2_json(requests, body_col="body")
    return parsed.select("metric", "value", "ts", "metric_type", "dimensions")


def _statsd(
    spark: SparkSession, reader: DataStreamReader, spec: dict[str, Any]
) -> DataFrame:
    # statsd lines carry no timestamp — points are stamped at
    # processing time, the statsd-server contract.
    from metricproxy_spark.sources.statsd import parse_statsd_lines

    lines = line_spool(reader, spec["Source"]).select("line")
    parsed = parse_statsd_lines(lines)
    mtype_map = (
        F.when(F.col("mtype") == "g", "gauge")
        .when(F.col("mtype") == "ms", "gauge")
        .when(F.col("mtype") == "c", "count")
        .otherwise("count")  # sets report as counts of members
    )
    return parsed.select(
        F.col("name").alias("metric"),
        F.col("scaled").cast("double").alias("value"),
        F.when(F.col("mtype") == "s", F.col("raw_val")).alias("value_str"),
        F.current_timestamp().alias("ts"),
        mtype_map.alias("metric_type"),
    )


def _influx(
    spark: SparkSession, reader: DataStreamReader, spec: dict[str, Any]
) -> DataFrame:
    # the ns wire timestamp truncates to the canonical µs timestamp and
    # tags ride the dimensions map
    from metricproxy_spark.sources.influx import parse_influx_lines

    lines = line_spool(reader, spec["Source"]).select("line")
    typed = parse_influx_lines(lines)
    return typed.select(
        F.col("measurement").alias("metric"),
        F.col("val").alias("value"),
        F.expr("timestamp_micros(ts_ns div 1000)").alias("ts"),
        F.lit("gauge").alias("metric_type"),
        F.map_from_arrays(
            F.array(F.lit("host"), F.lit("region")),
            F.array("host", "region"),
        ).alias("dimensions"),
    )


def _line_server(
    spec: dict[str, Any], host: str, port: int
) -> LineSocketListener:
    mode = spec.get("Protocol", "tcp").lower()
    return LineSocketListener(spec["Source"], mode, host, port)


def _http_server(
    spec: dict[str, Any], host: str, port: int
) -> HttpIngestListener:
    return HttpIngestListener(spec["Source"], host, port)


# Each ListenFrom Type, declared once: its stream from the spec's
# reader, and the server a ListenAddr binds (None: it takes none).
LISTENERS = {
    "carbon": (_carbon, _line_server),
    "statsd": (_statsd, _line_server),
    "influx": (_influx, _line_server),
    "signalfx": (_signalfx, _http_server),
    "parquet": (_parquet, None),
}


def _build_listener(
    spark: SparkSession, spec: dict[str, Any]
) -> tuple[DataFrame, SpoolServer | None]:
    """One ``ListenFrom`` entry: its canonical stream and, when it has a
    ``ListenAddr``, its unstarted server spooling into ``Source``."""
    ltype = spec["Type"].lower()
    if ltype not in LISTENERS:
        raise ValueError(f"unknown listener type {spec['Type']!r}")
    stream, make_server = LISTENERS[ltype]
    server = None
    if spec.get("ListenAddr"):
        if make_server is None:
            raise ValueError(f"a {ltype} listener takes no ListenAddr")
        host, _, port = spec["ListenAddr"].rpartition(":")
        server = make_server(spec, host or "127.0.0.1", int(port))
    # Source is a directory (file stream); a Kafka topic in production
    reader = spark.readStream
    if spec.get("MaxFilesPerTrigger"):
        reader = reader.option(
            "maxFilesPerTrigger", spec["MaxFilesPerTrigger"]
        )
    return _canonicalize(stream(spark, reader, spec)), server


def _build_sink(spec: dict[str, Any]) -> SinkSpec:
    stype = spec["Type"].lower()
    name = spec.get("Name", stype)
    path = spec["Path"]
    if stype == "csv":
        return SinkSpec(name, csv_sink(path))
    if stype == "carbon":
        return SinkSpec(name, carbon_sink(path, meta_col="meta"))
    if stype == "signalfx":
        return SinkSpec(name, signalfx_sink(path=path))
    raise ValueError(f"unknown forwarder type {spec['Type']!r}")


def build_pipeline(
    spark: SparkSession, config: str | dict[str, Any]
) -> ProxyPipeline:
    """Wire the full graph: union of all listeners → demux → all sinks.

    The reference runs one demultiplexer over the merged listener
    output [P: main.go]; ``unionByName`` over the canonical schema is
    that merge. Returns an un-started :class:`ProxyPipeline` — call
    ``run_available_now(checkpoint_dir)`` (drain mode) or ``start``.
    """
    cfg = load_config(config)
    listeners = [_build_listener(spark, s) for s in cfg["ListenFrom"]]
    source = listeners[0][0]
    for stream, _ in listeners[1:]:
        source = source.unionByName(stream)
    sinks = [_build_sink(s) for s in cfg["ForwardTo"]]
    for key, reason in (
        ("BufferSize", "the spool is the buffer; nothing accepted is dropped"),
        ("DrainingThreads", "write parallelism is the source's split count"),
    ):
        if any(key in fwd for fwd in cfg["ForwardTo"]):
            warnings.warn(f"ForwardTo {key} has no effect: {reason}", stacklevel=2)
    pipe = ProxyPipeline(source=source, sinks=sinks)
    # The caller owns the servers via pipe.live_listeners (stop() when
    # done). They start LAST, after every listener/sink spec has parsed
    # and every server is built, and are unwound on failure: a port the
    # Nth fails to bind must not leak the N-1 already-bound ports and
    # threads.
    pipe.live_listeners.extend(lis for _, lis in listeners if lis is not None)
    try:
        for lis in pipe.live_listeners:
            lis.start()
    except Exception:
        pipe.close_listeners()
        raise
    return pipe
