"""Live HTTP ingest listener (SURVEY §3.1 S2/S4/S6 live form + S7).

The reference's front door is a long-lived HTTP server: POST bodies
land on ``/v2/datapoint`` (JSON), ``/v1/datapoint``, ``/post-collectd``
and ``GET /healthz`` answers the load balancer
[P: protocol/signalfx/signalfxlistener.go — ListenAndServe,
signalfxlistener.go — healthz handler]. A Spark driver can host the
same front door: this module runs a real ``ThreadingHTTPServer`` that
ACCEPTS live network POSTs and terminates them into a spool directory
that the engine reads back:

- batch: ``spark.read.format("httpwire").option("path", spool)``
- streaming: :func:`http_spool_stream` (Spark's JSON file source).

**Spool format.** Each accepted request is decoded at the door —
gunzipped if ``Content-Encoding: gzip``, then UTF-8 with errors
replaced, exactly the ``httpwire`` rules — and written as ONE JSON
line ``{"method", "path", "query", "content_type", "body"}``
(:func:`metricproxy_spark.sources.httpwire.spool_line`). A gzip body
that does not decode is answered 400 and nothing is spooled.

**Ack, seal, visibility.** The line is appended to the listener's open
hidden segment before the 200 goes out, so an ack means the request is
in a file in the spool directory (not fsynced). Every
:data:`SEAL_INTERVAL_S` the segment is sealed: published as the next
``req_{seq:012d}.jsonl`` file, which readers then see. ``seal()``
publishes on demand, ``stop()`` seals, and
:meth:`~metricproxy_spark.streaming.pipeline.ProxyPipeline.run_available_now`
seals its listeners before it drains. Group commit keeps a trigger's
file count small (at most 16 files per 4 s trigger) without making
clients wait for a seal.

**Recovery.** ``start()`` resumes the sequence after the highest
``req_`` number of any suffix (older spools hold one ``*.http`` raw
request per file), and publishes the segments of listeners that died,
cut to their last complete line, so an acked request is never lost to
a process crash. A live listener's segment is held under ``flock`` and
never published by anyone else: listeners may share a directory. The
spool mechanics are :class:`metricproxy_spark.sources.spool.SegmentSpool`.

One body parser
(:func:`metricproxy_spark.sources.signalfx.parse_sfx_v2_json`, …)
serves socket bytes, staged files, and live HTTP identically.

Responses mirror the reference: ``"OK"`` for datapoint POSTs, plain
``OK`` for ``/healthz`` (S7), 404 otherwise. A POST must carry a
numeric ``Content-Length``: 411 when it is missing (chunked uploads
are not accepted), 400 when it is malformed, and nothing is spooled.
"""

from __future__ import annotations

import os
import threading
import zlib
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metricproxy_spark.sources.httpwire import (
    LINE_SCHEMA,
    decode_body,
    spool_line,
)
from metricproxy_spark.sources.spool import SegmentSpool, list_files

# How long an acked request may wait in the open segment before it is
# published: a 4 s trigger then lists at most 16 spool files.
SEAL_INTERVAL_S = 0.25

# sfx v2/v1 + collectd write_http + the OTLP/HTTP metrics binding
# + msgpack/cbor frames (base64 text bodies: the spool is string-typed)
INGEST_PATHS = (
    "/v2/datapoint",
    "/v1/datapoint",
    "/post-collectd",
    "/v1/metrics",
    "/v1/msgpack",
    "/v1/cbor",
    "/v1/gzip",
    "/v1/kafka",
    "/v1/zstd",
    "/api/v1/write",
)


def _read_body(handler: BaseHTTPRequestHandler) -> bytes | None:
    """The request body as its ``Content-Length`` header declares it.
    Answers 411 (header missing) or 400 (not a non-negative integer)
    and returns None, so a bad request is never read or acted on."""
    clen = handler.headers.get("Content-Length")
    if clen is None:
        handler.send_error(411)
        return None
    clen = clen.strip()
    if not (clen.isascii() and clen.isdigit()):
        handler.send_error(400, "malformed Content-Length")
        return None
    return handler.rfile.read(int(clen))


class _IngestHandler(BaseHTTPRequestHandler):
    # set per-server via a subclass attribute
    listener: "HttpIngestListener"

    def log_message(self, *_a) -> None:  # quiet; stats are counted
        pass

    def do_GET(self) -> None:  # S7 healthz
        if self.path.split("?")[0] == "/healthz":
            body = b"OK"
            self.send_response(200)
            self.send_header("Content-Type", "text/plain")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        else:
            self.send_error(404)

    def do_POST(self) -> None:
        path = self.path.split("?")[0]
        if path not in INGEST_PATHS:
            self.send_error(404)
            return
        body = _read_body(self)
        if body is None:
            return
        # Decode at the door by the httpwire rules; the last of a
        # repeated header wins, as in parse_http_request.
        headers = {k.strip().lower(): v.strip() for k, v in self.headers.items()}
        try:
            text = decode_body(body, headers.get("content-encoding", ""))
        except (OSError, EOFError, zlib.error):
            self.send_error(400, "undecodable gzip body")
            return
        line = spool_line(
            self.command, self.path, headers.get("content-type", ""), text
        )
        try:
            self.listener._accept(line)
        except OSError:
            self.send_error(503, "spool write failed")
            return
        resp = b'"OK"'
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(resp)))
        self.end_headers()
        self.wfile.write(resp)


class HttpIngestListener:
    """A live HTTP ingest endpoint spooling JSON-lines segments.

    >>> lis = HttpIngestListener(spool_dir)
    >>> host, port = lis.start()          # real TCP bind (port=0 = OS pick)
    >>> ... clients POST to http://host:port/v2/datapoint ...
    >>> lis.seal()                        # every acked request visible
    >>> lis.stop()                        # accept loop drained, sealed
    """

    def __init__(
        self, spool_dir: str, host: str = "127.0.0.1", port: int = 0
    ):
        self.spool_dir = spool_dir
        self.host, self.port = host, port
        self._spool = SegmentSpool(spool_dir, "req_", ".jsonl")
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        self._sealer: threading.Thread | None = None
        self._stopping = threading.Event()

    @property
    def accepted(self) -> int:
        return self._spool.appended

    def _accept(self, line: bytes) -> None:
        self._spool.append(line)
        if self._sealer is None:
            # a request that finished after stop() has no sealer left
            self._spool.seal()

    def seal(self) -> None:
        """Publish every request acked so far."""
        self._spool.seal()

    def _seal_periodically(self) -> None:
        while not self._stopping.wait(SEAL_INTERVAL_S):
            self._spool.seal()

    def start(self) -> tuple[str, int]:
        # A restarted listener appends after the existing spool files
        # and publishes what a dead one left unsealed.
        self._spool.resume()
        handler = type(
            "_BoundHandler", (_IngestHandler,), {"listener": self}
        )
        self._server = ThreadingHTTPServer(
            (self.host, self.port), handler
        )
        self.port = self._server.server_address[1]
        self._stopping.clear()
        self._sealer = threading.Thread(
            target=self._seal_periodically, daemon=True
        )
        self._sealer.start()
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self.host, self.port

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._thread.join(timeout=10)
            self._server = None
        if self._sealer is not None:
            self._stopping.set()
            self._sealer.join()
            self._sealer = None
        self._spool.seal()

    def __enter__(self) -> "HttpIngestListener":
        self.start()
        return self

    def __exit__(self, *_exc) -> None:
        self.stop()


def http_spool_stream(spark: SparkSession, spool_dir: str) -> DataFrame:
    """A request spool as a stream: one row per accepted request, with
    the ``httpwire`` columns — compose with the protocol parsers for a
    full live pipeline.

    A listener's spool (``*.jsonl`` segments) streams through Spark's
    JSON file source, so no Python worker runs on the read side. A
    directory that already holds ``*.http`` request files when the
    stream is planned is a hand-staged request directory and streams
    through ``httpwire``, which reads both formats."""
    if os.path.exists(spool_dir) and any(
        f.endswith(".http") for f in list_files(spool_dir)
    ):
        from metricproxy_spark.sources.httpwire import register_httpwire

        register_httpwire(spark)
        return (
            spark.readStream.format("httpwire")
            .option("path", spool_dir)
            .load()
        )
    # the file source refuses a missing directory
    os.makedirs(spool_dir, exist_ok=True)
    return (
        spark.readStream.schema(LINE_SCHEMA)
        .option("pathGlobFilter", "*.jsonl")
        # a body is one JSON string: lift Jackson's 20M-char cap
        .option("maxStringLen", 2**31 - 1)
        .json(spool_dir)
        .select(
            *LINE_SCHEMA.fieldNames(),
            F.col("_metadata.file_name").alias("src_file"),
        )
    )


class RemoteReadServer:
    """A LIVE prometheus remote-read SERVER (``POST /api/v1/read``).

    The query-side twin of the ingest listener above: where the ingest
    door ACCEPTS pushed samples, this door ANSWERS pull queries — a
    real ``ThreadingHTTPServer`` speaking the public remote-read
    protocol (prompb ReadRequest/ReadResponse over snappy-compressed
    protobuf, ``Content-Type: application/x-protobuf`` +
    ``Content-Encoding: snappy``), evaluating all four LabelMatcher
    types with PromQL semantics against a bounded in-memory series
    store (`sources/remote_read.py` owns codec + matcher logic).

    The store is SERIES-ROLLUP-sized by design (the bounded-model-
    state class, like k-means centroids): a production deployment
    shards many such replicas behind the same route while Spark stays
    the engine that builds their rollups. ``GET /healthz`` answers the
    load balancer like the ingest listener (S7).
    """

    def __init__(
        self,
        series: list,
        host: str = "127.0.0.1",
        port: int = 0,
    ):
        # [(labels_dict, [(value, ts_ms), ...]), ...]
        self.series = series
        self.host, self.port = host, port
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        self.served = 0

    def _answer(self, body: bytes) -> bytes:
        from metricproxy_spark.sources.remote_read import (
            decode_read_request_body,
            encode_read_response_body,
            matcher_accepts,
        )

        results = []
        for start_ms, end_ms, matchers in decode_read_request_body(body):
            hit = []
            for labels, samples in self.series:
                if not matcher_accepts(labels, matchers):
                    continue
                sel = [
                    (v, t) for v, t in samples if start_ms <= t <= end_ms
                ]
                if sel:
                    hit.append((labels, sel))
            results.append(hit)
        self.served += 1
        return encode_read_response_body(results)

    def start(self) -> tuple[str, int]:
        server_ref = self

        class _ReadHandler(BaseHTTPRequestHandler):
            def log_message(self, *_a) -> None:
                pass

            def do_GET(self) -> None:
                if self.path.split("?")[0] == "/healthz":
                    body = b"OK"
                    self.send_response(200)
                    self.send_header("Content-Type", "text/plain")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                else:
                    self.send_error(404)

            def do_POST(self) -> None:
                if self.path.split("?")[0] != "/api/v1/read":
                    self.send_error(404)
                    return
                raw = _read_body(self)
                if raw is None:
                    return
                try:
                    resp = server_ref._answer(raw)
                except ValueError:
                    self.send_error(400)  # malformed request body
                    return
                self.send_response(200)
                self.send_header(
                    "Content-Type", "application/x-protobuf"
                )
                self.send_header("Content-Encoding", "snappy")
                self.send_header("Content-Length", str(len(resp)))
                self.end_headers()
                self.wfile.write(resp)

        self._server = ThreadingHTTPServer((self.host, self.port), _ReadHandler)
        self.port = self._server.server_address[1]
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self.host, self.port

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._thread.join(timeout=10)
            self._server = None

    def __enter__(self) -> "RemoteReadServer":
        self.start()
        return self

    def __exit__(self, *_exc) -> None:
        self.stop()
