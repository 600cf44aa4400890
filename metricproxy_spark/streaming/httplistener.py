"""Live HTTP ingest listener (SURVEY §3.1 S2/S4/S6 live form + S7).

The reference's front door is a long-lived HTTP server: POST bodies
land on ``/v2/datapoint`` (JSON), ``/v1/datapoint``, ``/post-collectd``
and ``GET /healthz`` answers the load balancer
[P: protocol/signalfx/signalfxlistener.go — ListenAndServe,
signalfxlistener.go — healthz handler]. A Spark driver can host the
same front door: this module runs a real ``ThreadingHTTPServer`` that
ACCEPTS live network POSTs and terminates them into a spool directory
that the engine reads back with :func:`http_spool` (Spark's JSON
file source), in batch (``http_spool(spark.read, spool)``) or in
stream (``http_spool(spark.readStream, spool)``); ``*.http`` request
files are adopted into a ``*.jsonl`` segment when the read is planned.

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
spool mechanics, the periodic sealer included, are
:class:`metricproxy_spark.sources.spool.SegmentSpool`; the server
lifecycle around it is :class:`SpoolServer`. The line-socket listener
shares both; the serve thread under them, :class:`ThreadedServer`, also
runs :class:`RemoteReadServer`. :func:`post_requests` is the client.

One body parser
(:func:`metricproxy_spark.sources.signalfx.parse_sfx_v2_json`, …)
serves socket bytes, staged files, and live HTTP identically.

Responses mirror the reference: ``"OK"`` for datapoint POSTs, plain
``OK`` for ``/healthz`` (S7), 404 otherwise. A POST must carry a
numeric ``Content-Length``: 411 when it is missing (chunked uploads
are not accepted), 400 when it is malformed, 413 when it declares more
than :data:`MAX_BODY_BYTES` (refused before the body is read, so one
client cannot fill the driver's memory), and nothing is spooled.
"""

from __future__ import annotations

import http.client
import os
import socketserver
import threading
import zlib
from collections.abc import Iterable
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, DataFrameReader
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamReader

from metricproxy_spark.sources.httpwire import (
    LINE_SCHEMA,
    adopt_request_files,
    decode_body,
    spool_line,
)
from metricproxy_spark.sources.spool import SEAL_INTERVAL_S, SegmentSpool


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


MAX_BODY_BYTES = 64 << 20  # the largest body read into driver memory


def _read_body(handler: BaseHTTPRequestHandler) -> bytes | None:
    """The request body as its ``Content-Length`` header declares it.
    Answers 411 (header missing), 400 (not a non-negative integer) or
    413 (over :data:`MAX_BODY_BYTES`) and returns None, so a bad request
    is never read or acted on. The length is compared in digits before
    it is converted, so a value too long for ``int()`` is a 413 too. Only
    the declared length is bounded, not what a gzip body inflates to."""
    clen = handler.headers.get("Content-Length")
    if clen is None:
        handler.send_error(411)
        return None
    clen = clen.strip()
    if not (clen.isascii() and clen.isdigit()):
        handler.send_error(400, "malformed Content-Length")
        return None
    digits = clen.lstrip("0") or "0"
    if (
        len(digits) > len(str(MAX_BODY_BYTES))
        or int(digits) > MAX_BODY_BYTES
    ):
        handler.send_error(413, f"body over {MAX_BODY_BYTES} bytes")
        return None
    return handler.rfile.read(int(digits))


def _get_healthz(handler: BaseHTTPRequestHandler) -> None:
    """S7: ``GET /healthz`` answers ``OK``; any other GET is a 404."""
    if handler.path.split("?")[0] != "/healthz":
        handler.send_error(404)
        return
    body = b"OK"
    handler.send_response(200)
    handler.send_header("Content-Type", "text/plain")
    handler.send_header("Content-Length", str(len(body)))
    handler.end_headers()
    handler.wfile.write(body)


class _IngestHandler(BaseHTTPRequestHandler):
    server: _OwnedHTTPServer

    def log_message(self, *_a) -> None:  # quiet; stats are counted
        pass

    do_GET = _get_healthz

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
            self.server.owner._spool.append(line)
        except OSError:
            self.send_error(503, "spool write failed")
            return
        resp = b'"OK"'
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(resp)))
        self.end_headers()
        self.wfile.write(resp)


class _OwnedHTTPServer(ThreadingHTTPServer):
    """An HTTP server whose handlers reach the object that runs it as
    ``self.server.owner``."""

    def __init__(self, owner: "ThreadedServer", handler: type):
        super().__init__((owner.host, owner.port), handler)
        self.owner = owner


class ThreadedServer:
    """A socket server run on a daemon thread: ``start()`` binds (port
    0 lets the OS pick; ``port`` is the bound one after) and serves,
    ``stop()`` ends the serve loop and closes the socket, and the object
    is its own context manager. By default it is an HTTP server whose
    requests ``handler`` answers; a subclass may build another server in
    :meth:`_make_server`."""

    scheme = "http"
    handler: type[BaseHTTPRequestHandler]

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self.host, self.port = host, port
        self._server: socketserver.BaseServer | None = None
        self._thread: threading.Thread | None = None

    @property
    def url(self) -> str:
        return f"{self.scheme}://{self.host}:{self.port}"

    def _make_server(self) -> socketserver.BaseServer:
        return _OwnedHTTPServer(self, self.handler)

    def start(self) -> tuple[str, int]:
        self._server = self._make_server()
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

    def __enter__(self):
        self.start()
        return self

    def __exit__(self, *_exc) -> None:
        self.stop()


class SpoolServer(ThreadedServer):
    """A :class:`ThreadedServer` spooling what it accepts into a
    :class:`SegmentSpool` named ``spool_names``.

    >>> lis = HttpIngestListener(spool_dir)
    >>> host, port = lis.start()          # real bind (port=0 = OS pick)
    >>> ... clients send to lis.url ...
    >>> lis.seal()                        # everything acked is visible
    >>> lis.stop()                        # serve loop ended, sealed
    """

    spool_names: tuple[str, str]

    def __init__(
        self, spool_dir: str, host: str = "127.0.0.1", port: int = 0
    ):
        super().__init__(host, port)
        self.spool_dir = spool_dir
        self._spool = SegmentSpool(spool_dir, *self.spool_names)

    @property
    def accepted(self) -> int:
        """Lines spooled: HTTP requests, or a line socket's lines."""
        return self._spool.appended

    def seal(self) -> None:
        """Publish everything accepted so far."""
        self._spool.seal()

    def start(self) -> tuple[str, int]:
        # A restarted listener appends after the existing spool files
        # and publishes what a dead one left unsealed, before it serves.
        self._spool.start(SEAL_INTERVAL_S)
        try:
            return super().start()
        except BaseException:
            self._spool.stop()
            raise

    def stop(self) -> None:
        super().stop()
        self._spool.stop()


class HttpIngestListener(SpoolServer):
    """A live HTTP ingest endpoint spooling ``req_*.jsonl`` segments,
    one JSON line per accepted request."""

    handler, spool_names = _IngestHandler, ("req_", ".jsonl")


def post_requests(
    host: str,
    port: int,
    path: str,
    requests: Iterable[tuple[bytes, dict[str, str]]],
) -> None:
    """Client side of the wire, the HTTP twin of
    :func:`~metricproxy_spark.streaming.socketlistener.send_lines_tcp`:
    POST each ``(body, headers)`` pair to ``path`` over one keep-alive
    connection, in order. An answer other than 200 raises
    ``ConnectionError`` naming its status."""
    conn = http.client.HTTPConnection(host, port, timeout=30)
    try:
        for body, headers in requests:
            conn.request("POST", path, body=body, headers=headers)
            resp = conn.getresponse()
            resp.read()
            if resp.status != 200:
                raise ConnectionError(
                    f"POST {path} answered {resp.status} {resp.reason}"
                )
    finally:
        conn.close()


def http_spool(
    reader: DataFrameReader | DataStreamReader, spool_dir: str
) -> DataFrame:
    """A request spool as rows with the ``httpwire`` columns, one per
    accepted request, through Spark's JSON file source, in batch
    (``spark.read``) or in stream (``spark.readStream``): compose with
    the protocol parsers for a full pipeline. The mirror of
    :func:`~metricproxy_spark.streaming.socketlistener.line_spool`; a
    missing directory is created.

    Only ``req_*.jsonl`` segments are read, so no Python worker runs on
    the read side. ``*.http`` request files in the directory (a
    hand-staged request directory, or a spool written before the
    listener spooled JSON lines) are first adopted into one segment by
    :func:`~metricproxy_spark.sources.httpwire.adopt_request_files`; an
    adopted row's ``src_file`` is that segment's name. A ``*.http`` file
    dropped in while a stream runs is adopted when a read of the
    directory is next planned, e.g. at a restart."""
    # the file source refuses a missing directory
    os.makedirs(spool_dir, exist_ok=True)
    adopt_request_files(spool_dir)
    return (
        reader.schema(LINE_SCHEMA)
        .option("pathGlobFilter", "*.jsonl")
        # a body is one JSON string: lift Jackson's 20M-char cap
        .option("maxStringLen", 2**31 - 1)
        .json(spool_dir)
        .select(
            *LINE_SCHEMA.fieldNames(),
            F.col("_metadata.file_name").alias("src_file"),
        )
    )


class _ReadHandler(BaseHTTPRequestHandler):
    server: _OwnedHTTPServer

    def log_message(self, *_a) -> None:
        pass

    do_GET = _get_healthz

    def do_POST(self) -> None:
        if self.path.split("?")[0] != "/api/v1/read":
            self.send_error(404)
            return
        raw = _read_body(self)
        if raw is None:
            return
        try:
            resp = self.server.owner._answer(raw)
        except ValueError:
            self.send_error(400)  # malformed request body
            return
        self.send_response(200)
        self.send_header("Content-Type", "application/x-protobuf")
        self.send_header("Content-Encoding", "snappy")
        self.send_header("Content-Length", str(len(resp)))
        self.end_headers()
        self.wfile.write(resp)


class RemoteReadServer(ThreadedServer):
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

    handler = _ReadHandler

    def __init__(
        self,
        series: list,
        host: str = "127.0.0.1",
        port: int = 0,
    ):
        super().__init__(host, port)
        # [(labels_dict, [(value, ts_ms), ...]), ...]
        self.series = series
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
