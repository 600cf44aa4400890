"""Live line-oriented socket listeners (statsd / influx / generic).

The reference family of metric proxies terminates push protocols on
real sockets — carbon over TCP [P: protocol/carbon/carbonlistener.go],
statsd classically over UDP datagrams, influx line protocol over
either (telegraf's socket_listener). This module is the engine's
socket front door for LINE-shaped wire formats: accept bytes, split
on newlines, and spool the lines verbatim through the same
:class:`~metricproxy_spark.sources.spool.SegmentSpool` and server
lifecycle (:class:`~metricproxy_spark.streaming.httplistener.SpoolServer`)
the HTTP listener uses; ``accepted`` counts lines.

**Ack, seal, visibility.** Every received chunk's complete lines
(each TCP ``recv``, each UDP datagram) are appended to the listener's
open hidden segment at once, so they are on disk on receipt, however
long the connection stays open. Every
:data:`~metricproxy_spark.sources.spool.SEAL_INTERVAL_S` the segment
is published as the next ``lines_{seq:012d}.wire`` file. A TCP
connection's ``OK`` ack goes out after its lines are sealed into a
published file. ``start()`` publishes the segments a dead listener left
behind.

The spool is plain text, one line per record, read in batch and in
stream by :func:`line_spool` (Spark's text file source); the SAME
JVM-side parsers serve both, so live ingest is value-checkable against
the batch twin's oracle.

Two transports:

- ``tcp`` (default): lossless, ordered per connection — the form the
  registered live queries use, so driver evidence is deterministic.
- ``udp``: datagram mode for protocol fidelity (a datagram may carry
  several newline-separated lines, the statsd multi-metric packet).
  UDP is at-most-once BY DESIGN — loopback bursts can overflow the
  receive buffer — so it backs a unit test, not an exact oracle.
"""

from __future__ import annotations

import os
import socket
import socketserver

from pyspark.sql import DataFrame, DataFrameReader
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamReader

from metricproxy_spark.streaming.httplistener import SpoolServer


class LineSocketListener(SpoolServer):
    """Accept newline-delimited wire lines on a real socket and spool
    them to ``{spool_dir}/lines_{seq:012d}.wire`` files."""

    spool_names = ("lines_", ".wire")

    def __init__(
        self,
        spool_dir: str,
        mode: str = "tcp",
        host: str = "127.0.0.1",
        port: int = 0,
    ):
        if mode not in ("tcp", "udp"):
            raise ValueError(f"mode must be tcp or udp, got {mode!r}")
        super().__init__(spool_dir, host, port)
        self.scheme = mode

    def _ingest(self, lines: list[bytes]) -> None:
        lines = [ln.rstrip(b"\r") for ln in lines]
        lines = [ln for ln in lines if ln]
        if lines:
            self._spool.append(b"\n".join(lines) + b"\n")

    def _make_server(self) -> socketserver.BaseServer:
        listener = self

        if self.scheme == "tcp":

            class _TcpHandler(socketserver.BaseRequestHandler):
                def handle(self) -> None:
                    tail = b""
                    while chunk := self.request.recv(1 << 16):
                        *lines, tail = (tail + chunk).split(b"\n")
                        listener._ingest(lines)
                    listener._ingest([tail])
                    # ack AFTER the seal: a client that waits for this
                    # byte knows its lines are in a published spool
                    # file — the graceful-close contract (sendall alone
                    # only proves the bytes left the client's buffer)
                    listener.seal()
                    self.request.sendall(b"OK\n")

            class _Server(socketserver.ThreadingTCPServer):
                allow_reuse_address = True
                # a connection may stay open for good (telegraf's
                # socket_writer): stop() must not wait for it, and what
                # it sends after stop() is sealed at once
                daemon_threads = True

            return _Server((self.host, self.port), _TcpHandler)

        class _UdpHandler(socketserver.BaseRequestHandler):
            def handle(self) -> None:
                listener._ingest(self.request[0].split(b"\n"))

        class _UdpServer(socketserver.ThreadingUDPServer):
            daemon_threads = True

        server = _UdpServer((self.host, self.port), _UdpHandler)
        # a deep receive buffer is the only mitigation UDP offers
        server.socket.setsockopt(socket.SOL_SOCKET, socket.SO_RCVBUF, 1 << 22)
        return server


def line_spool(
    reader: DataFrameReader | DataStreamReader, spool_dir: str
) -> DataFrame:
    """A line spool as ``(line, src_file)`` rows through Spark's text
    file source, in batch (``spark.read``) or in stream
    (``spark.readStream``): split on ``\\n`` only (a ``\\r`` stays in
    the line), drop empty lines, and ``src_file`` is the file's base
    name. A missing directory is created."""
    # the file source refuses a missing directory
    os.makedirs(spool_dir, exist_ok=True)
    return (
        reader.option("lineSep", "\n")
        .text(spool_dir)
        .where(F.col("value") != "")
        .select(
            F.col("value").alias("line"),
            F.col("_metadata.file_name").alias("src_file"),
        )
    )


def send_lines_tcp(
    host: str, port: int, lines: list[str], connections: int = 4
) -> None:
    """Bounded load generator: push wire lines over ``connections``
    real TCP connections (contiguous chunks, so per-connection order
    is the synthesized order). Client side of the wire — holds its
    own payload by definition, like every load generator."""
    if not lines:
        return
    n = max(1, connections)
    chunk = (len(lines) + n - 1) // n
    for i in range(0, len(lines), chunk):
        payload = ("\n".join(lines[i : i + chunk]) + "\n").encode()
        with socket.create_connection((host, port), timeout=30) as s:
            s.sendall(payload)
            s.shutdown(socket.SHUT_WR)
            ack = s.recv(16)
            if not ack.startswith(b"OK"):
                raise ConnectionError(f"listener did not ack: {ack!r}")
