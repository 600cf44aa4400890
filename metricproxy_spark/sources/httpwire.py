"""Custom Python DataSource for staged HTTP POST requests (S2/S6 as a
first-class Spark connector).

The reference's front door is an HTTP listener: POST bodies land on
``/v2/datapoint`` (JSON), ``/v1/datapoint``, ``/post-collectd`` etc.
[P: protocol/signalfx/signalfxlistener.go — ListenAndServe]. There is
no long-lived server in a batch engine, so this connector terminates
the same wire format at rest: a directory where each file is ONE raw
HTTP/1.1 request (request line + headers + blank line + body) — "the
requests the network wrote". ``spark.read.format("httpwire")`` then
behaves like any built-in source:

- Each row is one decoded request: ``(body, method, path, query,
  content_type, src_file)``. ``Content-Encoding: gzip`` bodies are
  decompressed (stdlib zlib — the reference accepts gzipped POSTs),
  ``Content-Length`` is honored.
- Batch: requests are NOT line-splittable (one JSON body), so the unit
  of parallelism is the file; files are bin-packed into partitions of
  ~``chunk_bytes`` (default 8 MB) so a million tiny requests don't
  become a million tasks, and a handful of huge ones still fan out.
- Streaming: ``readStream`` over the same directory, with the spool
  offset contract of :mod:`metricproxy_spark.sources.spool`; each
  micro-batch's files are bin-packed like the batch reader's.

Body PARSING stays in the protocol modules
(:func:`metricproxy_spark.sources.signalfx.parse_sfx_v2_json`,
:func:`metricproxy_spark.sources.collectd.parse_collectd_json`) so one
parser serves socket bytes, staged files, and this connector — the
``path``/``query`` columns let one scan demux to the right parser and
feed ``sfxdim_*`` request dims, exactly how the listener routes.
"""

from __future__ import annotations

import gzip
import os
from typing import Tuple

from pyspark.sql.datasource import DataSource, InputPartition
from pyspark.sql.types import StringType, StructField, StructType

from metricproxy_spark.sources.spool import (
    SpoolReader,
    SpoolStreamReader,
    register,
)

SCHEMA = StructType(
    [
        StructField("body", StringType()),
        StructField("method", StringType()),
        StructField("path", StringType()),
        StructField("query", StringType()),
        StructField("content_type", StringType()),
        StructField("src_file", StringType()),
    ]
)

Row = Tuple[str, str, str, str, str, str]


def parse_http_request(raw: bytes) -> Tuple[str, str, str, str, str]:
    """One raw HTTP/1.1 request → (body, method, path, query, content_type).

    Tolerant reader: CRLF or bare-LF head separator, case-insensitive
    header names, body truncated to Content-Length when present (then
    gunzipped if Content-Encoding says so).
    """
    head, sep, body = raw.partition(b"\r\n\r\n")
    if not sep:
        head, _, body = raw.partition(b"\n\n")
    lines = head.decode("latin-1").splitlines()
    first = (lines[0].split(" ", 2) + ["", ""])[:3] if lines else ["", "", ""]
    method, target = first[0], first[1]
    headers = {}
    for ln in lines[1:]:
        k, colon, v = ln.partition(":")
        if colon:
            headers[k.strip().lower()] = v.strip()
    clen = headers.get("content-length")
    if clen and clen.isdigit():
        body = body[: int(clen)]
    if headers.get("content-encoding", "").lower() == "gzip":
        body = gzip.decompress(body)
    path, _, query = target.partition("?")
    return (
        body.decode("utf-8", errors="replace"),
        method,
        path,
        query,
        headers.get("content-type", ""),
    )


def _read_request_file(path: str) -> Row:
    with open(path, "rb") as fh:
        raw = fh.read()
    return parse_http_request(raw) + (os.path.basename(path),)


def _read_request_batches(paths):
    """Decode a partition's request files into ONE Arrow record batch
    instead of per-row Python tuples (guide §4: each tuple otherwise
    crosses the worker boundary as a pickled row; a RecordBatch
    crosses as one Arrow buffer). Same rows, same order."""
    import pyarrow as pa

    rows = [_read_request_file(p) for p in paths]
    if not rows:
        return
    cols = list(zip(*rows))
    names = ["body", "method", "path", "query", "content_type", "src_file"]
    yield pa.RecordBatch.from_arrays(
        [pa.array(list(c), type=pa.string()) for c in cols], names
    )


class HttpWireReader(SpoolReader):
    """Bin-packs request files into ~chunk_bytes partitions: the task
    count tracks data VOLUME (like HDFS splits), not request count. A
    single request is never split — its body is one JSON document."""

    def __init__(self, path: str, chunk_bytes: int):
        super().__init__(path)
        self._chunk = max(64 * 1024, chunk_bytes)

    def plan(self, files):
        parts: list[InputPartition] = []
        bucket: list[str] = []
        filled = 0
        for p in files:
            bucket.append(p)
            filled += os.path.getsize(p)
            if filled >= self._chunk:
                parts.append(InputPartition(tuple(bucket)))
                bucket, filled = [], 0
        if bucket:
            parts.append(InputPartition(tuple(bucket)))
        return parts

    def read_split(self, paths):
        return _read_request_batches(paths)


class HttpWireDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "httpwire"

    def schema(self):
        return SCHEMA

    def reader(self, schema) -> HttpWireReader:
        return HttpWireReader(
            self.options["path"],
            int(self.options.get("chunk_bytes", 8 * 1024 * 1024)),
        )

    def streamReader(self, schema) -> SpoolStreamReader:
        return SpoolStreamReader(self.reader(schema))


def format_http_request(
    body: bytes,
    *,
    path: str = "/v2/datapoint",
    query: str = "",
    content_type: str = "application/json",
    gzip_body: bool = False,
) -> bytes:
    """Serialize one POST the way a client on the wire would — used by
    tests and staging to write request files this source reads back."""
    if gzip_body:
        # fixed mtime keeps staged bytes deterministic across runs
        body = gzip.compress(body, mtime=0)
    target = f"{path}?{query}" if query else path
    head = (
        f"POST {target} HTTP/1.1\r\n"
        f"Host: ingest\r\n"
        f"Content-Type: {content_type}\r\n"
        + ("Content-Encoding: gzip\r\n" if gzip_body else "")
        + f"Content-Length: {len(body)}\r\n\r\n"
    )
    return head.encode("latin-1") + body


def register_httpwire(spark) -> None:
    """Idempotently register the connector on a session."""
    register(spark, HttpWireDataSource)
