"""Custom Python DataSource for staged HTTP POST requests (S2/S6 as a
first-class Spark connector).

The reference's front door is an HTTP listener: POST bodies land on
``/v2/datapoint`` (JSON), ``/v1/datapoint``, ``/post-collectd`` etc.
[P: protocol/signalfx/signalfxlistener.go — ListenAndServe]. There is
no long-lived server in a batch engine, so this connector terminates
the same wire format at rest. ``spark.read.format("httpwire")`` then
behaves like any built-in source. It reads two file formats from one
directory:

- ``*.http`` (and any other name): ONE raw HTTP/1.1 request (request
  line + headers + blank line + body) — "the requests the network
  wrote", as hand-staged request directories hold them.
  ``Content-Length`` is honored and ``Content-Encoding: gzip`` bodies
  are decompressed (stdlib zlib — the reference accepts gzipped POSTs).
- ``*.jsonl``: the live listener's spool segments, one request per
  line, already decoded at the door by the same rules
  (:func:`spool_line`). A segment file is one row per line.

Each row is one decoded request: ``(body, method, path, query,
content_type, src_file)``.

- Batch: a request is NOT line-splittable (one JSON body), so the unit
  of parallelism is the file; files are bin-packed into partitions of
  ~``chunk_bytes`` (default 8 MB) so a million tiny requests don't
  become a million tasks, and a handful of huge ones still fan out.
- Streaming: none here. Every request spool streams through Spark's
  JSON file source
  (:func:`metricproxy_spark.streaming.httplistener.http_spool`),
  which first hands the directory to :func:`adopt_request_files`: the
  ``*.http`` files it holds become one ``req_*.jsonl`` segment.

Body PARSING stays in the protocol modules
(:func:`metricproxy_spark.sources.signalfx.parse_sfx_v2_json`,
:func:`metricproxy_spark.sources.collectd.parse_collectd_json`) so one
parser serves socket bytes, staged files, and this connector — the
``path``/``query`` columns let one scan demux to the right parser and
feed ``sfxdim_*`` request dims, exactly how the listener routes.
"""

from __future__ import annotations

import fcntl
import gzip
import json
import os
import zlib
from typing import Tuple

from pyspark.sql.datasource import DataSource, InputPartition
from pyspark.sql.types import StringType, StructField, StructType

from metricproxy_spark.sources.spool import (
    SegmentSpool,
    SpoolReader,
    list_files,
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

# A spool line's fields: SCHEMA without ``src_file``, which is the
# name of the file the line is in.
LINE_SCHEMA = StructType(SCHEMA.fields[:-1])

Row = Tuple[str, str, str, str, str, str]


def decode_body(body: bytes, content_encoding: str) -> str:
    """A request body as text: gunzipped when ``Content-Encoding`` is
    gzip, then UTF-8 with undecodable bytes replaced. Raises
    ``OSError``, ``EOFError`` or ``zlib.error`` for a bad gzip body."""
    if content_encoding.strip().lower() == "gzip":
        body = gzip.decompress(body)
    return body.decode("utf-8", errors="replace")


def spool_line(
    method: str, target: str, content_type: str, body: str
) -> bytes:
    """One decoded request as a ``*.jsonl`` spool line. JSON escaping
    keeps any body whole, CR/LF included, on one line."""
    path, _, query = target.partition("?")
    return (
        json.dumps(
            {
                "method": method,
                "path": path,
                "query": query,
                "content_type": content_type,
                "body": body,
            }
        )
        + "\n"
    ).encode("ascii")


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
    path, _, query = target.partition("?")
    return (
        decode_body(body, headers.get("content-encoding", "")),
        method,
        path,
        query,
        headers.get("content-type", ""),
    )


_LINE_FIELDS = LINE_SCHEMA.fieldNames()


def _read_request_file(path: str) -> list[Row]:
    with open(path, "rb") as fh:
        raw = fh.read()
    name = os.path.basename(path)
    if path.endswith(".jsonl"):
        return [
            tuple(d[f] for f in _LINE_FIELDS) + (name,)
            for d in map(json.loads, raw.splitlines())
        ]
    return [parse_http_request(raw) + (name,)]


def _read_request_batches(paths):
    """Decode a partition's files into ONE Arrow record batch instead
    of per-row Python tuples (guide §4: each tuple otherwise crosses
    the worker boundary as a pickled row; a RecordBatch crosses as one
    Arrow buffer). Same rows, same order."""
    import pyarrow as pa

    rows = [row for p in paths for row in _read_request_file(p)]
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


ADOPTING = ".adopting"


def _request_lines(paths: list[str]) -> bytes:
    """The request files ``paths`` as spool lines, in order. Raises
    ``ValueError`` naming the first file whose body does not decode."""
    lines = []
    for p in paths:
        with open(p, "rb") as fh:
            raw = fh.read()
        try:
            body, method, path, query, ctype = parse_http_request(raw)
        except (OSError, EOFError, zlib.error) as e:
            raise ValueError(f"undecodable request body in {p}: {e}") from e
        target = f"{path}?{query}" if query else path
        lines.append(spool_line(method, target, ctype, body))
    return b"".join(lines)


def _finish_adoption(spool_dir: str, stage: str, lines: bytes | None = None) -> None:
    """Publish the requests moved into ``stage`` as one segment, unless
    a crash came after that, then remove ``stage``. ``lines`` are the
    moved files' spool lines when the caller decoded them already."""
    segment = os.path.join(stage, ".segment")
    try:
        # a second link: published before the crash
        published = os.stat(segment).st_nlink > 1
    except FileNotFoundError:
        published = False
    moved = [f for f in list_files(stage) if f.endswith(".http")]
    if not published:
        if lines is None:
            lines = _request_lines(moved)
        if lines:
            with open(segment, "wb") as fh:
                fh.write(lines)
            spool = SegmentSpool(spool_dir, "req_", ".jsonl")
            spool.skip_published()
            spool.publish(segment)
    for f in moved:
        os.unlink(f)
    if os.path.exists(segment):
        os.unlink(segment)
    os.rmdir(stage)


def adopt_request_files(spool_dir: str) -> int:
    """Turn the ``*.http`` request files of ``spool_dir`` into one
    ``req_*.jsonl`` segment of :func:`spool_line` lines, in
    :func:`list_files` order, published under the listener's
    ``link(2)``-claimed names (:class:`SegmentSpool`); returns how many
    files were adopted. A file that is written in place may be adopted
    half written: stage it under a hidden name and rename it in.

    Every request is published exactly once, under a crash at any step
    and under callers racing on one directory: an adoption holds
    ``flock`` on the directory, moves the files into the hidden
    :data:`ADOPTING` directory, builds the segment there and links it
    into the spool; the segment's second link marks it published (the
    rule of ``SegmentSpool``'s recovery). The next call finishes a
    crashed adoption first. A file whose gzip body does not decode
    raises ``ValueError`` naming it before anything is moved."""
    fd = os.open(spool_dir, os.O_RDONLY)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        stage = os.path.join(spool_dir, ADOPTING)
        if os.path.isdir(stage):
            _finish_adoption(spool_dir, stage)
        files = [f for f in list_files(spool_dir) if f.endswith(".http")]
        if not files:
            return 0
        lines = _request_lines(files)
        os.mkdir(stage)
        for f in files:
            os.rename(f, os.path.join(stage, os.path.basename(f)))
        _finish_adoption(spool_dir, stage, lines)
        return len(files)
    finally:
        os.close(fd)  # and with it the lock


def register_httpwire(spark) -> None:
    """Idempotently register the connector on a session."""
    register(spark, HttpWireDataSource)
