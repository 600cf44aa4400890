"""WARC/1.0 web-archive connector (``warcwire``) — the wire format of
web-scale training corpora.

Common Crawl — the canonical source feeding LLM pretraining pipelines —
ships as WARC (ISO 28500): a file is a sequence of records, each a
CRLF-framed header block (``WARC/1.0`` + ``Name: value`` lines +
``Content-Length``) followed by exactly ``Content-Length`` payload
bytes and a ``\\r\\n\\r\\n`` trailer. ``response`` records carry a full
HTTP response (status line + headers + body) as their payload. In the
gzip flavor every record is its OWN gzip member, concatenated — a
conforming gunzip reads the whole file transparently, while indexed
consumers can seek to member boundaries.

Spark-first shape:

- **Batch read**: ``spark.read.format("warcwire").option("path", d)``
  with ONE InputPartition PER FILE. Gzip is not byte-range splittable
  (same rule Spark applies to ``.gz`` text), so file granularity is
  the honest split unit — Common Crawl publishes ~64k ~1 GB WARCs per
  crawl precisely so that file-level parallelism saturates any
  cluster. Records stream through a buffered ``gzip.GzipFile`` reader:
  memory is bounded by one record, never one file.
- **Write**: ``df.write.format("warcwire").save(d)`` with the spool
  two-phase commit (append never clobbers). Each task writes one
  ``.warc.gz``; each row becomes one
  gzip-member ``response`` record, after a file-leading ``warcinfo``
  member — the layout Common Crawl writers produce.
- Payload framing is byte-counted, so bodies containing ``WARC/1.0``
  or CRLF-CRLF sequences round-trip exactly (no sentinel scanning).

The module is deliberately self-contained (stdlib + pyspark imports
plus the equally self-contained ``spool`` module) so
:func:`metricproxy_spark.sources.spool.register` can embed it in the
DataSource pickle — driver-side runner processes need no import path.

Write schema (all strings except ``status``): ``url``, ``warc_date``
(``YYYY-MM-DDTHH:MM:SSZ``), ``status`` (bigint), ``content_type``,
``payload``. Read schema adds ``src_file`` + ``rec_type`` and returns
the HTTP pieces parsed back out.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import os
from typing import Iterator

from pyspark.sql.datasource import DataSource, InputPartition
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from metricproxy_spark.sources.spool import SpoolReader, SpoolWriter, register

READ_SCHEMA = StructType(
    [
        StructField("src_file", StringType()),
        StructField("rec_type", StringType()),
        StructField("url", StringType()),
        StructField("warc_date", StringType()),
        StructField("http_status", LongType()),
        StructField("content_type", StringType()),
        StructField("payload", StringType()),
    ]
)

_REASONS = {200: "OK", 301: "Moved Permanently", 404: "Not Found", 500: "Internal Server Error"}


def _record_id(url: str, date: str) -> str:
    digest = hashlib.md5(f"{url} {date}".encode()).hexdigest()
    return (
        f"<urn:uuid:{digest[:8]}-{digest[8:12]}-{digest[12:16]}-"
        f"{digest[16:20]}-{digest[20:32]}>"
    )


def build_response_record(
    url: str, warc_date: str, status: int, content_type: str, payload: str
) -> bytes:
    """One WARC ``response`` record (uncompressed bytes): WARC headers,
    blank line, HTTP response (status line + headers + body), CRLF CRLF
    trailer. ``Content-Length`` counts the full HTTP payload bytes."""
    body = payload.encode("utf-8")
    reason = _REASONS.get(status, "OK")
    http = (
        f"HTTP/1.1 {status} {reason}\r\n"
        f"Content-Type: {content_type}\r\n"
        f"Content-Length: {len(body)}\r\n"
        "\r\n"
    ).encode("ascii") + body
    head = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Record-ID: {_record_id(url, warc_date)}\r\n"
        f"WARC-Date: {warc_date}\r\n"
        f"WARC-Target-URI: {url}\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n"
        "\r\n"
    ).encode("ascii")
    return head + http + b"\r\n\r\n"


def build_warcinfo_record(filename: str) -> bytes:
    info = (
        "software: metricproxy-spark warcwire\r\n"
        "format: WARC File Format 1.0\r\n"
    ).encode("ascii")
    head = (
        "WARC/1.0\r\n"
        "WARC-Type: warcinfo\r\n"
        f"WARC-Record-ID: {_record_id(filename, 'warcinfo')}\r\n"
        "WARC-Date: 1970-01-01T00:00:00Z\r\n"
        f"WARC-Filename: {filename}\r\n"
        "Content-Type: application/warc-fields\r\n"
        f"Content-Length: {len(info)}\r\n"
        "\r\n"
    ).encode("ascii")
    return head + info + b"\r\n\r\n"


def gzip_member(record: bytes) -> bytes:
    """Compress one record as one gzip member (mtime pinned to 0 so
    identical inputs produce identical bytes — staging fingerprints and
    concurrent-writer races rely on content determinism)."""
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(record)
    return buf.getvalue()


def _read_headers(fh) -> dict | None:
    """Read one CRLF-framed WARC header block; None at clean EOF."""
    # Skip inter-record padding (the \r\n\r\n trailer of the previous
    # record, tolerated as leading blank lines here).
    line = fh.readline()
    while line in (b"\r\n", b"\n"):
        line = fh.readline()
    if not line:
        return None
    version = line.rstrip(b"\r\n")
    if not version.startswith(b"WARC/"):
        raise ValueError(f"expected WARC/1.x record header, got {version[:40]!r}")
    headers: dict = {}
    while True:
        line = fh.readline()
        if not line:
            raise ValueError("truncated WARC header block")
        if line in (b"\r\n", b"\n"):
            return headers
        name, _, value = line.rstrip(b"\r\n").partition(b":")
        headers[name.strip().lower().decode("ascii")] = value.strip().decode(
            "utf-8", errors="replace"
        )


def _parse_http_response(payload: bytes) -> tuple[int | None, str | None, bytes]:
    """(status, content_type, body) from a raw HTTP response payload."""
    head, sep, body = payload.partition(b"\r\n\r\n")
    if not sep:
        return None, None, payload
    lines = head.split(b"\r\n")
    status: int | None = None
    parts = lines[0].split(b" ", 2)
    if len(parts) >= 2 and parts[0].startswith(b"HTTP/"):
        try:
            status = int(parts[1])
        except ValueError:
            status = None
    ctype = None
    for ln in lines[1:]:
        name, _, value = ln.partition(b":")
        if name.strip().lower() == b"content-type":
            ctype = value.strip().decode("utf-8", errors="replace")
    return status, ctype, body


def iter_warc_records(fh, src_file: str) -> Iterator[tuple]:
    """Stream rows off a (decompressing) file object: one tuple per
    record in READ_SCHEMA order. Byte-counted framing — never scans
    payload bytes for sentinels, so adversarial bodies round-trip."""
    while True:
        headers = _read_headers(fh)
        if headers is None:
            return
        n = int(headers.get("content-length", "0"))
        payload = fh.read(n)
        if len(payload) != n:
            raise ValueError(
                f"truncated WARC payload: wanted {n} bytes, got {len(payload)}"
            )
        rec_type = headers.get("warc-type", "")
        if rec_type == "response":
            status, ctype, body = _parse_http_response(payload)
            yield (
                src_file,
                rec_type,
                headers.get("warc-target-uri"),
                headers.get("warc-date"),
                status,
                ctype,
                body.decode("utf-8", errors="replace"),
            )
        else:
            yield (
                src_file,
                rec_type,
                headers.get("warc-target-uri"),
                headers.get("warc-date"),
                None,
                headers.get("content-type"),
                payload.decode("utf-8", errors="replace"),
            )


class WarcBatchReader(SpoolReader):
    """One partition per file: gzip members are not byte-range
    splittable, so the file is the honest split unit (web crawls ship
    tens of thousands of ~1 GB WARCs for exactly this reason). Records
    stream through a buffered GzipFile — member boundaries are
    transparent, memory is bounded by a single record."""

    def plan(self, files):
        return [InputPartition(p) for p in files]

    def read_split(self, path):
        base = os.path.basename(path)
        opener = gzip.open if path.endswith(".gz") else open
        with opener(path, "rb") as raw:
            fh = io.BufferedReader(raw, buffer_size=1 << 20)
            yield from iter_warc_records(fh, base)


class WarcBatchWriter(SpoolWriter):
    """Each partition becomes one ``.warc.gz`` beginning with a
    warcinfo member, then one gzip-member response record per row."""

    suffix = ".warc.gz"

    def write_file(self, staged: str, name: str, batches) -> None:
        with open(staged, "wb") as fh:
            fh.write(gzip_member(build_warcinfo_record(name)))
            for batch in batches:
                cols = [batch.column(i).to_pylist() for i in range(5)]
                for url, date, status, ctype, payload in zip(*cols):
                    fh.write(
                        gzip_member(
                            build_response_record(
                                url, date, int(status), ctype, payload
                            )
                        )
                    )


class WarcDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "warcwire"

    def schema(self):
        return READ_SCHEMA

    def reader(self, schema) -> WarcBatchReader:
        return WarcBatchReader(self.options["path"])

    def writer(self, schema, overwrite: bool) -> WarcBatchWriter:
        return WarcBatchWriter(self.options["path"], overwrite)


def register_warcwire(spark) -> None:
    """Idempotently register the connector on a session."""
    register(spark, WarcDataSource)
