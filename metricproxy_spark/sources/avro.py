"""Avro Object Container Files as a first-class Python DataSource.

This pyspark distribution ships the core avro jars but NOT the
spark-avro connector, so ``spark.read.format("avro")`` is
unavailable — yet Avro remains a top-3 lake interchange format. This
module implements the PUBLIC Avro 1.11 spec (avro.apache.org —
Object Container Files + binary encoding) from scratch:

- binary encoding: zigzag varint longs/ints, IEEE little-endian
  float/double, length-prefixed bytes/string, boolean, null, and
  2-branch ``["null", T]`` unions (the nullable-column encoding);
- container framing: ``Obj\\x01`` magic, metadata map
  (``avro.schema`` JSON + ``avro.codec``), 16-byte sync marker,
  blocks of ``(count, byte-size, data, sync)``;
- codecs: ``null`` and ``deflate`` (raw RFC-1951 via zlib, wbits=-15).

Exposed as the ``avrowire`` DataSource:

- ``schema()`` derives the Spark DDL from the FIRST file's embedded
  writer schema — schema-on-read like the real connector.
- The batch reader splits WITHIN files at Avro block boundaries
  (``partitions()`` walks only the ~20-byte block headers with
  seeks, grouping blocks into ~target-byte splits), so scan
  parallelism tracks data volume even for one huge container file —
  the same splittability contract the sync marker exists for.
- The writer lands one container file per task with the spool
  two-phase commit.

Longs/strings/booleans/bytes round-trip exactly and doubles are raw
IEEE bits, so an Avro write→read cycle is value-checkable against a
DuckDB oracle with no tolerance.
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib

from pyspark.sql.datasource import DataSource, InputPartition

from metricproxy_spark.sources.spool import (
    SpoolReader,
    SpoolWriter,
    list_files,
    register,
)

AVRO_MAGIC = b"Obj\x01"
_SYNC = bytes(range(16))  # deterministic sync marker


# -- varint / primitive codecs ---------------------------------------


def _enc_long(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63)  # zigzag
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _dec_long(buf: bytes, pos: int) -> tuple[int, int]:
    shift = acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def _spark_to_avro(dt) -> str | list:
    from pyspark.sql import types as T

    m = {
        T.LongType: "long",
        T.IntegerType: "int",
        T.DoubleType: "double",
        T.FloatType: "float",
        T.StringType: "string",
        T.BooleanType: "boolean",
        T.BinaryType: "bytes",
    }
    for k, v in m.items():
        if isinstance(dt, k):
            return v
    raise TypeError(f"unsupported Spark type for avro: {dt}")


_AVRO_TO_DDL = {
    "long": "bigint",
    "int": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "bytes": "binary",
}


def _field_type(t):
    """Normalize a field type: returns (primitive, nullable)."""
    if isinstance(t, list):
        branches = [b for b in t if b != "null"]
        if len(branches) != 1:
            raise NotImplementedError(f"unsupported avro union {t}")
        return branches[0], True
    if isinstance(t, dict):  # logical types ride on a primitive
        return t["type"], False
    return t, False


def _enc_value(v, prim: str) -> bytes:
    if prim == "long" or prim == "int":
        return _enc_long(int(v))
    if prim == "double":
        return struct.pack("<d", float(v))
    if prim == "float":
        return struct.pack("<f", float(v))
    if prim == "string":
        raw = str(v).encode("utf-8")
        return _enc_long(len(raw)) + raw
    if prim == "bytes":
        return _enc_long(len(v)) + bytes(v)
    if prim == "boolean":
        return b"\x01" if v else b"\x00"
    raise TypeError(f"unsupported avro type {prim}")


def _dec_value(buf: bytes, pos: int, prim: str):
    if prim in ("long", "int"):
        return _dec_long(buf, pos)
    if prim == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if prim == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if prim == "string":
        n, pos = _dec_long(buf, pos)
        return buf[pos : pos + n].decode("utf-8"), pos + n
    if prim == "bytes":
        n, pos = _dec_long(buf, pos)
        return bytes(buf[pos : pos + n]), pos + n
    if prim == "boolean":
        return buf[pos] == 1, pos + 1
    raise TypeError(f"unsupported avro type {prim}")


# -- container write --------------------------------------------------


def write_avro_file(
    path: str,
    rows,
    spark_schema,
    codec: str = "deflate",
    records_per_block: int = 4096,
) -> int:
    """Write rows (iterable of sequences, field order = schema order)
    as one Avro object container file. Returns the record count."""
    fields = [
        {
            "name": f.name,
            "type": ["null", _spark_to_avro(f.dataType)]
            if f.nullable
            else _spark_to_avro(f.dataType),
        }
        for f in spark_schema.fields
    ]
    schema = {"type": "record", "name": "row", "fields": fields}
    meta = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": codec.encode(),
    }
    out = io.BytesIO()
    out.write(AVRO_MAGIC)
    out.write(_enc_long(len(meta)))
    for k, v in meta.items():
        kk = k.encode()
        out.write(_enc_long(len(kk)) + kk + _enc_long(len(v)) + v)
    out.write(_enc_long(0))  # end of metadata map
    out.write(_SYNC)

    ftypes = [_field_type(f["type"]) for f in fields]
    n_total = 0
    block = bytearray()
    block_count = 0

    def flush() -> None:
        nonlocal block, block_count
        if not block_count:
            return
        data = bytes(block)
        if codec == "deflate":
            co = zlib.compressobj(wbits=-15)
            data = co.compress(data) + co.flush()
        elif codec != "null":
            raise ValueError(f"unsupported codec {codec}")
        out.write(_enc_long(block_count))
        out.write(_enc_long(len(data)))
        out.write(data)
        out.write(_SYNC)
        block = bytearray()
        block_count = 0

    for row in rows:
        for v, (prim, nullable) in zip(row, ftypes):
            if nullable:
                if v is None:
                    block += _enc_long(0)
                    continue
                block += _enc_long(1)
            elif v is None:
                raise ValueError("None in non-nullable avro field")
            block += _enc_value(v, prim)
        block_count += 1
        n_total += 1
        if block_count >= records_per_block:
            flush()
    flush()
    with open(path, "wb") as fh:
        fh.write(out.getvalue())
    return n_total


# -- container read ---------------------------------------------------


def _read_header(fh) -> tuple[dict, bytes, int]:
    """Returns (schema dict, sync marker, data start offset)."""
    head = fh.read(4)
    if head != AVRO_MAGIC:
        raise ValueError("not an avro object container file")
    buf = head + fh.read(1 << 20)  # headers are tiny; 1 MB is plenty
    pos = 4
    meta = {}
    while True:
        n, pos = _dec_long(buf, pos)
        if n == 0:
            break
        if n < 0:
            # Avro spec: a negative block count is followed by the
            # block's byte size (a long); decode and discard it.
            _, pos = _dec_long(buf, pos)
        for _ in range(abs(n)):
            klen, pos = _dec_long(buf, pos)
            k = buf[pos : pos + klen].decode()
            pos += klen
            vlen, pos = _dec_long(buf, pos)
            meta[k] = buf[pos : pos + vlen]
            pos += vlen
    sync = buf[pos : pos + 16]
    schema = json.loads(meta["avro.schema"].decode())
    codec = meta.get("avro.codec", b"null").decode()
    return {"schema": schema, "codec": codec}, sync, pos + 16


def index_blocks(path: str) -> list[tuple[int, int, int]]:
    """Walk block headers with seeks (never reading block data):
    [(offset, n_records, byte_size)] — the splittability index."""
    out = []
    with open(path, "rb") as fh:
        _, _sync, pos = _read_header(fh)
        size = os.path.getsize(path)
        while pos < size:
            fh.seek(pos)
            head = fh.read(20)  # two varints fit comfortably
            n, p2 = _dec_long(head, 0)
            nbytes, p2 = _dec_long(head, p2)
            out.append((pos, n, nbytes))
            pos += p2 + nbytes + 16  # header + data + sync
    return out


def _decode_block(data: bytes, schema: dict, n: int):
    ftypes = [_field_type(f["type"]) for f in schema["fields"]]
    pos = 0
    for _ in range(n):
        row = []
        for prim, nullable in ftypes:
            if nullable:
                branch, pos = _dec_long(data, pos)
                if branch == 0:
                    row.append(None)
                    continue
            v, pos = _dec_value(data, pos, prim)
            row.append(v)
        yield tuple(row)


def read_avro_rows(path: str) -> list[tuple]:
    """Whole-file convenience read: one avro object container file →
    list of row tuples (schema field order). Meant for KB-scale
    CATALOG metadata (e.g. Iceberg manifest lists) — data files go
    through the distributed ``avrowire`` DataSource instead."""
    rows: list[tuple] = []
    with open(path, "rb") as fh:
        hdr, sync, pos = _read_header(fh)
        size = os.path.getsize(path)
        fh.seek(pos)
        while pos < size:
            head = fh.read(20)
            n, p2 = _dec_long(head, 0)
            nbytes, p2 = _dec_long(head, p2)
            fh.seek(pos + p2)
            data = fh.read(nbytes)
            if hdr["codec"] == "deflate":
                data = zlib.decompress(data, wbits=-15)
            elif hdr["codec"] != "null":
                raise ValueError(f"unsupported codec {hdr['codec']}")
            rows.extend(_decode_block(data, hdr["schema"], n))
            if fh.read(16) != sync:
                raise ValueError("avro: sync marker mismatch")
            pos += p2 + nbytes + 16
    return rows


class AvroBatchReader(SpoolReader):
    def __init__(self, path: str, split_bytes: int):
        super().__init__(path)
        self._split = max(64 * 1024, split_bytes)

    def plan(self, files):
        parts = []
        for p in files:
            blocks = index_blocks(p)
            group: list = []
            acc = 0
            for off, n, nbytes in blocks:
                group.append(off)
                acc += nbytes
                if acc >= self._split:
                    parts.append(InputPartition((p, group[0], len(group))))
                    group, acc = [], 0
            if group:
                parts.append(InputPartition((p, group[0], len(group))))
        return parts

    def read_split(self, value):
        path, first_off, n_blocks = value
        with open(path, "rb") as fh:
            hdr, _sync, _ = _read_header(fh)
            schema, codec = hdr["schema"], hdr["codec"]
            fh.seek(first_off)
            buf = fh.read()
        pos = 0
        for _ in range(n_blocks):
            n, pos = _dec_long(buf, pos)
            nbytes, pos = _dec_long(buf, pos)
            data = buf[pos : pos + nbytes]
            pos += nbytes + 16
            if codec == "deflate":
                data = zlib.decompress(data, wbits=-15)
            elif codec != "null":
                raise NotImplementedError(f"avro codec {codec}")
            yield from _decode_block(data, schema, n)


class AvroBatchWriter(SpoolWriter):
    """One container file per task."""

    suffix = ".avro"

    def __init__(self, path: str, overwrite: bool, spark_schema):
        super().__init__(path, overwrite)
        self._schema = spark_schema

    def write_file(self, staged: str, name: str, batches) -> None:
        def rows():
            for batch in batches:
                cols = [c.to_pylist() for c in batch.columns]
                yield from zip(*cols) if cols else ()

        write_avro_file(staged, rows(), self._schema)


class AvroContainerDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "avrowire"

    def schema(self):
        files = list_files(self.options["path"])
        if not files:
            raise ValueError("avrowire: no files at path")
        with open(files[0], "rb") as fh:
            hdr, _, _ = _read_header(fh)
        cols = []
        for f in hdr["schema"]["fields"]:
            prim, _nullable = _field_type(f["type"])
            cols.append(f"{f['name']} {_AVRO_TO_DDL[prim]}")
        return ", ".join(cols)

    def reader(self, schema) -> AvroBatchReader:
        return AvroBatchReader(
            self.options["path"],
            int(self.options.get("split_bytes", 8 * 1024 * 1024)),
        )

    def writer(self, schema, overwrite: bool) -> AvroBatchWriter:
        return AvroBatchWriter(self.options["path"], overwrite, schema)


def register_avrowire(spark) -> None:
    """Idempotently register the connector on a session."""
    register(spark, AvroContainerDataSource)
