"""avrowire connector: binary codec, container framing, block
splitting, schema-on-read, Spark write->read cycle."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import types as T

from metricproxy_spark.sources.avro import (
    AvroBatchReader,
    index_blocks,
    register_avrowire,
    write_avro_file,
)

_SCHEMA = T.StructType(
    [
        T.StructField("a", T.LongType(), False),
        T.StructField("s", T.StringType(), True),
        T.StructField("d", T.DoubleType(), False),
        T.StructField("b", T.BooleanType(), True),
    ]
)


def _rows(n):
    return [
        (
            i,
            None if i % 3 == 0 else f"str{i}",
            i * 0.25,
            None if i % 5 == 0 else i % 2 == 0,
        )
        for i in range(n)
    ]


class TestContainer:
    def test_roundtrip_exact_with_deflate(self):
        d = tempfile.mkdtemp()
        p = os.path.join(d, "x.avro")
        rows = _rows(10_000)
        write_avro_file(p, rows, _SCHEMA, records_per_block=1000)
        rdr = AvroBatchReader(p, 4096)
        got = []
        for part in rdr.partitions():
            got.extend(rdr.read(part))
        assert got == rows

    def test_edge_values(self):
        import math

        d = tempfile.mkdtemp()
        p = os.path.join(d, "y.avro")
        rows = [
            (-(2**62), "x", -0.0, True),
            (2**62, None, float("inf"), False),
        ]
        write_avro_file(p, rows, _SCHEMA, codec="null")
        rdr = AvroBatchReader(p, 4096)
        got = []
        for part in rdr.partitions():
            got.extend(rdr.read(part))
        assert got[0][0] == -(2**62) and got[1][0] == 2**62
        assert math.isinf(got[1][2]) and str(got[0][2]) == "-0.0"

    def test_blocks_split_by_bytes(self):
        # big uncompressible-ish strings so deflate blocks stay large:
        # one 64 KiB-floor split must NOT swallow the whole file
        import random

        rng = random.Random(5)
        d = tempfile.mkdtemp()
        p = os.path.join(d, "big.avro")
        rows = [
            (i, "".join(chr(rng.randrange(33, 127)) for _ in range(256)),
             float(i), True)
            for i in range(4000)
        ]
        write_avro_file(p, rows, _SCHEMA, records_per_block=250)
        assert os.path.getsize(p) > 256 * 1024
        assert len(index_blocks(p)) == 16
        rdr = AvroBatchReader(p, 64 * 1024)
        parts = rdr.partitions()
        assert len(parts) > 1, "expected within-file splits"
        got = []
        for part in parts:
            got.extend(rdr.read(part))
        assert got == rows


class TestSparkCycle:
    def test_write_read_schema_on_read(self, spark):
        register_avrowire(spark)
        d = os.path.join(tempfile.mkdtemp(), "out")
        df = spark.createDataFrame(
            [(1, "a", 0.5, True), (2, None, 1.5, None)], _SCHEMA
        )
        df.repartition(2).write.format("avrowire").mode("overwrite").save(d)
        assert os.path.exists(os.path.join(d, "_SUCCESS"))
        back = spark.read.format("avrowire").option("path", d).load()
        assert [f.name for f in back.schema.fields] == ["a", "s", "d", "b"]
        got = sorted(tuple(r) for r in back.collect())
        assert got == [(1, "a", 0.5, True), (2, None, 1.5, None)]

    def test_overwrite_replaces_prior_job(self, spark):
        register_avrowire(spark)
        d = os.path.join(tempfile.mkdtemp(), "out")
        df1 = spark.createDataFrame([(1, "a", 0.5, True)], _SCHEMA)
        df1.write.format("avrowire").mode("overwrite").save(d)
        df2 = spark.createDataFrame([(9, "z", 9.5, False)], _SCHEMA)
        df2.write.format("avrowire").mode("overwrite").save(d)
        back = spark.read.format("avrowire").option("path", d).load()
        assert [tuple(r) for r in back.collect()] == [(9, "z", 9.5, False)]


class TestForeignHeaderShapes:
    def test_negative_metadata_map_count(self, tmp_path):
        """The Avro spec allows map blocks with a NEGATIVE count, in
        which case the count is followed by the block's byte size (a
        long). Foreign writers use this; the header parser must skip
        the size long before reading abs(n) key/value pairs."""
        import io as _io
        import json

        from metricproxy_spark.sources.avro import (
            AVRO_MAGIC,
            _enc_long,
            _read_header,
        )

        schema = json.dumps(
            {
                "type": "record",
                "name": "r",
                "fields": [{"name": "a", "type": "long"}],
            }
        ).encode()
        entries = [(b"avro.schema", schema), (b"avro.codec", b"null")]
        body = b"".join(
            _enc_long(len(k)) + k + _enc_long(len(v)) + v for k, v in entries
        )
        buf = (
            AVRO_MAGIC
            + _enc_long(-len(entries))  # negative count form
            + _enc_long(len(body))  # block byte size (must be skipped)
            + body
            + _enc_long(0)  # end of map
            + b"S" * 16  # sync marker
        )
        meta, sync, pos = _read_header(_io.BytesIO(buf))
        assert meta["schema"]["name"] == "r"
        assert meta["codec"] == "null"
        assert sync == b"S" * 16
        assert pos == len(buf)
