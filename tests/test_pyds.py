"""Custom Python DataSource (carbonwire) — connector contract tests:
planner-visible partitioning in batch; and the line spool stream
(Spark's text source) — exactly-once file pickup, same rows as the
connector."""

from __future__ import annotations

import os
import tempfile

from metricproxy_spark.sources.pyds import register_carbonwire


def _write_wire(dirpath: str, name: str, lines: list[str]) -> None:
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, name), "w") as fh:
        fh.write("\n".join(lines) + "\n")


def test_batch_read_partition_per_file(spark):
    register_carbonwire(spark)
    d = tempfile.mkdtemp(prefix="mps_pyds_")
    _write_wire(d, "a.txt", ["m.one 1 1700000000", "m.two 2 1700000001"])
    _write_wire(d, "b.txt", ["m.three 3 1700000002"])
    df = spark.read.format("carbonwire").option("path", d).load()
    assert df.count() == 3
    # partition-per-file: the planner can schedule files independently
    assert df.rdd.getNumPartitions() == 2
    assert {r.src_file for r in df.collect()} == {"a.txt", "b.txt"}


def test_stream_picks_up_new_files_exactly_once(spark):
    """A line spool streams through ``line_spool_stream`` (Spark's text
    source); a restarted query reads only the file that arrived since."""
    from metricproxy_spark.streaming.socketlistener import line_spool_stream

    d = tempfile.mkdtemp(prefix="mps_pyds_src_")
    ckpt = tempfile.mkdtemp(prefix="mps_pyds_ckpt_")
    out = tempfile.mkdtemp(prefix="mps_pyds_out_")
    _write_wire(d, "00.txt", ["a 1 1700000000"])
    _write_wire(d, "01.txt", ["b 2 1700000001"])

    def drain() -> int:
        q = (
            line_spool_stream(spark, d)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).count()

    assert drain() == 2
    # a new file lands; a restarted query resumes from the checkpointed
    # offset and appends ONLY the new file's rows
    _write_wire(d, "02.txt", ["c 3 1700000002", "d 4 1700000003"])
    assert drain() == 4
    assert sorted(
        (r.line, r.src_file) for r in spark.read.parquet(out).collect()
    ) == [
        ("a 1 1700000000", "00.txt"),
        ("b 2 1700000001", "01.txt"),
        ("c 3 1700000002", "02.txt"),
        ("d 4 1700000003", "02.txt"),
    ]


def test_line_spool_stream_reads_like_carbonwire(spark, tmp_path):
    """On a spool with CRLF, blank lines, invalid UTF-8, a missing final
    newline and hidden ``.seg_``/``_`` files, ``line_spool_stream`` rows
    equal ``spark.read.format("carbonwire")`` rows."""
    from metricproxy_spark.streaming.socketlistener import line_spool_stream

    register_carbonwire(spark)
    d = tmp_path / "spool"
    d.mkdir()
    (d / "lines_000000000000.wire").write_bytes(
        b"a 1 1\r\n\r\n\nb 2 2\n\xff\xfe bad \xc3\n"
    )
    (d / "lines_000000000001.wire").write_bytes(
        "\n".join(f"m.{i} {i} {i}" for i in range(20_000)).encode()
        + "\nh\u00e9llo \u65e5\u672c\r\nlast no newline".encode()
    )
    (d / "lines_000000000002.wire").write_bytes(b"")
    (d / ".seg_open").write_bytes(b"hidden 1 1\n")
    (d / "_SUCCESS").write_bytes(b"hidden 2 2\n")

    q = (
        line_spool_stream(spark, str(d))
        .writeStream.format("memory")
        .queryName("line_spool_parity")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        streamed = spark.table("line_spool_parity").collect()
    finally:
        spark.catalog.dropTempView("line_spool_parity")
    batch = spark.read.format("carbonwire").option("path", str(d)).load()
    key = lambda r: (r.line, r.src_file)  # noqa: E731
    assert sorted(map(key, streamed)) == sorted(map(key, batch.collect()))
    assert len(streamed) == 20_006


def test_byte_range_chunking_no_loss_no_dup(spark):
    register_carbonwire(spark)
    d = tempfile.mkdtemp(prefix="mps_pyds_chunk_")
    lines = [f"metric.{i} {i} {1700000000 + i}" for i in range(5000)]
    _write_wire(d, "big.txt", lines)
    df = (
        spark.read.format("carbonwire")
        .option("path", d)
        .option("chunk_bytes", "65536")  # floor -> 64 KiB chunks
        .load()
    )
    # file is ~160 KB -> multiple byte-range splits over ONE file
    assert df.rdd.getNumPartitions() > 1
    got = sorted(r.line for r in df.collect())
    assert got == sorted(lines)  # every line exactly once across splits


def test_writer_roundtrip_and_success_marker(spark):
    register_carbonwire(spark)
    d = tempfile.mkdtemp(prefix="mps_pyds_w_")
    df = spark.createDataFrame(
        [(f"m.{i} {i} {1700000000 + i}",) for i in range(100)], "line string"
    )
    df.repartition(3).write.format("carbonwire").mode("overwrite").save(d)
    files = sorted(os.listdir(d))
    assert "_SUCCESS" in files
    # no staged leftovers, only committed part files + marker
    assert not [f for f in files if f.startswith("._staged_")]
    back = spark.read.format("carbonwire").option("path", d).load()
    assert sorted(r.line for r in back.collect()) == sorted(
        r.line for r in df.collect()
    )


def test_writer_overwrite_replaces_previous_job(spark):
    register_carbonwire(spark)
    d = tempfile.mkdtemp(prefix="mps_pyds_ow_")
    one = spark.createDataFrame([("a 1 1700000000",)], "line string")
    two = spark.createDataFrame(
        [("b 2 1700000001",), ("c 3 1700000002",)], "line string"
    )
    one.coalesce(1).write.format("carbonwire").mode("overwrite").save(d)
    two.coalesce(1).write.format("carbonwire").mode("overwrite").save(d)
    back = spark.read.format("carbonwire").option("path", d).load()
    assert sorted(r.line for r in back.collect()) == [
        "b 2 1700000001",
        "c 3 1700000002",
    ]


def test_writer_append_never_clobbers_previous_job(spark):
    """Append-mode final names embed a per-job id: a second append job
    must add its rows next to (not over) the first job's part files."""
    register_carbonwire(spark)
    d = tempfile.mkdtemp(prefix="mps_pyds_ap_")
    one = spark.createDataFrame([("a 1 1700000000",)], "line string")
    two = spark.createDataFrame([("b 2 1700000001",)], "line string")
    one.coalesce(1).write.format("carbonwire").mode("append").save(d)
    two.coalesce(1).write.format("carbonwire").mode("append").save(d)
    parts = [f for f in os.listdir(d) if f.endswith(".carbon")]
    assert len(parts) == 2, parts
    back = spark.read.format("carbonwire").option("path", d).load()
    assert sorted(r.line for r in back.collect()) == [
        "a 1 1700000000",
        "b 2 1700000001",
    ]


def test_connector_pickles_are_self_contained(spark):
    """The streaming source runner is a driver-side Python process that
    sees neither addPyFile paths nor the driver's sys.path hacks — a
    by-reference pickle of a connector class dies there with
    ModuleNotFoundError whenever the external driver found this repo
    via sys.path insertion. Contract: after ``spool.register``, a
    cloudpickle of each connector class must unpickle in a subprocess
    that CANNOT import metricproxy_spark at all — which also proves the
    shared ``spool`` base classes travel by value."""
    import base64
    import subprocess
    import sys

    from pyspark import cloudpickle

    from metricproxy_spark.sources.avro import AvroContainerDataSource
    from metricproxy_spark.sources.httpwire import HttpWireDataSource
    from metricproxy_spark.sources.pyds import CarbonWireDataSource
    from metricproxy_spark.sources.spool import register
    from metricproxy_spark.sources.warc import WarcDataSource

    for cls in (
        CarbonWireDataSource,
        HttpWireDataSource,
        AvroContainerDataSource,
        WarcDataSource,
    ):
        register(spark, cls)
        blob = base64.b64encode(cloudpickle.dumps(cls)).decode()
        probe = (
            "import base64, sys\n"
            "sys.modules.pop('metricproxy_spark', None)\n"
            "from pyspark import cloudpickle\n"
            f"cls = cloudpickle.loads(base64.b64decode('{blob}'))\n"
            "assert 'metricproxy_spark' not in sys.modules, 'pickled by reference'\n"
            f"assert cls.__name__ == '{cls.__name__}'\n"
            "print('OK', cls.name())\n"
        )
        out = subprocess.run(
            [sys.executable, "-c", probe],
            capture_output=True,
            text=True,
            cwd="/",
            env={"PATH": os.environ["PATH"], "HOME": os.environ.get("HOME", "/root")},
        )
        assert out.returncode == 0, (cls.__name__, out.stderr[-2000:])
        assert out.stdout.startswith("OK "), out.stdout
