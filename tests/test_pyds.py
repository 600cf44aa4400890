"""Custom Python DataSource (carbonwire) — connector contract tests:
planner-visible partitioning in batch, exactly-once file pickup in
streaming."""

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
    register_carbonwire(spark)
    d = tempfile.mkdtemp(prefix="mps_pyds_src_")
    ckpt = tempfile.mkdtemp(prefix="mps_pyds_ckpt_")
    out = tempfile.mkdtemp(prefix="mps_pyds_out_")
    _write_wire(d, "00.txt", ["a 1 1700000000"])
    _write_wire(d, "01.txt", ["b 2 1700000001"])

    def drain() -> int:
        q = (
            spark.readStream.format("carbonwire")
            .option("path", d)
            .load()
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
