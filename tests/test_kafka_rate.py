"""Kafka wrapper tests (record-shape transforms on static DataFrames —
the same code path a real topic feeds) and the rate-source live demo.
The Kafka connector jar is absent here; I/O builders are construction-
tested and gated behind kafka_available().
"""

from __future__ import annotations

import json
import time

from pyspark.sql import functions as F

from metricproxy_spark.streaming.kafka import (
    KAFKA_RECORD_SCHEMA,
    carbon_from_kafka,
    decode_kafka_records,
    kafka_available,
    kafka_reader,
    to_kafka_records,
)


def _records(spark, lines):
    rows = [
        (None, line.encode("utf-8"), "metrics", 0, i, None, 0)
        for i, line in enumerate(lines)
    ]
    return spark.createDataFrame(rows, KAFKA_RECORD_SCHEMA)


class TestKafkaTransforms:
    def test_decode_and_carbon_parse(self, spark):
        recs = _records(
            spark,
            ["cpu.load 0.5 1700000000", "bad line", "mem.free 12 1700000001"],
        )
        lines = decode_kafka_records(recs)
        assert lines.count() == 3
        parsed = carbon_from_kafka(recs)
        got = {
            (r["metric"], r["value"], r["epoch_s"])
            for r in parsed.collect()
        }
        # "bad line" has 2 fields with a non-numeric ts -> dropped (C1)
        assert got == {
            ("cpu.load", 0.5, 1700000000),
            ("mem.free", 12.0, 1700000001),
        }

    def test_to_kafka_records_wire_shape(self, spark):
        df = spark.createDataFrame(
            [("cpu.load", 0.5, "2024-01-01 00:00:00")],
            "metric string, value double, ts_s string",
        ).select(
            "metric", "value", F.col("ts_s").cast("timestamp").alias("ts")
        )
        out = to_kafka_records(df).collect()
        assert len(out) == 1
        assert out[0]["key"] == "cpu.load"
        body = json.loads(out[0]["value"])
        assert body["metric"] == "cpu.load" and body["value"] == 0.5
        assert isinstance(body["timestamp"], int)  # epoch millis

    def test_reader_builds_without_connector(self, spark):
        # Building the reader never touches the classpath; only .load()
        # needs the connector, which this container doesn't ship.
        reader = kafka_reader(
            spark,
            "broker:9092",
            "metrics",
            max_offsets_per_trigger=10_000,
            min_partitions=64,
        )
        assert reader is not None
        assert kafka_available(spark) is False


class TestRateSource:
    def test_rate_datapoints_live_stream(self, spark, tmp_path):
        from metricproxy_spark.streaming.source import rate_datapoints

        dp = rate_datapoints(spark, rows_per_second=500, num_partitions=2)
        assert set(dp.columns) == {
            "metric", "value", "value_str", "ts", "metric_type",
            "dimensions", "meta",
        }
        seen = {"n": 0}

        def count_batch(df, batch_id):
            seen["n"] += df.count()

        q = (
            dp.writeStream.foreachBatch(count_batch)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="1 second")
            .start()
        )
        try:
            deadline = time.time() + 30
            while seen["n"] == 0 and time.time() < deadline:
                time.sleep(0.5)
        finally:
            q.stop()
        assert seen["n"] > 0
