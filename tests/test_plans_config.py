"""Config-graph tests (SURVEY §2.1): JSON ProxyConfig → running
pipeline, mirroring the reference's end-to-end in-process test — wire
bytes in, forwarder output + counters asserted [P: main_test.go]."""

from __future__ import annotations

import json
import os

import pytest

from metricproxy_spark.plans import build_pipeline, load_config
from metricproxy_spark.streaming.sinks import count_rows_in_dir


def _write_carbon_lines(path: str, lines: list[str]) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "batch1.txt"), "w") as f:
        f.write("\n".join(lines) + "\n")


def test_load_config_validates():
    with pytest.raises(ValueError):
        load_config({"ListenFrom": []})


def test_empty_listen_from_is_refused():
    # build_pipeline unions the listeners' streams from the first one
    with pytest.raises(ValueError, match="ListenFrom"):
        load_config({"ListenFrom": [], "ForwardTo": []})


def test_carbon_to_csv_and_carbon_pipeline(spark, tmp_path):
    """carbon listener (commakeys deconstructor) fans out to a CSV
    forwarder and a carbon forwarder; the carbon forwarder re-emits the
    ORIGINAL wire lines byte-identically (C7 meta passthrough)."""
    src = str(tmp_path / "carbon_in")
    lines = [
        "servers.api.cpu[dc=us,role=web] 0.75 1700000000",
        "servers.db.mem 1024 1700000060",
        "bogus line",  # invalid: counted-and-dropped by the parser
        "servers.api.cpu[dc=eu] 0.25 1700000120",
    ]
    _write_carbon_lines(src, lines)
    cfg = {
        "ListenFrom": [
            {
                "Type": "carbon",
                "Source": src,
                "MetricDeconstructor": "commakeys",
            }
        ],
        "ForwardTo": [
            {"Type": "csv", "Name": "debug", "Path": str(tmp_path / "csv_out")},
            {"Type": "carbon", "Name": "relay", "Path": str(tmp_path / "carbon_out")},
        ],
    }
    # config also round-trips through JSON text like the reference's file
    cfg_path = tmp_path / "proxy.json"
    cfg_path.write_text(json.dumps(cfg))

    pipe = build_pipeline(spark, str(cfg_path))
    stats = pipe.run_available_now(str(tmp_path / "ckpt"))

    assert stats["datapoints_in"] == 3  # bogus line dropped at parse
    assert stats["sink.debug.datapoints"] == 3
    assert stats["sink.relay.datapoints"] == 3
    assert count_rows_in_dir(spark, str(tmp_path / "csv_out"), "csv") == 3

    relayed = {
        r.value
        for r in spark.read.text(str(tmp_path / "carbon_out")).collect()
    }
    assert relayed == {l for l in lines if l != "bogus line"}  # byte fidelity

    # commakeys deconstruction reached the CSV sink as dimensions
    csv_rows = spark.read.csv(str(tmp_path / "csv_out")).collect()
    joined = "\n".join(",".join(str(c) for c in r) for r in csv_rows)
    assert "servers.api.cpu" in joined and "dc -> us" in joined


def test_buffer_size_warns_and_drops_nothing(spark, tmp_path):
    """BufferSize and DrainingThreads load but have no effect: every line
    is delivered, nothing is counted as dropped, and build_pipeline warns
    once per key, naming it."""
    src = str(tmp_path / "in")
    _write_carbon_lines(
        src, [f"m{i} {i} 170000000{i % 10}" for i in range(50)]
    )
    cfg = {
        "ListenFrom": [{"Type": "carbon", "Source": src}],
        "ForwardTo": [
            {
                "Type": "csv",
                "Path": str(tmp_path / "out"),
                "BufferSize": 20,
                "DrainingThreads": 4,
            },
            {
                "Type": "carbon",
                "Path": str(tmp_path / "carbon_out"),
                "BufferSize": 10,
            },
        ],
    }
    with pytest.warns(UserWarning) as warned:
        pipe = build_pipeline(spark, cfg)
    messages = sorted(
        str(w.message) for w in warned if "has no effect" in str(w.message)
    )
    assert len(messages) == 2, messages
    assert "BufferSize" in messages[0] and "spool" in messages[0]
    assert "DrainingThreads" in messages[1] and "split count" in messages[1]
    stats = pipe.run_available_now(str(tmp_path / "ckpt"))
    assert stats["datapoints_in"] == 50
    assert "datapoints_dropped" not in stats
    assert count_rows_in_dir(spark, str(tmp_path / "out"), "csv") == 50
    assert count_rows_in_dir(spark, str(tmp_path / "carbon_out"), "text") == 50


def test_signalfx_live_listener_from_config(spark, tmp_path):
    """A config-declared signalfx listener with a ListenAddr starts a
    REAL HTTP endpoint: points POSTed over TCP land in the CSV
    forwarder after one availableNow drain, with counters agreeing."""
    import http.client

    spool = str(tmp_path / "sfx_spool")
    out = str(tmp_path / "csv_out")
    cfg = {
        "ListenFrom": [
            {
                "Type": "signalfx",
                "ListenAddr": "127.0.0.1:0",
                "Source": spool,
            }
        ],
        "ForwardTo": [{"Type": "csv", "Name": "csv", "Path": out}],
    }
    pipe = build_pipeline(spark, cfg)
    try:
        [lis] = pipe.live_listeners
        body = json.dumps(
            {
                "gauge": [
                    {
                        "metric": "live.cpu",
                        "value": 0.5,
                        "timestamp": 1700000000000,
                        "dimensions": {"dc": "us"},
                    },
                    {
                        "metric": "live.mem",
                        "value": 2048.0,
                        "timestamp": 1700000001000,
                        "dimensions": {},
                    },
                ]
            }
        ).encode()
        conn = http.client.HTTPConnection(lis.host, lis.port, timeout=10)
        conn.request(
            "POST",
            "/v2/datapoint",
            body=body,
            headers={"Content-Type": "application/json"},
        )
        assert conn.getresponse().status == 200
        conn.close()
        stats = pipe.run_available_now(str(tmp_path / "ckpt"))
    finally:
        pipe.close_listeners()
    assert stats["datapoints_in"] == 2
    assert stats["sink.csv.datapoints"] == 2
    assert count_rows_in_dir(spark, out, fmt="csv") == 2


def test_statsd_live_listener_from_config(spark, tmp_path):
    """A statsd ListenFrom with a ListenAddr binds a REAL line socket
    (UDP datagram mode via Protocol), clients push multi-metric
    packets, and the spool drains through the pipeline to a CSV sink
    with sample-rate-corrected values and processing-time stamps."""
    import socket
    import time

    from metricproxy_spark.plans.config import build_pipeline
    from metricproxy_spark.streaming.sinks import count_rows_in_dir

    spool = str(tmp_path / "statsd_spool")
    cfg = {
        "ListenFrom": [
            {
                "Type": "statsd",
                "Source": spool,
                "ListenAddr": "127.0.0.1:0",
                "Protocol": "udp",
            }
        ],
        "ForwardTo": [
            {"Type": "csv", "Name": "out", "Path": str(tmp_path / "csv_out")}
        ],
    }
    pipe = build_pipeline(spark, cfg)
    try:
        lis = pipe.live_listeners[0]
        s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        s.sendto(
            b"api.req:2|c|@0.5\nweb.mem:512|g\n", (lis.host, lis.port)
        )
        s.sendto(b"api.lat:33|ms\nusers:u7|s\n", (lis.host, lis.port))
        s.close()
        deadline = time.time() + 10
        while lis.accepted < 4 and time.time() < deadline:
            time.sleep(0.02)
        lis.seal()
        (q,) = pipe.start(str(tmp_path / "ckpt"))
        q.awaitTermination()
        stats = pipe.stats
        assert stats["datapoints_in"] == 4
        assert count_rows_in_dir(spark, str(tmp_path / "csv_out"), "csv") == 4
        # Spark's own file source, not a Python stream reader
        (src,) = q.lastProgress["sources"]
        assert src["description"].startswith("FileStreamSource")
        assert lis.url == f"udp://127.0.0.1:{lis.port}"
    finally:
        pipe.close_listeners()


def test_influx_listener_from_config(spark, tmp_path):
    """Influx line-protocol spool drains with wire timestamps and tag
    dimensions intact."""
    import os

    from metricproxy_spark.plans.config import build_pipeline
    from metricproxy_spark.streaming.sinks import count_rows_in_dir

    spool = str(tmp_path / "influx_spool")
    os.makedirs(spool)
    with open(os.path.join(spool, "lines_000000000000.wire"), "w") as fh:
        fh.write(
            "cpu,host=h1,region=r1 value=0.5,count=3i 1700000000000000000\n"
            "mem,host=h2,region=r2 value=99.25,count=1i 1700000060000000000\n"
        )
    cfg = {
        "ListenFrom": [{"Type": "influx", "Source": spool}],
        "ForwardTo": [
            {"Type": "csv", "Name": "out", "Path": str(tmp_path / "csv_out")}
        ],
    }
    pipe = build_pipeline(spark, cfg)
    (q,) = pipe.start(str(tmp_path / "ckpt"))
    q.awaitTermination()
    stats = pipe.stats
    assert stats["datapoints_in"] == 2
    assert count_rows_in_dir(spark, str(tmp_path / "csv_out"), "csv") == 2
    (src,) = q.lastProgress["sources"]
    assert src["description"].startswith("FileStreamSource")


def test_carbon_listen_addr_binds_a_line_socket(spark, tmp_path, monkeypatch):
    """A carbon ListenFrom with a ListenAddr binds a real TCP line
    socket spooling into ``Source``: lines sent to it all reach the CSV
    forwarder after one availableNow drain. A parquet listener with a
    ListenAddr is refused before any port is bound."""
    from metricproxy_spark.plans import config
    from metricproxy_spark.streaming.socketlistener import send_lines_tcp

    out = str(tmp_path / "csv_out")
    lines = [f"live.m{i} {i}.5 {1700000000 + i}" for i in range(40)]
    cfg = {
        "ListenFrom": [
            {
                "Type": "carbon",
                # not created here: the listener spools into it
                "Source": str(tmp_path / "carbon_spool"),
                "ListenAddr": "127.0.0.1:0",
            }
        ],
        "ForwardTo": [{"Type": "csv", "Name": "csv", "Path": out}],
    }
    pipe = build_pipeline(spark, cfg)
    try:
        [lis] = pipe.live_listeners
        assert lis.url == f"tcp://127.0.0.1:{lis.port}"
        send_lines_tcp(lis.host, lis.port, lines, connections=2)
        stats = pipe.run_available_now(str(tmp_path / "ckpt"))
    finally:
        pipe.close_listeners()
    assert stats["datapoints_in"] == stats["sink.csv.datapoints"] == 40
    got = sorted((r[0], float(r[1])) for r in spark.read.csv(out).collect())
    assert got == sorted((f"live.m{i}", i + 0.5) for i in range(40))

    bound = []
    monkeypatch.setattr(
        config.LineSocketListener, "start", lambda self: bound.append(self)
    )
    cfg["ListenFrom"].append(
        {
            "Type": "parquet",
            "Source": str(tmp_path / "pq"),
            "ListenAddr": "127.0.0.1:0",
        }
    )
    with pytest.raises(ValueError, match="ListenAddr"):
        build_pipeline(spark, cfg)
    assert bound == []


def _forwarded_lines(path: str) -> list[bytes]:
    """Every line a line forwarder wrote under ``path``, sorted."""
    lines = []
    for name in sorted(os.listdir(path)):
        if name.startswith("part-"):
            with open(os.path.join(path, name), "rb") as fh:
                lines += fh.read().splitlines(keepends=True)
    return sorted(lines)


def _stage_three_segments(ltype: str, spool: str) -> list[str]:
    """Three sealed spool files of 4 points each, as the ``ltype``
    listener writes them; returns the metric names."""
    import http.client

    from metricproxy_spark.streaming.httplistener import HttpIngestListener

    sent = [[f"m.{seg}.{i}" for i in range(4)] for seg in range(3)]
    if ltype == "carbon":
        os.makedirs(spool)
        for seg, names in enumerate(sent):
            with open(os.path.join(spool, f"lines_{seg:012d}.wire"), "w") as fh:
                fh.writelines(f"{m} {i} 1700000000\n" for i, m in enumerate(names))
        return sum(sent, [])
    with HttpIngestListener(spool) as lis:
        for names in sent:
            points = [
                {
                    "metric": m,
                    "value": float(i),
                    "timestamp": 1700000000000 + i,
                    "dimensions": {},
                }
                for i, m in enumerate(names)
            ]
            conn = http.client.HTTPConnection(lis.host, lis.port, timeout=10)
            conn.request(
                "POST",
                "/v2/datapoint",
                body=json.dumps({"gauge": points}),
                headers={"Content-Type": "application/json"},
            )
            assert conn.getresponse().status == 200
            conn.close()
            lis.seal()
    assert len([f for f in os.listdir(spool) if f.startswith("req_")]) == 3
    return sum(sent, [])


@pytest.mark.parametrize("ltype", ["signalfx", "carbon"])
def test_max_files_per_trigger_bounds_a_drain(spark, tmp_path, ltype):
    """``MaxFilesPerTrigger`` holds for every listener type, through the
    HTTP request spool as through a line spool: three sealed spool
    files drain in three batches that have input rows, and every
    forwarder gets each point once."""
    spool = str(tmp_path / "spool")
    sent = _stage_three_segments(ltype, spool)

    out = {k: str(tmp_path / k) for k in ("csv", "carbon", "signalfx")}
    cfg = {
        "ListenFrom": [
            {"Type": ltype, "Source": spool, "MaxFilesPerTrigger": 1}
        ],
        "ForwardTo": [{"Type": k, "Path": p} for k, p in out.items()],
    }
    pipe = build_pipeline(spark, cfg)
    (q,) = pipe.start(str(tmp_path / "ckpt"))
    q.awaitTermination()
    # one spool file per batch: a request, or a file's 4 lines
    rows = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]]
    assert rows == [1, 1, 1] if ltype == "signalfx" else [4, 4, 4]
    assert pipe.stats["datapoints_in"] == len(sent)
    metrics = {
        "csv": [r[0] for r in spark.read.csv(out["csv"]).collect()],
        "carbon": [
            r.value.split(" ")[0]
            for r in spark.read.text(out["carbon"]).collect()
        ],
        "signalfx": [
            r.metric for r in spark.read.json(out["signalfx"]).collect()
        ],
    }
    for kind, got in metrics.items():
        assert sorted(got) == sorted(sent), kind


def test_crlf_carbon_file_drains_like_its_lf_twin(spark, tmp_path):
    """A carbon file with CRLF line ends and a blank line forwards the
    same csv rows as its LF twin, and the carbon forwarder's raw
    passthrough writes the lines without their ``\\r``."""
    lines = ["a.b 1.5 1700000000", "", "c.d[dc=us] 2 1700000060", "bogus"]
    forwarded = {}
    for twin, end in (("lf", "\n"), ("crlf", "\r\n")):
        src = tmp_path / twin / "in"
        src.mkdir(parents=True)
        (src / "carbon.txt").write_bytes(
            "".join(ln + end for ln in lines).encode()
        )
        csv_out = str(tmp_path / twin / "csv")
        carbon_out = str(tmp_path / twin / "carbon")
        cfg = {
            "ListenFrom": [
                {
                    "Type": "carbon",
                    "Source": str(src),
                    "MetricDeconstructor": "commakeys",
                }
            ],
            "ForwardTo": [
                {"Type": "csv", "Path": csv_out},
                {"Type": "carbon", "Path": carbon_out},
            ],
        }
        pipe = build_pipeline(spark, cfg)
        stats = pipe.run_available_now(str(tmp_path / twin / "ckpt"))
        assert stats["datapoints_in"] == 2
        forwarded[twin] = (
            _forwarded_lines(csv_out),
            _forwarded_lines(carbon_out),
        )
    assert forwarded["crlf"] == forwarded["lf"]
    csv_rows, carbon_bytes = forwarded["crlf"]
    assert len(csv_rows) == 2 and not any(b"\r" in r for r in csv_rows)
    assert carbon_bytes == [
        b"a.b 1.5 1700000000\n",
        b"c.d[dc=us] 2 1700000060\n",
    ]
