"""CLI front door (python -m metricproxy_spark): list + run + explain
work in a fresh process; serve's listener banner is checked in process."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENV = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001")


def _run(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "metricproxy_spark", *args],
        cwd=REPO,
        env=ENV,
        capture_output=True,
        text=True,
        timeout=300,
    )


def test_list_names_every_query():
    p = _run("list")
    assert p.returncode == 0, p.stderr[-500:]
    lines = [l for l in p.stdout.splitlines() if "\t" in l]
    names = {l.split("\t")[0] for l in lines}
    assert "events_type_totals" in names and len(names) > 100


def test_run_shows_rows_and_explain_shows_plan():
    p = _run("run", "events_type_totals", "--limit", "2", "--master", "local[4]")
    assert p.returncode == 0, p.stderr[-500:]
    assert "event_type" in p.stdout
    p2 = _run("run", "events_type_totals", "--explain", "--master", "local[4]")
    assert p2.returncode == 0, p2.stderr[-500:]
    assert "Physical Plan" in p2.stdout


def test_unknown_query_fails_cleanly():
    p = _run("run", "no_such_query")
    assert p.returncode == 2
    assert "unknown query" in p.stderr


def test_serve_drain_carbon_config(tmp_path):
    """Daemon parity, drain mode: a ProxyConfig with a carbon file
    listener and a CSV forwarder processes everything available, prints
    the counter snapshot as JSON, and exits 0."""
    import json

    src = tmp_path / "carbon_in"
    src.mkdir()
    (src / "b1.txt").write_text(
        "a.b 1.5 1700000000\nc.d 2.5 1700000060\n"
    )
    out = tmp_path / "csv_out"
    cfg = {
        "ListenFrom": [{"Type": "carbon", "Source": str(src)}],
        "ForwardTo": [{"Type": "csv", "Name": "csv", "Path": str(out)}],
    }
    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(json.dumps(cfg))
    p = _run(
        "serve",
        "--config",
        str(cfg_path),
        "--checkpoint",
        str(tmp_path / "ckpt"),
        "--drain",
        "--master",
        "local[4]",
    )
    assert p.returncode == 0, p.stderr[-800:]
    stats = json.loads(p.stdout.strip().splitlines()[-1])
    assert stats["datapoints_in"] == 2
    assert stats["sink.csv.datapoints"] == 2


def test_serve_continuous_live_http_post_then_sigint(tmp_path):
    """Daemon parity, continuous mode: serve starts the config's LIVE
    HTTP listener, a real POST lands in the CSV forwarder within a few
    micro-batches, and SIGINT shuts down cleanly with counters."""
    import http.client
    import json
    import signal
    import time

    spool = tmp_path / "spool"
    out = tmp_path / "csv_out"
    cfg = {
        "ListenFrom": [
            {
                "Type": "signalfx",
                "ListenAddr": "127.0.0.1:0",
                "Source": str(spool),
            }
        ],
        "ForwardTo": [{"Type": "csv", "Name": "csv", "Path": str(out)}],
    }
    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(json.dumps(cfg))
    proc = subprocess.Popen(
        [
            sys.executable,
            "-m",
            "metricproxy_spark",
            "serve",
            "--config",
            str(cfg_path),
            "--checkpoint",
            str(tmp_path / "ckpt"),
            "--interval-seconds",
            "1",
            "--master",
            "local[4]",
        ],
        cwd=REPO,
        env=ENV,
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )
    try:
        port = None
        deadline = time.time() + 120
        while time.time() < deadline:
            line = proc.stdout.readline()
            if line.startswith("listening on http://"):
                port = int(line.rsplit(":", 1)[1])
                break
        assert port, "listener line never appeared"
        body = json.dumps(
            {
                "gauge": [
                    {"metric": "live.a", "value": 1.0, "timestamp": 1},
                    {"metric": "live.b", "value": 2.0, "timestamp": 2},
                ]
            }
        ).encode()
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=10)
        conn.request(
            "POST",
            "/v2/datapoint",
            body=body,
            headers={"Content-Type": "application/json"},
        )
        assert conn.getresponse().status == 200
        conn.close()
        # wait until the forwarder durably wrote both rows
        deadline = time.time() + 120
        seen = 0
        while time.time() < deadline and seen < 2:
            seen = sum(
                len(
                    [
                        l
                        for l in open(f, encoding="utf-8")
                        if l.strip()
                    ]
                )
                for f in (out.glob("**/*") if out.exists() else [])
                if f.is_file() and not f.name.startswith((".", "_"))
            )
            time.sleep(1)
        assert seen == 2, seen
        proc.send_signal(signal.SIGINT)
        stdout, stderr = proc.communicate(timeout=120)
        stats = json.loads(stdout.strip().splitlines()[-1])
        assert stats.get("datapoints_in", 0) >= 2, (stdout, stderr[-500:])
    finally:
        if proc.poll() is None:
            proc.kill()


def test_serve_banner_names_each_listeners_scheme(
    spark, tmp_path, monkeypatch, capsys
):
    """``serve`` announces every live listener with its own scheme: a
    statsd UDP socket, an influx TCP socket and the HTTP door."""
    import json
    import re

    from metricproxy_spark import cli, session

    monkeypatch.setattr(session, "get_spark", lambda **_kw: spark)
    cfg = {
        "ListenFrom": [
            {
                "Type": "statsd",
                "Source": str(tmp_path / "statsd"),
                "ListenAddr": "127.0.0.1:0",
                "Protocol": "udp",
            },
            {
                "Type": "influx",
                "Source": str(tmp_path / "influx"),
                "ListenAddr": "127.0.0.1:0",
            },
            {
                "Type": "signalfx",
                "Source": str(tmp_path / "sfx"),
                "ListenAddr": "127.0.0.1:0",
            },
        ],
        "ForwardTo": [{"Type": "csv", "Path": str(tmp_path / "csv")}],
    }
    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(json.dumps(cfg))
    ckpt = str(tmp_path / "ckpt")
    try:
        assert cli.main(["serve", "--config", str(cfg_path), "--checkpoint", ckpt, "--drain"]) == 0
    finally:
        spark.sparkContext.setLogLevel("WARN")  # serve quiets the shared session
    banner = [
        re.sub(r":\d+$", ":N", line)
        for line in capsys.readouterr().out.splitlines()
        if line.startswith("listening on ")
    ]
    assert banner == [
        "listening on udp://127.0.0.1:N",
        "listening on tcp://127.0.0.1:N",
        "listening on http://127.0.0.1:N",
    ]
