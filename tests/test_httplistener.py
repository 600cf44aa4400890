"""Live HTTP ingest listener (streaming/httplistener.py): real TCP
accept → JSON-lines spool segments → parse, healthz, concurrency, the
seal/recovery contract, and exactly-once streaming consumption of the
spool."""

from __future__ import annotations

import gzip
import http.client
import json
import os
import socket
import threading
import time

import pytest

from metricproxy_spark.sources.httpwire import register_httpwire
from metricproxy_spark.sources.spool import list_files
from metricproxy_spark.streaming.httplistener import (
    HttpIngestListener,
    http_spool_stream,
)


def _post(host, port, path, body: bytes, headers=None):
    conn = http.client.HTTPConnection(host, port, timeout=10)
    conn.request("POST", path, body=body, headers=headers or {})
    resp = conn.getresponse()
    out = (resp.status, resp.read())
    conn.close()
    return out


def _v2_body(points):
    return json.dumps(
        {
            "gauge": [
                {
                    "metric": m,
                    "value": v,
                    "timestamp": t,
                    "dimensions": {},
                }
                for m, v, t in points
            ]
        }
    ).encode()


def test_healthz_and_unknown_route(tmp_path):
    with HttpIngestListener(str(tmp_path / "spool")) as lis:
        conn = http.client.HTTPConnection(lis.host, lis.port, timeout=10)
        conn.request("GET", "/healthz")
        r = conn.getresponse()
        assert (r.status, r.read()) == (200, b"OK")
        conn.close()
        status, _ = _post(lis.host, lis.port, "/nope", b"{}")
        assert status == 404
        assert lis.accepted == 0  # neither route spools


def test_live_post_plain_and_gzip_roundtrip(spark, tmp_path):
    """Bodies posted over real TCP (one plain, one gzip) must come back
    byte-exactly decoded through the httpwire connector + v2 parser."""
    spool = str(tmp_path / "spool")
    with HttpIngestListener(spool) as lis:
        b1 = _v2_body([("m.a", 1.5, 1700000000000)])
        s1, r1 = _post(
            lis.host,
            lis.port,
            "/v2/datapoint",
            b1,
            {"Content-Type": "application/json"},
        )
        b2 = _v2_body([("m.b", 2.5, 1700000001000), ("m.c", 3.5, 1700000002000)])
        s2, r2 = _post(
            lis.host,
            lis.port,
            "/v2/datapoint?sfxdim_dc=dc1",
            gzip.compress(b2),
            {
                "Content-Type": "application/json",
                "Content-Encoding": "gzip",
            },
        )
        assert (s1, r1) == (200, b'"OK"')
        assert (s2, r2) == (200, b'"OK"')
        assert lis.accepted == 2
    register_httpwire(spark)
    from metricproxy_spark.sources.signalfx import parse_sfx_v2_json

    reqs = spark.read.format("httpwire").option("path", spool).load()
    got = {
        (r.metric, r.value, r.ts_ms, r.query)
        for r in parse_sfx_v2_json(reqs, body_col="body").collect()
    }
    assert got == {
        ("m.a", 1.5, 1700000000000, ""),
        ("m.b", 2.5, 1700000001000, "sfxdim_dc=dc1"),
        ("m.c", 3.5, 1700000002000, "sfxdim_dc=dc1"),
    }


def _spooled_bodies(spark, spool) -> list[str]:
    """Every request body in the spool, read back through httpwire."""
    register_httpwire(spark)
    return [
        r.body
        for r in spark.read.format("httpwire").option("path", str(spool)).load().collect()
    ]


def _metrics(bodies) -> list[str]:
    return sorted(p["metric"] for b in bodies for p in json.loads(b)["gauge"])


def test_concurrent_posts_no_loss_no_clobber(spark, tmp_path):
    """20 posts from 4 threads: every request is spooled exactly once."""
    spool = tmp_path / "spool"
    with HttpIngestListener(str(spool)) as lis:

        def worker(k):
            for i in range(5):
                s, _ = _post(
                    lis.host,
                    lis.port,
                    "/v2/datapoint",
                    _v2_body([(f"m.{k}.{i}", float(i), 1700000000000)]),
                )
                assert s == 200

        threads = [
            threading.Thread(target=worker, args=(k,)) for k in range(4)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert lis.accepted == 20
    assert _metrics(_spooled_bodies(spark, spool)) == sorted(
        f"m.{k}.{i}" for k in range(4) for i in range(5)
    )


def test_spool_stream_exactly_once(spark, tmp_path):
    """Streaming consumption of the live spool: a checkpointed
    availableNow drain sees each accepted request exactly once, and a
    second drain after MORE live posts sees only the new ones."""
    spool = str(tmp_path / "spool")
    ckpt = str(tmp_path / "ckpt")
    out: list[str] = []

    def drain():
        q = (
            http_spool_stream(spark, spool)
            .writeStream.foreachBatch(
                lambda df, _bid: out.extend(
                    r.body for r in df.select("body").collect()
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with HttpIngestListener(spool) as lis:
        _post(lis.host, lis.port, "/v2/datapoint", _v2_body([("a", 1.0, 1)]))
        _post(lis.host, lis.port, "/v2/datapoint", _v2_body([("b", 2.0, 2)]))
        lis.seal()
        drain()
        assert len(out) == 2
        _post(lis.host, lis.port, "/v2/datapoint", _v2_body([("c", 3.0, 3)]))
        lis.seal()
        drain()
    assert len(out) == 3
    metrics = [sorted(json.loads(b)["gauge"], key=lambda p: p["metric"])[0]["metric"] for b in out]
    assert sorted(metrics) == ["a", "b", "c"]


def test_two_listener_generations_never_clobber(spark, tmp_path):
    """Two listener INSTANCES sharing one spool dir both resume the
    same max seq; link(2)-claimed final names force the loser onto the
    next seq instead of silently overwriting an accepted request
    (r11 ADVICE: cross-process seq collision)."""
    spool = tmp_path / "spool"
    with HttpIngestListener(str(spool)) as lis:
        _post(lis.host, lis.port, "/v2/datapoint", _v2_body([("a", 1.0, 1)]))
    # Both B and C resume seq = 1 from the same on-disk max.
    with HttpIngestListener(str(spool)) as b, HttpIngestListener(
        str(spool)
    ) as c:
        _post(b.host, b.port, "/v2/datapoint", _v2_body([("b", 2.0, 2)]))
        _post(c.host, c.port, "/v2/datapoint", _v2_body([("c", 3.0, 3)]))
    # nothing clobbered: each request read back exactly once
    assert _metrics(_spooled_bodies(spark, spool)) == ["a", "b", "c"]


def _raw_post(host, port, head: bytes) -> bytes:
    """Send raw request bytes; return whatever the server answers
    within 2 s (a hung server times out instead of blocking)."""
    with socket.create_connection((host, port), timeout=2) as s:
        s.sendall(head)
        out = b""
        try:
            while chunk := s.recv(4096):
                out += chunk
        except socket.timeout:
            pass
    return out


@pytest.mark.parametrize(
    "headers, status",
    [
        (b"Content-Length: -1\r\n", b"400"),
        (b"Content-Length: abc\r\n", b"400"),
        (b"Transfer-Encoding: chunked\r\n", b"411"),
    ],
    ids=["negative", "non_numeric", "missing_chunked"],
)
def test_bad_content_length_is_refused_and_not_spooled(
    tmp_path, headers, status
):
    """A POST whose Content-Length is missing or malformed gets an
    immediate 4xx and spools nothing — never a hang, a dropped
    connection, or a 200 for an empty body."""
    spool = tmp_path / "spool"
    body = b'{"gauge": []}'
    with HttpIngestListener(str(spool)) as lis:
        chunked = b"%x\r\n%s\r\n0\r\n\r\n" % (len(body), body)
        resp = _raw_post(
            lis.host,
            lis.port,
            b"POST /v2/datapoint HTTP/1.1\r\nHost: x\r\n"
            + headers
            + b"\r\n"
            + (chunked if b"chunked" in headers else body),
        )
        assert resp.split(b" ", 2)[1:2] == [status], resp[:200]
        assert lis.accepted == 0
    assert list(spool.iterdir()) == []


def test_undecodable_gzip_is_refused_and_not_spooled(tmp_path):
    """A gzip body that does not decode is refused at the door: a 400,
    nothing accepted, no spool file (a spooled one would fail its
    micro-batch on every replay)."""
    spool = tmp_path / "spool"
    with HttpIngestListener(str(spool)) as lis:
        status, _ = _post(
            lis.host,
            lis.port,
            "/v2/datapoint",
            b"not gzip at all",
            {"Content-Encoding": "gzip"},
        )
        assert status == 400
        assert lis.accepted == 0
    assert list(spool.iterdir()) == []


def _drain_bodies(spark, spool, ckpt) -> list[str]:
    out: list[str] = []
    q = (
        http_spool_stream(spark, spool)
        .writeStream.foreachBatch(
            lambda df, _bid: out.extend(r.body for r in df.select("body").collect())
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return out


def test_dead_writer_segment_published_once(spark, tmp_path):
    """A segment left by a listener that died, holding two complete
    lines and a torn third: the next listener publishes exactly the two
    acked requests, and drains deliver each once."""
    from metricproxy_spark.sources.httpwire import spool_line

    spool = tmp_path / "spool"
    spool.mkdir()
    lines = [
        spool_line("POST", "/v2/datapoint", "application/json", _v2_body([(m, 1.0, 1)]).decode())
        for m in ("a", "b", "c")
    ]
    (spool / ".seg_dead").write_bytes(lines[0] + lines[1] + lines[2][:20])
    ckpt = str(tmp_path / "ckpt")
    with HttpIngestListener(str(spool)):
        pass
    assert sorted(os.listdir(spool)) == ["req_000000000000.jsonl"]
    assert _metrics(_drain_bodies(spark, str(spool), ckpt)) == ["a", "b"]
    # a later generation finds nothing left to publish
    with HttpIngestListener(str(spool)):
        pass
    assert sorted(os.listdir(spool)) == ["req_000000000000.jsonl"]
    assert _drain_bodies(spark, str(spool), ckpt) == []


def test_live_listeners_sharing_a_spool_never_publish_each_others_segment(
    spark, tmp_path, monkeypatch
):
    """A listener starting on a directory where another listener holds
    an open segment leaves that segment alone; each request is then
    published once, by its own listener."""
    from metricproxy_spark.streaming import httplistener

    monkeypatch.setattr(httplistener, "SEAL_INTERVAL_S", 3600.0)
    spool = tmp_path / "spool"
    with HttpIngestListener(str(spool)) as a:
        assert _post(a.host, a.port, "/v2/datapoint", _v2_body([("a", 1.0, 1)]))[0] == 200
        open_segment = [p.name for p in spool.iterdir()]
        assert len(open_segment) == 1 and open_segment[0].startswith(".seg_")
        with HttpIngestListener(str(spool)) as b:
            assert (spool / open_segment[0]).exists()
            assert list_files(str(spool)) == []
            assert _post(b.host, b.port, "/v2/datapoint", _v2_body([("b", 2.0, 2)]))[0] == 200
        # b sealed its own segment only
        assert len(list_files(str(spool))) == 1
        assert (spool / open_segment[0]).exists()
    assert _metrics(_spooled_bodies(spark, spool)) == ["a", "b"]
    assert not [p for p in os.listdir(spool) if p.startswith(".")]


@pytest.mark.parametrize("how", ["seal", "stop", "run_available_now"])
def test_acked_requests_become_visible(spark, tmp_path, monkeypatch, how):
    """``seal()``, ``stop()`` and ``ProxyPipeline.run_available_now``
    each publish every acked request, without waiting for the timer."""
    from metricproxy_spark.plans import build_pipeline
    from metricproxy_spark.streaming import httplistener

    monkeypatch.setattr(httplistener, "SEAL_INTERVAL_S", 3600.0)
    spool = str(tmp_path / "spool")
    pipe = build_pipeline(
        spark,
        {
            "ListenFrom": [
                {"Type": "signalfx", "ListenAddr": "127.0.0.1:0", "Source": spool}
            ],
            "ForwardTo": [{"Type": "csv", "Path": str(tmp_path / "csv")}],
        },
    )
    (lis,) = pipe.live_listeners
    try:
        for m in ("a", "b", "c"):
            assert _post(lis.host, lis.port, "/v2/datapoint", _v2_body([(m, 1.0, 1)]))[0] == 200
        assert list_files(spool) == []
        if how == "run_available_now":
            stats = pipe.run_available_now(str(tmp_path / "ckpt"))
            assert stats["datapoints_in"] == 3
            return
        getattr(lis, how)()
    finally:
        pipe.close_listeners()
    assert _metrics(_spooled_bodies(spark, spool)) == ["a", "b", "c"]


def test_acked_request_becomes_visible_on_its_own(tmp_path):
    """With no call at all, the timer publishes an acked request within
    a few seal intervals."""
    from metricproxy_spark.streaming.httplistener import SEAL_INTERVAL_S

    spool = str(tmp_path / "spool")
    with HttpIngestListener(spool) as lis:
        assert _post(lis.host, lis.port, "/v2/datapoint", _v2_body([("a", 1.0, 1)]))[0] == 200
        deadline = time.time() + 8 * SEAL_INTERVAL_S
        while not list_files(spool) and time.time() < deadline:
            time.sleep(SEAL_INTERVAL_S / 10)
        assert len(list_files(spool)) == 1


# (body, path with query, headers): every decoding rule the door applies
_PARITY_REQUESTS = [
    (_v2_body([("p.plain", 1.0, 1)]), "/v2/datapoint", {"Content-Type": "application/json"}),
    (
        gzip.compress(_v2_body([("p.gzip", 2.0, 2)])),
        "/v2/datapoint?sfxdim_dc=west&x=1",
        {"Content-Type": "application/json", "Content-Encoding": "gzip"},
    ),
    (b'{"gauge": [\r\n]}\r\nline two\n', "/v1/datapoint", {"Content-Type": "text/plain"}),
    ("héllo 日本 \U0001f600".encode(), "/post-collectd", {"Content-Type": "application/json; charset=utf-8"}),
    (b"bad \xff\xfe utf-8 \xc3", "/v1/metrics", {"Content-Type": "application/x-protobuf"}),
    (gzip.compress(b"gz \xe9\r\n"), "/v1/gzip?a=b", {"Content-Encoding": "GZIP"}),
    (b"", "/v1/kafka", {}),
]


def test_jsonl_spool_reads_like_request_files(spark, tmp_path):
    """The same requests, spooled by the listener and read through
    ``http_spool_stream`` (JSON file source), and staged as ``.http``
    request files read through ``httpwire``, give identical rows."""
    from metricproxy_spark.sources.httpwire import format_http_request

    spool, staged = tmp_path / "spool", tmp_path / "staged"
    staged.mkdir()
    with HttpIngestListener(str(spool)) as lis:
        for i, (body, target, headers) in enumerate(_PARITY_REQUESTS):
            # one request per segment, so file names line up
            assert _post(lis.host, lis.port, target, body, headers)[0] == 200
            lis.seal()
            path, _, query = target.partition("?")
            raw = format_http_request(
                body, path=path, query=query, content_type=headers.get("Content-Type", "")
            )
            if "Content-Encoding" in headers:
                raw = raw.replace(
                    b"\r\nContent-Length", b"\r\nContent-Encoding: gzip\r\nContent-Length"
                )
            (staged / f"req_{i:012d}.http").write_bytes(raw)

    def rows(directory):
        out = []
        q = (
            http_spool_stream(spark, str(directory))
            .writeStream.foreachBatch(lambda df, _b: out.extend(df.collect()))
            .option("checkpointLocation", str(tmp_path / f"ckpt-{directory.name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert q.lastProgress is not None
        source = q.lastProgress["sources"][0]["description"]
        return sorted((tuple(r)[:-1], r.src_file.split(".")[0]) for r in out), source

    got, via_json = rows(spool)
    want, via_httpwire = rows(staged)
    assert via_json.startswith("FileStreamSource")
    assert not via_httpwire.startswith("FileStreamSource")
    assert len(got) == len(_PARITY_REQUESTS)
    assert got == want
    # httpwire over the listener's spool reads the same rows too
    register_httpwire(spark)
    batch = spark.read.format("httpwire").option("path", str(spool)).load().collect()
    assert sorted((tuple(r)[:-1], r.src_file.split(".")[0]) for r in batch) == want


def test_config_listener_streams_through_the_file_source(spark, tmp_path):
    """A ``ListenAddr`` signalfx stream is planned on Spark's JSON file
    source; a staged ``.http`` request directory still streams through
    ``httpwire``, and both deliver every point."""
    from metricproxy_spark.plans import build_pipeline
    from metricproxy_spark.sources.httpwire import format_http_request

    staged = tmp_path / "staged"
    staged.mkdir()
    for i in range(3):
        (staged / f"req_{i:012d}.http").write_bytes(
            format_http_request(_v2_body([(f"s.{i}", 1.0, 1), (f"t.{i}", 2.0, 2)]), gzip_body=i == 1)
        )

    def drain(source, listen, name):
        spec = {"Type": "signalfx", "Source": str(source)}
        if listen:
            spec["ListenAddr"] = "127.0.0.1:0"
        out = tmp_path / f"out-{name}"
        pipe = build_pipeline(
            spark,
            {"ListenFrom": [spec], "ForwardTo": [{"Type": "csv", "Path": str(out)}]},
        )
        try:
            for lis in pipe.live_listeners:
                for i in range(4):
                    body = _v2_body([(f"l.{i}", 1.0, 1)])
                    assert _post(lis.host, lis.port, "/v2/datapoint", body)[0] == 200
                lis.seal()
            (q,) = pipe.start(str(tmp_path / f"ckpt-{name}"))
            q.awaitTermination()
        finally:
            pipe.close_listeners()
        lines = [ln for f in out.glob("part-*") for ln in f.read_text().splitlines()]
        return q.lastProgress["sources"][0]["description"], pipe.stats, len(lines)

    desc, stats, n = drain(tmp_path / "live-spool", True, "live")
    assert desc.startswith("FileStreamSource"), desc
    assert stats["datapoints_in"] == n == 4
    desc, stats, n = drain(staged, False, "staged")
    assert not desc.startswith("FileStreamSource"), desc
    assert stats["datapoints_in"] == n == 6
