"""The HTTP wire client (``httplistener.post_requests``) against a live
``HttpIngestListener``: every request delivered once, in order, over
one connection, and a refused request raises. No Spark session."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from metricproxy_spark.sources.spool import list_files
from metricproxy_spark.streaming.httplistener import (
    HttpIngestListener,
    post_requests,
)


def test_post_requests_delivers_each_request_once(tmp_path):
    spool = str(tmp_path / "spool")
    bodies = [f"body {i}".encode() for i in range(25)]
    headers = {"Content-Type": "text/plain"}
    with HttpIngestListener(spool) as lis:
        post_requests(
            lis.host, lis.port, "/v1/metrics", ((b, headers) for b in bodies)
        )
        assert lis.accepted == len(bodies)
    spooled = [
        json.loads(line)
        for path in list_files(spool)
        for line in Path(path).read_text(encoding="utf-8").splitlines()
    ]
    assert [r["body"] for r in spooled] == [b.decode() for b in bodies]
    assert {(r["method"], r["path"], r["content_type"]) for r in spooled} == {
        ("POST", "/v1/metrics", "text/plain")
    }


def test_post_requests_raises_on_a_refused_request(tmp_path):
    with HttpIngestListener(str(tmp_path / "spool")) as lis:
        with pytest.raises(ConnectionError, match="404"):
            post_requests(
                lis.host, lis.port, "/not-an-ingest-path", [(b"{}", {})]
            )
        assert lis.accepted == 0
