"""httpwire Python DataSource — connector contract tests: HTTP request
framing (Content-Length, gzip), volume-tracked bin-packed partitions in
batch, adoption of request files into a spool segment (exactly once
under crashes and races), exactly-once request pickup in streaming."""

from __future__ import annotations

import json
import os
import tempfile
import threading
import time

import pytest

from metricproxy_spark.sources.httpwire import (
    ADOPTING,
    adopt_request_files,
    format_http_request,
    parse_http_request,
    register_httpwire,
)
from metricproxy_spark.streaming.httplistener import http_spool


def _write_request(dirpath: str, name: str, raw: bytes) -> None:
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, name), "wb") as fh:
        fh.write(raw)


def test_request_framing_roundtrip():
    raw = format_http_request(
        b'{"gauge": []}',
        path="/v2/datapoint",
        query="sfxdim_dc=west",
        gzip_body=True,
    )
    body, method, path, query, ctype = parse_http_request(raw)
    assert method == "POST"
    assert path == "/v2/datapoint"
    assert query == "sfxdim_dc=west"
    assert ctype == "application/json"
    assert body == '{"gauge": []}'  # gunzipped back to the original


def test_content_length_trims_trailing_bytes():
    raw = format_http_request(b"abc") + b"\ntrailing junk"
    body, *_ = parse_http_request(raw)
    assert body == "abc"


def test_bare_lf_head_separator():
    raw = b'POST /x HTTP/1.1\nContent-Type: text/plain\n\nhello'
    body, method, path, query, ctype = parse_http_request(raw)
    assert (body, method, path, query, ctype) == (
        "hello", "POST", "/x", "", "text/plain"
    )


def test_batch_bin_packs_by_volume(spark):
    register_httpwire(spark)
    d = tempfile.mkdtemp(prefix="mps_http_t_")
    # 8 small requests + chunk floor (64 KiB) -> they pack into ONE
    # partition instead of 8 tasks
    for i in range(8):
        _write_request(
            d, f"r{i}.http", format_http_request(b'{"n": %d}' % i, path=f"/p{i}")
        )
    df = spark.read.format("httpwire").option("path", d).load()
    assert df.count() == 8
    assert df.rdd.getNumPartitions() == 1
    assert {r.path for r in df.collect()} == {f"/p{i}" for i in range(8)}
    # tiny chunk target -> requests fan out across partitions, none lost
    wide = (
        spark.read.format("httpwire")
        .option("path", d)
        .option("chunk_bytes", "65537")
        .load()
    )
    assert wide.count() == 8


def test_stream_picks_up_new_requests_exactly_once(spark):
    d = tempfile.mkdtemp(prefix="mps_http_src_")
    ckpt = tempfile.mkdtemp(prefix="mps_http_ckpt_")
    out = tempfile.mkdtemp(prefix="mps_http_out_")
    _write_request(d, "00.http", format_http_request(b"a"))
    _write_request(d, "01.http", format_http_request(b"b", gzip_body=True))

    def drain() -> list[str]:
        q = (
            http_spool(spark.readStream, d)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert q.lastProgress["sources"][0]["description"].startswith(
            "FileStreamSource"
        )
        return sorted(r.body for r in spark.read.parquet(out).collect())

    assert drain() == ["a", "b"]
    # a new request lands; the restarted query adopts it when it is
    # planned, resumes from its checkpoint and appends ONLY the new
    # request
    _write_request(d, "02.http", format_http_request(b"c"))
    assert drain() == ["a", "b", "c"]


def _stage_requests(d: str, n: int) -> list[str]:
    """``n`` request files (every other one gzipped) and one segment
    published before the adoption; returns every body in the spool,
    sorted."""
    for i in range(n):
        _write_request(
            d, f"req_{i}.http", format_http_request(b"r%d" % i, gzip_body=i % 2 == 1)
        )
    _write_request(
        d, "req_000000000007.jsonl", b'{"body": "pre", "method": "POST"}\n'
    )
    return sorted(["pre"] + [f"r{i}" for i in range(n)])


def _spooled(d: str) -> list[str]:
    """Every body in the spool's ``*.jsonl`` segments, sorted; asserts
    that no request file and no adoption leftover remains."""
    names = os.listdir(d)
    assert not [f for f in names if f.endswith(".http") or f.startswith(ADOPTING)]
    return sorted(
        json.loads(line)["body"]
        for f in names
        if f.endswith(".jsonl")
        for line in open(os.path.join(d, f), encoding="ascii").read().splitlines()
    )


def test_adoption_publishes_request_files_as_one_segment(tmp_path):
    d = str(tmp_path)
    want = _stage_requests(d, 5)
    assert adopt_request_files(d) == 5
    assert _spooled(d) == want
    # one new segment, after the existing one, in list_files order
    new = [f for f in sorted(os.listdir(d)) if f != "req_000000000007.jsonl"]
    assert new == ["req_000000000008.jsonl"]
    with open(os.path.join(d, new[0]), encoding="ascii") as fh:
        rows = [json.loads(line) for line in fh]
    assert [r["body"] for r in rows] == [f"r{i}" for i in range(5)]
    assert rows[0] == {
        "method": "POST",
        "path": "/v2/datapoint",
        "query": "",
        "content_type": "application/json",
        "body": "r0",
    }
    assert adopt_request_files(d) == 0


@pytest.mark.parametrize("after", [False, True], ids=["before", "after"])
@pytest.mark.parametrize("op", ["rename", "link", "unlink", "rmdir"])
def test_adoption_survives_a_crash_at_every_step(tmp_path, monkeypatch, op, after):
    """The adoption dies at the k-th ``os.<op>`` call (before it acts,
    or after it), for every k of one adoption; the next call publishes
    every request exactly once and leaves nothing behind."""
    real = getattr(os, op)
    calls = [0]

    def counted(*a, **kw):
        calls[0] += 1
        return real(*a, **kw)

    monkeypatch.setattr(os, op, counted)
    _stage_requests(str(tmp_path / "ref"), 3)
    adopt_request_files(str(tmp_path / "ref"))
    monkeypatch.undo()
    assert calls[0] > 0
    for k in range(1, calls[0] + 1):
        d = str(tmp_path / f"crash{k}")
        want = _stage_requests(d, 3)
        seen = [0]

        def crashing(*a, **kw):
            seen[0] += 1
            if seen[0] == k and not after:
                raise OSError(f"crash before {op} #{k}")
            out = real(*a, **kw)
            if seen[0] == k:
                raise OSError(f"crash after {op} #{k}")
            return out

        monkeypatch.setattr(os, op, crashing)
        with pytest.raises(OSError, match="crash"):
            adopt_request_files(d)
        monkeypatch.undo()
        adopt_request_files(d)
        assert _spooled(d) == want, (op, k, after)


def test_racing_adopters_publish_each_request_once(tmp_path, monkeypatch):
    """Four adopters start together on one directory. Each decode is
    slowed, so every adopter lists the files before the first could
    move them unless the directory lock holds the others back."""
    from metricproxy_spark.sources import httpwire

    d = str(tmp_path)
    want = _stage_requests(d, 40)
    parse = httpwire.parse_http_request

    def slow_parse(raw):
        time.sleep(0.002)
        return parse(raw)

    monkeypatch.setattr(httpwire, "parse_http_request", slow_parse)
    go = threading.Barrier(4)
    errors: list[BaseException] = []

    def adopter() -> None:
        try:
            go.wait(timeout=10)
            adopt_request_files(d)
        except BaseException as e:  # reported by the main thread
            errors.append(e)

    threads = [threading.Thread(target=adopter) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert _spooled(d) == want


def test_adoption_refuses_an_undecodable_request_file(tmp_path):
    d = str(tmp_path)
    _stage_requests(d, 3)
    bad = format_http_request(b"not gzip").replace(
        b"\r\nContent-Length", b"\r\nContent-Encoding: gzip\r\nContent-Length"
    )
    _write_request(d, "req_1_bad.http", bad)
    before = sorted(os.listdir(d))
    with pytest.raises(ValueError, match="req_1_bad.http"):
        adopt_request_files(d)
    # nothing moved, nothing published
    assert sorted(os.listdir(d)) == before
