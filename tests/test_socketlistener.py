"""LineSocketListener: TCP losslessness, UDP datagram mode, lines on
disk at receipt and published within a seal interval, restart and
recovery discipline, and the spool read back through ``line_spool``
in batch and in stream."""

from __future__ import annotations

import collections
import os
import re
import socket
import tempfile
import time

from metricproxy_spark.streaming.socketlistener import (
    LineSocketListener,
    line_spool,
    send_lines_tcp,
)


def _spool_lines(spool: str) -> list[str]:
    out = []
    for f in sorted(os.listdir(spool)):
        with open(os.path.join(spool, f)) as fh:
            out += [ln.rstrip("\n") for ln in fh if ln.strip()]
    return out


class TestTcp:
    def test_lossless_multiset_and_rotation(self):
        payload = [f"m.{i}:1|c" for i in range(5000)]
        spool = tempfile.mkdtemp(prefix="mps_sl_")
        with LineSocketListener(spool, mode="tcp") as l:
            send_lines_tcp(l.host, l.port, payload, connections=7)
            assert l.accepted == 5000
        got = _spool_lines(spool)
        assert collections.Counter(got) == collections.Counter(payload)
        # each of the 7 connections is sealed before its ack => at
        # least 3 files, all atomic
        names = sorted(os.listdir(spool))
        assert len(names) >= 3
        assert all(n.startswith("lines_") and n.endswith(".wire") for n in names)

    def test_restart_appends_monotonic_names(self):
        spool = tempfile.mkdtemp(prefix="mps_sl_")
        with LineSocketListener(spool, mode="tcp") as l:
            send_lines_tcp(l.host, l.port, ["a 1 1"], connections=1)
        first = sorted(os.listdir(spool))
        with LineSocketListener(spool, mode="tcp") as l:
            send_lines_tcp(l.host, l.port, ["b 2 2"], connections=1)
        names = sorted(os.listdir(spool))
        assert names[: len(first)] == first  # restart never clobbers
        assert _spool_lines(spool) == ["a 1 1", "b 2 2"]

    def test_crlf_and_blank_lines_normalized(self):
        spool = tempfile.mkdtemp(prefix="mps_sl_")
        with LineSocketListener(spool, mode="tcp") as l:
            with socket.create_connection((l.host, l.port), timeout=10) as s:
                s.sendall(b"x:1|c\r\n\r\ny:2|g\n")
                s.shutdown(socket.SHUT_WR)
                assert s.recv(16).startswith(b"OK")
        assert _spool_lines(spool) == ["x:1|c", "y:2|g"]


class TestUdp:
    def test_multiline_datagrams_land(self):
        # modest volume with per-datagram pacing: loopback UDP holds
        # this reliably; the mode stays documented at-most-once
        spool = tempfile.mkdtemp(prefix="mps_sl_")
        payload = [f"m.{i}:1|c" for i in range(200)]
        with LineSocketListener(spool, mode="udp") as l:
            s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
            for i in range(0, len(payload), 8):  # statsd multi-metric packet
                s.sendto(
                    ("\n".join(payload[i : i + 8]) + "\n").encode(),
                    (l.host, l.port),
                )
            s.close()
            deadline = time.time() + 10
            while l.accepted < len(payload) and time.time() < deadline:
                time.sleep(0.02)
        got = _spool_lines(spool)
        # at-most-once: no duplication, no corruption; expect all 200
        # at this volume
        assert collections.Counter(got) == collections.Counter(payload)


class TestSpoolRoundTrip:
    def test_spool_reads_back_through_line_spool(self, spark):
        payload = [f"w.{i} {i}.5 1700000{i:03d}" for i in range(300)]
        spool = tempfile.mkdtemp(prefix="mps_sl_")
        with LineSocketListener(spool, mode="tcp") as l:
            send_lines_tcp(l.host, l.port, payload, connections=3)
        got = [r.line for r in line_spool(spark.read, spool).collect()]
        assert collections.Counter(got) == collections.Counter(payload)


def _write_wire(dirpath: str, name: str, lines: list[str]) -> None:
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, name), "w") as fh:
        fh.write("\n".join(lines) + "\n")


def test_stream_picks_up_new_files_exactly_once(spark):
    """A line spool streams through ``line_spool`` (Spark's text
    source); a restarted query reads only the file that arrived since."""
    d = tempfile.mkdtemp(prefix="mps_sl_src_")
    ckpt = tempfile.mkdtemp(prefix="mps_sl_ckpt_")
    out = tempfile.mkdtemp(prefix="mps_sl_out_")
    _write_wire(d, "00.txt", ["a 1 1700000000"])
    _write_wire(d, "01.txt", ["b 2 1700000001"])

    def drain() -> int:
        q = (
            line_spool(spark.readStream, d)
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


def test_line_spool_byte_range_splits_keep_every_line_once(spark, tmp_path):
    """A file larger than one split is read in several byte-range
    splits; every line, those straddling a split boundary included, is
    read exactly once."""
    lines = [f"metric.{i} {i} {1700000000 + i}" for i in range(5000)]
    _write_wire(str(tmp_path), "big.wire", lines)
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "16384")
    try:
        df = line_spool(spark.read, str(tmp_path))
        assert df.rdd.getNumPartitions() > 1
        got = sorted(r.line for r in df.collect())
    finally:
        spark.conf.set(key, prev)
    assert got == sorted(lines)


def test_line_spool_batch_and_stream_rows_match_the_bytes(spark, tmp_path):
    """On a spool with CRLF, blank lines, invalid UTF-8, a missing final
    newline and hidden ``.seg_``/``_`` files, the batch and the stream
    read of ``line_spool`` both yield exactly the rows the spool rule
    gives on the file bytes: split on ``\\n``, drop empty lines, decode
    UTF-8 with replacement, ``src_file`` the base name."""
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
    want = sorted(
        (ln.decode("utf-8", errors="replace"), f.name)
        for f in d.iterdir()
        if not f.name.startswith((".", "_"))
        for ln in f.read_bytes().split(b"\n")
        if ln
    )
    assert len(want) == 20_006

    q = (
        line_spool(spark.readStream, str(d))
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
    batch = line_spool(spark.read, str(d)).collect()
    key = lambda r: (r.line, r.src_file)  # noqa: E731
    assert sorted(map(key, streamed)) == want
    assert sorted(map(key, batch)) == want


def test_send_lines_tcp_empty_is_noop():
    """An empty synthesized subset must no-op, not crash on
    range(0, 0, 0) (round-6 ADVICE)."""
    from metricproxy_spark.streaming.socketlistener import send_lines_tcp

    # No listener at this port: a non-empty send would ConnectionError,
    # so returning silently proves the early-out path.
    send_lines_tcp("127.0.0.1", 1, [])


def test_two_listener_generations_never_clobber():
    """Two listener INSTANCES sharing one spool dir both resume the
    same max seq; each flush must land in its own file, so a line
    acknowledged by one is never overwritten by the other (the socket
    twin of the HTTP listener test)."""
    spool = tempfile.mkdtemp(prefix="mps_sl_")
    with LineSocketListener(spool) as a:
        send_lines_tcp(a.host, a.port, ["a 1 1"], connections=1)
    # Both B and C resume seq = 1 from the same on-disk max; each
    # seals its segment before it acknowledges.
    with LineSocketListener(spool) as b, LineSocketListener(spool) as c:
        send_lines_tcp(b.host, b.port, ["b 2 2"], connections=1)
        send_lines_tcp(c.host, c.port, ["c 3 3"], connections=1)
    assert len(os.listdir(spool)) == 3, os.listdir(spool)
    assert sorted(_spool_lines(spool)) == ["a 1 1", "b 2 2", "c 3 3"]


def test_ack_means_spooled():
    """``OK`` is sent only once the connection's lines are in a listed
    spool file — not while they wait in the open segment for the next
    seal or ``stop()``."""
    from metricproxy_spark.sources.spool import list_files

    spool = tempfile.mkdtemp(prefix="mps_sl_")
    with LineSocketListener(spool, mode="tcp") as l:
        with socket.create_connection((l.host, l.port), timeout=10) as s:
            s.sendall(b"a 1 1\nb 2 2\nc 3 3\n")
            s.shutdown(socket.SHUT_WR)
            assert s.recv(16).startswith(b"OK")
        spooled = []
        for f in list_files(spool):
            with open(f) as fh:
                spooled += fh.read().splitlines()
        assert spooled == ["a 1 1", "b 2 2", "c 3 3"]


def test_quiet_and_long_lived_senders_become_visible(tmp_path):
    """A few UDP lines, and a few lines on a TCP connection that stays
    open, are published by the listener's own timer: neither waits for
    more traffic, a ``seal()``/``stop()`` or the connection's close."""
    from metricproxy_spark.sources.spool import list_files

    def published(spool: str) -> list[str]:
        out = []
        for f in list_files(spool):
            assert re.fullmatch(r"lines_\d{12}\.wire", os.path.basename(f))
            with open(f) as fh:
                out += fh.read().splitlines()
        return out

    udp_spool, tcp_spool = str(tmp_path / "udp"), str(tmp_path / "tcp")
    udp_lines = ["u.a:1|c", "u.b:2|g", "u.c:3|ms"]
    tcp_lines = ["t.a 1 1", "t.b 2 2", "t.c 3 3"]
    with (
        LineSocketListener(udp_spool, mode="udp") as u,
        LineSocketListener(tcp_spool, mode="tcp") as t,
        socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as us,
        socket.create_connection((t.host, t.port), timeout=10) as ts,
    ):
        for ln in udp_lines:
            us.sendto(f"{ln}\n".encode(), (u.host, u.port))
        ts.sendall("".join(f"{ln}\n" for ln in tcp_lines).encode())
        deadline = time.time() + 2
        while time.time() < deadline and (
            len(published(udp_spool)) < 3 or len(published(tcp_spool)) < 3
        ):
            time.sleep(0.02)
        assert sorted(published(udp_spool)) == udp_lines
        assert published(tcp_spool) == tcp_lines


def test_restart_publishes_a_dead_listeners_segment_once(tmp_path):
    """A listener that died left its received lines in a ``.seg_*``
    segment; the next listener on that spool publishes them, cut to the
    last complete line, exactly once across further restarts."""
    from metricproxy_spark.sources.spool import list_files

    spool = tmp_path / "spool"
    spool.mkdir()
    (spool / ".seg_dead").write_bytes(b"a 1 1\nb 2 2\nc 3")
    for _ in range(2):
        with LineSocketListener(str(spool)) as l:
            send_lines_tcp(l.host, l.port, ["d 4 4"], connections=1)
    assert not [n for n in os.listdir(spool) if n.startswith(".")]
    assert len(list_files(str(spool))) == 3
    assert collections.Counter(_spool_lines(str(spool))) == collections.Counter(
        ["a 1 1", "b 2 2", "d 4 4", "d 4 4"]
    )
    assert _spool_lines(str(spool))[:2] == ["a 1 1", "b 2 2"]
