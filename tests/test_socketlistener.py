"""LineSocketListener: TCP losslessness, UDP datagram mode, spool
rotation/restart discipline, and connector round-trip."""

from __future__ import annotations

import collections
import os
import socket
import tempfile
import time

from metricproxy_spark.streaming.socketlistener import (
    LineSocketListener,
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
        with LineSocketListener(spool, mode="tcp", lines_per_file=2000) as l:
            send_lines_tcp(l.host, l.port, payload, connections=7)
            assert l.accepted_lines == 5000
        got = _spool_lines(spool)
        assert collections.Counter(got) == collections.Counter(payload)
        # 5000 lines / 2000 per file => at least 3 files, all atomic
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
            while l.accepted_lines < len(payload) and time.time() < deadline:
                time.sleep(0.02)
        got = _spool_lines(spool)
        # at-most-once: no duplication, no corruption; expect all 200
        # at this volume
        assert collections.Counter(got) == collections.Counter(payload)


class TestConnectorRoundTrip:
    def test_spool_is_carbonwire_readable(self, spark):
        from metricproxy_spark.sources.pyds import register_carbonwire

        payload = [f"w.{i} {i}.5 1700000{i:03d}" for i in range(300)]
        spool = tempfile.mkdtemp(prefix="mps_sl_")
        with LineSocketListener(spool, mode="tcp", lines_per_file=100) as l:
            send_lines_tcp(l.host, l.port, payload, connections=3)
        register_carbonwire(spark)
        back = (
            spark.read.format("carbonwire").option("path", spool).load()
        )
        got = [r.line for r in back.collect()]
        assert collections.Counter(got) == collections.Counter(payload)


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
    with LineSocketListener(spool, lines_per_file=1) as a:
        send_lines_tcp(a.host, a.port, ["a 1 1"], connections=1)
    # Both B and C resume seq = 1 from the same on-disk max; with one
    # line per file each flushes before it acknowledges.
    with LineSocketListener(spool, lines_per_file=1) as b, LineSocketListener(
        spool, lines_per_file=1
    ) as c:
        send_lines_tcp(b.host, b.port, ["b 2 2"], connections=1)
        send_lines_tcp(c.host, c.port, ["c 3 3"], connections=1)
    assert len(os.listdir(spool)) == 3, os.listdir(spool)
    assert sorted(_spool_lines(spool)) == ["a 1 1", "b 2 2", "c 3 3"]
