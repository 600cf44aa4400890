"""The shared spool contract (sources/spool.py): concurrent appenders
never overwrite each other, group-committed segments are published
exactly once (by their writer, or after it died by the next one), and
an empty spool scans as zero rows on every connector built on it."""

from __future__ import annotations

import errno
import os
import sys
import threading

import pytest

from metricproxy_spark.sources.spool import SegmentSpool, SpoolAppender, list_files


def test_appenders_sharing_a_dir_never_overwrite(tmp_path):
    """Three appenders resume at the same sequence number and 24
    threads append through them at once: every payload lands in its
    own file, whole."""
    spool = str(tmp_path)
    appenders = [SpoolAppender(spool, "req_", ".http") for _ in range(3)]
    for a in appenders:
        a.resume()
    per_thread = 40

    def worker(k):
        for i in range(per_thread):
            appenders[k % 3].append(f"{k}:{i}".encode())

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(k,)) for k in range(24)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    files = list_files(spool)
    assert len(files) == 24 * per_thread
    got = set()
    for f in files:
        with open(f, "rb") as fh:
            got.add(fh.read().decode())
    assert got == {f"{k}:{i}" for k in range(24) for i in range(per_thread)}
    assert sum(a.appended for a in appenders) == 24 * per_thread
    assert not [n for n in os.listdir(spool) if n.startswith(".")]


def _published_lines(spool: str) -> list[bytes]:
    out = []
    for f in list_files(spool):
        with open(f, "rb") as fh:
            out += fh.read().splitlines()
    return out


def test_segment_spools_sharing_a_dir_publish_every_line_once(tmp_path):
    """Three writers append and seal at once while a fourth keeps
    resuming (the recovery scan): no live segment is taken from its
    writer, and every line is published exactly once."""
    spool = str(tmp_path)
    writers = [SegmentSpool(spool, "req_", ".jsonl") for _ in range(3)]
    for w in writers:
        w.resume()
    per_thread = 60
    done = threading.Event()

    def worker(k):
        for i in range(per_thread):
            writers[k % 3].append(f"{k}:{i}\n".encode())
            if i % 7 == 0:
                writers[k % 3].seal()

    def recoverer():
        other = SegmentSpool(spool, "req_", ".jsonl")
        while not done.is_set():
            other.resume()

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        scan = threading.Thread(target=recoverer)
        scan.start()
        threads = [threading.Thread(target=worker, args=(k,)) for k in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        done.set()
        scan.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads + [scan])
    for w in writers:
        w.seal()
    got = _published_lines(spool)
    assert sorted(got) == sorted(
        f"{k}:{i}".encode() for k in range(12) for i in range(per_thread)
    )
    assert sum(w.appended for w in writers) == 12 * per_thread
    assert not [n for n in os.listdir(spool) if n.startswith(".")]


def test_dead_segment_is_cut_to_its_last_line_and_published_once(tmp_path):
    spool = str(tmp_path)
    with open(os.path.join(spool, ".seg_dead"), "wb") as fh:
        fh.write(b"one\ntwo\nthr")
    SegmentSpool(spool, "req_", ".jsonl").resume()
    assert _published_lines(spool) == [b"one", b"two"]
    SegmentSpool(spool, "req_", ".jsonl").resume()
    assert _published_lines(spool) == [b"one", b"two"]
    assert os.listdir(spool) == ["req_000000000000.jsonl"]


def test_segment_published_before_its_writer_died_is_not_republished(tmp_path):
    """A writer that died between publishing its segment (``link(2)``)
    and removing it left the segment with two links: the next writer
    only removes it."""
    spool = str(tmp_path)
    seg = os.path.join(spool, ".seg_dead")
    with open(seg, "wb") as fh:
        fh.write(b"one\n")
    os.link(seg, os.path.join(spool, "req_000000000007.jsonl"))
    w = SegmentSpool(spool, "req_", ".jsonl")
    w.resume()
    assert os.listdir(spool) == ["req_000000000007.jsonl"]
    w.append(b"two\n")
    # new segments sort after the existing files, whatever their suffix
    assert w.seal().endswith("req_000000000008.jsonl")
    assert _published_lines(spool) == [b"one", b"two"]


def test_failed_append_leaves_only_complete_lines(tmp_path, monkeypatch):
    """A write that fails halfway (a full disk) is cut back out of the
    segment, so the lines around it stay whole."""
    spool = str(tmp_path)
    w = SegmentSpool(spool, "req_", ".jsonl")
    w.resume()
    w.append(b"one\n")
    write = os.write

    def torn(fd, data):
        write(fd, bytes(data[:2]))
        raise OSError(errno.ENOSPC, "No space left on device")

    monkeypatch.setattr(os, "write", torn)
    with pytest.raises(OSError):
        w.append(b"two\n")
    monkeypatch.undo()
    w.append(b"three\n")
    w.seal()
    assert _published_lines(spool) == [b"one", b"three"]
    assert w.appended == 2


def test_empty_segment_spool_publishes_nothing(tmp_path):
    w = SegmentSpool(str(tmp_path / "spool"), "req_", ".jsonl")
    w.resume()
    assert w.seal() is None
    assert os.listdir(tmp_path / "spool") == []


@pytest.mark.parametrize("fmt", ["httpwire", "carbonwire", "warcwire"])
def test_empty_spool_scans_as_zero_rows(spark, tmp_path, fmt):
    from metricproxy_spark.sources.httpwire import register_httpwire
    from metricproxy_spark.sources.pyds import register_carbonwire
    from metricproxy_spark.sources.warc import register_warcwire

    for register in (register_httpwire, register_carbonwire, register_warcwire):
        register(spark)
    assert spark.read.format(fmt).option("path", str(tmp_path)).load().count() == 0
