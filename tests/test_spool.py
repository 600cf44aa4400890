"""The shared spool contract (sources/spool.py): concurrent appenders
never overwrite each other, and an empty spool scans as zero rows on
every connector built on it."""

from __future__ import annotations

import os
import sys
import threading

import pytest

from metricproxy_spark.sources.spool import SpoolAppender, list_files


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


@pytest.mark.parametrize("fmt", ["httpwire", "carbonwire", "warcwire"])
def test_empty_spool_scans_as_zero_rows(spark, tmp_path, fmt):
    from metricproxy_spark.sources.httpwire import register_httpwire
    from metricproxy_spark.sources.pyds import register_carbonwire
    from metricproxy_spark.sources.warc import register_warcwire

    for register in (register_httpwire, register_carbonwire, register_warcwire):
        register(spark)
    assert spark.read.format(fmt).option("path", str(tmp_path)).load().count() == 0
