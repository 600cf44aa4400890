"""The spool-file contract shared by the file connectors and the live
listeners.

A live listener terminates the network into a *spool*: accepted data
becomes files ``{prefix}{seq:012d}{suffix}`` in a spool directory,
published atomically so a reader never sees a partial file. A
connector reads the directory back as a batch scan, and Spark's file
sources read it as a replayable stream. This is the Kafka split: the
listener is the durable network terminator, Spark is the engine with
replay.

One writer fills a spool: :class:`SegmentSpool` group-commits. Each
accepted batch of lines is appended to the writer's open hidden
segment ``.seg_*``, which is on disk before the caller acks, and
``seal()`` (on demand, and every :data:`SEAL_INTERVAL_S` once started)
publishes the segment under the next name. A writer holds its open
segment under ``flock``; ``resume()`` publishes the segments of dead
writers, cut to their last complete line, and never touches a live
writer's. Both live listeners (HTTP and line socket) write through it.

**Listing.** A directory's files are listed by :func:`list_files` —
names starting with ``_`` or ``.`` (markers, temp files, staged files,
open segments, ``httpwire``'s ``.adopting`` directory) are hidden, and
digit runs sort numerically (``req_2 < req_10``). The writer resumes
after the highest existing sequence number (whatever the suffix) and
claims each name with ``link(2)``, so names only ever *append* and two
writers sharing a directory can never overwrite each other's files.
Every spool is streamed by Spark's own file source, which tracks files
by name in its checkpoint; the Python connectors built on this module
are batch readers.

Sinks publish with a two-phase commit (:class:`SpoolWriter`): tasks
write hidden ``._staged_`` files, the driver renames the complete set
into place and drops ``_SUCCESS``.

The module is self-contained (stdlib + pyspark imports only), and so
are the connectors built on it apart from importing it: :func:`register`
pickles both BY VALUE.
"""

from __future__ import annotations

import fcntl
import os
import re
import threading
import uuid
from dataclasses import dataclass

from pyspark import TaskContext
from pyspark.sql.datasource import (
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
    WriterCommitMessage,
)

# The one no-op partition: an empty batch scan still plans a task, and
# it reads nothing.
IDLE = InputPartition(None)


def _natural_key(path: str) -> tuple:
    name = os.path.basename(path)
    parts = tuple(
        int(part) if part.isdigit() else part
        for part in re.split(r"(\d+)", name)
    )
    # The name itself breaks ties ('req_01' vs 'req_1'), so the order
    # never depends on listdir order.
    return parts, name


def list_files(path: str) -> list[str]:
    """The files under ``path`` in offset order (a file path lists as
    itself)."""
    if os.path.isfile(path):
        return [path]
    return sorted(
        (
            os.path.join(path, f)
            for f in os.listdir(path)
            if not f.startswith(("_", "."))
        ),
        key=_natural_key,
    )


class SpoolReader(DataSourceReader):
    """Batch scan of a spool directory. A connector supplies
    ``plan(files) -> [InputPartition]`` (its split rule) and
    ``read_split(value)`` (its format decoder)."""

    def __init__(self, path: str):
        self.path = path

    def plan(self, files: list[str]) -> list[InputPartition]:
        raise NotImplementedError

    def read_split(self, value):
        raise NotImplementedError

    def partitions(self):
        return self.plan(list_files(self.path)) or [IDLE]

    def read(self, partition):
        # Spark hands an empty plan a ``None`` partition of its own.
        if partition is None or partition.value is None:
            return iter(())
        return self.read_split(partition.value)


@dataclass
class StagedFile(WriterCommitMessage):
    staged: str
    final: str


class SpoolWriter(DataSourceArrowWriter):
    """Two-phase-commit file sink: each task writes a uniquely named
    ``._staged_`` file and reports it in its commit message; only the
    driver-side ``commit()`` renames the full set into place (plus a
    ``_SUCCESS`` marker), so a reader never observes a partial job and
    failed or speculative attempts leave only hidden files that
    ``abort()`` removes. One file per partition. A connector supplies
    ``suffix`` and ``write_file(staged, name, batches)``."""

    suffix = ""

    def __init__(self, path: str, overwrite: bool):
        self._path = path
        self._overwrite = overwrite
        # Driver-minted job id, serialized into every task: append-mode
        # final names embed it so a second job never clobbers a prior
        # job's committed part files.
        self._job_id = uuid.uuid4().hex[:12]

    def write_file(self, staged: str, name: str, batches) -> None:
        raise NotImplementedError

    def write(self, iterator) -> WriterCommitMessage:
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        os.makedirs(self._path, exist_ok=True)
        name = f"part-{self._job_id}-{pid:05d}{self.suffix}"
        staged = os.path.join(
            self._path, f"._staged_{uuid.uuid4().hex}_{pid:05d}"
        )
        self.write_file(staged, name, iterator)
        return StagedFile(staged=staged, final=os.path.join(self._path, name))

    def commit(self, messages) -> None:
        if self._overwrite:
            for f in list_files(self._path):
                os.remove(f)
        for m in messages:
            os.replace(m.staged, m.final)
        with open(os.path.join(self._path, "_SUCCESS"), "w") as fh:
            fh.write("")

    def abort(self, messages) -> None:
        for m in messages:
            try:
                os.remove(m.staged)
            except FileNotFoundError:
                pass


SEGMENT = ".seg_"

# How long an appended line may wait in the open segment before the
# sealer of ``SegmentSpool.start`` publishes it: a 4 s trigger then
# lists at most 16 files per writer.
SEAL_INTERVAL_S = 0.25


def _write_all(fd: int, data: bytes) -> None:
    view = memoryview(data)
    while view:
        view = view[os.write(fd, view) :]


class SegmentSpool:
    """Group commit into a spool directory, thread-safe.

    ``append(lines)`` writes newline-terminated lines to this writer's
    open segment, a hidden ``.seg_*`` file created on first use and
    held under ``flock``; when it returns, the lines are in the file.
    ``seal()`` publishes the segment under the next
    ``{prefix}{seq:012d}{suffix}`` name and closes it; the next
    ``append`` opens a new one. ``start(seal_interval)`` resumes, then
    seals every ``seal_interval`` seconds until ``stop()``, which seals
    one last time; an append after ``stop()`` (a handler thread that
    outlived its server) is sealed at once.

    ``resume()`` continues after the highest existing sequence number,
    then publishes, once each, the segments that writers which died
    left behind, cut to their last complete line. A name is claimed
    with ``link(2)``, which fails on an existing name, so a second
    writer that resumed at the same sequence number moves past it
    instead of overwriting a published file. The 12-digit pad never
    widens in practice, and :func:`list_files` orders by number even if
    it did."""

    def __init__(self, directory: str, prefix: str, suffix: str):
        self._dir = directory
        self._prefix, self._suffix = prefix, suffix
        self._seq = 0
        # re-entrant: seal() claims the segment's name under it
        self._lock = threading.RLock()
        self._fd: int | None = None
        self._segment = ""
        self._size = 0
        self._sealer: threading.Thread | None = None
        self._stopped = threading.Event()
        self.appended = 0  # lines

    def resume(self) -> None:
        """:meth:`skip_published`, then publish the dead writers'
        segments."""
        self.skip_published()
        for f in sorted(os.listdir(self._dir)):
            if f.startswith(SEGMENT):
                self._recover(os.path.join(self._dir, f))

    def skip_published(self) -> None:
        """Continue after the highest ``{prefix}{seq}`` of any suffix,
        so new files sort after those of an earlier spool format."""
        os.makedirs(self._dir, exist_ok=True)
        lo = len(self._prefix)
        seqs = [
            int(head)
            for f in os.listdir(self._dir)
            if f.startswith(self._prefix)
            and (head := f[lo:].partition(".")[0]).isdigit()
        ]
        with self._lock:
            self._seq = max(seqs) + 1 if seqs else 0

    def start(self, seal_interval: float) -> None:
        self.resume()
        self._stopped.clear()
        self._sealer = threading.Thread(
            target=self._seal_every, args=(seal_interval,), daemon=True
        )
        self._sealer.start()

    def _seal_every(self, interval: float) -> None:
        while not self._stopped.wait(interval):
            self.seal()

    def stop(self) -> None:
        self._stopped.set()
        if self._sealer is not None:
            self._sealer.join()
            self._sealer = None
        self.seal()

    def _claim(self, taken: int = -1) -> int:
        with self._lock:
            self._seq = max(self._seq, taken + 1)
            seq = self._seq
            self._seq += 1
            return seq

    def publish(self, src: str) -> str:
        """Hard-link the complete file ``src`` under the next free
        name; returns the new path. ``src`` keeps its own name, so its
        link count tells whether a crash came before or after this."""
        seq = self._claim()
        while True:
            final = os.path.join(
                self._dir, f"{self._prefix}{seq:012d}{self._suffix}"
            )
            try:
                os.link(src, final)
                return final
            except FileExistsError:
                seq = self._claim(seq)

    def _recover(self, path: str) -> None:
        try:
            fd = os.open(path, os.O_RDWR)
        except FileNotFoundError:
            return  # sealed or recovered meanwhile
        try:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except BlockingIOError:
                return  # a live writer's open segment
            st = os.fstat(fd)
            try:
                if os.stat(path).st_ino != st.st_ino:
                    return
            except FileNotFoundError:
                return  # sealed and gone before we locked it
            # A second link means the writer died between publishing
            # and removing the segment: it is published already.
            if st.st_nlink == 1:
                with open(fd, "rb", closefd=False) as fh:
                    keep = fh.read().rfind(b"\n") + 1
                if keep:
                    os.ftruncate(fd, keep)
                    # the file source drops files much older than the
                    # newest it has seen (maxFileAge)
                    os.utime(path)
                    self.publish(path)
            os.unlink(path)
        finally:
            os.close(fd)

    def _open_locked(self) -> None:
        # Lock under a temp name, then rename: resume() only looks at
        # segment names, so it can never lock a segment before its
        # writer does.
        tmp = os.path.join(self._dir, f".tmp_{uuid.uuid4().hex}")
        fd = os.open(
            tmp, os.O_WRONLY | os.O_CREAT | os.O_EXCL | os.O_APPEND, 0o644
        )
        fcntl.flock(fd, fcntl.LOCK_EX)
        self._segment = os.path.join(self._dir, SEGMENT + uuid.uuid4().hex)
        os.rename(tmp, self._segment)
        self._fd, self._size = fd, 0

    def append(self, lines: bytes) -> None:
        """Write ``lines`` (newline-terminated) to the open segment; on
        ``OSError`` (e.g. a full disk) the segment is cut back to its
        complete lines and the error raised."""
        n = lines.count(b"\n")
        with self._lock:
            if self._fd is None:
                self._open_locked()
            try:
                _write_all(self._fd, lines)
            except OSError:
                os.ftruncate(self._fd, self._size)
                raise
            self._size += len(lines)
            self.appended += n
        if self._stopped.is_set():
            self.seal()

    def seal(self) -> str | None:
        """Publish the open segment; returns its path (None if no line
        was appended since the last seal)."""
        with self._lock:
            if self._fd is None:
                return None
            final = self.publish(self._segment)
            os.unlink(self._segment)
            os.close(self._fd)
            self._fd = None
            return final


def pickle_module_by_value(module_name: str) -> None:
    """Make a self-contained module cloudpickle BY VALUE.

    Spark serializes a registered Python DataSource class with
    cloudpickle. By default an importable class pickles by REFERENCE
    (module path + name), which executor workers resolve because
    :func:`metricproxy_spark.io.ensure_package_on_workers` ships the
    package zip via ``addPyFile`` — but the *streaming source runner*
    is a separate driver-side Python process that does NOT see
    SparkFiles/addPyFile paths. If the driver found this repo only via
    a ``sys.path`` insert (the external driver does exactly that), the
    runner dies with ``ModuleNotFoundError: metricproxy_spark`` while
    planning ``readStream``. Registering the module for by-value
    pickling embeds the class bodies in the pickle itself, so the
    runner needs no import path at all. Only valid for modules that
    are self-contained (stdlib + pyspark imports only).

    No connector has a stream reader any more, so that runner no
    longer loads one; the batch connectors still register by value
    until a run without it shows executors resolve them by reference.
    """
    import sys

    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[module_name])
    except Exception:
        # Best-effort: batch reads still work by reference + addPyFile.
        pass


_REGISTERED: set[tuple[int, str]] = set()


def register(spark, source) -> None:
    """Idempotently register the DataSource class ``source`` on a
    session, pickling its module and this one by value."""
    key = (id(spark.sparkContext), source.name())
    if key not in _REGISTERED:
        pickle_module_by_value(__name__)
        pickle_module_by_value(source.__module__)
        spark.dataSource.register(source)
        _REGISTERED.add(key)
