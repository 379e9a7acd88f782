"""Filesystem mutual exclusion for cross-job read-modify-write.

The reference closes the CreateUser race with Cassandra's
``INSERT ... IF NOT EXISTS`` LWT (internal/store/feed.go:41-74, a
per-partition Paxos round).  On a plain filesystem the equivalent
primitive is atomic exclusive file creation: ``table_lock`` serializes
the anti-join-then-append critical section of concurrent jobs mutating
the same FeedStore table, so batch CAS semantics (exactly one winner per
username) hold ACROSS jobs, not just within one.

Granularity is deliberately coarser than the reference: LWT serializes
per partition key, this lock serializes per TABLE.  For an OLTP store
that would be a throughput disaster; for a batch ingest engine whose
writers are a handful of concurrent jobs appending thousands of rows
each, a table-level commit lock is the honest translation (the critical
section is two Spark jobs: one anti-join read, one append).

One protocol, written once against five filesystem primitives
(``mkdirs``, ``create_excl``, ``read``, ``mtime``, ``delete``) with two
implementations: ``_LocalFS`` (``os.*``) for bare paths and ``file:``
URIs, ``_HFS`` (the Hadoop FileSystem API) for remote schemes such as
``hdfs://`` and ``s3a://``, so the lock lives on the same filesystem as
the data it protects.

Mechanics:
- acquire = ``create_excl`` of ``<base>/.<table>.lock`` — ``os.open(
  O_CREAT | O_EXCL)`` locally, ``create`` with overwrite=false on HDFS.
- the lock file carries owner metadata ``{token, pid, host,
  acquired_at, lease_seconds}``.
- one lock file is one GENERATION, named by its holder's token.  It is
  only ever removed under that generation's CLAIM: the remover first
  wins the exclusive create of ``<lock>.claim.<token>.<n>``, then
  re-reads the lock and deletes it only if it still carries that
  token.  Only one party holds a generation's claim at a time, and a
  lock file cannot change generation while it exists, so no remover can
  delete a successor's lock.
- crash recovery = LEASE TAKEOVER: a waiter that finds the lock older
  than its lease (``lease_state``) removes that generation under its
  claim and retries the atomic create.  Many waiters racing to break
  one expired lease remove it once, and a slow waiter that read the old
  token re-reads the new holder's under the claim and leaves it alone.
- release removes the holder's own generation the same way.  If a
  waiter holds the claim (it is breaking the expired lease) or the lock
  carries another token or is gone, the lease was taken over and
  ``LockLost`` is raised so the caller knows its critical section was
  not exclusive to the end.
- a claimant that crashes inside its claim (a read and a delete) leaves
  a claim file; once that claim's own lease has expired the next
  claimant takes slot ``n + 1`` instead of deleting it, and the stale
  slots go only after the generation they guard is gone or known not
  current.
- a holder that crashes BETWEEN the atomic create and the metadata
  write leaves an empty lock file; waiters treat an unparseable lock
  older than their grace period (the lease) as abandoned, via mtime.
"""

from __future__ import annotations

import itertools
import json
import os
import socket
import time
import uuid
from contextlib import contextmanager

from golang_cassandra_kafka_feed_spark.sources.fsutil import (
    hadoop_fs,
    local_path,
    read_stream,
)

# How long a waiter sleeps between acquire attempts.
_POLL_SECONDS = 0.05


class LockTimeout(TimeoutError):
    """Could not acquire the table lock within ``timeout_seconds``."""


class LockLost(RuntimeError):
    """The lease expired and another job took the lock over while this
    holder was still inside its critical section."""


def _lock_path(base_dir: str, table: str) -> str:
    return os.path.join(base_dir, f".{table}.lock")


def _filesystem(base_dir: str):
    """``(primitives, base)`` for ``base_dir``: a bare path or a ``file:``
    URI locks on its local path (``fsutil.local_path``), any other scheme
    goes through Hadoop."""
    local = local_path(base_dir)
    if local is None:
        return _HFS(base_dir), base_dir
    return _LocalFS(), local


@contextmanager
def table_lock(
    base_dir: str,
    table: str,
    lease_seconds: float = 300.0,
    timeout_seconds: float = 120.0,
):
    """Exclusive lease on ``<base_dir>/<table>`` mutation.

    ``lease_seconds`` bounds how long a crashed holder can block others;
    size it above the longest expected critical section (two small Spark
    jobs), otherwise a slow holder gets taken over and its release
    raises ``LockLost``.

    The lock file lives next to the data: a bare path or a ``file:``
    URI locks on the local filesystem with its atomic ``O_EXCL``
    create; a remote URI (``hdfs://``, ``s3a://``) locks through the
    Hadoop FileSystem bound to the active SparkSession, so a rollup
    maintained at an object-store path is guarded by a lease other
    writers of that path can see, not by a lock file on one driver's
    local disk.
    """
    fs, base = _filesystem(base_dir)
    fs.mkdirs(base)
    path = _lock_path(base, table)
    token = uuid.uuid4().hex
    meta = {
        "token": token,
        "pid": os.getpid(),
        "host": socket.gethostname(),
        "lease_seconds": float(lease_seconds),
    }
    deadline = time.monotonic() + timeout_seconds
    while True:
        meta["acquired_at"] = time.time()
        if fs.create_excl(path, json.dumps(meta)):
            break
        _maybe_take_over(fs, path, meta, lease_seconds)
        if time.monotonic() >= deadline:
            raise LockTimeout(f"{path}: held for > {timeout_seconds}s")
        time.sleep(_POLL_SECONDS)
    try:
        yield
    except BaseException as primary:
        # NOTHING release raises may REPLACE the critical section's own
        # failure (the primary diagnostic) — not LockLost, and not an
        # incidental OSError from the filesystem calls either (round-6
        # advice widened the round-5 LockLost-only shield).  Any release
        # failure is attached as a note instead.
        try:
            _release(fs, path, meta, lease_seconds)
        except BaseException as lost:  # noqa: BLE001 — see above
            if hasattr(primary, "add_note"):
                primary.add_note(f"also, releasing the lock: {lost!r}")
        raise
    else:
        _release(fs, path, meta, lease_seconds)


def lease_state(
    path: str, grace_seconds: float = 300.0, fs=None
) -> tuple[str, str | None]:
    """``(state, token)`` of the lock file at ``path`` (on ``fs``, the
    local filesystem by default): ``state`` is ``"live"`` while its
    lease runs, ``"expired"`` once it is past, and ``"gone"`` when there
    is no lock file; ``token`` is the holder's token when the metadata
    parses.

    Unreadable metadata is EITHER a holder mid-write (empty file between
    the exclusive create and the metadata write — fresh mtime, live) OR
    a holder that crashed inside that window (the file stays unparseable
    forever; without this branch every future acquire would block until
    LockTimeout — round-5 advice).  The file's mtime is the only clock
    such a file carries: older than ``grace_seconds`` -> expired.
    CAVEAT: this compares time.time() against the lock FILESYSTEM's
    mtime — a shared-storage server clock more than grace_seconds behind
    the caller could expire a live mid-write lock.  The parseable path
    has no such skew exposure (acquired_at is writer wall-clock, and
    writers and waiters are peer jobs); on storage with known skew, size
    lease_seconds above the skew bound."""
    fs = fs or _LocalFS()
    raw = fs.read(path)
    if raw is None:
        return "gone", None
    try:
        meta = json.loads(raw)
        age = time.time() - float(meta.get("acquired_at", 0.0))
        live = age <= float(meta.get("lease_seconds", 0.0))
    except ValueError:
        mtime = fs.mtime(path)
        if mtime is None:
            return "gone", None
        live = time.time() - mtime <= grace_seconds
        return ("live" if live else "expired"), None
    return ("live" if live else "expired"), meta.get("token")


def _remove_generation(
    fs, path: str, token: str | None, meta: dict, grace_seconds: float,
    expired_only: bool,
) -> str:
    """Delete the lock at ``path`` if it is still the generation whose
    holder token is ``token`` (None: an unparseable lock), under that
    generation's claim, which carries the claimant's ``meta`` stamped
    now; ``expired_only`` spares a generation whose lease is still
    live.

    Returns ``"removed"``, ``"busy"`` when another party holds a live
    claim on the generation, or ``"changed"`` when the lock is gone or
    another generation.  The claim is the first free slot
    ``<path>.claim.<token>.<n>`` whose predecessors' leases have all
    expired (crashed claimants); every slot up to it is deleted after
    the re-read, when the generation is gone or known not current, so a
    later claimant of a freed slot re-reads a lock that is no longer
    this generation."""
    key = token or "unparsed"
    claim = json.dumps({**meta, "acquired_at": time.time()})
    for n in itertools.count():
        slot = f"{path}.claim.{key}.{n}"
        if fs.create_excl(slot, claim):
            break
        if lease_state(slot, grace_seconds, fs)[0] != "expired":
            return "busy"
    try:
        state, current = lease_state(path, grace_seconds, fs)
        if state == "gone" or current != token:
            return "changed"
        if expired_only and state != "expired":
            return "changed"
        fs.delete(path)
        return "removed"
    finally:
        for i in range(n, -1, -1):
            fs.delete(f"{path}.claim.{key}.{i}")


def _maybe_take_over(
    fs, path: str, meta: dict, grace_seconds: float = 300.0
) -> None:
    """If the current lock's lease has expired (``lease_state``), remove
    that generation under its claim so the acquire loop can retry."""
    state, expired_token = lease_state(path, grace_seconds, fs)
    if state == "expired":
        _remove_generation(
            fs, path, expired_token, meta, grace_seconds, expired_only=True
        )


def _release(fs, path: str, meta: dict, grace_seconds: float) -> None:
    """Remove the holder's own generation under its claim; ``LockLost``
    if a waiter is breaking it or it is already gone or replaced."""
    outcome = _remove_generation(
        fs, path, meta["token"], meta, grace_seconds, expired_only=False
    )
    if outcome == "removed":
        return
    if fs.read(path) is None:
        raise LockLost(
            f"{path}: lock file vanished while held; critical section "
            "was not exclusive to the end"
        )
    raise LockLost(
        f"{path}: lease was taken over while held; critical section "
        "was not exclusive to the end"
    )


class _LocalFS:
    """The lock primitives on the local filesystem (``os.*``)."""

    def mkdirs(self, d: str) -> None:
        os.makedirs(d, exist_ok=True)

    def create_excl(self, p: str, content: str) -> bool:
        """True if this caller created ``p`` (``O_CREAT | O_EXCL``,
        atomic on POSIX) and wrote ``content`` into it; False if it
        existed."""
        try:
            fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        try:
            os.write(fd, content.encode("utf-8"))
        finally:
            os.close(fd)
        return True

    def read(self, p: str) -> str | None:
        try:
            with open(p, "rb") as f:
                return f.read().decode("utf-8", "replace")
        except OSError:
            return None

    def mtime(self, p: str) -> float | None:
        try:
            return os.stat(p).st_mtime
        except OSError:
            return None

    def delete(self, p: str) -> None:
        try:
            os.unlink(p)
        except OSError:
            pass


def _is_create_contention(e: Exception, lock_path: str = "") -> bool:
    """True when a FileSystem.create(overwrite=false) failure means
    'the lock file already exists' (lock held) rather than a real fault.

    Two accepted shapes (case-insensitive), review-tightened r11 so a
    persistent NON-lock fault (e.g. 'parent path already exists as a
    file') cannot be misread as contention and silently waited out:

    - the exception CLASS or message mentions FileAlreadyExists —
      Hadoop's specific contention type (py4j renders the Java class
      name into a generic Python exception's message), trusted as-is;
    - a generic message ('File already exists: ...', raised by some
      filesystems/versions with no class-name leak — review-found r9)
      — accepted only when it references the lock path itself (full
      scheme-stripped path, or its basename when the FS re-renders the
      scheme/authority)."""
    cls = str(e.__class__).lower()
    msg = str(e).lower()
    if "filealreadyexists" in cls or "filealreadyexists" in msg:
        return True
    if "already exists" not in msg:
        return False
    if not lock_path:
        return True  # no path to verify against — keep r9 behavior
    bare = lock_path.split("://", 1)[-1].lower()
    base = bare.rstrip("/").rsplit("/", 1)[-1]
    return bare in msg or (base != "" and base in msg)


class _HFS:
    """The lock primitives through the Hadoop FileSystem API (one
    getFileSystem resolution per lock acquisition).

    Primitive contracts are the store's own: HDFS create
    (overwrite=false) is atomic at the NameNode; S3A needs
    fs.s3a.create.conditional.enabled (conditional PUT) for a hard
    exclusion guarantee.  Hadoop's LocalFileSystem create is check-then-create, which is why
    ``file:`` paths lock through ``_LocalFS`` instead."""

    def __init__(self, path: str):
        from pyspark.sql import SparkSession

        # getActiveSession is JVM-thread-local; a lock acquired from a
        # worker thread (foreachBatch, repair jobs) falls back to the
        # process-default session.
        spark = SparkSession.getActiveSession() or getattr(
            SparkSession, "_instantiatedSession", None
        )
        if spark is None:
            raise RuntimeError(
                f"URI-scoped lock on {path!r} needs an active "
                "SparkSession (the lock lives on the data path's "
                "filesystem, resolved via the session's Hadoop conf)"
            )
        self._jvm = spark._jvm
        self._fs, _ = hadoop_fs(spark, path)

    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def mkdirs(self, d: str) -> None:
        self._fs.mkdirs(self._path(d))

    def create_excl(self, p: str, content: str) -> bool:
        """True if this caller created ``p`` (create-if-absent through
        FileSystem.create(overwrite=false)); False if it existed.
        Metadata is written into the same stream — a crash between
        create and write leaves an empty lock, handled by the mtime
        grace branch of ``lease_state``."""
        try:
            out = self._fs.create(self._path(p), False)
        except Exception as e:  # FileAlreadyExistsException et al.
            if _is_create_contention(e, p):
                return False
            raise
        try:
            out.write(bytearray(content.encode("utf-8")))
        finally:
            out.close()
        return True

    def read(self, p: str) -> str | None:
        try:
            stream = self._fs.open(self._path(p))
        except Exception:
            return None
        try:
            return read_stream(self._jvm, stream).decode("utf-8")
        finally:
            stream.close()

    def mtime(self, p: str) -> float | None:
        try:
            return (
                self._fs.getFileStatus(self._path(p))
                .getModificationTime()
                / 1000.0
            )
        except Exception:
            return None

    def delete(self, p: str) -> None:
        try:
            self._fs.delete(self._path(p), False)
        except Exception:
            pass
