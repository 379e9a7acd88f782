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

One protocol, written once against seven filesystem primitives
(``mkdirs``, ``create_excl``, ``read``, ``mtime``, ``rename``,
``restore``, ``delete``) with two implementations: ``_LocalFS`` (``os.*``)
for bare paths and ``file:`` URIs, ``_HFS`` (the Hadoop FileSystem API)
for remote schemes such as ``hdfs://`` and ``s3a://``, so the lock lives
on the same filesystem as the data it protects.

Mechanics:
- acquire = ``create_excl`` of ``<base>/.<table>.lock`` — ``os.open(
  O_CREAT | O_EXCL)`` locally, ``create`` with overwrite=false on HDFS.
- the lock file carries owner metadata ``{token, pid, host,
  acquired_at, lease_seconds}``.
- crash recovery = LEASE TAKEOVER: a waiter that finds the lock older
  than its lease (``lease_state``) renames it aside (only ONE concurrent
  renamer of the same source succeeds, so two waiters cannot both
  "break" the lock and then both acquire) and retries the atomic
  create.
- release renames the lock to a holder-private name, verifies the
  stored token on that pinned file, and only then deletes it: if this
  holder's lease was taken over mid-run, the successor's lock is
  restored and ``LockLost`` is raised so the caller knows its critical
  section was not exclusive to the end.
- a holder that crashes BETWEEN the atomic create and the metadata
  write leaves an empty lock file; waiters treat an unparseable lock
  older than their grace period (the lease) as abandoned, via mtime.
"""

from __future__ import annotations

import json
import os
import re
import socket
import time
import uuid
from contextlib import contextmanager


class LockTimeout(TimeoutError):
    """Could not acquire the table lock within ``timeout_seconds``."""


class LockLost(RuntimeError):
    """The lease expired and another job took the lock over while this
    holder was still inside its critical section."""


def _lock_path(base_dir: str, table: str) -> str:
    return os.path.join(base_dir, f".{table}.lock")


def _filesystem(base_dir: str):
    """``(primitives, base)`` for ``base_dir``: a ``file:`` URI
    (``file:///x`` or Hadoop's ``file:/x``) is the local path ``/x``,
    a bare path is local as is, any other scheme goes through Hadoop."""
    for prefix in ("file://", "file:"):
        if base_dir.startswith(prefix):
            return _LocalFS(), base_dir[len(prefix):]
    if re.match(r"[A-Za-z][A-Za-z0-9+.-]*://", base_dir):
        return _HFS(base_dir), base_dir
    return _LocalFS(), base_dir


@contextmanager
def table_lock(
    base_dir: str,
    table: str,
    lease_seconds: float = 300.0,
    timeout_seconds: float = 120.0,
    poll_seconds: float = 0.05,
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
        _maybe_take_over(fs, path, token, grace_seconds=lease_seconds)
        if time.monotonic() >= deadline:
            raise LockTimeout(f"{path}: held for > {timeout_seconds}s")
        time.sleep(poll_seconds)
    try:
        yield
    except BaseException as primary:
        # NOTHING release raises may REPLACE the critical section's own
        # failure (the primary diagnostic) — not LockLost, and not an
        # incidental OSError from the filesystem calls either (round-6
        # advice widened the round-5 LockLost-only shield).  Any release
        # failure is attached as a note instead.
        try:
            _release(fs, path, token)
        except BaseException as lost:  # noqa: BLE001 — see above
            if hasattr(primary, "add_note"):
                primary.add_note(f"also, releasing the lock: {lost!r}")
        raise
    else:
        _release(fs, path, token)


def _token(raw: str | None) -> str | None:
    """The holder token in lock metadata ``raw``, None if unparseable."""
    try:
        return json.loads(raw).get("token") if raw else None
    except ValueError:
        return None


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


def _maybe_take_over(
    fs, path: str, token: str, grace_seconds: float = 300.0
) -> None:
    """If the current lock's lease has expired (``lease_state``), rename
    it aside (the single-winner break primitive) so the acquire loop can
    retry.

    TOCTOU guard: between reading the expired metadata and winning the
    rename, the lock can change hands (expired holder releases, a fresh
    holder acquires) — the rename would then break a LIVE lease.  After
    the rename the renamed file's token is re-checked against the one
    read; on mismatch the live lock is put back with ``fs.restore``,
    which fails if yet another waiter already created a new lock at the
    path (in that residual double-race the displaced holder's release
    raises ``LockLost`` — detected, never silent)."""
    state, expired_token = lease_state(path, grace_seconds, fs)
    if state != "expired":
        return
    stale = f"{path}.stale.{token}"
    if not fs.rename(path, stale):  # one concurrent renamer wins
        return
    renamed_token = _token(fs.read(stale))
    if renamed_token is not None and renamed_token != expired_token:
        fs.restore(stale, path)
    fs.delete(stale)


def _release(fs, path: str, token: str) -> None:
    """Token-verified release via rename-then-verify.

    A plain read-check-delete has a race: if the lease expires between
    the token read and the delete, a waiter can take over and acquire,
    and the delete then silently removes the NEW holder's lock (round-5
    advice).  Renaming the lock to a holder-private name FIRST pins the
    exact file being verified: the token check and the delete now
    operate on the same file, so a live successor's lock can never be
    deleted by a stale holder — at worst it is renamed aside for one
    beat and restored via the same ``fs.restore`` the takeover path
    uses (and if yet another waiter slipped in meanwhile, the restore
    fails and BOTH displaced holders see LockLost at their own release
    — detected, never silent)."""
    mine = f"{path}.rel.{token}"
    if not fs.rename(path, mine):
        # lock gone entirely: taken over AND released/re-broken
        raise LockLost(
            f"{path}: lock file vanished while held; critical section "
            "was not exclusive to the end"
        )
    holder = _token(fs.read(mine))
    if holder == token:
        fs.delete(mine)
        return
    fs.restore(mine, path)  # we renamed a SUCCESSOR's live lock aside
    fs.delete(mine)
    raise LockLost(
        f"{path}: lease was taken over while held (holder token "
        f"{holder!r}); critical section was not exclusive to the end"
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

    def rename(self, src: str, dst: str) -> bool:
        try:
            os.rename(src, dst)
            return True
        except OSError:
            return False

    def restore(self, src: str, path: str) -> None:
        """Put a mistakenly-renamed LIVE lock back at ``path``.

        ``os.link`` is the preferred primitive: atomic, and fails with
        EEXIST if yet another waiter already created a fresh lock (that
        residual race is left to detect-at-release).  A NON-EEXIST link
        failure means the primitive itself is unavailable (some network
        filesystems have no hard links) — there, falling through would
        delete the displaced holder's live lock outright; instead
        restore by rename, which clobbers a just-created waiter lock in
        the worst case (that waiter then detects the loss at its own
        release — round-6 advice: strictly narrower than the delete)."""
        try:
            os.link(src, path)
        except FileExistsError:
            pass
        except OSError:
            self.rename(src, path)

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
    (overwrite=false) is atomic at the NameNode and rename is atomic;
    S3A needs fs.s3a.create.conditional.enabled (conditional PUT) for a
    hard exclusion guarantee.  The restore primitive is rename (no hard
    links in the FS API) — the local protocol's no-hardlink fallback.
    Hadoop's LocalFileSystem create is check-then-create, which is why
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
        conf = spark._jsc.hadoopConfiguration()
        self._fs = self._path(path).getFileSystem(conf)

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
        from golang_cassandra_kafka_feed_spark.sources.fsutil import (
            read_stream,
        )

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

    def rename(self, src: str, dst: str) -> bool:
        try:
            return bool(self._fs.rename(self._path(src), self._path(dst)))
        except Exception:
            return False

    def restore(self, src: str, path: str) -> None:
        self.rename(src, path)

    def delete(self, p: str) -> None:
        try:
            self._fs.delete(self._path(p), False)
        except Exception:
            pass
