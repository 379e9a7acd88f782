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

Mechanics:
- acquire = ``os.open(O_CREAT | O_EXCL)`` of ``<base>/.<table>.lock`` —
  atomic on POSIX and on HDFS-style filesystems (``create`` with
  overwrite=false).  On S3-style object stores swap in a conditional
  PUT (If-None-Match); the protocol above the primitive is unchanged.
- the lock file carries owner metadata ``{token, pid, host,
  acquired_at, lease_seconds}``.
- crash recovery = LEASE TAKEOVER: a waiter that finds the lock older
  than its lease renames it aside (``os.rename`` — only ONE concurrent
  renamer of the same source succeeds, so two waiters cannot both
  "break" the lock and then both acquire) and retries the atomic
  create.
- release renames the lock to a holder-private name, verifies the
  stored token on that pinned inode, and only then unlinks: if this
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


def _uri_scheme(path: str) -> str | None:
    """The URI scheme of ``path`` (``hdfs``, ``s3a``, ``file``, ...)
    or None for a bare local path."""
    import re

    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*)://", path)
    return m.group(1).lower() if m else None


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

    SCOPE (review-found): a bare local path locks via ``os.*`` —
    driver-local, the fast path.  A path carrying a URI scheme
    (``hdfs://``, ``s3a://``, ``file://``) routes through the Hadoop
    FileSystem API bound to the active SparkSession, so the lock lives
    on the SAME filesystem as the data it protects — a rollup
    maintained at an object-store path is now guarded by a lease other
    writers of that path can actually see, instead of a lock file on
    one driver's local disk that protects nothing across machines.
    """
    if _uri_scheme(base_dir):
        with _hadoop_table_lock(
            base_dir, table, lease_seconds, timeout_seconds, poll_seconds
        ):
            yield
        return
    os.makedirs(base_dir, exist_ok=True)
    path = _lock_path(base_dir, table)
    token = uuid.uuid4().hex
    meta = {
        "token": token,
        "pid": os.getpid(),
        "host": socket.gethostname(),
        "lease_seconds": float(lease_seconds),
    }
    deadline = time.monotonic() + timeout_seconds
    while True:
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            _maybe_take_over(path, token, grace_seconds=lease_seconds)
            if time.monotonic() >= deadline:
                raise LockTimeout(
                    f"{path}: held for > {timeout_seconds}s"
                ) from None
            time.sleep(poll_seconds)
            continue
        try:
            meta["acquired_at"] = time.time()
            os.write(fd, json.dumps(meta).encode())
        finally:
            os.close(fd)
        break
    try:
        yield
    except BaseException as primary:
        # NOTHING release raises may REPLACE the critical section's own
        # failure (the primary diagnostic) — not LockLost, and not an
        # incidental OSError from the unlink/link calls either (round-6
        # advice widened the round-5 LockLost-only shield).  Any release
        # failure is attached as a note instead.
        try:
            _release(path, token)
        except BaseException as lost:  # noqa: BLE001 — see above
            if hasattr(primary, "add_note"):
                primary.add_note(f"also, releasing the lock: {lost!r}")
        raise
    else:
        _release(path, token)


def _maybe_take_over(
    path: str, token: str, grace_seconds: float = 300.0
) -> None:
    """If the current lock's lease has expired, rename it aside (the
    single-winner break primitive) so the acquire loop can retry.

    TOCTOU guard: between reading the expired metadata and winning the
    rename, the lock can change hands (expired holder releases, a fresh
    holder acquires) — the rename would then break a LIVE lease.  After
    the rename the renamed file's token is re-checked against the one
    read; on mismatch the live lock is restored via ``os.link``, which
    atomically fails if yet another waiter already created a new lock at
    the path (in that residual double-race the displaced holder's
    release raises ``LockLost`` — detected, never silent)."""
    try:
        with open(path, "r") as f:
            meta = json.load(f)
        age = time.time() - float(meta.get("acquired_at", 0.0))
        lease = float(meta.get("lease_seconds", 0.0))
        expired_token = meta.get("token")
    except ValueError:
        # Unreadable metadata is EITHER a holder mid-write (empty file
        # between O_EXCL create and os.write — fresh mtime, wait it out)
        # OR a holder that crashed inside that window (the file stays
        # unparseable forever; without this branch every future acquire
        # would block until LockTimeout — round-5 advice).  The file's
        # mtime is the only clock such a file carries: older than the
        # waiter's grace period -> treat as abandoned and take over.
        # CAVEAT: this compares the waiter's time.time() against the
        # lock FILESYSTEM's mtime — a shared-storage server clock more
        # than grace_seconds behind the waiters could break a live
        # mid-write lock.  The parseable path below has no such skew
        # exposure (acquired_at is writer wall-clock, and writers and
        # waiters are peer jobs); on storage with known skew, size
        # lease_seconds above the skew bound.
        try:
            if time.time() - os.stat(path).st_mtime <= grace_seconds:
                return
        except OSError:
            return  # already gone; let the acquire loop retry
        age, lease, expired_token = 1.0, 0.0, None
    except OSError:
        # already gone; let the acquire loop retry
        return
    if age <= lease:
        return
    stale = f"{path}.stale.{token}"
    try:
        os.rename(path, stale)  # one concurrent renamer wins
    except OSError:
        return
    try:
        with open(stale, "r") as f:
            renamed_token = json.load(f).get("token")
    except (OSError, ValueError):
        renamed_token = None
    if renamed_token is not None and renamed_token != expired_token:
        _restore(stale, path)
    try:
        os.unlink(stale)
    except OSError:
        pass


def _restore(src: str, path: str) -> None:
    """Put a mistakenly-renamed LIVE lock back at ``path``.

    ``os.link`` is the preferred primitive: atomic, and fails with
    EEXIST if yet another waiter already created a fresh lock (that
    residual race is left to detect-at-release).  A NON-EEXIST link
    failure means the primitive itself is unavailable (object stores
    and some network filesystems have no hard links) — there, falling
    through would delete the displaced holder's live lock outright;
    instead restore by rename, which clobbers a just-created waiter
    lock in the worst case (that waiter then detects the loss at its
    own release — round-6 advice: strictly narrower than the delete)."""
    try:
        os.link(src, path)
    except FileExistsError:
        pass
    except OSError:
        try:
            os.rename(src, path)
        except OSError:
            pass


def _release(path: str, token: str) -> None:
    """Token-verified release via rename-then-verify.

    A plain read-check-unlink has a race: if the lease expires between
    the token read and the unlink, a waiter can take over and acquire,
    and the unlink then silently deletes the NEW holder's lock (round-5
    advice).  Renaming the lock to a holder-private name FIRST pins the
    exact inode being verified: the token check and the delete now
    operate on the same file, so a live successor's lock can never be
    unlinked by a stale holder — at worst it is renamed aside for one
    beat and restored via the same ``os.link`` primitive the takeover
    path uses (and if yet another waiter slipped in meanwhile, the link
    fails and BOTH displaced holders see LockLost at their own release —
    detected, never silent)."""
    mine = f"{path}.rel.{token}"
    try:
        os.rename(path, mine)
    except OSError:
        # lock gone entirely: taken over AND released/re-broken
        raise LockLost(
            f"{path}: lock file vanished while held; critical section "
            "was not exclusive to the end"
        ) from None
    try:
        with open(mine, "r") as f:
            holder = json.load(f).get("token")
    except (OSError, ValueError):
        holder = None
    if holder == token:
        os.unlink(mine)
        return
    # We renamed a SUCCESSOR's live lock aside: restore it (EEXIST-aware
    # with a rename fallback for no-hardlink filesystems — _restore).
    _restore(mine, path)
    try:
        os.unlink(mine)
    except OSError:
        pass
    raise LockLost(
        f"{path}: lease was taken over while held (holder token "
        f"{holder!r}); critical section was not exclusive to the end"
    )


# --------------------------------------------------------------------
# Hadoop-FS-scoped lease: the same protocol (atomic-ish create-excl,
# lease takeover by single-winner rename, token-verified release by
# rename-then-verify) expressed through the Hadoop FileSystem API, so
# the lock lives on the DATA path's filesystem (hdfs://, s3a://,
# file://).  Primitive contracts are the store's own: HDFS create
# (overwrite=false) is atomic at the NameNode and rename is atomic;
# S3A needs fs.s3a.create.conditional.enabled (conditional PUT) for a
# hard exclusion guarantee; file:// has a check-then-create window in
# Hadoop's LocalFileSystem — use bare paths locally (the os.O_EXCL
# fast path above) and file:// only to exercise this code path in
# tests.  The restore primitive is rename (no hard links in the FS
# API) — the documented object-store fallback of the local protocol.
# --------------------------------------------------------------------


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
    """Thin Hadoop FileSystem wrapper for the lock protocol (one
    getFileSystem resolution per lock acquisition)."""

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
        self._conf = spark._jsc.hadoopConfiguration()
        self._fs = self._path(path).getFileSystem(self._conf)

    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def mkdirs(self, d: str) -> None:
        self._fs.mkdirs(self._path(d))

    def create_excl(self, p: str, content: str) -> bool:
        """True if this caller created ``p`` (create-if-absent through
        FileSystem.create(overwrite=false)); False if it existed.
        Metadata is written into the same stream — a crash between
        create and write leaves an empty lock, handled by the mtime
        grace branch exactly like the local protocol."""
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

    def delete(self, p: str) -> None:
        try:
            self._fs.delete(self._path(p), False)
        except Exception:
            pass


@contextmanager
def _hadoop_table_lock(
    base_dir: str,
    table: str,
    lease_seconds: float,
    timeout_seconds: float,
    poll_seconds: float,
):
    fs = _HFS(base_dir)
    fs.mkdirs(base_dir)
    path = base_dir.rstrip("/") + f"/.{table}.lock"
    token = uuid.uuid4().hex
    meta = {
        "token": token,
        "pid": os.getpid(),
        "host": socket.gethostname(),
        "lease_seconds": float(lease_seconds),
        "acquired_at": None,  # stamped below, per-attempt
    }
    deadline = time.monotonic() + timeout_seconds
    while True:
        meta["acquired_at"] = time.time()
        if fs.create_excl(path, json.dumps(meta)):
            break
        _hadoop_maybe_take_over(fs, path, token, lease_seconds)
        if time.monotonic() >= deadline:
            raise LockTimeout(f"{path}: held for > {timeout_seconds}s")
        time.sleep(poll_seconds)
    try:
        yield
    except BaseException as primary:
        try:
            _hadoop_release(fs, path, token)
        except BaseException as lost:  # noqa: BLE001 — see table_lock
            if hasattr(primary, "add_note"):
                primary.add_note(f"also, releasing the lock: {lost!r}")
        raise
    else:
        _hadoop_release(fs, path, token)


def _hadoop_maybe_take_over(
    fs: _HFS, path: str, token: str, grace_seconds: float
) -> None:
    """Lease takeover, Hadoop flavor: rename the expired lock aside
    (HDFS rename is atomic and fails when the source vanished, so one
    concurrent renamer wins), re-verify the renamed token, restore a
    mistakenly-displaced live lock by rename (the no-hardlink
    fallback), and let the acquire loop retry."""
    raw = fs.read(path)
    expired_token = None
    if raw:
        try:
            m = json.loads(raw)
            age = time.time() - float(m.get("acquired_at", 0.0))
            lease = float(m.get("lease_seconds", 0.0))
            expired_token = m.get("token")
        except ValueError:
            mt = fs.mtime(path)
            if mt is None or time.time() - mt <= grace_seconds:
                return  # holder mid-write (or gone): wait it out
            age, lease = 1.0, 0.0
        if age <= lease:
            return
    else:
        # empty lock file: a holder crashed between create and write,
        # or is mid-write — the mtime grace branch, as local
        mt = fs.mtime(path)
        if mt is None or time.time() - mt <= grace_seconds:
            return
    stale = f"{path}.stale.{token}"
    if not fs.rename(path, stale):
        return  # another waiter won the break race
    renamed = fs.read(stale)
    renamed_token = None
    if renamed:
        try:
            renamed_token = json.loads(renamed).get("token")
        except ValueError:
            renamed_token = None
    if renamed_token is not None and renamed_token != expired_token:
        fs.rename(stale, path)  # restore the live lock (best effort)
    fs.delete(stale)


def _hadoop_release(fs: _HFS, path: str, token: str) -> None:
    mine = f"{path}.rel.{token}"
    if not fs.rename(path, mine):
        raise LockLost(
            f"{path}: lock file vanished while held; critical section "
            "was not exclusive to the end"
        )
    raw = fs.read(mine)
    holder = None
    if raw:
        try:
            holder = json.loads(raw).get("token")
        except ValueError:
            holder = None
    if holder == token:
        fs.delete(mine)
        return
    fs.rename(mine, path)  # restore the displaced successor
    fs.delete(mine)
    raise LockLost(
        f"{path}: lease was taken over while held (holder token "
        f"{holder!r}); critical section was not exclusive to the end"
    )
