"""URI-scoped table lock (feed/lock.py routes on the scheme): the lock
must live on the DATA path's filesystem, so an object-store rollup's
single-writer lease is honest, not a driver-local no-op.
A ``file:`` URI locks with the local primitives (atomic ``O_EXCL``
create) next to its data; remote schemes go through the Hadoop
FileSystem primitives (``_HFS``), whose contract is tested on a
``file://`` path directly."""

from __future__ import annotations

import json
import threading
import time

import pytest

from golang_cassandra_kafka_feed_spark.feed.lock import (
    LockLost,
    LockTimeout,
    table_lock,
)


def _uri(tmp_path) -> str:
    return "file://" + str(tmp_path)


def test_uri_lock_creates_on_the_data_filesystem(spark, tmp_path):
    base = _uri(tmp_path / "roll")
    with table_lock(base, "t"):
        lock_file = tmp_path / "roll" / ".t.lock"
        assert lock_file.exists()
        meta = json.loads(lock_file.read_text())
        assert meta["token"] and meta["lease_seconds"] == 300.0
    assert not lock_file.exists()  # released


def test_hadoop_style_file_uri_locks_next_to_the_data(tmp_path, monkeypatch):
    """Hadoop renders local paths as ``file:/x``: the lock goes into
    ``/x``, not into a relative ``file:/x`` directory under the current
    directory (which two processes in different directories would not
    share)."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    with table_lock("file:" + str(tmp_path / "d"), "t"):
        assert (tmp_path / "d" / ".t.lock").exists()
    assert not (tmp_path / "d" / ".t.lock").exists()
    assert list(cwd.iterdir()) == []


def test_hadoop_primitives_on_a_file_uri(spark, tmp_path):
    """The Hadoop FileSystem primitives the lock protocol runs on for
    remote schemes, exercised on ``file://`` in one thread."""
    from golang_cassandra_kafka_feed_spark.feed.lock import _HFS

    base = _uri(tmp_path)
    fs = _HFS(base)
    p = base + "/.t.lock"
    assert fs.read(p) is None and fs.mtime(p) is None
    assert fs.create_excl(p, '{"token": "a"}') is True
    assert fs.create_excl(p, '{"token": "b"}') is False
    assert fs.read(p) == '{"token": "a"}'
    assert abs(fs.mtime(p) - time.time()) < 60
    fs.delete(p)
    assert fs.read(p) is None and fs.mtime(p) is None
    fs.delete(p)  # deleting an absent file is a no-op


def test_uri_lock_mutual_exclusion(spark, tmp_path):
    base = _uri(tmp_path)
    order: list[str] = []

    def worker(tag: str):
        with table_lock(base, "t", timeout_seconds=20):
            order.append(f"{tag}-in")
            time.sleep(0.15)
            order.append(f"{tag}-out")

    ts = [threading.Thread(target=worker, args=(str(i),)) for i in range(3)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    # strict nesting: every -in is immediately followed by its own -out
    assert len(order) == 6
    for i in range(0, 6, 2):
        assert order[i].endswith("-in")
        assert order[i + 1] == order[i].replace("-in", "-out")


def test_uri_lock_timeout_while_held(spark, tmp_path):
    base = _uri(tmp_path)
    with table_lock(base, "t"):
        with pytest.raises(LockTimeout):
            with table_lock(base, "t", timeout_seconds=0.3):
                pass


def test_uri_stale_lease_takeover_and_lock_lost(spark, tmp_path):
    """A crashed (never-released) holder with an expired lease is taken
    over; when the original holder finally releases, it learns its
    section was not exclusive (LockLost) — detected, never silent."""
    base = _uri(tmp_path)
    cm = table_lock(base, "t", lease_seconds=0.1)
    cm.__enter__()
    time.sleep(0.25)
    with table_lock(base, "t", timeout_seconds=10):
        pass  # takeover succeeded
    with pytest.raises(LockLost):
        cm.__exit__(None, None, None)


def test_uri_empty_lock_file_waited_then_taken_over(spark, tmp_path):
    """A zero-byte lock (crash between create and metadata write) is
    waited on within the grace period, then treated as abandoned."""
    base = _uri(tmp_path)
    (tmp_path / ".t.lock").write_text("")
    t0 = time.monotonic()
    with pytest.raises(LockTimeout):
        with table_lock(base, "t", lease_seconds=30, timeout_seconds=0.4):
            pass
    assert time.monotonic() - t0 >= 0.4  # waited, not broken
    # age the file past a short grace and retry: takeover
    import os

    old = time.time() - 10
    os.utime(tmp_path / ".t.lock", (old, old))
    with table_lock(base, "t", lease_seconds=1.0, timeout_seconds=10):
        pass


def test_rollup_lease_true_is_honest_on_uri_paths(spark, tmp_path):
    """rollup_foreach_batch's lease on a file://-as-remote path:
    the single-writer lease now lives next to the rollup data.  A
    repair job holding the lease blocks the stream's batch apply until
    release (bounded wait), and the maintained state still equals the
    recompute afterwards."""
    import datetime as dt

    from golang_cassandra_kafka_feed_spark.streaming.rollup import (
        read_rollup,
        rollup_foreach_batch,
        rollup_partials,
    )

    path = _uri(tmp_path / "roll")
    fn = rollup_foreach_batch(path, run_id="run-x")
    rows = lambda xs: spark.createDataFrame(  # noqa: E731
        [
            (i, dt.datetime(2024, 1, 1, 6) + dt.timedelta(hours=h), t, v)
            for i, (h, t, v) in enumerate(xs)
        ],
        "event_id long, ts timestamp, event_type string, value double",
    )
    b0, b1 = rows([(0, "view", 1.0)]), rows([(1, "buy", 3.0)])
    fn(b0, 0)

    blocker = table_lock(path, "_rollup", timeout_seconds=10)
    blocker.__enter__()
    applied: list[float] = []

    def apply_b1():
        fn(b1, 1)
        applied.append(time.monotonic())

    t = threading.Thread(target=apply_b1)
    t.start()
    time.sleep(0.4)
    assert not applied, "batch applied while the repair lease was held"
    released_at = time.monotonic()
    blocker.__exit__(None, None, None)
    t.join(60)
    assert applied and applied[0] >= released_at
    got = sorted(map(tuple, read_rollup(spark, path).collect()))
    want = sorted(
        map(tuple, rollup_partials(b0.unionByName(b1)).collect())
    )
    assert got == want


def test_create_contention_classification_is_message_robust():
    """'Already exists' classification must not require the Java class
    name: some Hadoop filesystems raise a plain
    IOException('File already exists: ...') (review-found r9).  Real
    faults (permissions, transient IO) must still re-raise."""
    from golang_cassandra_kafka_feed_spark.feed.lock import (
        _is_create_contention,
    )

    class FileAlreadyExistsException(Exception):
        pass

    assert _is_create_contention(FileAlreadyExistsException("/p"))
    assert _is_create_contention(Exception("File already exists: /p"))
    assert _is_create_contention(Exception("FILE ALREADY EXISTS: /p"))
    assert _is_create_contention(
        Exception("org.apache.hadoop.fs.FileAlreadyExistsException: /p")
    )
    assert not _is_create_contention(Exception("Permission denied: /p"))
    assert not _is_create_contention(Exception("Connection reset"))


def test_create_contention_generic_message_requires_lock_path():
    """r11 review tightening: a GENERIC 'already exists' message is
    contention only when it references the lock path — a persistent
    non-lock fault ('parent path already exists as a file') must
    re-raise, not convert into a silent wait-until-lease-timeout."""
    from golang_cassandra_kafka_feed_spark.feed.lock import (
        _is_create_contention,
    )

    lock = "file:///data/store/.lock/writer.lock"
    # generic message naming the lock path (scheme-stripped or basename)
    assert _is_create_contention(
        Exception("File already exists: /data/store/.lock/writer.lock"),
        lock,
    )
    assert _is_create_contention(
        Exception("file already exists: writer.lock"), lock
    )
    # generic message naming a DIFFERENT path -> real fault, re-raise
    assert not _is_create_contention(
        Exception("parent path /data/store already exists as a file"),
        lock,
    )
    # the specific Hadoop class is trusted regardless of message shape
    assert _is_create_contention(
        Exception("org.apache.hadoop.fs.FileAlreadyExistsException: x"),
        lock,
    )
