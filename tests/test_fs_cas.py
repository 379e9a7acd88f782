"""Cross-job CAS: the filesystem table lease (feed/lock.py) and the
FeedStore writes that always take it — the LWT twin (reference
internal/store/feed.go:41-74) without delta-spark."""

from __future__ import annotations

import json
import os
import sys
import threading
import time

import pytest

from golang_cassandra_kafka_feed_spark.feed import FeedStore
from golang_cassandra_kafka_feed_spark.feed.lock import (
    LockLost,
    LockTimeout,
    _LocalFS,
    _lock_path,
    _remove_generation,
    lease_state,
    table_lock,
)


def test_lock_mutual_exclusion(tmp_path):
    """Two threads contending for the lease never overlap their critical
    sections."""
    base = str(tmp_path)
    in_critical = []
    overlaps = []

    def worker(i):
        with table_lock(base, "users", timeout_seconds=10):
            overlaps.append(len(in_critical) > 0)
            in_critical.append(i)
            time.sleep(0.05)
            in_critical.remove(i)

    ts = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert overlaps == [False, False, False, False]
    assert not os.path.exists(_lock_path(base, "users"))


def test_lock_timeout(tmp_path):
    base = str(tmp_path)
    with table_lock(base, "users"):
        with pytest.raises(LockTimeout):
            with table_lock(base, "users", timeout_seconds=0.3):
                pass


def test_stale_lease_takeover(tmp_path):
    """A lock whose lease has expired (crashed holder) is broken and
    re-acquired; the crashed holder's release raises LockLost instead of
    deleting the new holder's lock."""
    base = str(tmp_path)
    cm = table_lock(base, "users", lease_seconds=0.1)
    cm.__enter__()  # simulated crashed/slow holder
    time.sleep(0.15)
    with table_lock(base, "users", timeout_seconds=5) as _:
        # the new holder owns the lock file now
        with open(_lock_path(base, "users")) as f:
            new_token = json.load(f)["token"]
        with pytest.raises(LockLost):
            cm.__exit__(None, None, None)
        # LockLost must NOT have removed the new holder's lock
        with open(_lock_path(base, "users")) as f:
            assert json.load(f)["token"] == new_token
    assert not os.path.exists(_lock_path(base, "users"))


def test_takeover_single_winner(tmp_path):
    """Many waiters racing to break one expired lease: exactly one
    holds the lock at a time, and none of them sees LockLost (the
    generation claim lets the expired lock be removed once, and never
    lets a slow breaker remove its successor)."""
    base = str(tmp_path)
    cm = table_lock(base, "users", lease_seconds=0.05)
    cm.__enter__()
    time.sleep(0.1)
    holders, overlaps, errs = [], [], []

    def waiter():
        try:
            with table_lock(base, "users", timeout_seconds=20):
                holders.append(threading.get_ident())
                overlaps.append(len(holders))
                time.sleep(0.01)
                holders.remove(threading.get_ident())
        except BaseException as ex:  # re-raised below, after the join
            errs.append(ex)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        ts = [threading.Thread(target=waiter) for _ in range(6)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in ts)
    if errs:
        raise errs[0]
    assert overlaps == [1] * 6
    assert os.listdir(base) == []  # no lock and no claim left behind


def test_slow_breaker_leaves_the_new_holder_alone(tmp_path):
    """A waiter that read an expired generation's token and only now
    tries to remove it finds the lock re-acquired: it re-reads under the
    generation's claim and the new holder's lock stays."""
    base = str(tmp_path)
    path = _lock_path(base, "users")
    crashed = table_lock(base, "users", lease_seconds=0.05)
    crashed.__enter__()
    old_token = lease_state(path)[1]
    time.sleep(0.1)
    with table_lock(base, "users", timeout_seconds=5):
        state = lease_state(path)
        slow = {"token": "slow", "lease_seconds": 300.0}
        outcome = _remove_generation(
            _LocalFS(), path, old_token, slow, 300.0, expired_only=True
        )
        assert outcome == "changed"
        assert lease_state(path) == state and state[0] == "live"
    assert os.listdir(base) == []


def test_crashed_claimant_does_not_block_takeover(tmp_path):
    """A claimant that crashed inside its claim leaves a claim file;
    once that claim's lease has expired the next waiter claims the next
    slot, breaks the expired lock and cleans every slot up."""
    base = str(tmp_path)
    path = _lock_path(base, "users")
    long_ago = time.time() - 3600
    with open(path, "w") as f:
        json.dump({"token": "x", "acquired_at": long_ago, "lease_seconds": 1}, f)
    with open(f"{path}.claim.x.0", "w") as f:
        json.dump({"token": "c", "acquired_at": long_ago, "lease_seconds": 1}, f)
    with table_lock(base, "users", timeout_seconds=5):
        assert lease_state(path)[0] == "live"
    assert os.listdir(base) == []


def test_release_while_a_waiter_breaks_the_lease_raises_lock_lost(tmp_path):
    """A holder past its lease whose generation a waiter has claimed
    learns at release that its section was not exclusive, and leaves the
    lock to the claimant."""
    base = str(tmp_path)
    path = _lock_path(base, "users")
    cm = table_lock(base, "users", lease_seconds=0.05)
    cm.__enter__()
    token = lease_state(path)[1]
    time.sleep(0.1)
    claim = f"{path}.claim.{token}.0"
    with open(claim, "w") as f:
        json.dump({"token": "w", "acquired_at": time.time(), "lease_seconds": 300}, f)
    with pytest.raises(LockLost, match="taken over"):
        cm.__exit__(None, None, None)
    assert lease_state(path)[1] == token and os.path.exists(claim)


def test_unparseable_stale_lock_is_taken_over(tmp_path):
    """A holder that crashed between the O_EXCL create and the metadata
    write leaves an empty lock file.  Waiters must not wait on it
    forever: once its mtime is older than the waiter's lease (the grace
    period), it is treated as abandoned (round-5 advice)."""
    base = str(tmp_path)
    path = _lock_path(base, "users")
    with open(path, "w"):
        pass  # empty: exactly what the crash window leaves behind
    old = time.time() - 3600
    os.utime(path, (old, old))
    with table_lock(base, "users", lease_seconds=1.0, timeout_seconds=5):
        with open(path) as f:
            assert json.load(f)["token"]  # a real lock replaced the husk
    assert not os.path.exists(path)


def test_unparseable_fresh_lock_is_waited_on(tmp_path):
    """An empty lock file with a FRESH mtime is a holder mid-write, not
    a crash — takeover must NOT fire inside the grace period."""
    base = str(tmp_path)
    path = _lock_path(base, "users")
    with open(path, "w"):
        pass
    with pytest.raises(LockTimeout):
        with table_lock(
            base, "users", lease_seconds=60, timeout_seconds=0.3
        ):
            pass
    # the mid-write husk must still be there, untouched
    assert os.path.exists(path) and os.path.getsize(path) == 0


def test_release_of_vanished_lock_raises_lock_lost(tmp_path):
    base = str(tmp_path)
    cm = table_lock(base, "users")
    cm.__enter__()
    os.unlink(_lock_path(base, "users"))  # external breakage
    with pytest.raises(LockLost):
        cm.__exit__(None, None, None)


def test_critical_section_error_not_masked_by_lock_lost(tmp_path):
    """If the critical section itself raised, a LockLost from the
    release must not REPLACE it (round-5 advice): the primary error
    propagates, the lost lease rides along as a note."""
    base = str(tmp_path)
    path = _lock_path(base, "users")
    with pytest.raises(ValueError, match="primary failure") as exc_info:
        with table_lock(base, "users", lease_seconds=0.05):
            time.sleep(0.1)
            # simulate a takeover while held
            os.unlink(path)
            with open(path, "w") as f:
                json.dump({"token": "someone-else"}, f)
            raise ValueError("primary failure")
    notes = getattr(exc_info.value, "__notes__", [])
    assert any("taken over" in n for n in notes)
    os.unlink(path)


def test_concurrent_create_users_one_winner_per_username(spark, tmp_path):
    """The property the reference's LWT guarantees (feed.go:46-59):
    overlapping concurrent batches with colliding usernames yield
    EXACTLY ONE (user_id, username) row per username."""
    store = FeedStore(spark, str(tmp_path / "store"))
    batches = [
        ["alice", "bob", "carol"],
        ["bob", "carol", "dave"],
        ["carol", "dave", "alice", "erin"],
        ["erin", "alice", "bob"],
    ]
    errs = []

    def job(names):
        try:
            df = spark.createDataFrame([(n,) for n in names], "username string")
            store.create_users(df)
        except Exception as ex:  # pragma: no cover
            errs.append(ex)

    ts = [threading.Thread(target=job, args=(b,)) for b in batches]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    rows = store.table("users").collect()
    names = sorted(r.username for r in rows)
    assert names == ["alice", "bob", "carol", "dave", "erin"], names
    assert len({r.user_id for r in rows}) == 5


def test_concurrent_fanout_no_duplicate_feed_rows(spark, tmp_path):
    """Two concurrent batch jobs fanning out OVERLAPPING posts never
    double-write a (user_id, post_id) feed row —
    the Cassandra-PK-upsert property (cql:36) across jobs."""
    import datetime as dt

    store = FeedStore(spark, str(tmp_path / "store2"), feed_buckets=4)
    store.create_follows(
        spark.createDataFrame(
            [(f"u{i}", "author") for i in range(5)],
            "user_id string, followee_id string",
        )
    )
    base = dt.datetime(2026, 1, 1)
    mk = lambda ids: spark.createDataFrame(  # noqa: E731
        [(f"p{i}", "author", f"body {i}", base) for i in ids],
        "post_id string, author_id string, body string, created_at timestamp",
    )
    batches = [mk(range(0, 6)), mk(range(3, 9))]  # posts 3-5 overlap
    errs = []

    def job(posts):
        try:
            store.fan_out(posts)
        except Exception as ex:  # pragma: no cover
            errs.append(ex)

    ts = [threading.Thread(target=job, args=(b,)) for b in batches]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    feed = store.table("feed_by_user")
    total = feed.count()
    distinct = feed.select("user_id", "post_id").distinct().count()
    assert total == distinct == 5 * 9, (total, distinct)


def test_compact_serializes_against_exclusive_writers(spark, tmp_path):
    """compact() holds the table lease, so a concurrent
    fan_out append cannot land between compact's staging
    read and its directory swap (where the .old drop would silently
    discard it) — every appended row survives the rewrite."""
    import datetime as dt

    store = FeedStore(spark, str(tmp_path / "store3"), feed_buckets=4)
    store.create_follows(
        spark.createDataFrame(
            [(f"u{i}", "author") for i in range(3)],
            "user_id string, followee_id string",
        )
    )
    base = dt.datetime(2026, 1, 1)

    def posts(ids):
        return spark.createDataFrame(
            [(f"p{i}", "author", f"b{i}", base) for i in ids],
            "post_id string, author_id string, body string, "
            "created_at timestamp",
        )

    store.fan_out(posts(range(4)))
    errs = []

    def writer():
        try:
            for lo in range(4, 20, 4):
                store.fan_out(posts(range(lo, lo + 4)))
        except Exception as ex:  # pragma: no cover
            errs.append(ex)

    def compactor():
        try:
            for _ in range(3):
                store.compact("feed_by_user")
        except Exception as ex:  # pragma: no cover
            errs.append(ex)

    ts = [threading.Thread(target=writer), threading.Thread(target=compactor)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    feed = store.table("feed_by_user")
    assert feed.count() == 3 * 20
    assert feed.select("user_id", "post_id").distinct().count() == 3 * 20


def test_add_posts_lease_timeout_writes_nothing(spark, tmp_path, monkeypatch):
    """``add_posts`` takes the feed lease before either append starts:
    with another job holding a live ``feed_by_user`` lease it times out
    and leaves ``posts`` (and the feed) unchanged, so a retry still
    writes the batch's feed rows."""
    import datetime as dt
    import functools

    from golang_cassandra_kafka_feed_spark.feed import api

    base = str(tmp_path / "store4")
    store = FeedStore(spark, base, feed_buckets=4)
    store.create_follows(
        spark.createDataFrame([("u0", "author")], "user_id string, followee_id string")
    )
    posts = spark.createDataFrame(
        [("p0", "author", "body", dt.datetime(2026, 1, 1))],
        "post_id string, author_id string, body string, created_at timestamp",
    )
    monkeypatch.setattr(
        api, "table_lock", functools.partial(table_lock, timeout_seconds=0.3)
    )
    with table_lock(base, "feed_by_user"):
        with pytest.raises(LockTimeout):
            store.add_posts(posts)
    assert store.table("posts").count() == 0
    assert store.table("feed_by_user").count() == 0
    store.add_posts(posts)  # the retry writes both
    assert store.table("posts").count() == 1
    assert store.table("feed_by_user").count() == 1


def _one_post_store(spark, base):
    import datetime as dt

    store = FeedStore(spark, base, feed_buckets=4)
    store.create_follows(
        spark.createDataFrame(
            [("u0", "author"), ("u1", "author")],
            "user_id string, followee_id string",
        )
    )
    posts = spark.createDataFrame(
        [("p0", "author", "body", dt.datetime(2026, 1, 1))],
        "post_id string, author_id string, body string, created_at timestamp",
    )
    return store, posts


def _fails_once(monkeypatch, name, when=lambda *a: True):
    """Make ``FeedStore.<name>`` raise on its first call that ``when``
    accepts, then behave as before."""
    real = getattr(FeedStore, name)
    failed = []

    def dying(self, *a):
        if not failed and when(*a):
            failed.append(name)
            raise RuntimeError(f"{name} died")
        return real(self, *a)

    monkeypatch.setattr(FeedStore, name, dying)


def test_add_posts_feed_failure_leaves_posts_for_the_retry(
    spark, tmp_path, monkeypatch
):
    """The crash window between ``add_posts``'s two commits: a feed write
    that dies commits no ``posts`` row either, so the retry (a replayed
    epoch) still passes the post_id gate and writes both tables."""
    store, posts = _one_post_store(spark, str(tmp_path / "store5"))
    _fails_once(monkeypatch, "fan_out")
    with pytest.raises(RuntimeError, match="fan_out died"):
        store.add_posts(posts)
    assert store.table("posts").count() == 0
    assert store.table("feed_by_user").count() == 0
    store.add_posts(posts)
    assert [r.post_id for r in store.table("posts").collect()] == ["p0"]
    feed = sorted(
        (r.user_id, r.post_id) for r in store.table("feed_by_user").collect()
    )
    assert feed == [("u0", "p0"), ("u1", "p0")]


def test_add_posts_posts_failure_after_the_feed_commit_heals_on_retry(
    spark, tmp_path, monkeypatch
):
    """The other window: the feed commits, then the ``posts`` append dies.
    The retry writes the ``posts`` row, and ``fan_out``'s anti-join keeps
    the feed at one row per (user_id, post_id)."""
    store, posts = _one_post_store(spark, str(tmp_path / "store6"))
    _fails_once(monkeypatch, "_append", lambda df, name: name == "posts")
    with pytest.raises(RuntimeError, match="_append died"):
        store.add_posts(posts)
    assert store.table("posts").count() == 0
    assert store.table("feed_by_user").count() == 2
    store.add_posts(posts)
    assert [r.post_id for r in store.table("posts").collect()] == ["p0"]
    feed = sorted(
        (r.user_id, r.post_id) for r in store.table("feed_by_user").collect()
    )
    assert feed == [("u0", "p0"), ("u1", "p0")]
