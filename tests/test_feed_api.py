"""Feed-domain API tests — mirrors the reference's mock-store/E2E strategy
(SURVEY.md §5: server_test.go:110-144 happy path, worker_test.go negative
paths, CAS semantics feed.go:41-74)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from golang_cassandra_kafka_feed_spark.feed import FeedStore


@pytest.fixture()
def store(spark, tmp_path):
    return FeedStore(spark, str(tmp_path / "feedstore"), feed_buckets=4)


def _users(spark, names):
    return spark.createDataFrame([(n,) for n in names], "username string")


TS = dt.datetime(2026, 1, 1, 12, 0, 0)


def _posts(spark, rows):
    return spark.createDataFrame(
        [(pid, author, body, ts) for (pid, author, body, ts) in rows],
        "post_id string, author_id string, body string, created_at timestamp",
    )


def test_create_users_cas_semantics(spark, store):
    created = store.create_users(_users(spark, ["alice", "bob", "alice"]))
    assert created.count() == 2  # in-batch first-wins (CAS, feed.go:46-59)
    again = store.create_users(_users(spark, ["alice", "carol"]))
    assert again.count() == 1  # existing username loses the "CAS"
    assert store.table("users").count() == 3
    # username uniqueness invariant
    assert (
        store.table("users").groupBy("username").count().filter("count > 1").count()
        == 0
    )


def test_create_users_length_validation(spark, store):
    bad = store.create_users(_users(spark, ["", "x" * 51, "ok"]))
    assert [r.username for r in bad.collect()] == ["ok"]


def test_length_validation_counts_bytes_not_chars(spark, store):
    """Reference Go len() counts UTF-8 bytes (httphandlers.go:33-37): a
    17-char string of 3-byte runes is 51 bytes and must be rejected."""
    multi = "é" * 26  # 26 chars x 2 bytes = 52 bytes > 50
    ok_multi = "é" * 25  # 50 bytes — at the limit, accepted
    got = store.create_users(_users(spark, [multi, ok_multi]))
    assert [r.username for r in got.collect()] == [ok_multi]


def test_follow_and_fanout_invariant(spark, store):
    store.create_follows(
        spark.createDataFrame(
            [
                ("u1", "author"),
                ("u2", "author"),
                ("u1", "author"),  # duplicate edge
                ("u3", "u3"),  # self-follow rejected
            ],
            "user_id string, followee_id string",
        )
    )
    assert store.table("follows").count() == 2

    store.add_posts(
        _posts(
            spark,
            [
                ("p1", "author", "hello", TS),
                ("p2", "author", "world", TS + dt.timedelta(minutes=1)),
                ("p3", "nobody", "unseen", TS),
                ("p4", "author", "", TS),  # body too short -> dropped
            ],
        )
    )
    # invariant: feed == posts >< follows (mock_kafka.go:22-47)
    posts = store.table("posts")
    follows = store.table("follows")
    expected = posts.join(
        follows, posts.author_id == follows.followee_id
    ).count()
    assert store.table("feed_by_user").count() == expected == 4


def test_fanout_idempotent_redelivery(spark, store):
    store.create_follows(
        spark.createDataFrame([("u1", "a")], "user_id string, followee_id string")
    )
    p = _posts(spark, [("p1", "a", "hi", TS)])
    store.add_posts(p)
    store.fan_out(p)  # at-least-once redelivery (kafka.go:92)
    assert store.table("feed_by_user").count() == 1


def test_get_feed_order_and_limit(spark, store):
    store.create_follows(
        spark.createDataFrame([("u1", "a")], "user_id string, followee_id string")
    )
    rows = [
        ("p%02d" % i, "a", f"body{i}", TS + dt.timedelta(minutes=i))
        for i in range(10)
    ]
    # tie on created_at: post_id DESC breaks it (cql:36-37)
    rows.append(("p99", "a", "tie", TS + dt.timedelta(minutes=9)))
    store.add_posts(_posts(spark, rows))

    feed = store.get_feed("u1", limit=3).collect()
    assert [r.post_id for r in feed] == ["p99", "p09", "p08"]

    # default-50 shape (httphandlers.go:191-196)
    assert store.get_feed("u1").count() == 11
    # unknown user -> empty, not error
    assert store.get_feed("ghost").count() == 0


def test_get_feed_all_matches_single(spark, store):
    store.create_follows(
        spark.createDataFrame(
            [("u1", "a"), ("u2", "a")], "user_id string, followee_id string"
        )
    )
    store.add_posts(
        _posts(
            spark,
            [(f"p{i}", "a", "b", TS + dt.timedelta(seconds=i)) for i in range(5)],
        )
    )
    all_feeds = store.get_feed_all(limit_per_user=2)
    assert all_feeds.count() == 4
    single = {r.post_id for r in store.get_feed("u1", 2).collect()}
    via_all = {
        r.post_id
        for r in all_feeds.filter(F.col("user_id") == "u1").collect()
    }
    assert single == via_all == {"p4", "p3"}


def test_compact_shrinks_files_preserves_data(spark, store):
    store.create_follows(
        spark.createDataFrame([("u1", "a")], "user_id string, followee_id string")
    )
    # many tiny appends = the streaming small-files pattern
    for i in range(5):
        store.add_posts(
            _posts(spark, [(f"p{i}", "a", "b", TS + dt.timedelta(minutes=i))])
        )
    import os

    feed_path = store._path("feed_by_user")
    files_before = sum(
        1 for _, _, fs in os.walk(feed_path)
        for f in fs if f.endswith(".parquet")
    )
    before = {(r.user_id, r.post_id) for r in store.table("feed_by_user").collect()}
    files_after = store.compact("feed_by_user")
    after = {(r.user_id, r.post_id) for r in store.table("feed_by_user").collect()}
    assert after == before and len(after) == 5
    assert files_after < files_before
    # read path still prunes and orders correctly post-compaction
    feed = store.get_feed("u1", 2).collect()
    assert [r.post_id for r in feed] == ["p4", "p3"]
    # posts table compaction too
    assert store.compact("posts") >= 1
    assert store.table("posts").count() == 5


def test_user_id_by_username(spark, store):
    store.create_users(_users(spark, ["alice"]))
    assert store.user_id_by_username("alice").count() == 1
    assert store.user_id_by_username("absent").count() == 0  # "" in ref


def test_get_followers(spark, store):
    store.create_follows(
        spark.createDataFrame(
            [("u1", "a"), ("u2", "a"), ("u1", "b")],
            "user_id string, followee_id string",
        )
    )
    got = {r.user_id for r in store.get_followers("a").collect()}
    assert got == {"u1", "u2"}


def test_reads_see_writes_at_once_on_cached_handles(spark, store):
    """Every read goes through one cached handle per table; each store
    write drops its table's handle, so the next read sees it at once."""
    store.create_users(_users(spark, ["alice"]))
    assert store.user_id_by_username("bob").count() == 0
    assert store._handle("users") is store._handle("users")  # cached
    store.create_users(_users(spark, ["bob"]))
    assert store.user_id_by_username("bob").count() == 1, "create_users"

    store.create_follows(
        spark.createDataFrame([("u1", "a")], "user_id string, followee_id string")
    )
    assert {r.user_id for r in store.get_followers("a").collect()} == {"u1"}
    store.create_follows(
        spark.createDataFrame([("u2", "a")], "user_id string, followee_id string")
    )
    got = {r.user_id for r in store.get_followers("a").collect()}
    assert got == {"u1", "u2"}, "create_follows"

    store.add_posts(_posts(spark, [("p1", "a", "one", TS)]))
    assert [r.post_id for r in store.get_feed("u1").collect()] == ["p1"]
    store.add_posts(_posts(spark, [("p2", "a", "two", TS + dt.timedelta(1))]))
    feed = [r.post_id for r in store.get_feed("u1").collect()]
    assert feed == ["p2", "p1"], "add_posts"

    # redelivery of p2 plus a new p3: the anti-join must read the feed
    # the previous write left, and the read must see p3
    store.fan_out(
        _posts(
            spark,
            [("p2", "a", "two", TS + dt.timedelta(1)),
             ("p3", "a", "three", TS + dt.timedelta(2))],
        )
    )
    feed = [r.post_id for r in store.get_feed("u1").collect()]
    assert feed == ["p3", "p2", "p1"], "fan_out redelivery"

    # the swap deletes every file the cached handle lists
    store.compact("feed_by_user")
    feed = [r.post_id for r in store.get_feed("u2").collect()]
    assert feed == ["p3", "p2", "p1"], "compact"


def test_exclusive_fan_out_across_instances_no_duplicates(spark, tmp_path):
    """Two FeedStore instances on one base dir, each holding a warm
    handle: an exclusive fan_out re-lists the feed under the lease, so
    the second instance's anti-join sees the first one's rows."""
    base = str(tmp_path / "shared")
    a = FeedStore(spark, base, feed_buckets=4)
    b = FeedStore(spark, base, feed_buckets=4)
    a.create_follows(
        spark.createDataFrame(
            [(f"u{i}", "author") for i in range(3)],
            "user_id string, followee_id string",
        )
    )
    a.fan_out(_posts(spark, [("p0", "author", "b", TS)]), exclusive=True)
    for s in (a, b):
        assert s.get_feed("u0").count() == 1  # warm both handles

    def batch(ids):
        return _posts(spark, [(f"p{i}", "author", "b", TS) for i in ids])

    a.fan_out(batch(range(0, 6)), exclusive=True)
    b.fan_out(batch(range(3, 9)), exclusive=True)  # posts 3-5 overlap
    feed = b.table("feed_by_user")
    assert feed.count() == feed.select("user_id", "post_id").distinct().count()
    assert feed.count() == 3 * 9


def test_refresh_makes_external_append_visible(spark, tmp_path):
    base = str(tmp_path / "shared")
    reader = FeedStore(spark, base, feed_buckets=4)
    writer = FeedStore(spark, base, feed_buckets=4)
    writer.create_follows(
        spark.createDataFrame([("u1", "a")], "user_id string, followee_id string")
    )
    writer.add_posts(_posts(spark, [("p1", "a", "one", TS)]))
    assert reader.get_feed("u1").count() == 1
    assert reader.table("posts").count() == 1
    writer.add_posts(_posts(spark, [("p2", "a", "two", TS)]))
    # the reader's handle keeps the listing it resolved ...
    assert reader.get_feed("u1").count() == 1
    assert reader.table("posts").count() == 1
    reader.refresh()
    # ... until refresh() drops it
    assert reader.get_feed("u1").count() == 2
    assert reader.table("posts").count() == 2
