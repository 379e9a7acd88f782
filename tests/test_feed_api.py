"""Feed-domain API tests — mirrors the reference's mock-store/E2E strategy
(SURVEY.md §5: server_test.go:110-144 happy path, worker_test.go negative
paths, CAS semantics feed.go:41-74)."""

from __future__ import annotations

import datetime as dt

import pytest

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


def test_compact_on_a_file_uri_base(spark, tmp_path):
    """A ``file://`` base (which the table lease accepts) compacts the
    same table a bare path does: the swap runs on the local path."""
    import os

    local = tmp_path / "feedstore"
    store = FeedStore(spark, f"file://{local}", feed_buckets=4)
    store.create_follows(
        spark.createDataFrame([("u1", "a")], "user_id string, followee_id string")
    )
    for i in range(3):
        store.add_posts(
            _posts(spark, [(f"p{i}", "a", "b", TS + dt.timedelta(minutes=i))])
        )

    def feed_files():
        return sum(
            1 for _, _, fs in os.walk(local / "feed_by_user")
            for f in fs if f.endswith(".parquet")
        )

    files_before = feed_files()
    files_after = store.compact("feed_by_user")
    assert 1 <= files_after == feed_files() < files_before
    assert [r.post_id for r in store.get_feed("u1").collect()] == [
        "p2", "p1", "p0"
    ]


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
    handle: fan_out re-lists the feed under its lease, so the second
    instance's anti-join sees the first one's rows."""
    base = str(tmp_path / "shared")
    a = FeedStore(spark, base, feed_buckets=4)
    b = FeedStore(spark, base, feed_buckets=4)
    a.create_follows(
        spark.createDataFrame(
            [(f"u{i}", "author") for i in range(3)],
            "user_id string, followee_id string",
        )
    )
    a.fan_out(_posts(spark, [("p0", "author", "b", TS)]))
    for s in (a, b):
        assert s.get_feed("u0").count() == 1  # warm both handles

    def batch(ids):
        return _posts(spark, [(f"p{i}", "author", "b", TS) for i in ids])

    a.fan_out(batch(range(0, 6)))
    b.fan_out(batch(range(3, 9)))  # posts 3-5 overlap
    feed = b.table("feed_by_user")
    assert feed.count() == feed.select("user_id", "post_id").distinct().count()
    assert feed.count() == 3 * 9


def test_create_users_across_instances_one_row_per_username(spark, tmp_path):
    """Two FeedStores on one base, each with a warm ``users`` handle:
    plain create_users calls with overlapping names leave one row per
    username — the reference's LWT (feed.go:41-74) across writers."""
    base = str(tmp_path / "shared")
    a = FeedStore(spark, base)
    b = FeedStore(spark, base)
    a.create_users(_users(spark, ["alice"]))
    for s in (a, b):  # warm both instances' users handles
        assert s.user_id_by_username("alice").count() == 1

    a.create_users(_users(spark, ["alice", "bob"]))
    b.create_users(_users(spark, ["bob", "carol"]))
    users = [r.username for r in b.table("users").collect()]
    assert sorted(users) == ["alice", "bob", "carol"], users


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


@pytest.mark.parametrize("persisted", [False, True], ids=["as_is", "persisted"])
def test_add_posts_input_reading_the_posts_table(spark, store, persisted):
    """A batch whose plan anti-joins this store's ``posts`` table (the
    streaming sink's shape) lands exactly once in ``posts`` and once per
    follower in the feed, and ``add_posts`` returns exactly the rows it
    wrote — also when the batch is persisted, which Spark re-caches with
    a fresh listing after the ``posts`` append."""
    store.create_follows(
        spark.createDataFrame(
            [("u1", "a"), ("u2", "a")], "user_id string, followee_id string"
        )
    )
    store.add_posts(_posts(spark, [("p0", "a", "old", TS)]))
    incoming = _posts(
        spark,
        [(f"p{i}", "a", f"body{i}", TS + dt.timedelta(minutes=i))
         for i in range(3)],  # p0 is a redelivery
    )
    batch = incoming.join(
        store.table("posts").select("post_id"), "post_id", "left_anti"
    )
    if persisted:
        batch = batch.persist()
    try:
        written = store.add_posts(batch)
        assert sorted(r.post_id for r in written.collect()) == ["p1", "p2"]
        posts = [r.post_id for r in store.table("posts").collect()]
        assert sorted(posts) == ["p0", "p1", "p2"]
        feed = [(r.user_id, r.post_id)
                for r in store.table("feed_by_user").collect()]
        assert sorted(feed) == [
            (u, p) for u in ("u1", "u2") for p in ("p0", "p1", "p2")
        ]
    finally:
        batch.unpersist()


def test_add_posts_writes_each_post_id_once(spark, store):
    """The ``posts`` primary key (cql:23-28) is a gate in ``add_posts``:
    a post repeated within a batch, or sent again later, lands once in
    ``posts`` and once per follower in the feed; a duplicate with an
    invalid body never displaces the valid row."""
    store.create_follows(
        spark.createDataFrame(
            [("u1", "a"), ("u2", "a")], "user_id string, followee_id string"
        )
    )
    p1 = ("p1", "a", "hello", TS)
    written = store.add_posts(
        _posts(spark, [p1, p1, ("p2", "a", "", TS), ("p2", "a", "ok", TS)])
    )
    assert sorted((r.post_id, r.body) for r in written.collect()) == [
        ("p1", "hello"), ("p2", "ok")
    ]
    assert store.add_posts(_posts(spark, [p1])).count() == 0
    posts = sorted((r.post_id, r.body) for r in store.table("posts").collect())
    assert posts == [("p1", "hello"), ("p2", "ok")]
    feed = sorted(
        (r.user_id, r.post_id) for r in store.table("feed_by_user").collect()
    )
    assert feed == [(u, p) for u in ("u1", "u2") for p in ("p1", "p2")]


def test_record_pipeline_metrics_replay_keeps_one_row(spark, store):
    """foreachBatch may replay an epoch: recording the same epoch_id
    again (the replay sees n_fresh=0) leaves the first row alone."""
    store.record_pipeline_metrics(7, 4, 2, 1)
    store.record_pipeline_metrics(7, 4, 2, 0)
    store.record_pipeline_metrics(8, 3, 3, 3)
    rows = sorted(
        (r.epoch_id, r.n_envelopes, r.n_decoded, r.n_fresh)
        for r in store.table("pipeline_metrics").collect()
    )
    assert rows == [(7, 4, 2, 1), (8, 3, 3, 3)]


def test_add_posts_across_instances_one_row_per_post(spark, tmp_path):
    """Two FeedStores on one base, the second holding a stale ``posts``
    handle: both add the same post, and it lands once in ``posts`` and
    once per follower in the feed — the post_id gate runs under the
    ``posts`` lease, which re-lists the table."""
    base = str(tmp_path / "shared")
    a = FeedStore(spark, base, feed_buckets=4)
    b = FeedStore(spark, base, feed_buckets=4)
    a.create_follows(
        spark.createDataFrame([("u1", "a")], "user_id string, followee_id string")
    )
    a.add_posts(_posts(spark, [("p0", "a", "zero", TS)]))
    assert b.table("posts").count() == 1  # b caches this listing

    p1 = _posts(spark, [("p1", "a", "one", TS)])
    a.add_posts(p1)
    b.add_posts(p1)
    b.refresh()
    assert sorted(r.post_id for r in b.table("posts").collect()) == ["p0", "p1"]
    feed = sorted(
        (r.user_id, r.post_id) for r in b.table("feed_by_user").collect()
    )
    assert feed == [("u1", "p0"), ("u1", "p1")]


def test_create_follows_across_instances_one_row_per_edge(spark, tmp_path):
    """The same for one edge: with a stale ``follows`` handle on the
    second store, both stores' ``create_follows`` leave one row."""
    base = str(tmp_path / "shared")
    a = FeedStore(spark, base)
    b = FeedStore(spark, base)

    def edge(user):
        return spark.createDataFrame(
            [(user, "a")], "user_id string, followee_id string"
        )

    a.create_follows(edge("u1"))
    assert b.table("follows").count() == 1  # b caches this listing

    a.create_follows(edge("u2"))
    b.create_follows(edge("u2"))
    b.refresh()
    edges = sorted(tuple(r) for r in b.table("follows").collect())
    assert edges == [("u1", "a"), ("u2", "a")]
