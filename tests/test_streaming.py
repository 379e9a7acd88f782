"""Streaming pipeline tests — the t1 smoke shape (SURVEY.md §5.3) with the
file-based Kafka envelope double (same role as MockKafka,
internal/broker/mock_kafka.go)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from golang_cassandra_kafka_feed_spark.feed import FeedStore
from golang_cassandra_kafka_feed_spark.sources.kafka import (
    ENVELOPE_SCHEMA,
    posts_to_envelopes,
    read_stream_envelope_files,
)
from golang_cassandra_kafka_feed_spark.streaming import (
    decode_post_events,
    run_fanout_pipeline,
    session_counts_stream,
    tumbling_counts_stream,
)
from golang_cassandra_kafka_feed_spark.plans.queries import QUERIES
from golang_cassandra_kafka_feed_spark.sources.testdata import load_table

TS = dt.datetime(2026, 1, 1, 12, 0, 0)


def _envelopes(spark, rows):
    return spark.createDataFrame(rows, ENVELOPE_SCHEMA)


def _valid_value(pid: str, author: str, body: str) -> bytes:
    return (
        f'{{"id":"{pid}","author_id":"{author}","body":"{body}",'
        f'"created":"2026-01-01T12:00:00"}}'
    ).encode()


def test_decode_drops_bad_records(spark):
    env = _envelopes(
        spark,
        [
            (b"post_created", _valid_value("p1", "a", "hi"), TS),
            (b"post_created", b"", TS),  # empty (worker.go:93-98)
            (b"post_created", b"{not json", TS),  # malformed (worker.go:122-126)
            (b"other_key", _valid_value("p2", "a", "no"), TS),  # wrong route
            (b"post_created", b'{"body":"no id"}', TS),  # missing fields
        ],
    )
    out = decode_post_events(env).collect()
    assert [r.post_id for r in out] == ["p1"]
    assert out[0].created_at == TS


def test_fanout_pipeline_end_to_end(spark, tmp_path):
    """t1 smoke: envelopes -> streaming pipeline -> feed table -> top-k
    read returns the post (server_test.go:110-144)."""
    store = FeedStore(spark, str(tmp_path / "store"), feed_buckets=4)
    store.create_follows(
        spark.createDataFrame(
            [("u1", "a"), ("u2", "a")], "user_id string, followee_id string"
        )
    )
    in_dir = tmp_path / "envelopes"
    in_dir.mkdir()
    _envelopes(
        spark,
        [
            (b"post_created", _valid_value("p1", "a", "hello"), TS),
            (b"post_created", b"", TS),
            (b"post_created", b"garbage", TS),
        ],
    ).write.mode("append").parquet(str(in_dir / "batch1"))

    stream = read_stream_envelope_files(spark, str(in_dir / "batch1"))
    q = run_fanout_pipeline(stream, store, str(tmp_path / "ckpt1"))
    q.awaitTermination(120)

    feed = store.table("feed_by_user").collect()
    assert {(r.user_id, r.post_id) for r in feed} == {("u1", "p1"), ("u2", "p1")}
    assert store.table("posts").count() == 1
    # the GetFeed read path sees it
    assert store.get_feed("u1", 10).collect()[0].body == "hello"


def test_fanout_pipeline_idempotent_replay(spark, tmp_path):
    """At-least-once redelivery: same post delivered twice (fresh
    checkpoint = replay) must not duplicate feed rows (op #20)."""
    store = FeedStore(spark, str(tmp_path / "store"), feed_buckets=4)
    store.create_follows(
        spark.createDataFrame([("u1", "a")], "user_id string, followee_id string")
    )
    in_dir = tmp_path / "envelopes"
    in_dir.mkdir()
    env = _envelopes(
        spark, [(b"post_created", _valid_value("p1", "a", "hi"), TS)]
    )
    env.write.mode("append").parquet(str(in_dir / "b"))

    for ckpt in ("c1", "c2"):  # second run = full redelivery
        q = run_fanout_pipeline(
            read_stream_envelope_files(spark, str(in_dir / "b")),
            store,
            str(tmp_path / ckpt),
        )
        q.awaitTermination(120)

    assert store.table("feed_by_user").count() == 1
    assert store.table("posts").count() == 1


def test_producer_roundtrip(spark):
    """Serialize (httphandlers.go:147-158) then decode: lossless at ms
    precision (SURVEY.md §7.3 timestamp convention)."""
    posts = spark.createDataFrame(
        [("p1", "a", "hello", TS)],
        "post_id string, author_id string, body string, created_at timestamp",
    )
    back = decode_post_events(posts_to_envelopes(posts)).collect()[0]
    assert (back.post_id, back.author_id, back.body) == ("p1", "a", "hello")
    assert back.created_at == TS


def test_tumbling_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming tumbling counts == batch Q26 on the same events."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    src = str(tmp_path / "ev")
    ev.write.parquet(src)
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    q = (
        tumbling_counts_stream(stream)
        .writeStream.format("memory")
        .queryName("tumbling_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.hour_start, r.n)
        for r in spark.sql("SELECT * FROM tumbling_out").collect()
    }
    want = {
        (r.user_id, r.hour_start, r.n)
        for r in QUERIES["q26_tumbling_window"](spark, sf_dir).collect()
    }
    assert got == want


def test_session_window_matches_gap_island(spark, sf_dir):
    """F.session_window (batch form) session count per user == Q27's LAG
    gap-and-island formulation (SURVEY.md §7.3.7 equivalence proof)."""
    ev = load_table(spark, sf_dir, "events")
    via_session_window = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"))
    )
    got = {(r.user_id, r.n_sessions) for r in via_session_window.collect()}
    want = {
        (r.user_id, r.n_sessions)
        for r in QUERIES["q27_session_window"](spark, sf_dir).collect()
    }
    assert got == want


def test_pipeline_metrics_recorded_per_epoch(spark, tmp_path):
    """record_metrics=True appends (epoch, counters) rows: envelopes in,
    decoded after the drop filters, fresh after redelivery dedup — the
    reference's run counters (http_load.go:123-130) as a table."""
    import datetime as dt

    from golang_cassandra_kafka_feed_spark.sources.kafka import (
        ENVELOPE_SCHEMA,
    )

    store = FeedStore(spark, str(tmp_path / "store"), feed_buckets=4)
    store.create_follows(
        spark.createDataFrame(
            [("u1", "a")], "user_id string, followee_id string"
        )
    )
    ts = dt.datetime(2026, 1, 1, 12, 0, 0)
    good = (
        b'{"id":"p1","author_id":"a","body":"b",'
        b'"created":"2026-01-01T12:00:00"}'
    )
    envs = [
        (b"post_created", good, ts),
        (b"post_created", good, ts),          # duplicate delivery
        (b"post_created", b"not json", ts),   # malformed -> dropped
        (b"other_key", good, ts),             # foreign route -> dropped
    ]
    in_dir = tmp_path / "env"
    spark.createDataFrame(envs, ENVELOPE_SCHEMA).write.parquet(str(in_dir))
    q = run_fanout_pipeline(
        read_stream_envelope_files(spark, str(in_dir)),
        store,
        str(tmp_path / "ckpt"),
        record_metrics=True,
    )
    q.awaitTermination(120)

    m = store.table("pipeline_metrics").collect()
    assert len(m) == 1
    r = m[0]
    assert (r.n_envelopes, r.n_decoded, r.n_fresh) == (4, 2, 1)


def test_fanout_pipeline_out_of_order_event_time(spark, tmp_path):
    """Late/out-of-order delivery: posts arrive hours out of event-time
    order across micro-batches.  The reference inserts late data where it
    lands and restores ordering at read time via clustering (worker.go:149,
    cql:36-37); here the feed table ingests in arrival order and get_feed's
    ORDER BY created_at DESC, post_id DESC is the clustering twin — the
    read must equal the batch oracle computed from event time alone."""
    store = FeedStore(spark, str(tmp_path / "store"), feed_buckets=4)
    store.create_follows(
        spark.createDataFrame(
            [("u1", "a")], "user_id string, followee_id string"
        )
    )
    in_dir = tmp_path / "envelopes"
    in_dir.mkdir()

    def _v(pid: str, hour: int) -> bytes:
        return (
            f'{{"id":"{pid}","author_id":"a","body":"b-{pid}",'
            f'"created":"2026-01-01T{hour:02d}:00:00"}}'
        ).encode()

    # arrival order: 18:00 post first, 09:00 second, 12:00 third —
    # event time is hours out of order vs delivery order
    arrivals = [("p_new", 18), ("p_old", 9), ("p_mid", 12)]
    for i, (pid, hour) in enumerate(arrivals):
        _envelopes(
            spark, [(b"post_created", _v(pid, hour), TS)]
        ).write.mode("append").parquet(str(in_dir / f"b{i}"))

    q = run_fanout_pipeline(
        read_stream_envelope_files(
            spark, str(in_dir / "b*"), max_files_per_trigger=1
        ),
        store,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    got = [r.post_id for r in store.get_feed("u1", 10).collect()]
    # batch oracle: event-time ordering, not arrival ordering
    want = [
        r.post_id
        for r in store.table("posts")
        .orderBy(F.desc("created_at"), F.desc("post_id"))
        .collect()
    ]
    assert got == want == ["p_new", "p_mid", "p_old"]
