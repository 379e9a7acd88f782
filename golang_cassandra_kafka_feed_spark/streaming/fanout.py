"""The streaming fan-out pipeline — the reference worker, Spark-first.

Reference dataflow (cmd/worker/worker.go): Kafka read loop → bounded queue
→ N process goroutines → per-follower goroutines under a 20-slot semaphore
→ Cassandra inserts.  One Structured Streaming query replaces all of it
(SURVEY.md §3.2): threads/channels/semaphore become partition parallelism,
the commit interval becomes checkpointing, retry/backoff becomes task retry
+ restart-from-checkpoint.

Operator-by-operator parity:

- empty-record filter (worker.go:93-98)        -> length(value) > 0
- route on key 'post_created' (httphandlers.go:155-158) -> key filter
- JSON decode, malformed dropped (worker.go:122-126)    -> from_json
  (PERMISSIVE null struct) + isNotNull filter
- fan-out join (worker.go:128,138-154)          -> per-epoch equi-join
  against follows, broadcast when small (``feed.api.feed_rows``)
- AddPost + per-follower inserts (feed.go:115-127, worker.go:112-160)
                                                -> one ``FeedStore.add_posts``
  per epoch from foreachBatch: the sink has the store's one write path
- at-least-once dedup (kafka.go:92, cql:36 PK)  -> that write's post_id
  gate and feed anti-join: the one idempotent sink, with no watermark
  horizon (redeliveries may lag by any amount of event time)
- graceful shutdown/drain (worker.go:66-70)     -> query.stop() +
  checkpoint resume
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from golang_cassandra_kafka_feed_spark.sources.kafka import POST_EVENT_SCHEMA


def decode_post_events(envelopes: DataFrame) -> DataFrame:
    """Envelope stream -> clean post rows.

    Drops: empty values (worker.go:93-98 / worker_test.go:141-154),
    foreign routing keys (httphandlers.go:155-158), malformed JSON and
    JSON missing required fields (worker.go:122-126 /
    worker_test.go:97-113).
    """
    return (
        envelopes.filter(F.length("value") > 0)
        .filter(F.col("key").cast("string") == "post_created")
        .withColumn(
            "post", F.from_json(F.col("value").cast("string"), POST_EVENT_SCHEMA)
        )
        .filter(
            F.col("post.id").isNotNull()
            & F.col("post.author_id").isNotNull()
            # `created` is required too: a NULL event time would violate
            # the non-nullable POST/FEED schemas and poison newest-first
            # feed ordering
            & F.col("post.created").isNotNull()
        )
        .select(
            F.col("post.id").alias("post_id"),
            F.col("post.author_id").alias("author_id"),
            F.col("post.body").alias("body"),
            F.col("post.created").alias("created_at"),
        )
    )


def run_fanout_pipeline(
    envelopes_stream: DataFrame,
    store,
    checkpoint_dir: str,
    record_metrics: bool = False,
    processing_time: str | None = None,
):
    """Wire the full pipeline into the FeedStore's idempotent feed sink.

    ``processing_time`` switches from the default drain-everything
    ``availableNow`` trigger to a continuous processing-time trigger
    (e.g. ``"1 second"``) — the long-running worker deployment shape
    (reference main.go:55-71, signal-scoped worker.Run); stop with
    ``query.stop()``,
    which checkpoint-commits the in-flight epoch boundary so a restart
    resumes with no loss or duplication (drain semantics,
    worker.go:66-70).

    ``foreachBatch`` hands each epoch to one plain batch write: the sink
    decodes and passes the rows to ``FeedStore.add_posts`` (AddPost +
    fan-out, the reference's one write path), whose post_id gate
    validates, drops in-batch duplicates and anti-joins the ``posts``
    table.  That gives exactly-once-per-epoch sink semantics on top of
    the source's at-least-once replay: redelivered posts are dropped by
    the posts anti-join and, for a replayed epoch whose feed write
    committed, by ``fan_out``'s (user_id, post_id) anti-join — the
    Cassandra PK upsert (cql:36) made explicit.  ``add_posts`` commits
    the feed before ``posts``, so a crash between the two commits leaves
    a replay that writes the missing ``posts`` rows and no second feed
    row.

    ``record_metrics=True`` appends one row per epoch to the store's
    ``pipeline_metrics`` table (epoch_id, n_envelopes, n_decoded, n_fresh)
    — the engine-side twin of the reference's per-run counters
    (bench/http_load/http_load.go:123-130, kafka_producer.go:45-46).  The
    envelope and decoded counts ride Observations on the plan that
    ``add_posts`` materializes, so they cost no extra pass over the data.
    """
    from pyspark.sql import Observation

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        if record_metrics:
            obs_in, obs_dec = Observation(), Observation()
            batch_df = batch_df.observe(obs_in, F.count(F.lit(1)).alias("n"))
        decoded = decode_post_events(batch_df)
        if record_metrics:
            decoded = decoded.observe(obs_dec, F.count(F.lit(1)).alias("n"))
        written = store.add_posts(decoded)
        if record_metrics:
            store.record_pipeline_metrics(
                epoch_id, obs_in.get["n"], obs_dec.get["n"], written.count()
            )

    writer = envelopes_stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    if processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()
