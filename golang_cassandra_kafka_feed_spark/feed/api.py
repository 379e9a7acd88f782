"""DataFrame-native feed-domain API — the StoreInterface equivalent.

The reference's store (internal/store/cassandra.go:27-36, feed.go) exposes:
CreateUser, GetUserIDByUsername, CreateFollow, GetFollowers, AddPost,
AddToFeed, GetFeed.  Here each is a DataFrame transform over Parquet-backed
tables, batch-native where the reference is row-at-a-time:

- CAS username uniqueness (feed.go:41-74, ``INSERT ... IF NOT EXISTS``)
  becomes batch dedup + left-anti against the existing table, run under
  the table lease (feed/lock.py) so it also holds across concurrent jobs
  and store instances on one base.  On object stores, where an exclusive
  create is not atomic, ``merge_create_users`` is the cross-job CAS.
- The dual follow tables (cql:11-21, written atomically in a LoggedBatch,
  feed.go:78-90) collapse into ONE edge table: Spark joins either
  direction, so the reverse "table" is just the same DataFrame.
- ``feed_by_user`` (cql:30-37) is maintained by the fan-out (batch here,
  streaming in streaming/fanout.py) with the invariant
  ``feed == posts ⋈ follows ON author_id = followee_id``.

Scale design: the feed sink is hash-partitioned into user buckets
(``user_bucket = pmod(hash(user_id), n)``) so a single-user feed read
prunes to one bucket directory.  Files carry no within-bucket order;
readers get the reference's clustering order (cql:36-37) from
TakeOrderedAndProject, which is cheap on pruned input.
"""

from __future__ import annotations

import collections
import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from golang_cassandra_kafka_feed_spark.feed.lock import table_lock


def valid_length(col: str, lo: int, hi: int) -> F.Column:
    """Byte-length bounds check matching the reference's Go ``len()``
    (httphandlers.go:33-37,134-137), which counts UTF-8 BYTES, not
    characters — a 400-char body of 3-byte runes is >1000 bytes and must
    be rejected.  octet_length is the Spark twin of Go len()."""
    return F.octet_length(col).between(lo, hi)


USER_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.StringType(), False),
        T.StructField("username", T.StringType(), False),
    ]
)

FOLLOW_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.StringType(), False),
        T.StructField("followee_id", T.StringType(), False),
    ]
)

POST_SCHEMA = T.StructType(
    [
        T.StructField("post_id", T.StringType(), False),
        T.StructField("author_id", T.StringType(), False),
        T.StructField("body", T.StringType(), False),
        T.StructField("created_at", T.TimestampType(), False),
    ]
)

FEED_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.StringType(), False),
        T.StructField("post_id", T.StringType(), False),
        T.StructField("author_id", T.StringType(), False),
        T.StructField("body", T.StringType(), False),
        T.StructField("created_at", T.TimestampType(), False),
    ]
)

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("epoch_id", T.LongType(), False),
        T.StructField("n_envelopes", T.LongType(), False),
        T.StructField("n_decoded", T.LongType(), False),
        T.StructField("n_fresh", T.LongType(), False),
        T.StructField("recorded_at", T.TimestampType(), False),
    ]
)

_EMPTY = {
    "users": USER_SCHEMA,
    "follows": FOLLOW_SCHEMA,
    "posts": POST_SCHEMA,
    "feed_by_user": FEED_SCHEMA,
    "pipeline_metrics": METRICS_SCHEMA,
}

# On-disk schema: the feed carries its partition column.
_STORED = dict(
    _EMPTY,
    feed_by_user=T.StructType(
        list(FEED_SCHEMA.fields)
        + [T.StructField("user_bucket", T.IntegerType(), True)]
    ),
)


def feed_rows(posts: DataFrame, follows: DataFrame) -> DataFrame:
    """posts ⋈ follows ON author_id = followee_id: one feed row per
    (post, follower) (worker.go:138-154; invariant mock_kafka.go:22-47).
    Works on batch and streaming ``posts`` alike.

    The planner chooses the join strategy from the follows table's size:
    below autoBroadcastJoinThreshold it broadcasts, a 100 TB follower
    graph shuffles on the equi key.
    """
    return (
        posts.alias("p")
        .join(
            follows.alias("f"),
            F.col("p.author_id") == F.col("f.followee_id"),
            "inner",
        )
        .select(
            F.col("f.user_id").alias("user_id"),
            F.col("p.post_id").alias("post_id"),
            F.col("p.author_id").alias("author_id"),
            F.col("p.body").alias("body"),
            F.col("p.created_at").alias("created_at"),
        )
    )


class FeedStore:
    """Parquet-backed feed store rooted at ``base_dir``.

    ``feed_buckets`` controls the user-bucket partitioning of the feed sink
    (reference: one Cassandra partition per user, cql:30-37; at 100 TB a
    bucket count ~ O(cluster cores) keeps files large and reads pruned).

    Writes: every write runs its key check and append under its own
    table's lease (feed/lock.py, the LWT twin), held in the base dir, so
    two stores or jobs on one base serialize and leave one row per key
    in every table.  ``add_posts`` writes two tables: it holds the
    ``posts`` lease, then takes the feed lease inside it (lock order
    posts → feed, which nothing reverses) and commits the feed first, so
    a replay after a crash between the two commits writes both.

    Table handles: every read goes through one schema-pinned DataFrame per
    table, resolved lazily on first use and then reused, so a point read
    (``get_feed``, ``get_followers``, ``user_id_by_username``) pays neither
    an existence probe, a directory re-listing nor a schema-inference job.
    A handle's file listing is fixed when it is resolved, so:

    - every write through this store drops the written table's handle
      right after the write (inside its lease), and the next read
      re-lists — read-your-writes holds on one instance;
    - every write also drops the handle right after acquiring its lease,
      so it sees what other instances or processes committed under it;
    - any other outside writer (another instance, a copy into the
      table directory) becomes visible after ``refresh(table)``.

    A table whose directory does not exist yet reads as an empty frame
    of its schema and is not cached; no directory is created until the
    first write.
    """

    def __init__(self, spark: SparkSession, base_dir: str, feed_buckets: int = 32):
        self.spark = spark
        self.base = base_dir
        self.feed_buckets = feed_buckets
        self._handles: dict[str, DataFrame] = {}
        # bumped on every drop: a handle whose resolution overlapped a
        # drop (another thread's write) is returned but not cached, since
        # its listing may predate that write
        self._drops: collections.Counter = collections.Counter()
        self._handles_lock = threading.Lock()

    # -- table plumbing ----------------------------------------------------

    def _path(self, table: str) -> str:
        return os.path.join(self.base, table)

    def refresh(self, table: str | None = None) -> None:
        """Drop the cached handle of ``table`` (every table when None);
        the next read re-lists the table directory.  Call after writing
        to the store's tables from outside this instance."""
        with self._handles_lock:
            for name in [table] if table is not None else list(_EMPTY):
                self._drops[name] += 1
                self._handles.pop(name, None)

    def _handle(self, name: str) -> DataFrame:
        """The table's schema-pinned DataFrame in its stored layout
        (the feed keeps ``user_bucket`` for partition pruning)."""
        from golang_cassandra_kafka_feed_spark.sources.fsutil import (
            path_exists,
        )

        df = self._handles.get(name)
        if df is not None:
            return df
        drops = self._drops[name]
        path = self._path(name)
        if not path_exists(self.spark, path):
            return self.spark.createDataFrame([], _STORED[name])
        df = self.spark.read.schema(_STORED[name]).parquet(path)
        with self._handles_lock:
            if self._drops[name] == drops:
                self._handles[name] = df
        return df

    def table(self, name: str) -> DataFrame:
        return self._handle(name).select(*[f.name for f in _EMPTY[name].fields])

    def _append(self, df: DataFrame, name: str) -> None:
        try:
            df.write.mode("append").parquet(self._path(name))
        finally:
            self.refresh(name)

    @contextmanager
    def _table_lease(self, table: str):
        """Cross-job mutual exclusion on a table's read-modify-write
        (feed/lock.py — the LWT twin), held in the store's base dir on
        the base's own filesystem (local, ``file:``, or Hadoop for
        remote schemes).  The table's handle is dropped on entry: other
        instances or processes may have committed under the lease, so
        the body re-lists."""
        with table_lock(self.base, table):
            self.refresh(table)
            yield

    def _new_rows(self, rows: DataFrame, table: str, keys: list[str]) -> DataFrame:
        """The rows of ``rows`` whose ``keys`` are not in ``table`` yet,
        first-wins within the batch: the primary-key upsert (cql:23-37)
        as one anti-join.  Call it under the table's lease.

        The result is materialized once (``localCheckpoint``), so neither
        the append that follows nor a later action on the returned frame
        re-evaluates a plan that reads the table the append grows, or
        mints a nondeterministic column (a uuid) again."""
        return (
            rows.dropDuplicates(keys)
            .join(self.table(table).select(*keys), keys, "left_anti")
            .select(*rows.columns)
            .localCheckpoint(eager=True)
        )

    # -- CreateUser (feed.go:41-74): CAS -> batch dedup + anti-join --------

    def create_users(self, usernames: DataFrame) -> DataFrame:
        """Create users for a one-column ``username`` DataFrame.

        Semantics of the reference CAS loop, batch-native:
        1. validate 1 <= len(username) <= 50 (httphandlers.go:33-37);
        2. first-wins within the batch (dropDuplicates);
        3. losers against the existing table dropped via left-anti
           (the reference's "read the winner's row" path, feed.go:56-59,
           is a lookup the caller does via ``user_id_by_username``).
        Returns the newly created rows, with the UUIDs written.

        The anti-join + append run under the ``users`` table lease
        (feed/lock.py, the LWT twin), so username uniqueness also holds
        across CONCURRENT jobs and store instances — the race the
        reference closes with ``INSERT ... IF NOT EXISTS``
        (feed.go:41-74).
        """
        minted = usernames.filter(valid_length("username", 1, 50)).select(
            F.expr("uuid()").alias("user_id"), "username"
        )
        with self._table_lease("users"):
            fresh = self._new_rows(minted, "users", ["username"])
            self._append(fresh, "users")
        return fresh

    def user_id_by_username(self, username: str) -> DataFrame:
        """GetUserIDByUsername (feed.go:14-28): point lookup, returns 0/1 row."""
        return (
            self.table("users")
            .filter(F.col("username") == username)
            .select("user_id")
        )

    # -- CreateFollow (feed.go:78-90): one edge table, no dual write -------

    def create_follows(self, edges: DataFrame) -> DataFrame:
        """Append follow edges (user_id, followee_id); idempotent on the
        pair, also across writers (under the ``follows`` lease),
        self-follows rejected.  The reference's LoggedBatch atomicity
        across two orientations (feed.go:79-84) is moot: one table serves
        both scans.  Returns the edges written."""
        edges = edges.filter(F.col("user_id") != F.col("followee_id")).select(
            "user_id", "followee_id"
        )
        with self._table_lease("follows"):
            fresh = self._new_rows(edges, "follows", ["user_id", "followee_id"])
            self._append(fresh, "follows")
        return fresh

    def get_followers(self, followee_id: str) -> DataFrame:
        """GetFollowers (feed.go:92-111): reverse-adjacency partition scan —
        a pushdown filter here (the reverse table cql:17-21 is unneeded)."""
        return (
            self.table("follows")
            .filter(F.col("followee_id") == followee_id)
            .select("user_id")
        )

    # -- AddPost / fan-out / GetFeed ---------------------------------------

    def add_posts(self, posts: DataFrame) -> DataFrame:
        """AddPost (feed.go:115-127) + the worker fan-out (worker.go:112-160)
        in one batch: validate body 1..1000 (httphandlers.go:134-137),
        append to ``posts``, and write one feed row per (post, follower).
        Returns the written posts.

        Each ``post_id`` is written once, the ``posts`` primary-key upsert
        (cql:23-28) made explicit: under the ``posts`` lease, in-batch
        duplicates are dropped and posts already stored are anti-joined
        away (``_new_rows``), so a redelivered post (kafka.go:92) writes
        nothing, also when two stores write it.

        Still under that lease, the feed commits first (``fan_out``, under
        the feed lease), then ``posts``.  A failed feed write (a crash, a
        ``LockTimeout``) leaves ``posts`` untouched, so the retry writes
        both; a failed ``posts`` append after the feed commit is repaired
        by the retry too, since ``fan_out``'s anti-join drops the feed
        rows already written.
        """
        # Validate BEFORE dropDuplicates: if one batch carries both a valid
        # and an invalid row for the same post_id, dedup must choose among
        # writable rows only — filtering afterwards would let an arbitrary
        # kept invalid duplicate drop a valid post nondeterministically.
        valid = posts.filter(valid_length("body", 1, 1000)).select(
            *[f.name for f in POST_SCHEMA.fields]
        )
        with self._table_lease("posts"):
            fresh = self._new_rows(valid, "posts", ["post_id"])
            self.fan_out(fresh)
            self._append(fresh, "posts")
        return fresh

    def fan_out(self, posts: DataFrame) -> None:
        """posts ⋈ follows -> feed rows (``feed_rows``).

        Idempotent on (user_id, post_id) — replays of at-least-once
        delivery (kafka.go:92) are dropped by the anti-join, emulating the
        Cassandra primary-key upsert (cql:36).  The anti-join + append
        run under the feed table lease, so two CONCURRENT jobs or store
        instances fanning out overlapping posts cannot both pass the
        anti-join and double-write.
        """
        with self._table_lease("feed_by_user"):
            fresh = feed_rows(posts, self.table("follows")).join(
                self.table("feed_by_user").select("user_id", "post_id"),
                ["user_id", "post_id"],
                "left_anti",
            )
            bucketed = fresh.withColumn(
                "user_bucket",
                F.pmod(F.xxhash64("user_id"), F.lit(self.feed_buckets)).cast(
                    "int"
                ),
            )
            try:
                (
                    bucketed.repartition(self.feed_buckets, "user_bucket")
                    .write.mode("append")
                    .partitionBy("user_bucket")
                    .parquet(self._path("feed_by_user"))
                )
            finally:
                self.refresh("feed_by_user")

    def record_pipeline_metrics(
        self, epoch_id: int, n_envelopes: int, n_decoded: int, n_fresh: int
    ) -> None:
        """One row per processed epoch — the reference's run counters
        (http_load.go:123-130) as a queryable table.  Derived rates:
        malformed/dropped = n_envelopes - n_decoded, redelivered
        duplicates = n_decoded - n_fresh.

        Keyed on ``epoch_id``: under foreachBatch's at-least-once epoch
        replay, a retried epoch (which sees n_fresh=0 after the first
        attempt's writes committed) appends no second, contradictory
        row."""
        row = self.spark.createDataFrame(
            [(int(epoch_id), int(n_envelopes), int(n_decoded), int(n_fresh))],
            T.StructType(METRICS_SCHEMA.fields[:-1]),
        ).withColumn("recorded_at", F.current_timestamp())
        with self._table_lease("pipeline_metrics"):
            self._append(
                self._new_rows(row, "pipeline_metrics", ["epoch_id"]),
                "pipeline_metrics",
            )

    def get_feed(self, user_id: str, limit: int = 50) -> DataFrame:
        """GetFeed (feed.go:143-171): newest-``limit`` feed rows for one
        user, tie-break on post_id DESC (cql:36-37), default limit 50
        (httphandlers.go:191-196).

        Reads the store's cached ``feed_by_user`` handle (see the class
        docstring): its file listing and pinned schema are reused, so the
        read is ONE Spark job — a scan pruned to the user's bucket
        directory by the ``user_bucket`` literal, then
        TakeOrderedAndProject.  It sees every write made through this
        store; a write from outside it needs ``refresh("feed_by_user")``
        first."""
        bucket = F.pmod(F.xxhash64(F.lit(user_id)), F.lit(self.feed_buckets))
        return (
            self._handle("feed_by_user")
            .filter(F.col("user_bucket") == bucket.cast("int"))
            .filter(F.col("user_id") == user_id)
            .orderBy(F.desc("created_at"), F.desc("post_id"))
            .limit(limit)
            .select(*[f.name for f in FEED_SCHEMA.fields])
        )

    def compact(self, table: str = "feed_by_user") -> int:
        """Rewrite a table to heal streaming small-files buildup.

        Every micro-batch append adds files; over many epochs reads pay
        per-file open costs and lose row-group locality.  Compaction
        rewrites the table once: the feed keeps its user-bucket
        partitioning, other tables coalesce by size.  Returns the file
        count after.

        The rewrite goes through the staged swap
        (``sources/fsutil.py::swap_in``: staged write, then a
        rename-aside swap whose crash window the next compact heals).
        It moves directories with ``os.rename``, so it needs a local or
        ``file:`` base and refuses other schemes; it is local-mode
        maintenance, since readers racing the renames can see a brief
        missing-path window.

        Holds the table lease (feed/lock.py) for the whole
        read-rewrite-swap.  Every write takes the same lease, so a
        concurrent writer serializes against the swap instead of
        appending into a directory about to be renamed away, where the
        append would be dropped with the ``.old`` copy.
        """
        with self._table_lease(table):
            try:
                return self._compact_locked(table)
            finally:
                # the swap deleted the files a cached handle lists
                self.refresh(table)

    def _compact_locked(self, table: str) -> int:
        from golang_cassandra_kafka_feed_spark.sources.fsutil import (
            heal_swap,
            swap_in,
        )

        if not heal_swap(self._path(table)):
            return 0
        df = self._handle(table)
        if table == "feed_by_user":
            writer = (
                df.repartition(self.feed_buckets, "user_bucket")
                .write.partitionBy("user_bucket")
            )
        else:
            n = max(1, df.count() // 1_000_000 + 1)
            writer = df.coalesce(n).write
        path = swap_in(self._path(table), writer.parquet)
        return sum(
            1
            for root, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )


# ---------------------------------------------------------------------------
# optional transactional CAS (Delta MERGE), capability-gated
# ---------------------------------------------------------------------------


def delta_available(spark: SparkSession) -> bool:
    """True if delta-spark (python binding + jars) is usable."""
    try:
        import delta  # noqa: F401

        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.delta.DeltaLog"
        )
        return True
    except Exception:
        return False


def merge_create_users(
    spark: SparkSession, delta_path: str, usernames: DataFrame
) -> None:
    """Concurrency-safe CreateUser CAS via Delta MERGE.

    FeedStore.create_users closes the cross-job race the reference
    closes with Cassandra's ``INSERT ... IF NOT EXISTS`` LWT
    (feed.go:41-74) by a table lease whose acquire is an exclusive
    file create — atomic on a local disk or HDFS, not on an object
    store without conditional writes.  With a
    transactional table format present, MERGE WHEN NOT MATCHED under
    Delta's optimistic concurrency control is the distributed twin:
    conflicting commits retry serialized, so exactly one writer wins per
    username (SURVEY.md §7.3.1).

    Gated: raises NotImplementedError when delta-spark is absent (this
    sandbox ships no Delta jars and has no network; the gated test in
    tests/test_feed_api.py runs wherever delta-spark is installed).
    """
    if not delta_available(spark):
        raise NotImplementedError(
            "delta-spark not available; FeedStore.create_users serializes "
            "writers with a lease that needs an atomic exclusive create"
        )
    from delta.tables import DeltaTable

    valid = (
        usernames.filter(valid_length("username", 1, 50))
        .dropDuplicates(["username"])
        .withColumn("user_id", F.expr("uuid()"))
        .select("user_id", "username")
    )
    if not DeltaTable.isDeltaTable(spark, delta_path):
        valid.limit(0).write.format("delta").mode("overwrite").save(delta_path)
    (
        DeltaTable.forPath(spark, delta_path)
        .alias("t")
        .merge(valid.alias("s"), "t.username = s.username")
        .whenNotMatchedInsertAll()
        .execute()
    )
