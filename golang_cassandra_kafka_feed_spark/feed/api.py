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
import contextvars
import os
import threading
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from golang_cassandra_kafka_feed_spark.feed.lock import table_lock

# The (base, table) leases the current call context holds: a leased write
# run inside another's lease on the same table (``add_posts`` runs
# ``fan_out`` under the feed lease) does not wait on its own lease.
_HELD_LEASES: contextvars.ContextVar[frozenset] = contextvars.ContextVar(
    "feed_held_leases", default=frozenset()
)


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

    Writes: the read-modify-write mutators (``create_users``,
    ``fan_out`` and ``compact``) always run under their table's lease
    (feed/lock.py, the LWT twin), held in the base dir, so two stores or
    jobs on one base serialize their anti-join + append and leave one row
    per key.  ``add_posts`` takes the feed lease before either of its
    appends starts.  The ``posts`` table and ``create_follows`` have no
    lease of their own: their anti-joins are exact within one writer
    only.

    Table handles: every read goes through one schema-pinned DataFrame per
    table, resolved lazily on first use and then reused, so a point read
    (``get_feed``, ``get_followers``, ``user_id_by_username``) pays neither
    an existence probe, a directory re-listing nor a schema-inference job.
    A handle's file listing is fixed when it is resolved, so:

    - every write through this store drops the written table's handle
      right after the write (inside any lease it holds), and the next
      read re-lists — read-your-writes holds on one instance;
    - the leased mutators also drop the handle right after acquiring the
      lease, so they see what other instances or processes committed
      under it;
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
        the body re-lists.  Inside a lease this call context already
        holds on the same table it is a no-op."""
        key = (self.base, table)
        held = _HELD_LEASES.get()
        if key in held:
            yield
            return
        with table_lock(self.base, table):
            reset = _HELD_LEASES.set(held | {key})
            try:
                self.refresh(table)
                yield
            finally:
                _HELD_LEASES.reset(reset)

    # -- CreateUser (feed.go:41-74): CAS -> batch dedup + anti-join --------

    def create_users(self, usernames: DataFrame) -> DataFrame:
        """Create users for a one-column ``username`` DataFrame.

        Semantics of the reference CAS loop, batch-native:
        1. validate 1 <= len(username) <= 50 (httphandlers.go:33-37);
        2. first-wins within the batch (dropDuplicates);
        3. losers against the existing table dropped via left-anti
           (the reference's "read the winner's row" path, feed.go:56-59,
           is a lookup the caller does via ``user_id_by_username``).
        Returns the newly created rows (with generated UUIDs).

        The anti-join + append run under the ``users`` table lease
        (feed/lock.py, the LWT twin), so username uniqueness also holds
        across CONCURRENT jobs and store instances — the race the
        reference closes with ``INSERT ... IF NOT EXISTS``
        (feed.go:41-74).
        """
        with self._table_lease("users"):
            valid = usernames.filter(valid_length("username", 1, 50))
            fresh = (
                valid.dropDuplicates(["username"])
                .join(self.table("users"), "username", "left_anti")
                .withColumn("user_id", F.expr("uuid()"))
                .select("user_id", "username")
            )
            # Checkpoint BEFORE the append (as add_posts does): the plan
            # reads the users table the append is about to grow, and
            # uuid() is nondeterministic — any later action re-executing
            # this plan would anti-join against the just-written names
            # (returning empty) or mint different uuids than the ones
            # written.
            fresh = fresh.localCheckpoint(eager=True)
            self._append(fresh, "users")
        return self.table("users").join(
            fresh.select("username"), "username", "left_semi"
        )

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
        pair within one writer, self-follows rejected.  The reference's
        LoggedBatch atomicity across two orientations (feed.go:79-84) is
        moot: one table serves both scans.  Takes no table lease: two
        concurrent writers of the same edge can both append it."""
        fresh = (
            edges.filter(F.col("user_id") != F.col("followee_id"))
            .dropDuplicates(["user_id", "followee_id"])
            .join(
                self.table("follows"),
                ["user_id", "followee_id"],
                "left_anti",
            )
        ).localCheckpoint(eager=True)  # sever the follows-table lineage
        # before appending to it (see create_users)
        self._append(fresh.select("user_id", "followee_id"), "follows")
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
        (cql:23-28) made explicit: in-batch duplicates are dropped and
        posts already stored are anti-joined away, so a redelivered post
        (kafka.go:92) writes nothing.  The ``posts`` table has no lease
        of its own (one writer per store is assumed there).

        The fresh rows are materialized once (``localCheckpoint``).  Then,
        under the feed lease, the feed fan-out (``fan_out``, which runs
        inside that lease) and the ``posts`` append run side by side on
        two driver threads.  Taking the lease first means a lease that
        cannot be had (``LockTimeout``) fails the call before anything is
        written: were the ``posts`` append already committed, a retry's
        posts anti-join would drop the batch and its feed rows would
        never be written.  The checkpoint makes the batch safe whatever its
        lineage: a plan that reads this store's ``posts`` table (the
        gate's own anti-join does) is not re-evaluated against the grown
        table, not even a persisted one that Spark re-caches after the
        append.
        """
        # Validate BEFORE dropDuplicates: if one batch carries both a valid
        # and an invalid row for the same post_id, dedup must choose among
        # writable rows only — filtering afterwards would let an arbitrary
        # kept invalid duplicate drop a valid post nondeterministically.
        fresh = (
            posts.filter(valid_length("body", 1, 1000))
            .select(*[f.name for f in POST_SCHEMA.fields])
            .dropDuplicates(["post_id"])
            .join(self.table("posts").select("post_id"), "post_id", "left_anti")
            .localCheckpoint(eager=True)
        )
        with self._table_lease("feed_by_user"):
            leased = contextvars.copy_context()
            with ThreadPoolExecutor(max_workers=2) as pool:
                fanned = pool.submit(leased.run, self.fan_out, fresh)
                try:
                    self._append(fresh, "posts")
                finally:
                    fanned.result()
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
        duplicates = n_decoded - n_fresh."""
        # Idempotent under foreachBatch's at-least-once epoch replay: a
        # retried epoch must not append a second (contradictory) row for
        # the same epoch_id — the replayed attempt sees n_fresh=0 after
        # the first attempt's writes committed.  The metrics table is
        # tiny; the existence probe is one small scan.
        existing = (
            self.table("pipeline_metrics")
            .filter(F.col("epoch_id") == int(epoch_id))
            .limit(1)
            .count()
        )
        if existing:
            return
        row = self.spark.createDataFrame(
            [(int(epoch_id), int(n_envelopes), int(n_decoded), int(n_fresh))],
            T.StructType(METRICS_SCHEMA.fields[:-1]),
        ).withColumn("recorded_at", F.current_timestamp())
        self._append(row, "pipeline_metrics")

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
        read-rewrite-swap, so a concurrent ``create_users``/``fan_out``
        serializes against the swap instead of appending into a
        directory about to be renamed away, where the append would be
        dropped with the ``.old`` copy.  The unleased ``posts`` append
        of ``add_posts`` and ``create_follows`` give no such guarantee:
        do not compact ``posts`` or ``follows`` while they write.
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
