"""DataFrame-native feed-domain API — the StoreInterface equivalent.

The reference's store (internal/store/cassandra.go:27-36, feed.go) exposes:
CreateUser, GetUserIDByUsername, CreateFollow, GetFollowers, AddPost,
AddToFeed, GetFeed.  Here each is a DataFrame transform over Parquet-backed
tables, batch-native where the reference is row-at-a-time:

- CAS username uniqueness (feed.go:41-74, ``INSERT ... IF NOT EXISTS``)
  becomes batch dedup + left-anti against the existing table.  Cross-job
  races need a transactional table format (Delta/Iceberg MERGE) — out of
  scope for the filesystem-backed correctness build (SURVEY.md §7.3.1).
- The dual follow tables (cql:11-21, written atomically in a LoggedBatch,
  feed.go:78-90) collapse into ONE edge table: Spark joins either
  direction, so the reverse "table" is just the same DataFrame.
- ``feed_by_user`` (cql:30-37) is maintained by the fan-out (batch here,
  streaming in streaming/fanout.py) with the invariant
  ``feed == posts ⋈ follows ON author_id = followee_id``.

Scale design: the feed sink is hash-partitioned into user buckets
(``user_bucket = pmod(hash(user_id), n)``) so a single-user feed read
prunes to one bucket directory; within buckets rows are written sorted by
(created_at DESC) to approximate the reference's clustering order
(cql:36-37) — readers still apply TakeOrderedAndProject, which is cheap on
pruned input.
"""

from __future__ import annotations

import collections
import os
import threading

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


class FeedStore:
    """Parquet-backed feed store rooted at ``base_dir``.

    ``feed_buckets`` controls the user-bucket partitioning of the feed sink
    (reference: one Cassandra partition per user, cql:30-37; at 100 TB a
    bucket count ~ O(cluster cores) keeps files large and reads pruned).

    Table handles: every read goes through one schema-pinned DataFrame per
    table, resolved lazily on first use and then reused, so a point read
    (``get_feed``, ``get_followers``, ``user_id_by_username``) pays neither
    an existence probe, a directory re-listing nor a schema-inference job.
    A handle's file listing is fixed when it is resolved, so:

    - every write through this store drops the written table's handle
      right after the write (inside any lease it holds), and the next
      read re-lists — read-your-writes holds on one instance;
    - exclusive mutators (``create_users``/``fan_out`` with
      ``exclusive=True``, ``compact``) also drop the handle right after
      acquiring the lease, so they see what other instances or
      processes committed under it;
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

    def _table_lease(self, table: str):
        """Cross-job mutual exclusion on a table's read-modify-write
        (feed/lock.py — the LWT twin).  Filesystem base dirs only; on an
        object store swap the atomic-create primitive per the lock module
        docstring."""
        from golang_cassandra_kafka_feed_spark.feed.lock import table_lock

        lock_base = self.base
        for scheme in ("file://", "file:"):
            if lock_base.startswith(scheme):
                lock_base = lock_base[len(scheme):]
                break
        if "://" in lock_base:
            raise NotImplementedError(
                f"exclusive {table} mutation needs a filesystem base dir "
                "(object stores: swap the atomic-create primitive, see "
                "feed/lock.py docstring)"
            )
        return table_lock(lock_base, table)

    # -- CreateUser (feed.go:41-74): CAS -> batch dedup + anti-join --------

    def create_users(
        self, usernames: DataFrame, exclusive: bool = False
    ) -> DataFrame:
        """Create users for a one-column ``username`` DataFrame.

        Semantics of the reference CAS loop, batch-native:
        1. validate 1 <= len(username) <= 50 (httphandlers.go:33-37);
        2. first-wins within the batch (dropDuplicates);
        3. losers against the existing table dropped via left-anti
           (the reference's "read the winner's row" path, feed.go:56-59,
           is a lookup the caller does via ``user_id_by_username``).
        Returns the newly created rows (with generated UUIDs).

        ``exclusive=True`` holds the filesystem table lease (feed/
        lock.py, the LWT twin) around the anti-join + append, so
        username uniqueness also holds across CONCURRENT jobs — the race
        the reference closes with ``INSERT ... IF NOT EXISTS``
        (feed.go:41-74) and that ``merge_create_users`` closes with
        Delta MERGE where delta-spark exists.  Default off: single-job
        batch ingest needs no lock.
        """
        if exclusive:
            with self._table_lease("users"):
                # other instances/processes may have committed under the
                # lease: re-list before the anti-join
                self.refresh("users")
                return self.create_users(usernames, exclusive=False)
        valid = usernames.filter(valid_length("username", 1, 50))
        fresh = (
            valid.dropDuplicates(["username"])
            .join(self.table("users"), "username", "left_anti")
            .withColumn("user_id", F.expr("uuid()"))
            .select("user_id", "username")
        )
        # Checkpoint BEFORE the append (the fanout.py pattern): the plan
        # reads the users table the append is about to grow, and uuid()
        # is nondeterministic — any later action re-executing this plan
        # would anti-join against the just-written names (returning
        # empty) or mint different uuids than the ones written.
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
        pair, self-follows rejected.  The reference's LoggedBatch atomicity
        across two orientations (feed.go:79-84) is moot: one table serves
        both scans."""
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

    def add_posts(
        self,
        posts: DataFrame,
        fan_out: bool = True,
        concurrent_appends: bool = False,
    ) -> DataFrame:
        """AddPost (feed.go:115-127) + the worker fan-out (worker.go:112-160)
        in one batch: validate body 1..1000 (httphandlers.go:134-137),
        append to ``posts``, then write one feed row per (post, follower).

        ``concurrent_appends=True`` overlaps the two independent append
        jobs from two driver threads (guide §2.6 — the scheduler
        happily runs both; each epoch otherwise pays their latencies
        back-to-back, a measured slice of the 0.835 s/epoch fixed
        floor).  ONLY safe when ``posts`` has no live lineage through
        this store's tables (the streaming path checkpoint-truncates
        before calling) — with lineage, the posts append could
        invalidate/re-list the feed branch mid-flight and lose rows,
        which is exactly why the sequential default orders the feed
        write first.
        """
        valid = posts.filter(valid_length("body", 1, 1000)).select(
            *[f.name for f in POST_SCHEMA.fields]
        )
        if fan_out and concurrent_appends:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as pool:
                ff = pool.submit(self.fan_out, valid)
                pf = pool.submit(self._append, valid, "posts")
                ff.result()
                pf.result()
            return valid
        # Fan out BEFORE the posts append: if ``posts`` has lineage through
        # this store's posts table (the streaming anti-join does), the
        # append would invalidate/re-list that lineage and the re-evaluated
        # batch could lose rows (see streaming/fanout.py).  Order the feed
        # write first so every action sees the pre-append snapshot.
        if fan_out:
            self.fan_out(valid)
        self._append(valid, "posts")
        return valid

    def fan_out(self, posts: DataFrame, exclusive: bool = False) -> None:
        """posts ⋈ follows ON author_id = followee_id -> feed rows
        (worker.go:138-154; mock parity: mock_kafka.go:22-47).

        Idempotent on (user_id, post_id) — replays of at-least-once
        delivery (kafka.go:92) are dropped by the anti-join, emulating the
        Cassandra primary-key upsert (cql:36).

        The anti-join dedups against the feed state read at plan time, so
        idempotency is within-job by default: two CONCURRENT batch jobs
        fanning out overlapping posts can both pass the anti-join and
        double-write (the Cassandra upsert has no such race — the PK
        write is the dedup).  ``exclusive=True`` serializes the
        anti-join + append under the feed table lease (feed/lock.py) for
        multi-writer batch deployments; the streaming pipeline does not
        need it (one writer per checkpoint, epoch-replay covered by the
        same anti-join re-read).
        """
        if exclusive:
            with self._table_lease("feed_by_user"):
                self.refresh("feed_by_user")  # see create_users
                return self.fan_out(posts, exclusive=False)
        follows = self.table("follows")
        feed_rows = (
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
        fresh = feed_rows.join(
            self.table("feed_by_user").select("user_id", "post_id"),
            ["user_id", "post_id"],
            "left_anti",
        )
        bucketed = fresh.withColumn(
            "user_bucket",
            F.pmod(F.xxhash64("user_id"), F.lit(self.feed_buckets)).cast("int"),
        )
        try:
            (
                bucketed.repartition(self.feed_buckets, "user_bucket")
                .sortWithinPartitions(F.desc("created_at"), F.desc("post_id"))
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
        partitioning and per-bucket newest-first sort (cql:36-37 layout),
        other tables coalesce by size.  Returns the file count after.

        Staged write + rename-aside swap (write to .compact, move the
        live dir to .old, move staging in, drop .old): committed data
        is never the subject of an in-progress delete, and a crash in
        the swap window is self-healing — the next compact() (or any
        call that finds the live path missing with a .old present)
        restores the renamed-aside copy.  Readers racing the two
        renames can still see a brief missing-path window: compact() is
        LOCAL-MODE maintenance tooling (shutil/os.rename); on a
        cluster, rewrite through a distributed-FS commit instead.

        Holds the table lease (feed/lock.py) for the whole
        read-rewrite-swap: a concurrent EXCLUSIVE writer (create_users /
        fan_out(exclusive=True)) serializes against the swap instead of
        appending into a directory that is about to be renamed away —
        an append that lands between the staging read and the swap
        would otherwise be silently dropped with the .old copy.
        Non-exclusive writers give no such guarantee; in multi-writer
        deployments run every mutator exclusive.
        """
        with self._table_lease(table):
            self.refresh(table)  # see create_users
            try:
                return self._compact_locked(table)
            finally:
                # the swap deleted the files a cached handle lists
                self.refresh(table)

    def _compact_locked(self, table: str) -> int:
        import shutil

        path = self._path(table)
        old = path + ".old"
        # crash recovery: a previous compact died between the two
        # renames — the .old copy is the committed table; restore it.
        if not os.path.exists(path) and os.path.exists(old):
            os.rename(old, path)
        if not os.path.exists(path):
            return 0
        staging = path + ".compact"
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        df = self._handle(table)
        if table == "feed_by_user":
            (
                df.repartition(self.feed_buckets, "user_bucket")
                .sortWithinPartitions(F.desc("created_at"), F.desc("post_id"))
                .write.partitionBy("user_bucket")
                .parquet(staging)
            )
        else:
            n = max(1, df.count() // 1_000_000 + 1)
            df.coalesce(n).write.parquet(staging)
        os.rename(path, old)
        os.rename(staging, path)
        shutil.rmtree(old, ignore_errors=True)
        return sum(
            1
            for root, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )

    def get_feed_all(self, limit_per_user: int = 50) -> DataFrame:
        """All-users form of GetFeed: top-k per key via window row_number
        (SURVEY.md §2.1 #7)."""
        w = Window.partitionBy("user_id").orderBy(
            F.desc("created_at"), F.desc("post_id")
        )
        return (
            self.table("feed_by_user")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= limit_per_user)
            .drop("rn")
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

    The filesystem-backed FeedStore.create_users is exact within one job
    (batch dedup + anti-join) but two *concurrent* jobs can both insert
    the same username — the reference closes that race with Cassandra's
    ``INSERT ... IF NOT EXISTS`` LWT (feed.go:41-74).  With a
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
            "delta-spark not available; FeedStore.create_users covers the "
            "single-job CAS semantics, cross-job uniqueness needs Delta"
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
