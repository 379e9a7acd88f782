"""Streaming rollup maintenance — a continuous aggregate kept
incrementally by Structured Streaming.

The batch twin (q124) proves merge == recompute over a STORED history
boundary; this module closes the loop operationally: a stream of
events maintains the same per-(day, type) rollup via ``foreachBatch``,
so the aggregate is always current without ever rescanning history —
the materialized-view-maintenance pattern (TimescaleDB continuous
aggregates / Delta MERGE shape) built from parquet + a pointer marker,
because this environment has no table format with transactions.

Exactly-once without transactions: versions are named by the
micro-batch id (monotone under Structured Streaming's checkpointed
replay contract), and the ONLY commit point is the ``_CURRENT``
pointer marker:

- apply(batch b): if the RESOLVED current version ``>= b`` the batch
  is already merged (a replay after a post-commit crash) — skip;
- otherwise merge the stored current version with the batch partials
  into ``v{b}`` (overwrite-safe: a replay after a pre-commit crash
  rewrites the SAME dir from the SAME pre-state, because the pointer
  still names the old version), then move the pointer.

The pointer write is temp-file + rename (``write_marker_atomic``), so
a crash MID-move leaves the old pointer or NO pointer, never partial
content; resolution additionally distrusts any pointer lacking a
non-empty run suffix or naming an ancient version (review-found: a
truncated '12:adhoc' surviving as '1' would silently rewind).
A missing or garbled pointer recovers via the version dirs
themselves: current = the highest ``v{b}`` carrying parquet's
``_SUCCESS`` marker.  That recovery is exactly-once too — a
complete-but-unpointed ``v{b}`` already CONTAINS batch ``b``
(versions are always written before the pointer moves), so the
engine's replay of ``b`` skips; a half-written dir has no
``_SUCCESS`` and is ignored, so the replay redoes it from the
pre-state.  Every crash window thus yields a clean redo, a clean
skip, or a recovered pointer — never a double count (tested in
test_streaming_rollup.py, including simulated pre-commit and
mid-move crashes).

Two operational guards (review-found):

- **run identity**: batch ids restart at 0 when a pipeline starts
  over on a NEW checkpoint; the plain monotone guard would then
  silently skip real data.  The pointer records the streaming query
  id (persisted in the checkpoint: stable across restarts of the
  SAME checkpoint, different for a new one); a mismatch RAISES —
  the operator resumes the original checkpoint or starts a fresh
  rollup path, instead of silently losing merges either way.
- **single-writer enforcement**: every batch runs its
  read-merge-write-move sequence under the repo's filesystem lease
  lock (feed/lock.py), so a repair job racing the stream on the same
  path becomes a bounded wait or a loud error, never a lost update.
  The lease lives on the ROLLUP PATH'S OWN filesystem: a remote URI
  path (hdfs://, s3a://) routes the lock through the Hadoop FileSystem
  API, a bare local path or ``file:`` URI locks with the local
  os.O_EXCL create.  Exclusion strength is the store's create contract
  (atomic on HDFS; enable conditional PUT on S3A) — see feed/lock.py.

Partials are mergeable by construction: counts by sum, amounts by
exact DECIMAL(18,2) sums (associative — the q124/TPC-H idiom), so
merge order can never move a bit.

100 TB posture: each micro-batch touches its own partials plus one
dimension-sized stored rollup (days x types — thousands of rows at
any corpus size); history files are never re-read.  Old versions are
retained for in-flight readers; a janitor may delete versions older
than the previous one (documented, not automated here).

Reference tie: the feed fan-out's write-once-read-many
materialization (internal/store/feed.go:129-141, AddToFeed) driven
by a stream.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from golang_cassandra_kafka_feed_spark.feed.lock import table_lock
from golang_cassandra_kafka_feed_spark.sources.fsutil import (
    hadoop_fs,
    read_marker,
    write_marker_atomic,
)


class RollupRunMismatch(RuntimeError):
    """The rollup was built by a different streaming run (new
    checkpoint => restarted batch ids): merging would double-count,
    skipping would drop data — so neither happens silently."""


def rollup_partials(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Mergeable per-(day, type) partials: (day, <type>, n_part,
    sum_part) — the exact shape q124 stores for its history."""
    day = F.date_trunc("day", ts_col).cast("date").alias("day")
    return df.groupBy(day, type_col).agg(
        F.count(F.lit(1)).alias("n_part"),
        # width pinned so the STORED schema is identical at every
        # version (sum over decimal widens per merge otherwise)
        F.sum(F.col(value_col).cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("sum_part"),
    )


def _complete_versions(spark, path: str) -> list[int]:
    """Batch ids of version dirs with a parquet ``_SUCCESS`` marker."""
    fs, p = hadoop_fs(spark, path + "/v*/_SUCCESS")
    out = []
    for st in fs.globStatus(p) or []:
        name = st.getPath().getParent().getName()
        try:
            out.append(int(name[1:]))
        except ValueError:
            continue
    return sorted(out)


def _resolve_current(spark, path: str) -> tuple[int, str] | None:
    """(batch_id, run_id) of the committed version; None before the
    first commit.  A missing/empty/garbled pointer recovers from the
    highest COMPLETE version dir (see module docstring for why that
    preserves exactly-once); run_id is '' when unknown.

    Garble detection (review-found): a truncated pointer can leave a
    VALID-INT prefix ('1' surviving from '12:adhoc'), which would
    resolve to an ancient version with the run guard skipped — a
    silent rewind.  A pointer is therefore trusted only when it
    carries a non-empty run suffix after ':' (truncation eats the
    suffix first) AND names a version no older than one behind the
    newest complete dir (the only legitimate lag: a version is always
    written before the pointer moves).  Anything else falls through
    to version-dir recovery.  The write side is belt-and-braces:
    ``write_marker_atomic`` (temp file + rename) cannot expose
    partial content at all."""
    raw = read_marker(spark, path + "/_CURRENT")
    versions: list[int] | None = None
    if raw:
        bid_s, sep, run = raw.partition(":")
        try:
            bid = int(bid_s)
        except ValueError:
            bid = None
        if bid is not None and sep == ":" and run:
            versions = _complete_versions(spark, path)
            if not versions or bid >= versions[-1] - 1:
                return bid, run
            # names an ancient version: stale/garbled — recover below
    if versions is None:
        versions = _complete_versions(spark, path)
    if not versions:
        return None
    return versions[-1], ""


def read_rollup(spark, path: str) -> DataFrame | None:
    """The committed rollup (None before the first batch commits)."""
    cur = _resolve_current(spark, path)
    if cur is None:
        return None
    return spark.read.parquet(f"{path}/v{cur[0]}")


def _run_identity(batch_df: DataFrame, explicit: str | None) -> str:
    """The identity of the streaming run driving this batch.

    Resolution order (review-found: the old exactly-one-active-stream
    inference FLIPPED to 'adhoc' the moment any unrelated query
    started in the same session, hard-failing the run guard mid-run):

    1. an explicit ``run_id`` from the caller;
    2. the owning query's id via the engine's thread-local property
       ``sql.streaming.queryId`` — set by StreamExecution on the
       micro-batch thread that invokes foreachBatch, so it names THIS
       stream regardless of how many others are active, and it is
       checkpoint-persisted (stable across restarts of the same
       checkpoint, fresh for a new one — exactly the run-guard
       contract);
    3. the single active stream's id (Connect-style sessions where the
       local property is not surfaced);
    4. 'adhoc' (direct batch invocation, tests).

    Callers additionally PIN the first resolution for the closure's
    lifetime (see rollup_foreach_batch) so the identity cannot change
    between batches of one run even if the environment does."""
    if explicit:
        return explicit
    try:
        sc = batch_df.sparkSession.sparkContext
        qid = sc.getLocalProperty("sql.streaming.queryId")
        if qid:
            return str(qid)
    except Exception:  # pragma: no cover - Connect / defensive
        pass
    try:
        active = batch_df.sparkSession.streams.active
        if len(active) == 1:
            return str(active[0].id)  # checkpoint-persisted identity
    except Exception:  # pragma: no cover - defensive
        pass
    return "adhoc"


def drain_or_raise(query, timeout_sec: float, what: str = "stream") -> None:
    """Block until ``query`` terminates, or stop it and raise.

    ``awaitTermination(timeout)`` returns False on timeout with the
    stream still mid-run; a caller that then commits a completion
    marker would permanently cache a partial rollup under a
    create-if-absent key (review-found).  This helper makes 'drained'
    explicit: it returns only when the query actually terminated."""
    if not query.awaitTermination(timeout_sec):
        query.stop()
        raise RuntimeError(
            f"{what} did not drain within {timeout_sec}s; "
            "completion marker withheld so the next run rebuilds"
        )


def rollup_foreach_batch(
    path: str,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    run_id: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """The ``foreachBatch`` function maintaining the rollup at
    ``path``.  Usage::

        stream.writeStream.foreachBatch(rollup_foreach_batch(path))
              .option("checkpointLocation", ck).start()

    ``run_id`` overrides the recorded run identity (defaults to the
    owning streaming query's checkpoint-persisted id — see
    ``_run_identity`` — or 'adhoc' for direct calls).  Every batch
    holds the rollup path's lease (``table_lock``) while it merges."""
    # one closure == one run: pin the first resolution so the identity
    # cannot flip between batches (review-found) even if other streams
    # start or stop in the same session mid-run.
    pinned: dict[str, str] = {}

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        run = pinned.setdefault(
            "run", _run_identity(batch_df, run_id)
        )
        with table_lock(path, "_rollup"):
            cur = _resolve_current(spark, path)
            if cur is not None:
                cur_id, cur_run = cur
                if cur_run and cur_run != run:
                    raise RollupRunMismatch(
                        f"rollup at {path} was written by run "
                        f"{cur_run!r}, this is run {run!r} (new "
                        "checkpoint => batch ids restarted): resume "
                        "the original checkpoint or use a fresh "
                        "rollup path"
                    )
                if cur_id >= batch_id:
                    return  # post-commit replay: already merged
            new = rollup_partials(
                batch_df, ts_col, type_col, value_col
            )
            if cur is not None:
                stored = spark.read.parquet(f"{path}/v{cur[0]}")
                new = (
                    stored.unionByName(new)
                    .groupBy("day", type_col)
                    .agg(
                        F.sum("n_part").alias("n_part"),
                        F.sum("sum_part")
                        .cast("decimal(38,2)")
                        .alias("sum_part"),
                    )
                )
            # dimension-sized output: one file keeps the version tidy
            new.coalesce(1).write.mode("overwrite").parquet(
                f"{path}/v{batch_id}"
            )
            # the single commit point — written LAST, atomically
            # (temp + rename: a crash can leave the OLD pointer or
            # NO pointer, never a truncated one)
            write_marker_atomic(
                spark, path + "/_CURRENT", f"{batch_id}:{run}"
            )

    return _apply
