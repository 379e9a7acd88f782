"""Persistent MinHash-LSH index + delta-batch near-dup detection.

``minhash_near_duplicates`` (dedup.py) re-signatures the FULL corpus on
every run — the right shape for a one-shot dedup, the wrong one for a
100 TB pipeline that ingests a new crawl batch daily and needs
new-vs-corpus near-dups without re-hashing 100 TB.  This module
persists the two per-document artifacts the banded algorithm needs —

- ``bands/``:    (id, band, bucket, bucket_mod) LSH band rows, laid out
  in ``bucket_mod`` partition directories so a delta batch that
  collides with a subset of mods reads only those directories
  (partition pruning against the delta's bucket list);
- ``shingles/``: (id, sh) distinct shingle sets for the exact-Jaccard
  verification stage;
- ``meta/``:     the signature parameters, pinned at build time so an
  append or delta run cannot silently mix incompatible signatures —

and answers ``minhash_near_duplicates_incremental(new_docs, path)``:
signature the DELTA ONLY, join its band rows against the stored index,
and emit exactly the verified near-dup pairs a full re-run over
(corpus + delta) would emit restricted to pairs touching the delta.
That equivalence is exact, not approximate: a document's band rows and
shingle set depend only on its own text and the pinned parameters
(dedup.banded_rows), so the incremental candidate/verify stages see the
same bucket memberships and the same Jaccard values as the full run
(asserted in tests/test_minhash_index.py::test_split_equals_full).

Reference tie: this is the CAS create-if-absent pattern
(internal/store/feed.go:46-59) applied at content level — the index is
the "existing usernames" side, the crawl batch the insert attempt.

Scale shape (the daily-crawl cost): signature build over the BATCH
only; one broadcast semi-join of the stored bands against the batch's
distinct (band, bucket) keys — the index is scanned but never
shuffled, and the ``bucket_mod`` layout prunes the scan itself; one
shuffle of the surviving sliver + batch rows into bucket groups; a
shingle-verify join that touches only candidate ids (semi-join pruned
on the stored side).  Nothing is proportional to corpus size except
the pruned index scan.
"""

from __future__ import annotations

import json
import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from golang_cassandra_kafka_feed_spark.operators.dedup import (
    MAX_BUCKET_WIDTH,
    _cap_bucket_width,
    _md5_32,
    _parallelize,
    _shingles,
    banded_rows,
)
from golang_cassandra_kafka_feed_spark.sources.fsutil import (
    path_exists,
    read_stream,
)

_BANDS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("band", T.IntegerType(), False),
        T.StructField("bucket", T.StringType(), False),
        T.StructField("bucket_mod", T.IntegerType(), True),
    ]
)
_SHINGLES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("sh", T.ArrayType(T.StringType()), False),
        # per-doc ingest timestamp for TTL retention (expire_minhash_
        # index); NULL when the index was built without ts_col — such
        # rows never expire.  Lives on the shingles side only (one row
        # per doc; band rows stay narrow).
        T.StructField("ts", T.TimestampType(), True),
    ]
)
_META_SCHEMA = T.StructType(
    [
        T.StructField("num_hashes", T.IntegerType(), False),
        T.StructField("bands", T.IntegerType(), False),
        T.StructField("shingle_size", T.IntegerType(), False),
        T.StructField("hasher", T.StringType(), False),
        T.StructField("bucket_mods", T.IntegerType(), False),
        # None for ts-less indexes (and for indexes built before the
        # field existed — schema-on-read yields NULL)
        T.StructField("ts_col", T.StringType(), True),
    ]
)

_BUCKET_MODS = 32


def _p(path: str, part: str) -> str:
    return posixpath.join(path, part)


def _index_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    meta: dict,
) -> tuple[DataFrame, DataFrame]:
    """(bands, shingles) frames for ``df`` under pinned parameters.

    r11: ONE shingle extraction feeds both frames — ``base`` holds
    (id, sh, ts) and is lazily localCheckpointed so the regex pass
    runs once whether the caller writes both frames (ensure/append)
    or checkpoints the bands and unions the shingles (the incremental
    query path); the md5 banding derives its signatures from the same
    ``sh`` arrays via ``banded_rows(sets=...)``."""
    ts_col = meta.get("ts_col")
    base = _parallelize(df).select(
        F.col(id_col).cast("long").alias("id"),
        F.array_distinct(_shingles(text_col, meta["shingle_size"])).alias(
            "sh"
        ),
        (
            F.col(ts_col).cast("timestamp")
            if ts_col
            else F.lit(None).cast("timestamp")
        ).alias("ts"),
    ).localCheckpoint(eager=False)
    if meta["hasher"] == "md5":
        banded = banded_rows(
            base,
            text_col,
            "id",
            meta["num_hashes"],
            meta["bands"],
            meta["shingle_size"],
            meta["hasher"],
            sets=base,
        )
    else:  # xxhash needs the raw text column — band from the source
        banded = banded_rows(
            df,
            text_col,
            id_col,
            meta["num_hashes"],
            meta["bands"],
            meta["shingle_size"],
            meta["hasher"],
        )
    bands = banded.select(
        F.col("id").cast("long").alias("id"),
        "band",
        "bucket",
        F.pmod(_md5_32(F.col("bucket")), F.lit(meta["bucket_mods"]))
        .cast("int")
        .alias("bucket_mod"),
    )
    shingles = base.select("id", "sh", "ts")
    return bands, shingles


def _meta_fs_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    meta_dir = jvm.org.apache.hadoop.fs.Path(  # type: ignore[union-attr]
        _p(path, "meta")
    )
    fs = meta_dir.getFileSystem(
        spark._jsc.hadoopConfiguration()  # type: ignore[union-attr]
    )
    return fs, meta_dir


def _delete_meta(spark: SparkSession, path: str) -> None:
    """Invalidate the commit marker.  Every rebuild-in-place path must
    call this BEFORE touching bands/shingles: meta-presence means "the
    data alongside me is a complete build", and that invariant only
    holds for rebuilds if the old marker dies before the old data does
    (round-7 advice: crash mid-overwrite used to leave the OLD meta
    next to half-rewritten bands, which ensure_minhash_index would
    then reuse as committed)."""
    fs, meta_dir = _meta_fs_path(spark, path)
    fs.delete(meta_dir, True)


def _write_meta(spark: SparkSession, path: str, meta: dict) -> None:
    """Write the pinned-parameter record as ONE json file through the
    Hadoop FileSystem API (works for file://, hdfs://, s3a://, ...).
    Meta is written LAST by every build path, so its presence is the
    index's commit marker: a build that crashed mid-write leaves no
    meta and ``ensure_minhash_index`` rebuilds from scratch.  A Spark
    1-row-dataset writer would be FS-portable too, but it pays a full
    job submission (~4 s measured) for a 100-byte record."""
    jvm = spark._jvm
    fs, meta_dir = _meta_fs_path(spark, path)
    fs.delete(meta_dir, True)
    out = fs.create(
        jvm.org.apache.hadoop.fs.Path(  # type: ignore[union-attr]
            _p(path, "meta/part-00000.json")
        ),
        True,
    )
    try:
        out.write(bytearray(json.dumps(meta).encode("utf-8")))
    finally:
        out.close()


def build_minhash_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    hasher: str = "xxhash",
    bucket_mods: int = _BUCKET_MODS,
    signature_partitions: int | None = None,
    ts_col: str | None = None,
) -> dict:
    """Materialize the index for ``df`` at ``path`` (overwrite) and
    return the pinned meta.

    ``ts_col`` (optional) names a timestamp column carried onto the
    shingles side per doc — the handle ``expire_minhash_index`` needs
    for age/TTL retention.  Pinned in meta like every other parameter
    so appends cannot silently mix ts-less and ts-carrying rows.

    ``signature_partitions`` widens the signature pass when the source
    arrives as too few splits (a small-file corpus reads as ONE task,
    serializing the whole minhash computation onto one core).  At
    cluster scale leave it None — file splits already parallelize the
    scan, and the repartition would shuffle raw text once for nothing.

    Write shape: band rows are repartitioned BY ``bucket_mod`` before
    the partitioned write, so each task owns whole partition
    directories — O(bucket_mods) output files instead of the
    tasks x dirs spray partitionBy produces from an unaligned
    partitioning (the small-files anti-pattern that poisons the later
    pruned reads)."""
    meta = {
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_size": shingle_size,
        "hasher": hasher,
        "bucket_mods": bucket_mods,
        "ts_col": ts_col,
    }
    if signature_partitions is not None:
        df = df.repartition(signature_partitions, id_col)
    # Kill the old commit marker FIRST: rebuilding in place over a
    # committed index must leave either (old meta + old data) or a
    # meta-less partial — never old meta next to new partial data.
    _delete_meta(df.sparkSession, path)
    band_rows, shingle_rows = _index_rows(df, text_col, id_col, meta)
    (
        band_rows.repartition(bucket_mods, "bucket_mod")
        .write.mode("overwrite")
        .partitionBy("bucket_mod")
        .parquet(_p(path, "bands"))
    )
    shingle_rows.write.mode("overwrite").parquet(_p(path, "shingles"))
    _write_meta(df.sparkSession, path, meta)
    return meta


def ensure_minhash_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    hasher: str = "xxhash",
    bucket_mods: int = _BUCKET_MODS,
    signature_partitions: int | None = None,
    ts_col: str | None = None,
) -> dict:
    """Create-if-absent twin of ``build_minhash_index`` — the CAS
    shape of reference internal/store/feed.go:46-59 applied to the
    index itself.  If a committed index (meta present — meta is
    written last, so it marks a COMPLETE build) already exists at
    ``path`` it is reused without touching the corpus; parameter
    drift raises instead of silently mixing incompatible signatures.

    The caller owns staleness: ``path`` must change when the corpus
    does (q110 keys it on a hash of the corpus plan's input files +
    the signature parameters)."""
    spark = df.sparkSession
    requested = {
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_size": shingle_size,
        "hasher": hasher,
        "bucket_mods": bucket_mods,
        "ts_col": ts_col,
    }
    if path_exists(spark, _p(path, "meta")):
        stored = read_index_meta(spark, path)
        if stored != requested:
            raise ValueError(
                f"index at {path} was built with {stored}, "
                f"requested {requested}; pick a new path or rebuild "
                "explicitly with build_minhash_index"
            )
        return stored
    return build_minhash_index(
        df,
        path,
        text_col,
        id_col,
        num_hashes,
        bands,
        shingle_size,
        hasher,
        bucket_mods,
        signature_partitions,
        ts_col,
    )


def read_index_meta(spark: SparkSession, path: str) -> dict:
    """Read the pinned-parameter record back through the Hadoop FS API
    — the read twin of ``_write_meta``.  The previous
    ``spark.read.json(...).head()`` paid a full Spark job (plus its
    scheduling gap) for a 100-byte record, twice per incremental query
    (ensure + query); the FS read is a driver-side call, zero jobs
    (r12, verdict-r11 ask #3).  Schema-on-read semantics are kept:
    only ``_META_SCHEMA`` fields are returned, missing nullable fields
    (indexes built before ``ts_col`` existed) read as None."""
    fs, meta_dir = _meta_fs_path(spark, path)
    if not fs.exists(meta_dir):
        raise FileNotFoundError(f"no index meta under {path}")
    blobs = [
        s.getPath()
        for s in fs.listStatus(meta_dir)
        if s.isFile() and s.getPath().getName().endswith(".json")
    ]
    if not blobs:
        raise FileNotFoundError(f"no index meta under {path}")
    # one part file by the _write_meta contract; sort for determinism
    # should a foreign writer ever leave several
    blobs.sort(key=lambda p: p.getName())
    stream = fs.open(blobs[0])
    try:
        raw = json.loads(read_stream(spark._jvm, stream).decode("utf-8"))
    finally:
        stream.close()
    return {f.name: raw.get(f.name) for f in _META_SCHEMA.fields}


def append_to_minhash_index(
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Signature ONLY the delta and append its band/shingle rows under
    the index's pinned parameters — the daily-crawl admission write.
    Caller contract: ids must be new (dedup/admission decided upstream,
    e.g. by minhash_near_duplicates_incremental + policy); appending an
    id twice would double its band rows."""
    meta = read_index_meta(new_docs.sparkSession, path)
    band_rows, shingle_rows = _index_rows(new_docs, text_col, id_col, meta)
    (
        band_rows.repartition(meta["bucket_mods"], "bucket_mod")
        .write.mode("append")
        .partitionBy("bucket_mod")
        .parquet(_p(path, "bands"))
    )
    shingle_rows.write.mode("append").parquet(_p(path, "shingles"))


def _swap_in(live: str, staging: str) -> None:
    """Staged-write swap with crash recovery (the FeedStore.compact
    idiom, feed/api.py:373): move live aside, move staging in, drop
    the aside copy.  ``_heal`` restores a renamed-aside copy if a
    previous swap died between the two renames.  LOCAL-MODE
    maintenance tooling (os.rename); on a cluster rewrite through a
    distributed-FS commit instead — same caveat as FeedStore."""
    import os
    import shutil

    old = live + ".old"
    # a leftover .old alongside a LIVE dir is garbage from a crash
    # after a completed swap (the live dir is the committed one)
    shutil.rmtree(old, ignore_errors=True)
    os.rename(live, old)
    os.rename(staging, live)
    shutil.rmtree(old, ignore_errors=True)


def _heal(live: str) -> None:
    import os

    old = live + ".old"
    if not os.path.exists(live) and os.path.exists(old):
        os.rename(old, live)


def _parquet_file_count(spark: SparkSession, path: str) -> int:
    return len(spark.read.parquet(path).inputFiles())


def _rewrite_index_sides(spark: SparkSession, path: str, transform) -> None:
    """Shared maintenance pass: heal any crashed prior swap on BOTH
    sides first, then staged-rewrite bands (bucket_mod layout
    preserved) and shingles through ``transform(df, side)`` and swap
    each in.  One place owns the heal/debris/stage/swap sequence so
    compact and delete cannot drift apart (review-found duplication,
    round 7).  Both heals happen BEFORE any transform runs because a
    transform for one side may READ the other (expire's bands pass
    resolves doomed ids from the live shingles) — healing lazily
    per-iteration left that cross-read pointing at a missing dir after
    a crash between the shingles swap's two renames (review-found,
    round 8; regression-tested)."""
    import shutil

    meta = read_index_meta(spark, path)
    sides = (("bands", _BANDS_SCHEMA), ("shingles", _SHINGLES_SCHEMA))
    for side, _schema in sides:
        _heal(_p(path, side))
    for side, schema in sides:
        live = _p(path, side)
        staging = live + ".compact"
        shutil.rmtree(staging, ignore_errors=True)
        df = transform(spark.read.schema(schema).parquet(live), side)
        if side == "bands":
            (
                df.repartition(meta["bucket_mods"], "bucket_mod")
                .write.partitionBy("bucket_mod")
                .parquet(staging)
            )
        else:
            df.write.parquet(staging)
        _swap_in(live, staging)


def compact_minhash_index(spark: SparkSession, path: str) -> dict:
    """Heal append small-files buildup: every ``append_to_minhash_index``
    adds O(bucket_mods) files, so a daily-crawl index accumulates
    days x mods files and the pruned incremental reads pay per-file
    open costs.  Rewrites bands (bucket_mod layout preserved, one
    shuffle on bucket_mod) and shingles (size-coalesced) via staged
    write + rename-aside swap; content is unchanged, so a crash
    leaving one side old and one side new is still a consistent index.
    Returns {'files_before': n, 'files_after': m}."""
    bands_p, sh_p = _p(path, "bands"), _p(path, "shingles")
    _heal(bands_p)
    _heal(sh_p)
    before = _parquet_file_count(spark, bands_p) + _parquet_file_count(
        spark, sh_p
    )

    def compacting(df: DataFrame, side: str) -> DataFrame:
        if side == "shingles":
            return df.coalesce(max(1, df.count() // 2_000_000 + 1))
        return df  # bands get the layout repartition in the rewriter

    _rewrite_index_sides(spark, path, compacting)
    after = _parquet_file_count(spark, bands_p) + _parquet_file_count(
        spark, sh_p
    )
    return {"files_before": before, "files_after": after}


def delete_from_minhash_index(
    spark: SparkSession, path: str, ids: DataFrame, id_col: str = "doc_id"
) -> None:
    """Remove documents from the index — the retention /
    right-to-erasure path a long-lived 100 TB index needs.  Rewrites
    bands and shingles with an anti-join against ``ids`` (broadcast
    when small; Spark decides) through the same staged swap as
    compaction.  Either half-completed state is semantically safe: a
    doc deleted from bands is never a candidate; one deleted from
    shingles only cannot verify, so its pairs vanish either way.

    Width-cap caveat (same per-run semantics the incremental path
    documents): buckets that were AT the cap when built may have had
    members truncated in favor of since-deleted ids; deletion does not
    resurrect them — rebuild if cap-exact parity with a fresh index
    matters."""
    key = ids.select(F.col(id_col).cast("long").alias("id")).distinct()
    _rewrite_index_sides(
        spark, path, lambda df, side: df.join(key, "id", "left_anti")
    )


def expire_minhash_index(spark: SparkSession, path: str, older_than) -> None:
    """Age/TTL retention — the operational complement to id-based
    erasure (``delete_from_minhash_index``): drop every document whose
    pinned ingest timestamp (``ts_col`` at build time) is strictly
    before ``older_than``, WITHOUT the caller enumerating ids — the
    "drop bands for docs older than T" loop a daily-crawl index runs.
    ``older_than`` is anything ``F.lit(...).cast("timestamp")``
    accepts (datetime or ISO string).  Docs with NULL ts (index built
    without ts_col) never expire.

    Crash safety inherits the staged-swap argument: bands rewrite
    first (doomed ids resolved from the still-live shingles side), so
    either half-completed state is semantically safe — a doc gone from
    bands is never a candidate, and a resumed expire still finds the
    doomed ids in the not-yet-swapped shingles.  Equivalence to
    rebuild-without-expired is proven externally by q117's exclusion
    oracle and test_minhash_index.py::test_expire_equals_rebuild
    (sub-cap widths; at-cap caveat identical to delete's)."""
    cutoff = F.lit(older_than).cast("timestamp")
    if read_index_meta(spark, path).get("ts_col") is None:
        raise ValueError(
            f"index at {path} was built without ts_col; TTL expiry "
            "needs per-doc timestamps — rebuild with ts_col set"
        )

    def drop_expired(df: DataFrame, side: str) -> DataFrame:
        if side == "shingles":
            return df.filter(F.col("ts").isNull() | (F.col("ts") >= cutoff))
        doomed = (
            spark.read.schema(_SHINGLES_SCHEMA)
            .parquet(_p(path, "shingles"))
            .filter(F.col("ts").isNotNull() & (F.col("ts") < cutoff))
            .select("id")
        )
        return df.join(doomed, "id", "left_anti")

    _rewrite_index_sides(spark, path, drop_expired)


def minhash_near_duplicates_incremental(
    new_docs: DataFrame,
    path: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_width: int = MAX_BUCKET_WIDTH,
    reliable: bool = False,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Verified near-dup pairs (id_a, id_b, jaccard), id_a < id_b,
    where AT LEAST ONE side is in ``new_docs`` — delta-vs-corpus and
    delta-internal — computed without re-signaturing the corpus.

    Re-ingest safety: a delta id that ALREADY exists in the stored
    index (same crawl replayed, an updated document) is resolved
    delta-wins — the stored band rows and shingle set for that id are
    anti-joined away against the (broadcast, batch-sized) delta id set
    before the union, so each candidate pair joins exactly one shingle
    row per side and no pair row is ever duplicated.  The index FILES
    are not modified here; ``append_to_minhash_index`` still requires
    disjoint ids (its docstring contract).

    Equivalence to the full run: for buckets below the width cap the
    result equals ``minhash_near_duplicates(corpus + delta)`` filtered
    to delta-touching pairs (per-document band rows and shingle sets
    are corpus-independent, and the width cap is applied to the UNION
    of stored and delta membership per bucket — the same membership the
    full run caps).  For buckets AT the cap the full run over a
    different historical split may keep different smallest-ids; cap
    semantics are per-run, documented not hidden.
    """
    from golang_cassandra_kafka_feed_spark.operators.graph import (
        _checkpointer,
    )

    spark = new_docs.sparkSession
    meta = read_index_meta(spark, path)
    # The delta's shingle rows are QUERY-transient (never persisted),
    # so the index's pinned ts_col is not required on the query input —
    # drop it from the row build (ts rides as NULL through the union).
    delta_bands, delta_shingles = _index_rows(
        new_docs, text_col, id_col, {**meta, "ts_col": None}
    )
    # The delta band frame feeds BOTH the hot-bucket broadcast and the
    # union membership; separately-referenced HOF-bearing subtrees never
    # reuse the exchange (ReuseExchange exprId trap), so materialize the
    # delta signature pass once — batch-sized, not corpus-sized.
    # ``reliable=True`` swaps executor-memory localCheckpoint for
    # durable parquet under ``checkpoint_dir`` (the cluster mode the
    # other minhash entry points thread through).  Local mode
    # checkpoints LAZILY (r11): the eager form scheduled the
    # materialization as its own driver job followed by a ~0.5 s
    # planning gap before the main query's first stage; lazy defers it
    # into the hot-bucket broadcast build (the first consumer), same
    # single materialization.
    if reliable:
        delta_bands = _checkpointer(delta_bands, True, checkpoint_dir)(
            delta_bands
        )
    else:
        delta_bands = delta_bands.localCheckpoint(eager=False)
    stored_bands = spark.read.schema(_BANDS_SCHEMA).parquet(
        _p(path, "bands")
    )

    # Delta-wins id resolution (re-ingest safety, docstring above): the
    # delta id set is batch-sized, so both anti-joins broadcast it —
    # the stored sides never shuffle for this.  Derived from new_docs,
    # NOT delta_bands: a delta row whose text shingles to nothing
    # (NULL/empty text — a replayed page that now fails extraction)
    # produces zero band rows, but its STALE stored copy must still
    # lose (review-found, round 8).
    # No .distinct() on either broadcast side (r12): semi/anti join
    # semantics are insensitive to build-side duplicates (a left row
    # matches ANY or NO build row), and both sides are batch-bounded —
    # the dedup bought nothing while costing an exchange plus two
    # HashAggregates (and their AQE stage job) per side.
    delta_ids = new_docs.select(
        F.col(id_col).cast("long").alias("id")
    )

    # The delta's bucket keys are small (batch-sized): broadcast them
    # so the stored index is pruned by a semi-join with NO shuffle of
    # the index — and carry bucket_mod so partition pruning can drop
    # whole directories before the scan.
    hot = delta_bands.select("bucket_mod", "band", "bucket")
    relevant = stored_bands.join(
        F.broadcast(hot), ["bucket_mod", "band", "bucket"], "left_semi"
    ).join(F.broadcast(delta_ids), "id", "left_anti")

    members = relevant.withColumn("is_new", F.lit(False)).unionByName(
        delta_bands.withColumn("is_new", F.lit(True))
    )
    # Width cap over the COMBINED membership — identical truncation to a
    # full run whose bucket membership is the same union.
    capped = _cap_bucket_width(
        members, ["band", "bucket"], "id", max_bucket_width, None
    )
    buckets = (
        capped.groupBy("band", "bucket")
        .agg(F.collect_list(F.struct("id", "is_new")).alias("ms"))
        .filter(
            (F.size("ms") > 1)
            & F.exists("ms", lambda m: m["is_new"])
        )
    )
    cands = (
        buckets.select(F.explode("ms").alias("a"), "ms")
        .select("a", F.explode("ms").alias("b"))
        .filter(F.col("a.id") < F.col("b.id"))
        .filter(F.col("a.is_new") | F.col("b.is_new"))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .distinct()
    )
    stored_shingles = spark.read.schema(_SHINGLES_SCHEMA).parquet(
        _p(path, "shingles")
    )
    # Verification needs each candidate id's shingle set exactly once;
    # delta ids resolve from the delta frame (delta-wins — stored rows
    # for re-ingested ids are anti-joined away), corpus ids from the
    # stored table pruned to candidate ids (semi-join — the corpus-sized
    # side never fans out).
    sets = stored_shingles.join(
        F.broadcast(delta_ids), "id", "left_anti"
    ).unionByName(delta_shingles)
    if reliable:
        # Cluster shape (r12): the sets union is referenced once per
        # pair side, so the plan otherwise scans the corpus-sized
        # shingle table TWICE and ships every never-joined shingle
        # payload through the joins.  Materialize the candidate pairs
        # (batch-bounded), prune sets to candidate ids with a broadcast
        # semi-join at the scan — heavy payloads move zero times
        # (guide §8) — and checkpoint the candidate-sized survivors so
        # both verify joins read the same materialization.  Local mode
        # keeps the flat inline plan: the measured local cost of the
        # extra sequential checkpoint jobs exceeds the one saved scan
        # (job_profile: 12 -> 18 jobs, wall +0.3-0.5 s per key at
        # sf0.1), while at cluster scale the saved corpus scan + the
        # avoided payload movement dominate.
        cands = _checkpointer(cands, True, checkpoint_dir)(cands)
        cand_ids = cands.select(
            F.explode(F.array("id_a", "id_b")).alias("id")
        ).distinct()
        sets = sets.join(F.broadcast(cand_ids), "id", "left_semi")
        sets = _checkpointer(sets, True, checkpoint_dir)(sets)
    return (
        cands.join(
            sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        )
        .join(
            sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
