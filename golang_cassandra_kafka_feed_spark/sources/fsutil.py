"""URI-aware filesystem helpers for table stores.

``os.path.exists`` is the wrong existence probe for a Spark table path:
it only understands the driver's local filesystem, so on the HDFS/S3
deployments these stores target it returns False for every URI and a
store would silently treat ALL of its state as empty — accepting every
duplicate and breaking replay idempotency without a single error.
These helpers go through the Hadoop FileSystem API bound to the
session's configuration (works for file://, hdfs://, s3a://, ...),
falling back to ``os.path`` only if the JVM gateway is unavailable.
"""

from __future__ import annotations

import hashlib
import posixpath
import re

from pyspark.sql import DataFrame, SparkSession


def hadoop_fs(spark: SparkSession, path: str):
    """``(fs, hpath)``: the Hadoop FileSystem serving ``path`` under the
    session's configuration, and ``path`` as a Hadoop ``Path``."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)  # type: ignore[union-attr]
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p  # type: ignore[union-attr]


def path_exists(spark: SparkSession, path: str) -> bool:
    try:
        fs, p = hadoop_fs(spark, path)
    except Exception:
        # JVM gateway genuinely unavailable — local-path fallback only
        import os

        return os.path.exists(path)
    # NOT wrapped: a transient remote error (credential refresh, network
    # timeout) must PROPAGATE, not read as "missing" — a False here is
    # what lets a store treat its populated state as empty and commit
    # duplicates.
    return bool(fs.exists(p))


def read_stream(jvm, stream) -> bytes:
    """Every remaining byte of a JVM ``InputStream`` in ONE Py4J call.

    ``InputStream.readAllBytes()`` is Java 9+, and a per-byte ``read()``
    loop costs one Py4J round trip PER BYTE; commons-io ships with Spark
    and its ``toByteArray`` runs on Java 8.  The caller closes the
    stream."""
    return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))


def write_marker(spark: SparkSession, path: str, content: str = "") -> None:
    """Write a tiny marker file through the Hadoop FS API (file://,
    hdfs://, s3a://, ...), truncating any previous content."""
    fs, p = hadoop_fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def store_path(name: str, files: list[str], *params) -> str:
    """``/tmp/gckfs_<name>_<key>``, the home of a cross-run store: the
    key is the md5 of the sorted input files and the build parameters,
    so a different corpus, scale factor or parameter never serves a
    stale store."""
    key = "|".join(sorted(files) + [str(p) for p in params])
    return f"/tmp/gckfs_{name}_{hashlib.md5(key.encode()).hexdigest()[:12]}"


def build_once(spark: SparkSession, marker: str, build) -> None:
    """Create-if-absent build of the store in ``marker``'s directory.

    The one protocol of every create-if-absent store: when ``marker`` is
    absent, take ``table_lock`` in its directory, re-check the marker
    under the lock, run ``build()`` and write the marker LAST.  A
    concurrent session waits on the lock, then finds the marker and
    leaves the store alone, so no build overwrites files another session
    is reading; a crash before the marker leaves none, and the next
    call builds from scratch.  A build may commit the marker itself as
    its own last step (the MinHash index's ``meta``).

    The caller owns staleness (``store_path``) and the store's layout:
    ``build`` writes below the marker's directory without clearing it,
    since the lock file lives there."""
    if path_exists(spark, marker):
        return
    from golang_cassandra_kafka_feed_spark.feed.lock import table_lock

    with table_lock(posixpath.dirname(marker), "build"):
        if not path_exists(spark, marker):
            build()
            if not path_exists(spark, marker):
                write_marker(spark, marker)


def materialize_once(spark: SparkSession, path: str, build) -> DataFrame:
    """A create-if-absent parquet store at ``path/data`` of the
    DataFrame ``build()`` returns (``build_once``, marker
    ``_STAGE_COMMITTED``); every caller answers from the parquet.  The
    build must be deterministic, and ``path`` comes from
    ``store_path``."""
    data = path.rstrip("/") + "/data"
    build_once(
        spark,
        path.rstrip("/") + "/_STAGE_COMMITTED",
        lambda: build().write.mode("overwrite").parquet(data),
    )
    return spark.read.parquet(data)


def write_marker_atomic(
    spark: SparkSession, path: str, content: str
) -> None:
    """Pointer-marker write that can never expose PARTIAL content.

    ``write_marker`` truncates then writes, so a crash mid-write can
    leave a prefix of the content — for a pointer whose content IS the
    commit (the streaming rollup's ``_CURRENT``) a valid-looking
    prefix is a silent rewind (review-found: '1' surviving from
    '12:adhoc').  Here the content lands in a temp file first and the
    pointer path is replaced by rename; the crash windows are then
    "old pointer" (a replay-safe no-op) or "missing pointer" (callers
    recover from their version dirs), never "garbled pointer".

    HDFS-semantics filesystems refuse to rename onto an existing path,
    so the old pointer is deleted first; that delete→rename gap is the
    "missing pointer" window above — safe by construction for callers
    that treat absence as recover-from-state."""
    fs, p = hadoop_fs(spark, path)
    tmp = p.suffix(".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()
    if fs.exists(p):
        fs.delete(p, False)
    if not fs.rename(tmp, p):
        raise IOError(f"rename {path}.tmp -> {path} failed")


def read_marker(spark: SparkSession, path: str) -> str | None:
    """Read a marker's content back (None when absent) — the resolve
    side of ``write_marker``, for pointer markers whose CONTENT is the
    commit (e.g. the streaming rollup's _CURRENT version)."""
    if not path_exists(spark, path):
        return None
    fs, p = hadoop_fs(spark, path)
    stream = fs.open(p)
    try:
        return read_stream(spark._jvm, stream).decode("utf-8")
    finally:
        stream.close()


def local_path(path: str) -> str | None:
    """The local filesystem path behind ``path``: a bare path as is, a
    ``file:`` URI (``file:///x`` or Hadoop's ``file:/x``) as ``/x``, and
    None for any other scheme (``hdfs://``, ``s3a://``, ...), which only
    the Hadoop FileSystem API reaches."""
    for prefix in ("file://", "file:"):
        if path.startswith(prefix):
            return path[len(prefix):]
    if re.match(r"[A-Za-z][A-Za-z0-9+.-]*://", path):
        return None
    return path


def _swap_dir(path: str) -> str:
    """The local directory behind ``path`` for a staged swap
    (``local_path``).  Other schemes are refused: the swap moves
    directories with ``os.rename``, which cannot reach a remote store."""
    local = local_path(path)
    if local is None:
        raise NotImplementedError(
            f"staged swap of {path!r} needs a local path (it moves "
            "directories with os.rename)"
        )
    return local


def heal_swap(path: str) -> bool:
    """Finish the crash window of ``swap_in``: if the directory at
    ``path`` is missing and its ``.old`` copy is present, a previous swap
    died between its two renames, and ``.old`` is the committed copy, so
    it moves back.  True if the directory exists afterwards."""
    import os

    live = _swap_dir(path)
    old = live + ".old"
    if not os.path.exists(live) and os.path.exists(old):
        os.rename(old, live)
    return os.path.exists(live)


def swap_in(path: str, write) -> str:
    """Replace the directory at ``path`` with what ``write(staging)``
    writes to a sibling staging directory, and return the local path.

    Staged write, then a rename-aside swap: the live directory moves to
    ``.old``, the staging one moves in, and ``.old`` is dropped.  The
    committed data is never the subject of an in-progress delete, and
    ``heal_swap`` repairs a crash between the two renames.  Readers
    racing the renames can see a brief missing-path window, so this is
    local-mode maintenance; on a cluster rewrite through a
    distributed-FS commit instead.  Call ``heal_swap`` first."""
    import os
    import shutil

    live = _swap_dir(path)
    staging, old = live + ".compact", live + ".old"
    shutil.rmtree(staging, ignore_errors=True)
    # a leftover .old next to a live directory is debris of a crash
    # after a completed swap
    shutil.rmtree(old, ignore_errors=True)
    write(staging)
    os.rename(live, old)
    os.rename(staging, live)
    shutil.rmtree(old, ignore_errors=True)
    return live
