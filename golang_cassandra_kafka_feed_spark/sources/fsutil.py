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

from pyspark.sql import SparkSession


def path_exists(spark: SparkSession, path: str) -> bool:
    try:
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)  # type: ignore[union-attr]
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())  # type: ignore[union-attr]
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
    """Write a tiny commit-marker file through the Hadoop FS API
    (file://, hdfs://, s3a://, ...).  Write the marker LAST, after
    every step it vouches for: ``path_exists(marker)`` then means the
    whole multi-step operation completed, and a crash anywhere before
    leaves no marker so the caller redoes the operation from scratch
    (the minhash-index meta pattern, reusable for composite steps like
    build-then-delete)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)  # type: ignore[union-attr]
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())  # type: ignore[union-attr]
    out = fs.create(p, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def materialize_once(spark: SparkSession, path: str, build) -> "object":
    """Create-if-absent parquet materialization of a DETERMINISTIC
    stage: build once under the table lock + commit marker (the
    q110/q124 idiom — concurrent sessions wait, then find the marker
    and read; never overwrite files another session is reading), then
    every caller answers from the parquet.

    The caller owns staleness: embed the input-file list and stage
    parameters in ``path`` (the md5-key idiom) so different inputs can
    never serve a stale artifact.  ``build`` is a zero-arg callable
    returning the DataFrame to persist.  This is the production shape
    for shared derived artifacts at 100 TB — a pair graph or component
    labeling consumed by several curation stages is computed once and
    amortized, not re-derived per consumer."""
    marker = path.rstrip("/") + "/_STAGE_COMMITTED"
    if not path_exists(spark, marker):
        from golang_cassandra_kafka_feed_spark.feed.lock import (
            table_lock,
        )

        with table_lock(path, "stage_build"):
            if not path_exists(spark, marker):
                build().write.mode("overwrite").parquet(
                    path.rstrip("/") + "/data"
                )
                write_marker(spark, marker, "")
    return spark.read.parquet(path.rstrip("/") + "/data")


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
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)  # type: ignore[union-attr]
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())  # type: ignore[union-attr]
    tmp = jvm.org.apache.hadoop.fs.Path(  # type: ignore[union-attr]
        path + ".tmp"
    )
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
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)  # type: ignore[union-attr]
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())  # type: ignore[union-attr]
    stream = fs.open(p)
    try:
        return read_stream(jvm, stream).decode("utf-8")
    finally:
        stream.close()
