"""Batch sinks (reference op #37: CSV export of bench latencies,
bench/e2e_bench/e2e_bench.go:246-255, http_load.go:162-176 — plus the
standard columnar formats).

Scale note: ``single_file=True`` coalesces to one partition — only for
small report exports (the reference's use case); bulk data stays
multi-file parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# NULL and empty-string must survive a CSV roundtrip as DISTINCT values.
# Spark's defaults conflate them on read (reader nullValue is the empty
# string, so an unquoted empty field — the writer's default null
# rendering — and a genuinely empty string can collapse to NULL).  Pin
# an explicit out-of-band null token on BOTH sides and keep the quoted
# `""` empty rendering; test_sinks.py::test_csv_null_vs_empty_roundtrip
# proves the two come back as themselves (round-7 advice).
_CSV_NULL_TOKEN = "\\N"
_CSV_EMPTY_TOKEN = '""'


def write_csv(
    df: DataFrame,
    path: str,
    single_file: bool = False,
    header: bool = True,
    max_records_per_file: int = 1_000_000,
) -> None:
    """``max_records_per_file`` bounds every output file (review-found
    scale note): the reader twin runs ``multiLine=true``, which makes
    each CSV FILE unsplittable, so read parallelism = file count —
    bounding the writer is what keeps "unsplittable" meaning "small"
    at corpus scale instead of one giant serial file per task.  The
    cap is per-file, not per-task: a task over the cap rolls to a new
    file, so the bound holds regardless of upstream partitioning.
    ``single_file=True`` (small report exports) ignores the cap."""
    out = df.coalesce(1) if single_file else df
    # Spark's CSV WRITER trims leading/trailing whitespace by default
    # (ignore*WhiteSpace default true on write, false on read) — a
    # silent value mutation a fidelity sink must not make; pinned off
    # by test_sinks.py::test_csv_hazard_roundtrip.
    w = (
        out.write.mode("overwrite")
        .option("header", str(header).lower())
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .option("nullValue", _CSV_NULL_TOKEN)
        .option("emptyValue", _CSV_EMPTY_TOKEN)
    )
    if not single_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.csv(path)


def read_csv(
    spark: SparkSession, path: str, schema: str, header: bool = True
) -> DataFrame:
    """The reader twin of ``write_csv`` — every fidelity-relevant option
    pinned to mirror the writer, so roundtrips are value-exact:
    explicit schema (schema-on-read is part of the contract, never
    inference), the same null/empty tokens, whitespace trimming off,
    and ``multiLine`` on so text containing embedded newlines parses as
    one record instead of corrupting the frame.

    Scale note: ``multiLine=true`` makes each CSV FILE unsplittable
    (record boundaries can no longer be found mid-file), so read
    parallelism = file count.  Fine here because ``write_csv`` emits
    one file per task; a single giant multiline CSV would serialize
    onto one task — ingest such data once and convert to parquet."""
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .option("nullValue", _CSV_NULL_TOKEN)
        # asymmetric on purpose: WRITE emptyValue is the rendered token
        # (the quoted `""`), READ emptyValue is the value a quoted-empty
        # field becomes — the empty string itself.
        .option("emptyValue", "")
        .option("multiLine", "true")
        .csv(path)
    )


def write_json_lines(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC dataset writer (Spark-native, no extra jars) — the columnar
    interchange format for Hive-ecosystem consumers; fidelity proven by
    the q113 roundtrip against the parquet ground truth."""
    df.write.mode("overwrite").orc(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed table writer — the co-located-join layout for repeated
    big joins at 100 TB: two tables bucketed by the same key into the
    same bucket count sort-merge-join with NO Exchange on either side
    (Spark matches HashPartitioning(bucket_cols, n_buckets) against the
    join's required distribution), and with ``sort_cols`` == join keys
    the per-bucket sort is elided too — the shuffle cost is paid once at
    write time and amortized over every subsequent join/aggregation on
    that key (asserted mechanically in
    test_physical_plans.py::test_bucketed_join_elides_exchange).

    Registered as an EXTERNAL table at ``path`` (bucket metadata lives
    in the session catalog; the default in-memory catalog needs no Hive
    metastore).  The Cassandra analog is the reference's
    partition-key-shaped tables (cql:1-37): layout chosen once, at
    design time, so reads never reshuffle.
    """
    w = df.write.mode(mode).option("path", path).bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def _register_existing_bucketed(
    spark: SparkSession,
    schema_ddl: str,
    table: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None,
) -> None:
    """Catalog-register an ALREADY-BUILT bucketed layout at ``path``
    without touching its files (a no-op when the table is registered)
    — rewriting them would yank the layout out from under a session
    that is reading it."""
    sort = (
        f" SORTED BY ({', '.join(sort_cols)})" if sort_cols else ""
    )
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {table} ({schema_ddl}) USING PARQUET "
        f"CLUSTERED BY ({', '.join(bucket_cols)}){sort} "
        f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
    )


def ensure_bucketed_table(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Create-if-absent wrapper around ``write_bucketed`` returning the
    catalog-backed DataFrame.  The files are built once per ``path``
    (``fsutil.build_once``, marker ``_BUCKETED_COMMITTED``) into
    ``path/data``, so the build lock lives in the store directory and
    the overwrite never clears it.  Bucket metadata lives in the
    SESSION catalog (the in-memory default has no cross-session
    persistence), so a session that finds the layout committed by
    another registers the existing files in its own catalog without
    touching them; every later read in the session joins shuffle-free.
    ``path`` comes from ``fsutil.store_path``, so a different scale
    factor never serves a stale layout."""
    if not spark.catalog.tableExists(table):
        from golang_cassandra_kafka_feed_spark.sources.fsutil import (
            build_once,
        )

        data = path.rstrip("/") + "/data"
        build_once(
            spark,
            path.rstrip("/") + "/_BUCKETED_COMMITTED",
            lambda: write_bucketed(
                df, table, data, bucket_cols, n_buckets, sort_cols
            ),
        )
        _register_existing_bucketed(
            spark,
            df.schema.toDDL(),
            table,
            data,
            bucket_cols,
            n_buckets,
            sort_cols,
        )
    return spark.table(table)
