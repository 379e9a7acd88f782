from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = str(Path(__file__).resolve().parent.parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    """One session for the whole suite, four task slots and four shuffle
    partitions whatever the host: the test tables are a few hundred rows,
    so every extra partition is pure per-task cost (one more Python
    worker round trip per scan of a list-built DataFrame, one more state
    store per stateful micro-batch).  On 4 vCPUs the whole suite took
    959 s this way against 2161 s with eight slots and partitions.
    test_determinism still runs every query at 3 and 17 partitions."""
    from golang_cassandra_kafka_feed_spark.session import get_spark

    spark = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the testdata tables registered as views,
    mirroring the driver's oracle environment."""
    import duckdb

    from golang_cassandra_kafka_feed_spark.sources.testdata import (
        TESTDATA_TABLES,
    )

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()
