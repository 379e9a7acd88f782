"""Sink tests (reference op #37 CSV export + columnar roundtrips)."""

from __future__ import annotations

from golang_cassandra_kafka_feed_spark.functions import exact_percentiles
from golang_cassandra_kafka_feed_spark.sources.sinks import (
    write_csv,
    write_json_lines,
)
from golang_cassandra_kafka_feed_spark.sources.testdata import load_table


def test_csv_export_roundtrip(spark, sf_dir, tmp_path):
    """The e2e_bench CSV export shape: stats out, header, single file."""
    stats = exact_percentiles(
        load_table(spark, sf_dir, "events"), "value", by=["event_type"]
    )
    out = str(tmp_path / "latencies")
    write_csv(stats, out, single_file=True)
    back = spark.read.option("header", "true").csv(out)
    assert back.columns == stats.columns
    assert back.count() == stats.count()
    files = [
        p for p in (tmp_path / "latencies").iterdir() if p.suffix == ".csv"
    ]
    assert len(files) == 1  # single-file export


def test_csv_hazard_roundtrip(spark, tmp_path):
    """Value-exact CSV roundtrip through the pinned writer+reader pair
    for the strings CSV is most likely to mangle — embedded commas,
    quotes, NEWLINES (multiLine=true on the pinned reader),
    leading/trailing spaces, unicode, and NULL-vs-empty (the \\N null
    token vs quoted-"" empty keeps them distinct — round-7 advice
    closed both silent mutation channels).  The q113 fidelity query
    rides this exact reader."""
    from golang_cassandra_kafka_feed_spark.sources.sinks import read_csv

    rows = [
        (1, "plain"),
        (2, "comma,inside"),
        (3, 'quote"inside'),
        (4, '"fully quoted"'),
        (5, "  padded  "),
        (6, "précis 数据 🙂"),
        (7, ""),
        (8, None),
        (9, "trailing\\backslash"),
        (10, "semi;colon\ttab"),
        (11, "first line\nsecond line\r\nthird"),
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    out = str(tmp_path / "hazard")
    write_csv(df, out)
    back = read_csv(spark, out, "id long, s string")
    got = {r.id: r.s for r in back.collect()}
    assert got == dict(rows)


def test_csv_null_vs_empty_roundtrip(spark, tmp_path):
    """NULL and '' are distinct values and must come back as
    themselves.  One reserved token: a data string EQUAL to the \\N
    null token itself reads back as NULL (the writer emits it
    unquoted, indistinguishable from a written null — the same
    reservation Hive's text serde makes)."""
    from golang_cassandra_kafka_feed_spark.sources.sinks import read_csv

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, " "), (4, "\\N")], "id long, s string"
    )
    out = str(tmp_path / "null_empty")
    write_csv(df, out)
    got = {r.id: r.s for r in read_csv(spark, out, "id long, s string").collect()}
    assert got[1] is None
    assert got[2] == ""
    assert got[3] == " "
    assert got[4] is None  # the documented token reservation


def test_orc_roundtrip_value_exact(spark, tmp_path):
    from golang_cassandra_kafka_feed_spark.sources.sinks import write_orc

    rows = [
        (1, "a", 1.5, True),
        (2, 'q"c,', None, False),
        (3, None, -0.0, None),
    ]
    df = spark.createDataFrame(rows, "id long, s string, d double, b boolean")
    out = str(tmp_path / "orc")
    write_orc(df, out)
    back = sorted(
        (tuple(r) for r in spark.read.orc(out).collect()),
    )
    assert back == sorted(rows)


def test_json_lines_roundtrip(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    out = str(tmp_path / "docs")
    write_json_lines(docs, out)
    back = spark.read.json(out)
    assert back.count() == docs.count()


def test_ensure_bucketed_table_memoizes_within_session(spark, tmp_path):
    """Second ensure call must serve from the catalog without
    rewriting (file mtimes unchanged); overwrite only on a cold
    catalog."""
    import os

    from golang_cassandra_kafka_feed_spark.sources.sinks import (
        ensure_bucketed_table,
    )

    df = spark.range(100).withColumnRenamed("id", "k")
    path = str(tmp_path / "ens")
    try:
        t1 = ensure_bucketed_table(
            spark, df, "gckfs_test_ensure", path, ["k"], 4, ["k"]
        )
        assert t1.count() == 100
        mtimes = {
            f: os.path.getmtime(os.path.join(path, f))
            for f in os.listdir(path)
        }
        t2 = ensure_bucketed_table(
            spark, df, "gckfs_test_ensure", path, ["k"], 4, ["k"]
        )
        assert t2.count() == 100
        assert mtimes == {
            f: os.path.getmtime(os.path.join(path, f))
            for f in os.listdir(path)
        }, "second ensure rewrote a memoized table"
    finally:
        spark.sql("DROP TABLE IF EXISTS gckfs_test_ensure")


def test_ensure_bucketed_table_reregisters_committed_layout(
    spark, tmp_path
):
    """A session whose catalog lacks the table but whose path carries
    the commit marker must REGISTER the existing files, never
    overwrite them out from under a concurrent reader (review-found).
    The re-registered table keeps the bucket spec: same rows, and a
    self-join on the bucket key plans with no Exchange."""
    import os

    from golang_cassandra_kafka_feed_spark.sources.sinks import (
        ensure_bucketed_table,
    )

    df = spark.range(100).withColumnRenamed("id", "k")
    path = str(tmp_path / "ens2")
    try:
        ensure_bucketed_table(
            spark, df, "gckfs_test_ens2", path, ["k"], 4, ["k"]
        )
        assert os.path.exists(path + "/_BUCKETED_COMMITTED")
        mtimes = {
            f: os.path.getmtime(os.path.join(path, f))
            for f in os.listdir(path)
        }
        # simulate a fresh application: catalog entry gone, files live
        spark.sql("DROP TABLE gckfs_test_ens2")
        t = ensure_bucketed_table(
            spark, df, "gckfs_test_ens2", path, ["k"], 4, ["k"]
        )
        assert t.count() == 100
        assert mtimes == {
            f: os.path.getmtime(os.path.join(path, f))
            for f in os.listdir(path)
        }, "re-register overwrote a committed layout"
        joined = t.alias("a").join(t.alias("b").hint("merge"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, (
            f"re-registered bucketed join shuffles:\n{plan}"
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS gckfs_test_ens2")


def test_ensure_bucketed_table_locks_inside_its_store(
    spark, tmp_path, monkeypatch
):
    """The build lock lives in the store directory, where a cleaner that
    skips stores with a live lease can see it, and nothing is left in
    the parent directory."""
    import glob

    from golang_cassandra_kafka_feed_spark.feed.lock import lease_state
    from golang_cassandra_kafka_feed_spark.sources import sinks

    path = str(tmp_path / "gckfs_ens3")
    seen = {}
    real_write = sinks.write_bucketed

    def observing_write(*args, **kwargs):
        seen["parent"] = glob.glob(str(tmp_path / ".*.lock"))
        seen["store"] = [
            lease_state(lock)[0] for lock in glob.glob(path + "/.*.lock")
        ]
        real_write(*args, **kwargs)

    monkeypatch.setattr(sinks, "write_bucketed", observing_write)
    df = spark.range(20).withColumnRenamed("id", "k")
    try:
        sinks.ensure_bucketed_table(
            spark, df, "gckfs_test_ens3", path, ["k"], 4, ["k"]
        )
        assert seen["parent"] == [], "build lock left in the parent dir"
        assert seen["store"] == ["live"], "no live lease in the store dir"
        assert glob.glob(str(tmp_path / ".*")) == []
    finally:
        spark.sql("DROP TABLE IF EXISTS gckfs_test_ens3")


def test_csv_multi_file_roundtrip_value_exact(spark, tmp_path):
    """maxRecordsPerFile bounds every CSV file (the multiLine reader
    makes files unsplittable, so bounded files = bounded serialism);
    a roundtrip across MANY small files must stay value-exact,
    including the NULL/empty/newline hazards."""
    import glob

    from golang_cassandra_kafka_feed_spark.sources.sinks import (
        read_csv,
        write_csv,
    )

    rows = [
        (i, None if i % 7 == 0 else ("" if i % 5 == 0 else f"v{i}\nx"))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id long, s string").coalesce(1)
    path = str(tmp_path / "multi")
    write_csv(df, path, max_records_per_file=25)
    files = glob.glob(path + "/*.csv")
    assert len(files) >= 8, f"cap did not split: {len(files)} files"
    back = read_csv(spark, path, "id long, s string")
    assert sorted(map(tuple, back.collect())) == sorted(rows)
