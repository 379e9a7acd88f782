"""Hand-computed tests for the event-sequence analytics operators."""

from __future__ import annotations

import datetime as dt

from golang_cassandra_kafka_feed_spark.operators.events import (
    cohort_retention,
    funnel_counts,
)


def _ev(spark, rows):
    return spark.createDataFrame(
        [(u, t, dt.datetime(2026, 1, 1) + dt.timedelta(days=d)) for u, t, d in rows],
        "user_id long, event_type string, ts timestamp",
    )


def test_funnel_requires_order(spark):
    ev = _ev(
        spark,
        [
            (1, "signup", 0), (1, "view", 1), (1, "click", 2),   # full prefix 3
            (2, "view", 0), (2, "signup", 1),                    # out of order: stops at signup
            (3, "signup", 0),                                    # stops after signup
            (4, "click", 0),                                     # never signed up
        ],
    )
    out = {r.step: r.n_users for r in funnel_counts(ev, ["signup", "view", "click"]).collect()}
    assert out == {"signup": 3, "view": 1, "click": 1}


def test_funnel_strictly_after(spark):
    # same-timestamp step does NOT count as progression
    ev = _ev(spark, [(1, "signup", 0), (1, "view", 0)])
    out = {r.step: r.n_users for r in funnel_counts(ev, ["signup", "view"]).collect()}
    assert out == {"signup": 1, "view": 0}


def test_funnel_sequential_not_first_timestamp(spark):
    """A later step event BEFORE the user's first step-0 event must not
    block completion: purchase@1, signup@2, purchase@3 completes
    signup->purchase via (2, 3) — comparing first timestamps only
    would miss it (regression for the sequential-chain fix)."""
    ev = _ev(
        spark,
        [(1, "purchase", 1), (1, "signup", 2), (1, "purchase", 3)],
    )
    out = {
        r.step: r.n_users
        for r in funnel_counts(ev, ["signup", "purchase"]).collect()
    }
    assert out == {"signup": 1, "purchase": 1}


def test_funnel_empty_input_yields_zero_not_null(spark):
    ev = _ev(spark, [(1, "other", 0)])
    out = {
        r.step: r.n_users
        for r in funnel_counts(ev, ["signup", "view"]).collect()
    }
    assert out == {"signup": 0, "view": 0}
    assert all(v is not None for v in out.values())


def test_funnel_quoted_step_names_are_data(spark):
    """A step name containing a quote must not break (or alter) the
    generated plan — names are lit columns, not interpolated SQL."""
    ev = _ev(spark, [(1, "sign'up", 0), (1, "vi'ew", 1), (2, "sign'up", 0)])
    out = {
        r.step: r.n_users
        for r in funnel_counts(ev, ["sign'up", "vi'ew"]).collect()
    }
    assert out == {"sign'up": 2, "vi'ew": 1}


def test_cohort_retention_triangle(spark):
    ev = _ev(
        spark,
        [
            (1, "view", 0), (1, "view", 7), (1, "view", 21),  # cohort w0: offsets 0,1,3
            (2, "view", 0),                                   # cohort w0: offset 0 only
            (3, "view", 7), (3, "view", 14),                  # cohort w1: offsets 0,1
        ],
    )
    rows = cohort_retention(ev, bucket="week").collect()
    # 2026-01-01 is a Thursday; its week starts Mon 2025-12-29
    w0, w1 = dt.date(2025, 12, 29), dt.date(2026, 1, 5)
    got = {(r.cohort, r.period_offset): (r.n_active, r.n_cohort) for r in rows}
    assert got == {
        (w0, 0): (2, 2),
        (w0, 1): (1, 2),
        (w0, 3): (1, 2),
        (w1, 0): (1, 1),
        (w1, 1): (1, 1),
    }


def test_scd2_intervals_chain_and_current(spark):
    from golang_cassandra_kafka_feed_spark.operators.events import (
        scd2_intervals,
    )

    ev = _ev(
        spark,
        [(1, "a", 0), (1, "b", 5), (1, "c", 9), (2, "x", 3)],
    ).withColumnRenamed("event_type", "val")
    rows = sorted(
        scd2_intervals(ev, ["user_id"], "ts", tie_cols=["val"]).collect(),
        key=lambda r: (r.user_id, r.valid_from),
    )
    u1 = [r for r in rows if r.user_id == 1]
    # contiguous chain: each valid_to == next valid_from; only last open
    assert [r.val for r in u1] == ["a", "b", "c"]
    assert u1[0].valid_to == u1[1].valid_from
    assert u1[1].valid_to == u1[2].valid_from
    assert [r.is_current for r in u1] == [False, False, True]
    u2 = [r for r in rows if r.user_id == 2]
    assert len(u2) == 1 and u2[0].is_current and u2[0].valid_to is None


def test_scd2_equal_ts_ties_pinned(spark):
    from golang_cassandra_kafka_feed_spark.operators.events import (
        scd2_intervals,
    )

    ev = _ev(spark, [(1, "b", 0), (1, "a", 0)]).withColumnRenamed(
        "event_type", "val"
    )
    rows = {
        r.val: r
        for r in scd2_intervals(ev, ["user_id"], "ts", tie_cols=["val"]).collect()
    }
    # tie order: 'a' before 'b'; 'b' wins the open interval, 'a' gets a
    # zero-length one (auditable, not dropped)
    assert rows["b"].is_current and not rows["a"].is_current
    assert rows["a"].valid_to == rows["a"].valid_from


def test_interval_join_overlap_exactly_once(spark):
    import datetime as dt

    from golang_cassandra_kafka_feed_spark.operators.range_join import (
        interval_join,
    )

    base = dt.datetime(2026, 1, 1)

    def t(h):
        return base + dt.timedelta(hours=h)

    left = spark.createDataFrame(
        [
            (1, 10, t(0), t(100)),   # long interval spanning many buckets
            (1, 11, t(200), t(201)),
            (2, 20, t(0), t(10)),
        ],
        "k long, lid long, ls timestamp, le timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, 30, t(50), t(60)),    # inside lid=10
            (1, 31, t(99), t(250)),   # overlaps BOTH lid=10 and lid=11
            (1, 32, t(300), t(301)),  # no overlap
            (2, 40, t(10), t(20)),    # touches lid=20 at the boundary
            (3, 50, t(0), t(1)),      # key mismatch
        ],
        "k long, rid long, rs timestamp, re timestamp",
    )
    rows = interval_join(
        left, right, ["k"], "ls", "le", "rs", "re",
        bucket_seconds=3600,  # small buckets: long intervals span ~100
    ).collect()
    got = sorted((r.lid, r.rid) for r in rows)
    # exactly once per overlapping pair, closed-interval boundary counts
    assert got == [(10, 30), (10, 31), (11, 31), (20, 40)]


def test_interval_join_null_ends(spark):
    """Open SCD2 intervals (valid_to NULL) must not vanish: fail fast
    without a sentinel; join correctly (and keep NULL in the output)
    with open_end_ts=."""
    import datetime as dt

    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from golang_cassandra_kafka_feed_spark.operators.range_join import (
        interval_join,
    )

    base = dt.datetime(2026, 1, 1)

    def t(h):
        return base + dt.timedelta(hours=h)

    left = spark.createDataFrame(
        [(1, 10, t(0), t(5)), (1, 11, t(5), None)],  # 11 = current row
        "k long, lid long, ls timestamp, le timestamp",
    )
    right = spark.createDataFrame(
        [(1, 30, t(2), t(3)), (1, 31, t(100), t(101))],
        "k long, rid long, rs timestamp, re timestamp",
    )
    with pytest.raises(SparkRuntimeException, match="open_end_ts"):
        interval_join(
            left, right, ["k"], "ls", "le", "rs", "re",
            bucket_seconds=3600,
        ).collect()
    rows = interval_join(
        left, right, ["k"], "ls", "le", "rs", "re",
        bucket_seconds=3600, open_end_ts="9999-12-31",
    ).collect()
    got = sorted((r.lid, r.rid) for r in rows)
    assert got == [(10, 30), (11, 31)], "open interval must match late rows"
    le_by_lid = {r.lid: r.le for r in rows}
    assert le_by_lid[11] is None, "sentinel must not leak into output"
    assert le_by_lid[10] == t(5)
    # NULL starts always fail fast
    left_ns = spark.createDataFrame(
        [(1, 12, None, t(5))],
        "k long, lid long, ls timestamp, le timestamp",
    )
    with pytest.raises(SparkRuntimeException, match="interval start"):
        interval_join(
            left_ns, right, ["k"], "ls", "le", "rs", "re",
            bucket_seconds=3600, open_end_ts="9999-12-31",
        ).collect()


def test_interval_join_open_x_open_ignores_midrange_sentinel(spark):
    """Two open intervals on the same key ALWAYS overlap; correctness
    must not depend on open_end_ts exceeding every start (round-4
    advice: the coalesce-to-sentinel predicate dropped open x open
    pairs for a mid-range sentinel)."""
    import datetime as dt

    from golang_cassandra_kafka_feed_spark.operators.range_join import (
        interval_join,
    )

    base = dt.datetime(2026, 1, 1)
    left = spark.createDataFrame(
        [(1, 10, base + dt.timedelta(days=400), None)],  # starts AFTER sentinel
        "k long, lid long, ls timestamp, le timestamp",
    )
    right = spark.createDataFrame(
        [(1, 30, base, None)],
        "k long, rid long, rs timestamp, re timestamp",
    )
    rows = interval_join(
        left, right, ["k"], "ls", "le", "rs", "re",
        bucket_seconds=3600, open_end_ts="2026-06-01",  # mid-range sentinel
    ).collect()
    assert [(r.lid, r.rid) for r in rows] == [(10, 30)]


def test_profile_and_quality_checks(spark):
    from pyspark.sql import functions as F

    from golang_cassandra_kafka_feed_spark.operators.profile import (
        profile_table,
        quality_checks,
    )

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", -5.0), (2, None, 3.0)],
        "id long, s string, v double",
    )
    prof = {r.column: r for r in profile_table(df).collect()}
    assert prof["id"].n_rows == 3 and prof["id"].n_distinct == 2
    assert prof["s"].n_null == 1 and prof["s"].min_val == "a"
    assert prof["v"].max_val == "10.0"
    checks = {
        r.check: r
        for r in quality_checks(
            df,
            [
                (
                    "pk_unique",
                    F.count("*") - F.countDistinct("id"),
                    F.col("measure") == 0,
                ),
                (
                    "v_positive",
                    F.sum((F.col("v") <= 0).cast("long")),
                    F.col("measure") == 0,
                ),
                (
                    "s_mostly_complete",
                    F.sum(F.col("s").isNull().cast("long")),
                    F.col("measure") <= 1,
                ),
            ],
        ).collect()
    }
    assert not checks["pk_unique"].passed and checks["pk_unique"].measure == 1.0
    assert not checks["v_positive"].passed
    assert checks["s_mostly_complete"].passed


def test_profile_and_checks_quoted_names_are_data(spark):
    """Column and check names containing quotes are data, not SQL."""
    from pyspark.sql import functions as F

    from golang_cassandra_kafka_feed_spark.operators.profile import (
        profile_table,
        quality_checks,
    )

    df = spark.createDataFrame([(1,), (2,)], ["the 'id'"])
    prof = {r.column: r for r in profile_table(df).collect()}
    assert prof["the 'id'"].n_distinct == 2
    # dotted names must profile the top-level column, not dot-parse
    df2 = spark.createDataFrame([(1, 5), (2, None)], ["a.b", "plain"])
    prof2 = {r.column: r for r in profile_table(df2).collect()}
    assert prof2["a.b"].n_distinct == 2 and prof2["plain"].n_null == 1
    checks = {
        r.check: r
        for r in quality_checks(
            df, [("it's unique", F.countDistinct("`the 'id'`"),
                  F.col("measure") == 2)]
        ).collect()
    }
    assert checks["it's unique"].passed


def test_q124_rollup_memoizes_and_prunes_history_from_the_live_scan(
    spark, sf_dir
):
    """Warm runs must serve the history from the stored rollup without
    rebuilding it (marker mtime unchanged) and push the tail predicate
    into the events scan (history bytes pruned by row-group stats)."""
    import glob
    import os

    from golang_cassandra_kafka_feed_spark.plans.queries import QUERIES

    q = QUERIES["q124_incremental_rollup"]
    r1 = q(spark, sf_dir)
    rows1 = sorted(map(tuple, r1.collect()))  # builds if absent
    marker = glob.glob("/tmp/gckfs_q124_rollup_*/_STAGE_COMMITTED")
    assert marker
    mt = max(os.path.getmtime(m) for m in marker)
    r2 = q(spark, sf_dir)
    assert sorted(map(tuple, r2.collect())) == rows1
    assert max(os.path.getmtime(m) for m in marker) == mt, (
        "warm run rebuilt the committed rollup"
    )
    plan = r2._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts" in plan, (
        f"tail predicate not pushed to the events scan:\n{plan}"
    )
