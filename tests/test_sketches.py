"""Sketch operators vs their exact counterparts, within the sketches'
error bounds."""

from __future__ import annotations

from pyspark.sql import functions as F

from golang_cassandra_kafka_feed_spark.sources.testdata import load_table


def test_kmv_distinct_error_bound(spark, sf_dir):
    """KMV estimate within 4 RSE (~25% at k=256) of truth on an
    estimation-path column; deterministic across runs."""
    from golang_cassandra_kafka_feed_spark.operators.sketches import (
        kmv_distinct,
    )

    ev = load_table(spark, sf_dir, "events")
    true = ev.select("event_id").distinct().count()
    est1 = kmv_distinct(ev, "event_id").collect()[0].est_distinct
    est2 = kmv_distinct(ev, "event_id").collect()[0].est_distinct
    assert est1 == est2  # deterministic, unlike a seeded-random sketch
    assert abs(est1 - true) / true < 4 / (256 - 2) ** 0.5


def test_kmv_distinct_exact_below_k(spark, sf_dir):
    """Fewer than k distinct values -> the count is exact, per group."""
    from golang_cassandra_kafka_feed_spark.operators.sketches import (
        kmv_distinct,
    )

    ev = load_table(spark, sf_dir, "events")
    got = {
        r.event_type: r.est_distinct
        for r in kmv_distinct(ev, "user_id", by=["event_type"]).collect()
    }
    want = {
        r.event_type: float(r.n)
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == want


def test_bloom_fp_audit_no_false_negatives_and_real_fps(spark, sf_dir):
    from golang_cassandra_kafka_feed_spark.operators.sketches import (
        bloom_fp_audit,
    )
    from golang_cassandra_kafka_feed_spark.sources.testdata import (
        load_table,
    )

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    rows = bloom_fp_audit(c, o, "c_custkey", "o_custkey").collect()
    assert rows
    # no false negatives: every exact member is a bloom-maybe
    assert all(r.bloom_maybe for r in rows if r.exact_member)
    # fp flag consistent
    assert all(
        r.is_false_positive == (r.bloom_maybe and not r.exact_member)
        for r in rows
    )
    # tight sizing yields a measurable-but-bounded FP rate among
    # non-members (when any exist at this SF)
    non = [r for r in rows if not r.exact_member]
    if len(non) >= 50:
        fp = sum(r.is_false_positive for r in non) / len(non)
        assert 0.0 < fp < 0.6, fp


def test_cms_overestimate_is_one_sided_and_exact_without_collisions(
    spark,
):
    """The CMS guarantee: estimates never UNDERcount; with far fewer
    distinct tokens than buckets, collisions are unlikely across all
    d rows, so the min-of-counters recovers exact counts for a small
    vocabulary."""
    from golang_cassandra_kafka_feed_spark.operators.sketches import (
        cms_topk_audit,
    )

    d = spark.createDataFrame(
        [(0, "apple apple pear"), (1, "apple plum"), (2, "pear pear")],
        "doc_id bigint, text string",
    )
    rows = {r.token: r for r in cms_topk_audit(d, k=10).collect()}
    assert set(rows) == {"apple", "pear", "plum"}
    assert all(r.overestimate >= 0 for r in rows.values())
    assert rows["apple"].n_exact == 3 and rows["pear"].n_exact == 3
    # 3 distinct tokens vs 4x256 counters: min-of-rows is exact
    assert all(r.n_est == r.n_exact for r in rows.values())


def test_cms_audit_top_k_cut_is_deterministic(spark):
    from golang_cassandra_kafka_feed_spark.operators.sketches import (
        cms_topk_audit,
    )

    d = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(5)],
        "doc_id bigint, text string",
    )
    out = [r.token for r in cms_topk_audit(d, k=2).collect()]
    # all counts tie at 5 -> lexicographic tiebreak pins the cut
    assert out == ["alpha", "beta"]
