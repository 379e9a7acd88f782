"""Salted join/aggregation equivalence (skew mitigation operators)."""

from __future__ import annotations

from pyspark.sql import functions as F

from golang_cassandra_kafka_feed_spark.operators.skew import salted_join
from golang_cassandra_kafka_feed_spark.sources.testdata import load_table


def test_salted_join_equals_plain_join(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("custkey")
    )
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_name"
    )
    plain = {
        (r.o_orderkey, r.c_name)
        for r in orders.join(customer, "custkey").collect()
    }
    salted = {
        (r.o_orderkey, r.c_name)
        for r in salted_join(
            orders, customer, ["custkey"], salt=4,
            deterministic_by="o_orderkey",
        ).collect()
    }
    assert salted == plain


def test_salted_join_left_outer(spark):
    left = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (99, "d")], "k long, v string"
    )
    right = spark.createDataFrame([(1, "X"), (2, "Y")], "k long, w string")
    got = {
        (r.k, r.v, r.w)
        for r in salted_join(left, right, ["k"], salt=3, how="left").collect()
    }
    assert got == {(1, "a", "X"), (1, "b", "X"), (2, "c", "Y"), (99, "d", None)}


def test_salted_join_rejects_outer_modes(spark):
    """right/full outer would emit unmatched `other` rows once per salt
    replica — the operator must refuse those modes."""
    import pytest

    df = spark.createDataFrame([(1, "a")], "k long, v string")
    for how in ("right", "full", "outer", "right_outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(df, df, ["k"], how=how)
