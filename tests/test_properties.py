"""Property-based tests (hypothesis) against independent references:
numpy for the bench statistics, pandas.merge_asof for the as-of join,
pure-Python gap-island for sessionization.  Upgrades the reference's
example-based test strategy (SURVEY.md §5: no property tests there).
"""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from golang_cassandra_kafka_feed_spark.functions.stats import (
    exact_percentiles,
    trimmed_mean,
)
from golang_cassandra_kafka_feed_spark.operators.asof import asof_join
from golang_cassandra_kafka_feed_spark.operators.sessionize import sessionize
from golang_cassandra_kafka_feed_spark.operators.topk import top_k_per_key

# Spark-roundtrip-per-example is expensive; keep example counts tight.
_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# two-decimal doubles, the shape of the events.value column
_vals = st.lists(
    st.integers(min_value=0, max_value=50_000).map(lambda c: c / 100.0),
    min_size=1,
    max_size=60,
)


@given(values=_vals)
@_SETTINGS
def test_percentiles_match_numpy(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "v double")
    row = exact_percentiles(df, "v", ps=[0.5, 0.9]).first()
    for col, p in (("p50", 0.5), ("p90", 0.9)):
        want = float(np.percentile(values, p * 100, method="linear"))
        got = getattr(row, col)
        assert math.isclose(got, want, abs_tol=0.005 + 1e-9), (
            col, got, want, values,
        )


@given(values=_vals, trim_pct=st.integers(min_value=0, max_value=10))
@_SETTINGS
def test_trimmed_mean_matches_reference_algorithm(spark, values, trim_pct):
    """The e2e_bench.go:260-275 definition: sort, drop floor(n*trim) from
    each end, mean of the remainder."""
    trim = trim_pct / 100.0
    df = spark.createDataFrame([(v,) for v in values], "v double")
    got = trimmed_mean(df, "v", trim=trim).first().trimmed_mean

    s = sorted(values)
    k = int(math.floor(len(s) * trim))
    kept = s[k : len(s) - k] or s  # noqa: E203
    want = sum(kept) / len(kept)
    assert math.isclose(got, want, abs_tol=0.005 + 1e-9), (got, want, values)


@given(
    left_ts=st.lists(
        st.integers(min_value=0, max_value=1000), min_size=1, max_size=30
    ),
    right_ts=st.lists(
        st.integers(min_value=0, max_value=1000), min_size=1, max_size=30
    ),
)
@_SETTINGS
def test_asof_join_matches_pandas_merge_asof(spark, left_ts, right_ts):
    base = dt.datetime(2026, 1, 1)
    left = spark.createDataFrame(
        [(i, base + dt.timedelta(seconds=t)) for i, t in enumerate(left_ts)],
        "lid long, ts timestamp",
    )
    import pyspark.sql.functions as F

    right = spark.createDataFrame(
        [
            (j, base + dt.timedelta(seconds=t))
            for j, t in enumerate(sorted(set(right_ts)))
        ],
        "rid long, rts timestamp",
    ).withColumn("key", F.lit(0))  # dummy shared key
    left = left.withColumn("key", F.lit(0))

    got = {
        r.lid: r.rid_asof
        for r in asof_join(
            left, right, on=["key"], left_ts="ts", right_ts="rts",
            value_cols=["rid"],
        ).collect()
    }

    lpd = pd.DataFrame(
        {"lid": range(len(left_ts)),
         "ts": [base + dt.timedelta(seconds=t) for t in left_ts]}
    ).sort_values("ts", kind="stable")
    rpd = pd.DataFrame(
        {"rid": range(len(sorted(set(right_ts)))),
         "rts": [base + dt.timedelta(seconds=t) for t in sorted(set(right_ts))]}
    )
    want_df = pd.merge_asof(
        lpd, rpd, left_on="ts", right_on="rts", direction="backward"
    )
    want = {
        int(r.lid): (None if pd.isna(r.rid) else int(r.rid))
        for r in want_df.itertuples()
    }
    assert got == want


@given(
    gaps=st.lists(
        st.integers(min_value=1, max_value=4000), min_size=1, max_size=40
    )
)
@_SETTINGS
def test_sessionize_matches_python_gap_island(spark, gaps):
    base = dt.datetime(2026, 1, 1)
    ts, acc = [], 0
    for g in gaps:
        acc += g
        ts.append(base + dt.timedelta(seconds=acc))
    df = spark.createDataFrame(
        [(1, i, t) for i, t in enumerate(ts)],
        "uid long, eid long, ts timestamp",
    )
    out = sessionize(df, ["uid"], "ts", gap_seconds=1800, order_tiebreak=["eid"])
    got = out.agg({"session_id": "max"}).first()[0]

    want, prev = 0, None
    for t in ts:
        if prev is None or (t - prev).total_seconds() > 1800:
            want += 1
        prev = t
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # key
            st.integers(min_value=0, max_value=100),  # value
        ),
        min_size=1,
        max_size=40,
    ),
    k=st.integers(min_value=1, max_value=5),
)
@_SETTINGS
def test_top_k_per_key_matches_python(spark, rows, k):
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(key, i, v) for i, (key, v) in enumerate(rows)],
        "key long, rid long, v long",
    )
    got = {
        (r.key, r.rid)
        for r in top_k_per_key(
            df, ["key"], [F.desc("v"), F.asc("rid")], k
        ).collect()
    }
    want = set()
    by_key: dict[int, list[tuple[int, int]]] = {}
    for i, (key, v) in enumerate(rows):
        by_key.setdefault(key, []).append((i, v))
    for key, items in by_key.items():
        items.sort(key=lambda iv: (-iv[1], iv[0]))
        want |= {(key, i) for i, _ in items[:k]}
    assert got == want


@given(
    left_ts=st.lists(
        st.integers(min_value=0, max_value=1000), min_size=1, max_size=30
    ),
    right_ts=st.lists(
        st.integers(min_value=0, max_value=1000), min_size=1, max_size=30
    ),
)
@_SETTINGS
def test_asof_nearest_minimizes_distance(spark, left_ts, right_ts):
    import pyspark.sql.functions as F

    from golang_cassandra_kafka_feed_spark.operators.asof import (
        asof_nearest,
    )

    base = dt.datetime(2026, 1, 1)
    rts = sorted(set(right_ts))
    left = spark.createDataFrame(
        [(i, base + dt.timedelta(seconds=t)) for i, t in enumerate(left_ts)],
        "lid long, ts timestamp",
    ).withColumn("key", F.lit(0))
    right = spark.createDataFrame(
        [(j, base + dt.timedelta(seconds=t)) for j, t in enumerate(rts)],
        "rid long, rts timestamp",
    ).withColumn("key", F.lit(0))

    got = {
        r.lid: r.rid_nearest
        for r in asof_nearest(
            left, right, on=["key"], left_ts="ts", right_ts="rts",
            value_cols=["rid"],
        ).collect()
    }
    assert set(got) == set(range(len(left_ts)))
    for lid, t in enumerate(left_ts):
        chosen_t = rts[got[lid]]
        best = min(abs(rt - t) for rt in rts)
        assert abs(chosen_t - t) == best, (t, chosen_t, rts)
        # equidistant candidates prefer the backward row
        if t - best in rts and t + best in rts and best > 0:
            assert chosen_t == t - best


_iv_start = st.integers(min_value=0, max_value=48)  # hours from T0
_iv_len = st.integers(min_value=0, max_value=24)
_IV_T0 = dt.datetime(2026, 1, 1)


def _iv_rows(draw_starts, draw_lens, draw_open, keys):
    rows = []
    for i, (s, ln, op, k) in enumerate(
        zip(draw_starts, draw_lens, draw_open, keys)
    ):
        start = _IV_T0 + dt.timedelta(hours=s)
        end = None if op else start + dt.timedelta(hours=ln)
        rows.append((k, i, start, end))
    return rows


@given(
    ls=st.lists(_iv_start, min_size=1, max_size=12),
    ll=st.lists(_iv_len, min_size=12, max_size=12),
    lo=st.lists(st.booleans(), min_size=12, max_size=12),
    lk=st.lists(st.integers(0, 2), min_size=12, max_size=12),
    rs=st.lists(_iv_start, min_size=1, max_size=12),
    rl=st.lists(_iv_len, min_size=12, max_size=12),
    ro=st.lists(st.booleans(), min_size=12, max_size=12),
    rk=st.lists(st.integers(0, 2), min_size=12, max_size=12),
    bucket_hours=st.sampled_from([1, 5, 40]),
)
@_SETTINGS
def test_interval_join_matches_bruteforce(
    spark, ls, ll, lo, lk, rs, rl, ro, rk, bucket_hours
):
    """interval_join (bucketed + open-interval branches) == the naive
    cross-join overlap filter, for random interval sets with NULL
    (open) ends on both sides and bucket widths smaller/near/larger
    than typical interval lengths."""
    from golang_cassandra_kafka_feed_spark.operators.range_join import (
        interval_join,
    )

    lrows = _iv_rows(ls, ll, lo, lk)
    rrows = _iv_rows(rs, rl, ro, rk)
    left = spark.createDataFrame(
        lrows, "k long, lid long, lstart timestamp, lend timestamp"
    )
    right = spark.createDataFrame(
        rrows, "k long, rid long, rstart timestamp, rend timestamp"
    )
    got = sorted(
        (r.lid, r.rid)
        for r in interval_join(
            left,
            right,
            ["k"],
            "lstart",
            "lend",
            "rstart",
            "rend",
            bucket_seconds=bucket_hours * 3600,
            open_end_ts="9999-12-31",
        ).collect()
    )
    far = dt.datetime(9999, 12, 31)
    want = sorted(
        (lid, rid)
        for (k1, lid, s1, e1) in lrows
        for (k2, rid, s2, e2) in rrows
        if k1 == k2 and s1 <= (e2 or far) and s2 <= (e1 or far)
    )
    assert got == want
