"""Similarity search + composite operator tests: LSH recall vs brute
force, as-of/sessionize equivalence with their oracle-checked
query forms."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from golang_cassandra_kafka_feed_spark.operators.asof import asof_join
from golang_cassandra_kafka_feed_spark.operators.sessionize import sessionize
from golang_cassandra_kafka_feed_spark.operators.similarity import (
    brute_force_topk,
    lsh_bucketed_topk,
)
from golang_cassandra_kafka_feed_spark.plans.queries import QUERIES
from golang_cassandra_kafka_feed_spark.sources.testdata import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _queries_df(emb, n=10):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_lsh_recall_vs_brute_force(emb):
    """LSH top-10 must recover most of the exact top-10 (recall@10)."""
    exact = brute_force_topk(emb, _queries_df(emb), k=10)
    approx = lsh_bucketed_topk(emb, _queries_df(emb), k=10)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH recall@10 = {recall}"


def test_lsh_scores_are_exact_for_returned(emb):
    """Approximation only prunes candidates — returned sims are exact."""
    exact = {
        (r.query_id, r.vec_id): r.sim
        for r in brute_force_topk(emb, _queries_df(emb, 3), k=50).collect()
    }
    for r in lsh_bucketed_topk(emb, _queries_df(emb, 3), k=10).collect():
        if (r.query_id, r.vec_id) in exact:
            assert exact[(r.query_id, r.vec_id)] == r.sim


def test_ivf_recall_vs_brute_force(emb):
    from golang_cassandra_kafka_feed_spark.operators.similarity import ivf_topk

    exact = brute_force_topk(emb, _queries_df(emb), k=5)
    approx = ivf_topk(emb, _queries_df(emb), k=5, n_cells=16, n_probe=8)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.3, f"IVF recall@5 = {recall}"
    # returned sims are exact (pruning-only approximation)
    exact_all = {
        (r.query_id, r.vec_id): r.sim
        for r in brute_force_topk(emb, _queries_df(emb), k=500).collect()
    }
    for r in ivf_topk(emb, _queries_df(emb, 3), k=5).collect():
        assert exact_all[(r.query_id, r.vec_id)] == r.sim


def test_asof_join_matches_window_form(spark, sf_dir):
    """Union-carry-forward as-of join == the join+row_number form (Q10)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderkey", "o_orderdate"
    )
    got = asof_join(
        ev,
        orders,
        on=["user_id"],
        left_ts="ts",
        right_ts="o_orderdate",
        value_cols=["o_orderkey", "o_orderdate"],
        right_tie_cols=["o_orderkey"],
    )
    # independent reference: the naive left-join + per-event row_number
    # form (this used to BE q10's implementation; q10 now declares the
    # carry-forward shape, so the window form lives here as the oracle)
    j = ev.join(
        orders,
        (ev.user_id == orders.user_id) & (orders.o_orderdate <= ev.ts),
        "left",
    )
    w = Window.partitionBy("event_id").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    def _d(v):
        # date-typed columns surface as date or datetime depending on the
        # union coercion path; normalize to date for comparison
        return v.date() if hasattr(v, "date") else v

    want = {
        (r.event_id, r.o_orderkey, _d(r.o_orderdate))
        for r in j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "o_orderkey", "o_orderdate")
        .collect()
    }
    got_set = {
        (r.event_id, r.o_orderkey_asof, _d(r.o_orderdate_asof))
        for r in got.collect()
    }
    assert got_set == want


def test_asof_join_null_fields_stay_atomic(spark):
    """When the most recent right row has a NULL value column, that NULL
    must survive — asof must NOT substitute an older row's non-NULL value
    or mix fields across right rows (struct-carry semantics)."""
    left = spark.createDataFrame([("k", 100, "L1")], "k string, ts long, tag string")
    right = spark.createDataFrame(
        [("k", 10, "old_price", "old_note"), ("k", 50, None, "new_note")],
        "k string, ts long, price string, note string",
    )
    row = asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="ts",
        value_cols=["price", "note"],
    ).collect()[0]
    # latest right row (ts=50) has price=NULL, note='new_note'
    assert row.price_asof is None
    assert row.note_asof == "new_note"


def test_sessionize_matches_q27_counts(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    sess = sessionize(
        ev, ["user_id"], "ts", gap_seconds=1800, order_tiebreak=["event_id"]
    )
    got = {
        (r.user_id, r.n_sessions)
        for r in sess.groupBy("user_id")
        .agg(F.countDistinct("session_id").alias("n_sessions"))
        .collect()
    }
    want = {
        (r.user_id, r.n_sessions)
        for r in QUERIES["q27_session_window"](spark, sf_dir).collect()
    }
    assert got == want


def test_rrf_fusion_merges_and_recovers(spark):
    from golang_cassandra_kafka_feed_spark.operators.similarity import (
        rrf_fuse,
    )

    lsh = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)],
        "query_id long, vec_id long, rank long",
    )
    ivf = spark.createDataFrame(
        [(0, 10, 1), (0, 13, 2), (0, 11, 3)],
        "query_id long, vec_id long, rank long",
    )
    out = {r.vec_id: r for r in rrf_fuse([("lsh", lsh), ("ivf", ivf)], k=4).collect()}
    # agreed-on top item wins; one-sided items still fuse in
    assert out[10].rank == 1
    assert out[10].rrf_score == round((1 / 61 + 1 / 61) * 1e6) / 1e6
    assert out[13].rank_lsh is None and out[13].rank_ivf == 2
    # item ranked by both beats items seen by only one ranker at
    # comparable depth
    assert out[11].rank < out[13].rank
    assert set(out) == {10, 11, 12, 13}


def test_pq_adc_exact_when_vector_is_its_own_codeword(spark):
    from golang_cassandra_kafka_feed_spark.operators.similarity import (
        pq_adc_audit,
    )

    # single-vector corpus: every subspace cell has one member, so the
    # codebook IS the vector's own subvectors and ADC must equal the
    # exact dot product bit-for-bit.
    vec = [float(i % 7) - 3.0 for i in range(64)]
    corpus = spark.createDataFrame(
        [(0, vec)], "vec_id long, embedding array<float>"
    )
    queries = spark.createDataFrame(
        [(0, vec)], "query_id long, embedding array<float>"
    )
    rows = pq_adc_audit(corpus, queries, k=1).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.exact_dot == r.adc_dot and r.abs_err == 0.0


def test_pq_adc_rejects_nondividing_subspaces(spark):
    import pytest as _pytest

    from golang_cassandra_kafka_feed_spark.operators.similarity import (
        pq_adc_audit,
    )

    df = spark.createDataFrame(
        [(0, [0.0] * 64)], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="subspaces"):
        pq_adc_audit(df, df.select(F.col("vec_id").alias("query_id"), "embedding"), m=7)


def test_ivf_empty_corpus_returns_no_rows(spark):
    """An empty corpus yields an empty codebook (zero cells) and an
    empty result — not a crash in the literal-centroid projection."""
    from golang_cassandra_kafka_feed_spark.operators.similarity import (
        DEFAULT_DIM,
        ivf_topk,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [(0, [1.0] * DEFAULT_DIM)], "query_id long, embedding array<double>"
    )
    assert ivf_topk(empty, q, k=3).count() == 0


def test_ivf_join_path_matches_literal_path(emb, spark):
    """Above IVF_LITERAL_MAX_CELLS the codebook rides a broadcast
    one-row DataFrame instead of plan literals (a multi-thousand-literal
    tree explodes Catalyst analysis/codegen at the n_cells ~ sqrt(N)
    a 100 TB corpus needs).  Same math, same tie-breaks — results must
    be HASH-IDENTICAL to the literal path at the same parameters
    (verdict r7 ask #3).  Corpus subset keeps the literal side's py4j
    literal-construction cost bounded."""
    from golang_cassandra_kafka_feed_spark.operators.similarity import (
        ivf_topk,
    )

    sub = emb.filter(F.col("vec_id") < 120)
    q = _queries_df(emb, 5)
    kw = dict(k=5, n_cells=4096, n_probe=6)
    lit = ivf_topk(
        sub, q, **kw, literal_max_cells=1 << 20, arrow_min_cells=1 << 20,
        small_cells_arrow=False,
    )
    join = ivf_topk(
        sub, q, **kw, literal_max_cells=0, arrow_min_cells=1 << 20
    )
    arrow = ivf_topk(sub, q, **kw, literal_max_cells=0, arrow_min_cells=0)
    # the r11 small-codebook default: exact Arrow assignment (bit-equal
    # fold replay, not the matmul epsilon argument)
    exact = ivf_topk(
        sub, q, **kw, literal_max_cells=1 << 20, arrow_min_cells=1 << 20
    )

    def rows(df):
        return {
            (r.query_id, r.vec_id, repr(r.sim), r.rank)
            for r in df.collect()
        }

    got_lit, got_join, got_arrow = rows(lit), rows(join), rows(arrow)
    assert got_lit == got_join
    assert got_lit == got_arrow, "Arrow assignment tier diverged"
    assert got_lit == rows(exact), "exact Arrow assignment tier diverged"
    assert got_lit, "probe must return candidates"


def test_ivf_join_path_plan_shape(emb):
    """The join path keeps the literal path's scale property: zero
    corpus-wide shuffles — the codebook arrives by broadcast (the
    one-row cross join is a BroadcastNestedLoopJoin), candidates by a
    broadcast hash join on cell, and the only hash exchange in the
    whole plan is the final per-query top-k."""
    from golang_cassandra_kafka_feed_spark.operators.similarity import (
        ivf_topk,
    )

    df = ivf_topk(
        emb, _queries_df(emb, 3), k=5, n_cells=4096, n_probe=4,
        literal_max_cells=0, arrow_min_cells=1 << 20,
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastNestedLoopJoin" in plan
    # formatted mode prints shuffle exchanges as "(n) Exchange" with an
    # "Arguments: hashpartitioning(...)" detail; broadcast exchanges
    # print broadcast modes — so this counts SHUFFLES only
    assert plan.count("Arguments: hashpartitioning") == 1, plan


def test_with_buckets_arrow_matches_join_path(emb):
    """The r11 Arrow LSH bucketing (one projection, zero exchanges,
    vector never shuffled) must emit EXACTLY the (id, bucket) rows of
    the JVM join/groupBy path: the NumPy dimension-order accumulation
    replays the ``_dot`` left-fold op-for-op, so every sign bit is
    bit-equal — set equality here, and the DuckDB oracles of the whole
    LSH family (q39/q82/q35) stay green unchanged."""
    from golang_cassandra_kafka_feed_spark.operators.similarity import (
        DEFAULT_BANDS,
        DEFAULT_DIM,
        DEFAULT_N_PLANES,
        _hyperplanes,
        _with_buckets,
    )

    planes = _hyperplanes(DEFAULT_DIM, DEFAULT_N_PLANES)
    c = emb.select(F.col("vec_id"), F.col("embedding").alias("e"))

    def rows(use_arrow):
        got = _with_buckets(
            c, "vec_id", "e", planes, DEFAULT_BANDS, use_arrow=use_arrow
        )
        return {(r.vec_id, r.bucket) for r in got.collect()}

    arrow, join = rows(True), rows(False)
    assert arrow == join
    assert len(arrow) == emb.count() * DEFAULT_BANDS


def test_lsh_topk_plan_has_no_bucket_shuffle(emb):
    """Plan property of the Arrow bucketing: the only hash exchanges
    left in lsh_bucketed_topk are the candidate dedup and the final
    per-query top-k — the (id, band) partial-aggregation exchange that
    carried the full vector (8.3 MB write per 2,000 vectors) is gone."""
    from golang_cassandra_kafka_feed_spark.operators.similarity import (
        lsh_bucketed_topk,
    )

    df = lsh_bucketed_topk(emb, _queries_df(emb, 3), k=5)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "ArrowEvalPython" in plan
    assert plan.count("Arguments: hashpartitioning") <= 2, plan


def test_ivf_small_cells_default_is_exact_arrow(emb):
    """Default-parameter ivf_topk (q42's shape, n_cells=16) routes to
    the exact Arrow assignment tier: ArrowEvalPython projection, no
    codebook join, single hash exchange (the per-query top-k) — and the
    results equal the literal tier bit-for-bit."""
    from golang_cassandra_kafka_feed_spark.operators.similarity import (
        ivf_topk,
    )

    kw = dict(k=5, n_cells=16, n_probe=4)
    df = ivf_topk(emb, _queries_df(emb, 3), **kw)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "ArrowEvalPython" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Arguments: hashpartitioning") == 1, plan

    lit = ivf_topk(
        emb, _queries_df(emb, 3), **kw, small_cells_arrow=False
    )

    def rows(d):
        return {
            (r.query_id, r.vec_id, repr(r.sim), r.rank) for r in d.collect()
        }

    assert rows(df) == rows(lit)


def test_ivf_arrow_path_plan_shape(emb):
    """The Arrow assignment tier keeps the scale property too:
    assignment is an ArrowEvalPython PROJECTION stage over the scan
    (codebook via broadcast variable, not a join), candidates arrive
    by broadcast hash join on cell, and the only shuffle in the whole
    plan is still the final per-query top-k."""
    from golang_cassandra_kafka_feed_spark.operators.similarity import (
        ivf_topk,
    )

    df = ivf_topk(
        emb, _queries_df(emb, 3), k=5, n_cells=4096, n_probe=4,
        literal_max_cells=0, arrow_min_cells=0,
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "ArrowEvalPython" in plan
    assert "BroadcastNestedLoopJoin" not in plan  # no codebook join
    assert plan.count("Arguments: hashpartitioning") == 1, plan
