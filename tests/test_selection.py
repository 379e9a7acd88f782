"""operators/selection.py — DSIR importance weights and weighted
bottom-k sampling.  Oracle parity for the declared q73/q76 runs in
test_queries_oracle.py; these tests pin the operator semantics on
hand-built corpora."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from golang_cassandra_kafka_feed_spark.operators.selection import (
    dsir_bucket_ratios,
    dsir_importance,
    weighted_bottomk,
)


@pytest.fixture(scope="module")
def corpus(spark):
    # Target docs (is_target=True) speak "spark shuffle" language;
    # raw-only docs speak "goat cheese" language; doc 5 is a raw doc
    # written in target language, doc 6 a raw doc in off-domain language.
    rows = [
        (1, "spark shuffle spark shuffle spark shuffle", True),
        (2, "spark shuffle partition spark shuffle partition", True),
        (3, "goat cheese goat cheese goat cheese", False),
        (4, "goat cheese wheel goat cheese wheel", False),
        (5, "spark shuffle spark shuffle partition", False),
        (6, "goat cheese goat cheese wheel", False),
        (7, "", False),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, is_target boolean")


def test_dsir_scores_target_like_docs_higher(corpus):
    out = {
        r["doc_id"]: r
        for r in dsir_importance(corpus, F.col("is_target")).collect()
    }
    # Doc 5 (target-language raw doc) must outscore doc 6 (off-domain).
    assert out[5]["dsir_score"] > out[6]["dsir_score"]
    # Every target-language doc outscores every off-domain doc.  (With
    # add-one smoothing over 256 buckets and a toy corpus the absolute
    # scale sits below 1; the *ordering* is the contract.)
    lo = max(out[d]["dsir_score"] for d in (3, 4, 6))
    hi = min(out[d]["dsir_score"] for d in (1, 2, 5))
    assert hi > lo
    assert out[6]["n_boost"] == 0 <= out[5]["n_boost"]
    # Empty doc: zero features, neutral score.
    assert out[7]["n_grams"] == 0 and out[7]["dsir_score"] == 0.0


def test_dsir_log_sum_agrees_in_direction(corpus):
    log_out = {
        r["doc_id"]: r["dsir_score"]
        for r in dsir_importance(
            corpus, F.col("is_target"), score="log_sum"
        ).collect()
    }
    assert log_out[5] > log_out[6]
    assert log_out[1] > log_out[3]


def test_dsir_rejects_unknown_score(corpus):
    with pytest.raises(ValueError, match="mean_ratio"):
        dsir_importance(corpus, F.col("is_target"), score="geometric")


def test_dsir_bucket_ratio_table_is_smoothed_and_complete(corpus):
    ratios = dsir_bucket_ratios(corpus, F.col("is_target")).collect()
    # Only buckets with instances appear; all ratios positive/finite.
    assert all(r["ratio"] > 0 for r in ratios)
    assert all(r["r_cnt"] >= r["t_cnt"] for r in ratios)
    n_grams_total = sum(r["r_cnt"] for r in ratios)
    # 6 non-empty docs with n_tokens-1 bigrams each.
    assert n_grams_total == (5 + 5 + 5 + 5 + 4 + 4)


def test_dsir_stable_under_repartition(corpus):
    a = sorted(
        dsir_importance(corpus, F.col("is_target")).collect()
    )
    b = sorted(
        dsir_importance(
            corpus.repartition(7), F.col("is_target")
        ).collect()
    )
    assert a == b


@pytest.fixture(scope="module")
def weighted(spark):
    return spark.createDataFrame(
        [(i, 1 + (i % 10)) for i in range(200)], "doc_id long, w long"
    )


def test_bottomk_is_deterministic_and_sized(weighted):
    s1 = weighted_bottomk(weighted, "w", 20).collect()
    s2 = weighted_bottomk(weighted.repartition(11), "w", 20).collect()
    assert len(s1) == 20
    assert sorted(r["doc_id"] for r in s1) == sorted(
        r["doc_id"] for r in s2
    )


def test_bottomk_is_mergeable(weighted):
    """bottom-k of the union == bottom-k of the parts' bottom-ks."""
    left = weighted.filter(F.col("doc_id") < 100)
    right = weighted.filter(F.col("doc_id") >= 100)
    whole = {
        r["doc_id"] for r in weighted_bottomk(weighted, "w", 15).collect()
    }
    merged_parts = weighted_bottomk(left, "w", 15).unionByName(
        weighted_bottomk(right, "w", 15)
    )
    remerged = {
        r["doc_id"]
        for r in merged_parts.orderBy("priority", "doc_id")
        .limit(15)
        .collect()
    }
    assert whole == remerged


def test_bottomk_prefers_heavier_rows(spark):
    """With weights 1 vs 1000 on the same hash stream, heavy rows must
    dominate the sample."""
    df = spark.createDataFrame(
        [(i, 1000 if i % 2 == 0 else 1) for i in range(1000)],
        "doc_id long, w long",
    )
    sample = weighted_bottomk(df, "w", 100).collect()
    heavy = sum(1 for r in sample if r["w"] == 1000)
    assert heavy > 90


def test_bottomk_salt_draws_independent_sample(weighted):
    a = {r["doc_id"] for r in weighted_bottomk(weighted, "w", 20).collect()}
    b = {
        r["doc_id"]
        for r in weighted_bottomk(
            weighted, "w", 20, salt="other"
        ).collect()
    }
    assert a != b


def test_dsir_xxhash_fast_path_preserves_ordering(corpus):
    """hasher='xxhash' (JVM fast path, not oracle-declared) must agree
    with the md5 path on the doc ordering contract."""
    from golang_cassandra_kafka_feed_spark.operators.selection import (
        dsir_importance,
    )

    out = {
        r["doc_id"]: r
        for r in dsir_importance(
            corpus, F.col("is_target"), hasher="xxhash"
        ).collect()
    }
    assert out[5]["dsir_score"] > out[6]["dsir_score"]
    assert out[7]["n_grams"] == 0


def test_dsir_rejects_unknown_hasher(corpus):
    from golang_cassandra_kafka_feed_spark.operators.selection import (
        dsir_importance,
    )

    with pytest.raises(ValueError, match="hasher"):
        dsir_importance(
            corpus, F.col("is_target"), hasher="sha99"
        ).collect()


def test_classifier_score_is_a_pure_projection(spark, sf_dir):
    """The default (affine-table) scorer never exchanges DATA it did
    not have to: tokenize, bigram, hash, fold, threshold — one scan
    stage (the 100 TB property).  The ONLY exchange permitted is the
    r11 auto_widen repartition of the under-split local single-file
    source (a no-op at cluster scale, where inputs arrive with >=
    defaultParallelism splits); with the widen disabled the plan must
    be exchange-free."""
    from golang_cassandra_kafka_feed_spark.operators.selection import (
        classifier_score,
    )
    from golang_cassandra_kafka_feed_spark.sources.testdata import load_table

    def plan_of(**kw):
        df = classifier_score(load_table(spark, sf_dir, "documents"), **kw)
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    widened = plan_of()
    assert widened.count("Arguments: hashpartitioning") <= 1, widened
    assert "Exchange" not in plan_of(widen_partitions=0), (
        "non-widen exchange crept into the scorer"
    )


def test_classifier_score_semantics(spark):
    """Hand-built corpus: empty/one-token docs score NULL and are
    dropped; scored docs center on the affine table's mean; keep
    thresholds the margin; the weights path reproduces the default
    path when fed the SAME affine table as literal weights."""
    from pyspark.sql import functions as F

    from golang_cassandra_kafka_feed_spark.operators.selection import (
        CLASSIFIER_N_BUCKETS,
        CLASSIFIER_W_A,
        CLASSIFIER_W_B,
        CLASSIFIER_W_P,
        classifier_score,
    )

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta"),
            (1, "singleword"),
            (2, ""),
            (3, "alpha beta gamma delta epsilon zeta"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in classifier_score(docs).collect()}
    assert got[1].score is None and got[1].keep is False
    assert got[2].score is None and got[2].keep is False
    assert got[0].score == got[3].score  # deterministic
    assert got[0].n_features == 5
    assert -0.5 <= got[0].score < 0.5
    assert got[0].keep == (got[0].score >= 0.0)

    # weights path: same affine table materialized as a real
    # (bucket, weight) frame -> same margins within the decimal
    # rounding contract (weights quantized to 1e-6)
    w = spark.range(CLASSIFIER_N_BUCKETS).select(
        F.col("id").cast("int").alias("bucket"),
        (
            ((F.col("id") * CLASSIFIER_W_A + CLASSIFIER_W_B)
             % CLASSIFIER_W_P)
            / F.lit(CLASSIFIER_W_P)
            - 0.5
        ).alias("weight"),
    )
    got_w = {
        r.doc_id: r for r in classifier_score(docs, weights=w).collect()
    }
    assert got_w[2].score is None and got_w[2].keep is False
    for i in (0, 3):
        assert abs(got_w[i].score - got[i].score) < 2e-6
        assert got_w[i].n_features == got[i].n_features


# --- auto_widen derivation (verdict r11 #2) ---------------------------
#
# widen_partitions=None now DERIVES the width (defaultParallelism vs
# actual input splits) instead of the r10 hand-passed literal 32 — the
# reference's own lesson is parallelism as config, not constants
# (cmd/worker/worker.go:29-35 NumCPU).  These pin: the derivation at
# two explicit parallelism settings, the cluster-scale no-op (already-
# wide input is untouched — no shuffle added), and the DSIR done
# criterion that both scans run wide after the default derivation.


def test_auto_widen_derivation_at_two_settings(spark, sf_dir):
    from golang_cassandra_kafka_feed_spark.session import auto_widen
    from golang_cassandra_kafka_feed_spark.sources.testdata import load_table

    one = load_table(spark, sf_dir, "documents").coalesce(1)
    assert one.rdd.getNumPartitions() == 1
    for want in (4, 7):
        assert auto_widen(one, target=want).rdd.getNumPartitions() == want
    # default target = the session's defaultParallelism
    assert (
        auto_widen(one).rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_auto_widen_is_noop_on_pre_split_input(spark, sf_dir):
    from golang_cassandra_kafka_feed_spark.session import auto_widen
    from golang_cassandra_kafka_feed_spark.sources.testdata import load_table

    wide_n = spark.sparkContext.defaultParallelism + 3
    wide = load_table(spark, sf_dir, "documents").repartition(wide_n)
    out = auto_widen(wide)
    assert out is wide  # same plan object — zero added shuffle
    assert out.rdd.getNumPartitions() == wide_n


def test_dsir_default_widen_runs_wide(spark, sf_dir):
    """Done-criterion for verdict r11 #2: with NOTHING passed at the
    call site, both DSIR scans (bucket ratios + scoring) parallelize to
    >= the session's cores — the scored output's pre-shuffle width
    reflects the widened scan, not the single local file split."""
    from golang_cassandra_kafka_feed_spark.sources.testdata import load_table

    d = load_table(spark, sf_dir, "documents")
    assert d.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    scored = dsir_importance(d, F.col("lang") == "en")
    assert (
        scored.rdd.getNumPartitions()
        >= min(spark.sparkContext.defaultParallelism, 32)
    )
    # widen_partitions=0 disables: the plan keeps the raw split count
    off = dsir_importance(d, F.col("lang") == "en", widen_partitions=0)
    assert off.rdd.getNumPartitions() == d.rdd.getNumPartitions()
