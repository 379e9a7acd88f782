"""Model-free data selection for pretraining corpora.

Two public-literature selection operators the reference has no analog for
(extension surface mandated by BASELINE.json, same family as
operators/sampling.py):

- ``dsir_importance`` — DSIR-style importance weights (Xie et al. 2023,
  "Data Selection for Language Models via Importance Resampling"):
  score every raw document by how much more likely its hashed-bigram
  features are under a *target* subcorpus' feature distribution than
  under the raw corpus' distribution.  High-scoring raw documents "look
  like" the target domain and are kept / upsampled.
- ``weighted_bottomk`` — deterministic weighted bottom-k sampling
  (Cohen & Kaplan 2007 bottom-k sketches): rank = hash-fraction / weight;
  the k smallest ranks form a weighted sample that is mergeable
  (bottom-k of a union = bottom-k of the parts' bottom-ks) and stable
  under repartitioning and append.

Everything is JVM-side expression work (md5 hashing, higher-order
functions) — no Python UDFs — and every declared output obeys the
cross-engine determinism rules (exact integer counts, correctly-rounded
int/int double divisions, sorted sequential folds for double sums; see
plans/queries.py docstring).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from golang_cassandra_kafka_feed_spark.operators.sampling import (
    hash_fraction,
)
from golang_cassandra_kafka_feed_spark.session import auto_widen
from golang_cassandra_kafka_feed_spark.operators.textstats import (
    bigram_array,
    bigram_array_from_tokens,
    tokens,
)

# Feature-hash buckets for DSIR.  The paper uses 10k buckets over
# unigram+bigram features; 256 keeps the bucket-count table trivially
# broadcastable while leaving collisions rare at testdata vocabulary
# size.  The DuckDB oracle interpolates this same constant.
DSIR_N_BUCKETS = 256
DSIR_SALT = "dsir"


def _bucket(
    gram: Column, n_buckets: int, salt: str, hasher: str = "md5"
) -> Column:
    """Feature bucket.  hasher='md5': first-8-hex-digits-of-md5 mod
    n_buckets — the repo-wide portable idiom (identical in DuckDB as
    CAST(('0x' || substring(md5(...), 1, 8)) AS BIGINT) % n), used by
    the declared q73.  hasher='xxhash': xxhash64, the fast JVM-only
    path for interactive corpus work (same split as minhash_signatures'
    hasher parameter)."""
    if hasher == "xxhash":
        return F.pmod(F.xxhash64(gram, F.lit(salt)), F.lit(n_buckets))
    if hasher != "md5":
        raise ValueError(f"hasher must be 'md5' or 'xxhash', got {hasher!r}")
    h = F.conv(
        F.substring(F.md5(F.concat(gram, F.lit(":" + salt))), 1, 8), 16, 10
    ).cast("bigint")
    return h % n_buckets


def dsir_bucket_ratios(
    df: DataFrame,
    target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_N_BUCKETS,
    salt: str = DSIR_SALT,
    hasher: str = "md5",
) -> DataFrame:
    """Per-bucket likelihood ratio table (bucket, t_cnt, r_cnt, ratio).

    ratio_b = p_b / q_b with add-one smoothing:
        p_b = (t_b + 1) / (T + B)   (target feature distribution)
        q_b = (r_b + 1) / (R + B)   (raw corpus feature distribution)

    Cross-engine determinism: t_b/r_b/T/R are exact integer counts and
    each division is a correctly-rounded double of exact inputs, applied
    in a pinned order (p, then q, then p/q) that the DuckDB twin spells
    identically — no transcendental log anywhere (the true DSIR
    log-weight is the non-declared ``score='log_sum'`` path of
    dsir_importance).

    100 TB posture: ONE pass over the corpus (explode + map-side-combined
    groupBy on the bucket key — at most ``n_buckets`` rows after partial
    aggregation per task), plus a single-row total.  The output is
    n_buckets rows: always broadcastable.
    """
    insts = df.select(
        target.alias("__target"),
        F.explode(bigram_array(text_col)).alias("__bg"),
    ).select(
        "__target",
        _bucket(F.col("__bg"), n_buckets, salt, hasher).alias("bucket"),
    )
    counts = insts.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("r_cnt"),
        F.count_if(F.col("__target")).alias("t_cnt"),
    )
    totals = counts.select(
        F.sum("r_cnt").alias("__r_tot"), F.sum("t_cnt").alias("__t_tot")
    )
    b = F.lit(n_buckets).cast("double")
    p = (F.col("t_cnt") + 1).cast("double") / (
        F.col("__t_tot").cast("double") + b
    )
    q = (F.col("r_cnt") + 1).cast("double") / (
        F.col("__r_tot").cast("double") + b
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select("bucket", "t_cnt", "r_cnt", (p / q).alias("ratio"))
    )


def dsir_importance(
    df: DataFrame,
    target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_N_BUCKETS,
    salt: str = DSIR_SALT,
    score: str = "mean_ratio",
    hasher: str = "md5",
    widen_partitions: int | None = None,
) -> DataFrame:
    """DSIR importance score per document: (id, n_grams, n_boost, score).

    ``score='mean_ratio'`` (declared, oracle-checked): the arithmetic
    mean over the doc's bigram instances of the bucket likelihood ratio
    — a monotone "looks like the target" signal kept inside the exact
    cross-engine arithmetic contract.  The per-doc double sum folds over
    the ratio multiset in ascending sorted order (array_sort +
    aggregate = DuckDB list_sort + list_reduce), so even summation
    order is pinned.  ``n_boost`` counts instances with ratio > 1
    (features more target-typical than raw-typical) — pure integers.

    ``score='log_sum'`` (interactive utility, NOT oracle-declared): the
    paper's actual log importance weight sum(log ratio_b) — floats
    through libm log, so it stays outside the declared surface, same
    split as HLL vs the declared KMV sketch (operators/sketches.py).

    Scoring is a pure-JVM expression fold — nothing crosses the process
    boundary, so it scales with the partitions it runs on (measured
    sf0.1 local[32]: 0.8-1.7 s widened vs 1.9-3.2 s on one split).

    ``widen_partitions``: repartition width on ``id_col`` before the
    two scans — a SMALL-SOURCE defense (one local file split would
    otherwise serialize both scans, the q112/q113 lesson).  ``None``
    (default) AUTO-DERIVES via :func:`session.auto_widen`: widen to
    ``defaultParallelism`` only when the input has fewer splits than
    that, so at cluster scale (files arrive pre-split) it is
    structurally a no-op and shuffles nothing.  ``0`` disables; an
    explicit int forces that width (tests).

    100 TB posture: the corpus is scanned twice (once for bucket counts,
    once for scoring) and NEVER shuffled on the doc side: the ratio
    table stays bucket-count-bounded (one broadcast map row), and per-doc scoring happens
    inside the doc's own partition — no explode-regroup of bigram
    instances.  At 10% target fraction the paper keeps top-k by score;
    compose with weighted_bottomk or top_k_global for the resample
    step.
    """
    if score not in ("mean_ratio", "log_sum"):
        raise ValueError(
            f"score must be 'mean_ratio' or 'log_sum', got {score!r}"
        )
    if widen_partitions is None:
        df = auto_widen(df, id_col)
    elif widen_partitions:
        df = df.repartition(widen_partitions, id_col)
    ratios = dsir_bucket_ratios(
        df, target, text_col=text_col, id_col=id_col,
        n_buckets=n_buckets, salt=salt, hasher=hasher,
    )
    ratio_map = ratios.select(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(F.struct("bucket", "ratio"))
            )
        ).alias("__rmap")
    )
    doc_ratios = F.array_sort(
        F.transform(
            F.col("__grams"),
            lambda g: F.element_at(
                F.col("__rmap"), _bucket(g, n_buckets, salt, hasher)
            ),
        )
    )
    folded = (
        F.aggregate(
            F.transform("__ratios", lambda r: F.log(r)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        if score == "log_sum"
        else F.aggregate(
            F.col("__ratios"), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    n = F.size("__ratios")
    final = (
        F.round(folded / F.greatest(n, F.lit(1)).cast("double") * 10000)
        / 10000
        if score == "mean_ratio"
        else folded
    )
    return (
        df.crossJoin(F.broadcast(ratio_map))
        # staged projections: __toks is referenced four times building
        # __grams and __ratios three times downstream — staging stops
        # CollapseProject from re-inlining the tokenization / hashing
        # work (same discipline as winnowing_fingerprints).
        .withColumn("__toks", tokens(text_col))
        .withColumn(
            "__grams", bigram_array_from_tokens(F.col("__toks"))
        )
        .withColumn("__ratios", doc_ratios)
        .select(
            F.col(id_col),
            n.alias("n_grams"),
            F.size(
                F.filter(F.col("__ratios"), lambda r: r > 1.0)
            ).alias("n_boost"),
            final.alias("dsir_score"),
        )
    )


def weighted_bottomk(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "wsample",
    priority_col: str = "priority",
) -> DataFrame:
    """Deterministic weighted bottom-k sample: priority = u / w with
    u = the md5 hash-fraction of the id (operators/sampling.py) and
    w = the row's weight (must be > 0); keep the k smallest priorities.

    This is the bottom-k sketch of Cohen & Kaplan 2007 with rank
    function u/w (sequential Poisson / priority sampling family):
    inclusion probability grows with weight, the sample of a union is
    computable from per-part samples (mergeable), and — because u is a
    pure hash, not an RNG — the sample is reproducible under
    repartitioning, retries, and incremental append, the same contract
    as hash_split.

    Determinism: u is (8 hex md5 digits)/2^32 (exact int / power of
    two) and u/w is one correctly-rounded double division — bit-identical
    cross-engine; ties broken by id.

    100 TB posture: no shuffle of the corpus — ORDER BY priority LIMIT k
    plans as TakeOrderedAndProject (per-partition k-heaps, then a
    driver-side merge of num_partitions * k rows).  Mergeability is the
    distributed story: per-shard bottom-k unions re-reduce to global
    bottom-k.
    """
    pri = hash_fraction(F.col(id_col), salt) / F.col(weight_col).cast(
        "double"
    )
    return (
        df.withColumn(priority_col, pri)
        .orderBy(priority_col, id_col)
        .limit(k)
    )


# Hashed-bigram quality classifier (CCNet / GPT-3-style model filter
# shape).  The declared key uses the deterministic affine weight table
# below (oracle-checkable stand-in); production drops in trained
# weights via the ``weights`` DataFrame.
CLASSIFIER_N_BUCKETS = 1024
CLASSIFIER_SALT = "quality-v1"
CLASSIFIER_W_A = 48271  # MINSTD multiplier — full-period mod the prime
CLASSIFIER_W_B = 11
CLASSIFIER_W_P = 2_147_483_647  # 2^31 - 1


def classifier_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = CLASSIFIER_N_BUCKETS,
    salt: str = CLASSIFIER_SALT,
    threshold: float = 0.0,
    weights: DataFrame | None = None,
    hasher: str = "md5",
    widen_partitions: int | None = None,
) -> DataFrame:
    """Linear quality-classifier scoring over hashed word-bigram
    features — the model-based filter stage of the GPT-3 (§A "a
    classifier trained to distinguish curated corpora from raw
    Common Crawl") and CCNet pipelines, expressed Spark-first.

    Returns (id_col, n_features, score, keep): ``score`` is the mean
    feature weight centered to [-0.5, 0.5) (NULL when the doc has no
    bigram features — no evidence is not a score of zero), ``keep`` is
    ``score >= threshold`` (false for NULL).

    Two weight sources:

    - default: a deterministic affine weight table
      w(bucket) = ((bucket * A + B) mod P) / P — a stand-in with the
      exact computational shape of trained logistic-regression
      weights, chosen because it is ORACLE-CHECKABLE: the per-doc
      weight sum is an exact BIGINT (< 2^53 for any real document), so
      both engines compute bit-identical scores with zero
      transcendentals (no sigmoid — the margin is monotone in the
      probability, so thresholding the margin IS thresholding the
      probability).
    - ``weights``: a (bucket, weight) DataFrame of REAL trained
      weights.  Summed as DECIMAL(18,6) (exact, associative — the q58
      power-sum idiom) so scores stay run-to-run deterministic, then
      cast to double.

    100 TB posture: the default path is a PURE PROJECTION — tokenize,
    bigram, hash, fold, threshold, all inside one scan stage, zero
    exchanges (plan-asserted); the weights path is one explode + one
    broadcast join + one map-side-combined groupBy on the id.
    ``widen_partitions`` repartitions the source first — the per-bigram
    md5 fold is heavy per-row work that a SINGLE-FILE source would
    serialize onto one task (the q112/q113 small-source lesson).
    ``None`` (default) auto-derives via :func:`session.auto_widen`
    (no-op once the input has >= defaultParallelism splits, i.e. at
    cluster scale); ``0`` disables; an explicit int forces that width.
    Reference tie: the length-validation gate before insert
    (cmd/server/httphandlers.go:33-37,133-137) — score-then-branch,
    here with a learned scorer.
    """
    if widen_partitions is None:
        df = auto_widen(df, id_col)
    elif widen_partitions:
        df = df.repartition(widen_partitions, id_col)
    bg = bigram_array(F.col(text_col))
    if weights is None:
        wsum = F.aggregate(
            F.transform(
                bg,
                lambda g: (
                    _bucket(g, n_buckets, salt, hasher)
                    * F.lit(CLASSIFIER_W_A)
                    + F.lit(CLASSIFIER_W_B)
                )
                % F.lit(CLASSIFIER_W_P),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        n = F.size(bg).cast("long")
        score = F.when(
            n > 0,
            F.round(
                (
                    wsum / (n * F.lit(CLASSIFIER_W_P))
                    - F.lit(0.5)
                )
                * 1e6
            )
            / 1e6,
        )
        return df.select(
            F.col(id_col),
            n.alias("n_features"),
            score.alias("score"),
            F.coalesce(score >= F.lit(threshold), F.lit(False)).alias(
                "keep"
            ),
        )

    feats = df.select(
        F.col(id_col), F.explode(bg).alias("__bg")
    ).select(
        id_col, _bucket(F.col("__bg"), n_buckets, salt, hasher).alias("bucket")
    )
    per_doc = (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_features"),
            F.sum(F.col("weight").cast("decimal(18,6)")).alias("__wsum"),
        )
        .select(
            id_col,
            "n_features",
            F.round(
                (F.col("__wsum").cast("double") / F.col("n_features")) * 1e6
            ).alias("__sc6"),
        )
        .select(
            id_col,
            "n_features",
            (F.col("__sc6") / 1e6).alias("score"),
        )
    )
    base = df.select(F.col(id_col))
    out = base.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_features", F.lit(0).cast("long")).alias("n_features"),
        "score",
    )
    return out.withColumn(
        "keep",
        F.coalesce(F.col("score") >= F.lit(threshold), F.lit(False)),
    )
