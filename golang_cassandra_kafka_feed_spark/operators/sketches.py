"""Deterministic, engine-portable sketches — each with an accuracy
audit the DuckDB oracles re-derive bit for bit.

- ``kmv_distinct`` — K-minimum-values cardinality estimate (q48/q59).
- ``bloom_fp_audit`` — Bloom-filter membership with its false-positive
  labels (md5-prefix positions, q90).
- ``cms_topk_audit`` — count-min frequency estimates of the exact top-k
  tokens (q127).

The engine-internal sketches (HyperLogLog++ ``approx_count_distinct``,
``percentile_approx``) are Spark builtins; call them directly.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# KMV sketch size (RSE ~ 1/sqrt(k-2) ~ 6%).  Exported so the DuckDB
# oracles embed the same literal (anti-drift: changing the default here
# re-renders the q48/q59 twins).
KMV_K = 256


def kmv_distinct(
    df: DataFrame,
    col: str,
    by: Sequence[str] = (),
    k: int = KMV_K,
) -> DataFrame:
    """K-minimum-values distinct-count estimate — the DETERMINISTIC,
    engine-portable sketch (HLL++ inside ``approx_count_distinct`` is
    engine-internal and cannot be oracle-checked; KMV on the md5-prefix
    hash produces bit-identical estimates in any engine).

    Estimator (Bar-Yossef et al.): hash values to uniform [0,1); with
    the k-th smallest distinct hash at h_k, est = (k-1)/h_k; if fewer
    than k distinct hashes exist the count is exact.  RSE ~ 1/sqrt(k-2)
    (~6% at k=256).

    Scale shape: one distinct-shuffle on (by, h), then the k smallest
    per group via TakeOrderedAndProject (global) or WindowGroupLimit
    (per-key) — state is bounded by k everywhere, and the k-min set is
    mergeable across partitions by construction.
    """
    from pyspark.sql import Window

    h = (
        F.conv(
            F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10
        ).cast("bigint")
        / F.lit(4294967296.0)
    ).alias("h")
    hs = df.select(*by, h).distinct()
    if by:
        w = Window.partitionBy(*by).orderBy("h")
        kmin = hs.withColumn("__rn", F.row_number().over(w)).filter(
            F.col("__rn") <= k
        )
        grouped = kmin.groupBy(*by)
    else:
        kmin = hs.orderBy("h").limit(k)
        grouped = kmin.groupBy()
    return grouped.agg(
        F.count("*").alias("__n"), F.max("h").alias("__hk")
    ).select(
        *by,
        F.when(F.col("__n") < k, F.col("__n").cast("double"))
        .otherwise(F.lit(float(k - 1)) / F.col("__hk"))
        .alias("est_distinct"),
    )


# Portable bloom-audit sizing: deliberately tight (load factor ~0.73 at
# ~1k build keys) so the false-positive mechanism is actually exercised.
# Exported for the DuckDB oracle.
BLOOM_AUDIT_M = 4096
BLOOM_AUDIT_K = 3


def bloom_fp_audit(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    m_bits: int = BLOOM_AUDIT_M,
    k: int = BLOOM_AUDIT_K,
) -> DataFrame:
    """Bloom-filter accuracy audit: every probe key labeled with its
    exact membership in the build key set, the bloom verdict, and the
    false-positive flag — the audit a deployment runs before trusting
    a Bloom filter's fpp sizing on real key distributions.  The
    sketch-accuracy family's fourth member (KMV q48, minhash q78,
    PQ-ADC q84).

    Unlike an engine-internal bloom (xxhash), positions here are the
    md5-prefix hash (`_md5_32(key || ':' || seed) %
    m_bits`), so a DuckDB oracle reproduces the EXACT bit set and every
    verdict.  Membership is an anti-join against the (<= m_bits)-row
    distinct-position table rather than a per-row scan of a position
    array: the position table broadcasts, the probe side never
    shuffles, and a probe key is a bloom-maybe iff NONE of its k
    positions is missing.  No false negatives by construction —
    the oracle equality proves it on every run.
    """
    from golang_cassandra_kafka_feed_spark.operators.dedup import _md5_32

    def positions(col):
        return F.array(
            *[
                F.pmod(
                    _md5_32(
                        F.concat(
                            col.cast("string"), F.lit(":"), F.lit(str(s))
                        )
                    ),
                    F.lit(m_bits),
                )
                for s in range(k)
            ]
        )

    bkeys = build.select(F.col(build_key).alias("__bk")).distinct()
    pos = (
        bkeys.select(F.explode(positions(F.col("__bk"))).alias("p"))
        .distinct()
    )
    probe_pos = probe.select(
        F.col(probe_key).alias("key"),
        F.explode(positions(F.col(probe_key))).alias("p"),
    )
    missing = (
        probe_pos.join(F.broadcast(pos), "p", "left_anti")
        .select("key")
        .distinct()
        .withColumn("__miss", F.lit(True))
    )
    exact = bkeys.withColumn("__hit", F.lit(True))
    out = (
        probe.select(F.col(probe_key).alias("key"))
        .distinct()
        .join(F.broadcast(missing), "key", "left")
        .join(exact, F.col("key") == F.col("__bk"), "left")
    )
    bloom_maybe = F.col("__miss").isNull()
    exact_member = F.col("__hit").isNotNull()
    return out.select(
        "key",
        exact_member.alias("exact_member"),
        bloom_maybe.alias("bloom_maybe"),
        (bloom_maybe & ~exact_member).alias("is_false_positive"),
    )


CMS_AUDIT_D = 4
CMS_AUDIT_W = 256


def cms_topk_audit(
    df: DataFrame,
    text_col: str = "text",
    k: int = 20,
    d: int = CMS_AUDIT_D,
    w: int = CMS_AUDIT_W,
) -> DataFrame:
    """Count-min sketch accuracy audit over corpus token frequencies —
    the third sketch family next to KMV (cardinality) and Bloom
    (membership): CMS answers FREQUENCY queries in d*w integers
    regardless of corpus size (Cormode & Muthukrishnan 2005).

    Deterministic, engine-portable construction (the md5 idiom): row
    r hashes a token to bucket int(md5(token ':' r)[:8], 16) % w; the
    counter matrix is ONE aggregation of the exploded token stream
    (each token contributes d counter increments, exploded as an
    inline d-struct array — narrow, no extra shuffle); the estimate
    for a token is min over rows of its d counters.  The audit joins
    the exact top-``k`` tokens (deterministic (count desc, token)
    order) against their estimates: ``overestimate = n_est - n_exact``
    is >= 0 BY CONSTRUCTION (every occurrence of the token increments
    all d of its counters; collisions only ADD) — the one-sided error
    guarantee the oracle twin re-derives independently, E[error] <=
    2N/w per row with failure probability (1/2)^d at the standard
    parameters.

    100 TB posture: the sketch is d*w rows (1,024 here) at ANY corpus
    size — the point of sketching; one token-count shuffle for the
    exact side (already needed by the audit), one counter aggregation
    whose output is sketch-sized, and a broadcast-sized join of the
    top-k probe set against the counters.
    """
    toks = df.select(
        F.explode(
            F.filter(
                F.split(F.lower(text_col), "[^a-z]+"),
                lambda t: F.length(t) > 0,
            )
        ).alias("token")
    )
    exact = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    top = (
        exact.orderBy(F.desc("n_exact"), "token").limit(k)
    )

    def bucket(token, r):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(token, F.lit(f":{r}"))), 1, 8
                ),
                16,
                10,
            ).cast("bigint")
            % w
        )

    cells = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        bucket(F.col("token"), r).alias("bucket"),
                    )
                    for r in range(d)
                ]
            )
        ).alias("cell")
    )
    counters = cells.groupBy(
        F.col("cell.r").alias("r"), F.col("cell.bucket").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("counter"))

    probes = top.select(
        "token",
        "n_exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        bucket(F.col("token"), r).alias("bucket"),
                    )
                    for r in range(d)
                ]
            )
        ).alias("cell"),
    )
    est = (
        probes.join(
            counters,
            (F.col("cell.r") == F.col("r"))
            & (F.col("cell.bucket") == F.col("bucket")),
        )
        .groupBy("token", "n_exact")
        .agg(F.min("counter").alias("n_est"))
    )
    return est.select(
        "token",
        "n_exact",
        "n_est",
        (F.col("n_est") - F.col("n_exact")).alias("overestimate"),
    ).orderBy(F.desc("n_exact"), "token")
