"""Deduplication family for corpus-scale training-data pipelines.

Everything here is pure JVM-side expression work (higher-order functions,
xxhash64) — no Python UDFs in any hot path — so whole-stage codegen applies
and the operators scale with partition parallelism:

- exact:          hash groupBy on the normalized text (one shuffle)
- MinHash + LSH:  shingle -> k minhashes -> b bands -> bucket self-join;
                  candidate verification computes true Jaccard only for
                  bucket-collided pairs (never all pairs)
- SimHash:        64-bit signature; near-dup via 16-bit chunk banding +
                  hamming(bit_count(xor)) verification
- n-gram Jaccard: exact pairwise Jaccard restricted to pairs sharing >= 1
                  shingle (inverted-index join), with a hot-shingle cap

The reference's only dedup is key-level CAS/PK idempotency
(feed.go:46-59, cql:36); this module is the extension surface mandated by
BASELINE.json (LLM-data-pipeline operators).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

# Hard ceiling on members per LSH bucket (per (band, bucket) in MinHash,
# per (chunk, ckey) in SimHash).  Pair enumeration is quadratic in bucket
# width, so one templated-boilerplate mega-bucket (near-identical but not
# exact-duplicate documents: license headers, scraped nav chrome) would
# otherwise produce an O(width^2) straggler task at corpus scale —
# exact_dedup drains exact copies first but cannot drain these.  The cap
# keeps the ``max_bucket_width`` smallest ids per bucket (deterministic,
# and mirrored literally in the DuckDB oracles via the same constant); at
# width 256 a saturated bucket still verifies 32k candidate pairs, far
# past the point where "these are all the same template" is established.
MAX_BUCKET_WIDTH = 256


def _cap_bucket_width(
    df: DataFrame,
    part_cols: list[str],
    order_col: str,
    max_bucket_width: int,
    observation: Observation | None,
) -> DataFrame:
    """Keep the ``max_bucket_width`` smallest ``order_col`` rows per
    bucket.  The rank-filter shape plans as WindowGroupLimit (map-side
    Partial + Final), so oversized buckets are truncated BEFORE the
    shuffle — the mega-bucket never materializes on one task.

    ``observation`` (optional) records ``n_bucket_members_dropped`` on the
    same pass; note the CollectMetrics node sits between the window and
    the rank filter, which disables the WindowGroupLimit pushdown — use it
    to audit a corpus, not in the steady-state pipeline.
    """
    w = Window.partitionBy(*part_cols).orderBy(order_col)
    ranked = df.withColumn("__rn", F.row_number().over(w))
    if observation is not None:
        ranked = ranked.observe(
            observation,
            F.sum(
                F.when(F.col("__rn") > max_bucket_width, 1).otherwise(0)
            ).alias("n_bucket_members_dropped"),
        )
    return ranked.filter(F.col("__rn") <= max_bucket_width).drop("__rn")


def _tokens(col: str) -> Column:
    return F.filter(
        F.split(F.lower(col), "[^a-z]+"), lambda t: F.length(t) > 0
    )


def _parallelize(df: DataFrame) -> DataFrame:
    """Spread a narrow input across the cluster before CPU-heavy per-row
    work.  Small corpora often arrive as one parquet file = one partition,
    serializing the whole signature computation onto a single core; at
    real scale inputs already have >= defaultParallelism partitions and
    this is a no-op.

    Hash repartition on all columns, NOT round-robin: round-robin output
    is non-deterministic, which disqualifies the exchange from Catalyst's
    ReuseExchange — operators that branch over the same expensive subplan
    (e.g. the inverted index read 3x in ngram_jaccard_pairs) would then
    recompute the per-row work once per branch.

    Width is probed from plan metadata only: ``df.inputFiles()`` walks the
    analyzed plan's file indexes on the driver — no job, and crucially no
    ``df.rdd`` conversion (which would graft an RDD-scan stage into every
    signature pipeline's query plan).  File count underestimates scan
    parallelism when single files split under
    ``spark.sql.files.maxPartitionBytes``; the penalty for that
    underestimate is one redundant hash repartition, which is the safe
    direction.  Non-file inputs (in-memory relations, streaming batch
    frames) report zero files and are repartitioned — they are either tiny
    or already epoch-bounded."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if len(df.inputFiles()) < max(2, target // 2):
        return df.repartition(target, *df.columns)
    return df


def _shingles(col: str, n: int) -> Column:
    """Word n-gram shingles; documents shorter than n words yield their
    single full-text shingle.

    One regex pass with a zero-width word-boundary lookahead extracts every
    overlapping n-gram token-aligned: ``\\b(?=(w w ... w))``.  This stays on
    the codegen'd regexp path; the equivalent higher-order-function build
    (sequence -> transform -> slice -> array_join) runs interpreted and was
    ~5x slower per document (measured at sf0.1; see PERFORMANCE.md).
    """
    norm = F.trim(F.regexp_replace(F.lower(col), "[^a-z]+", " "))
    pat = r"\b(?=(" + " ".join(["[a-z]+"] * n) + r"))"
    grams = F.regexp_extract_all(norm, F.lit(pat), 1)
    return F.when(F.size(grams) == 0, F.array(norm)).otherwise(grams)


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the min-id representative per exact text — one hash shuffle.
    (Q28's accounting form lives in plans/queries.)"""
    return (
        df.groupBy(text_col)
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_dups"))
        .select(id_col, text_col, "n_dups")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _md5_32(col: Column) -> Column:
    """Cross-engine 32-bit hash: first 8 hex digits of md5(value).

    DuckDB twin (bit-identical, the idiom behind the oracle-checked
    hash-split family in sampling.py):
    ``CAST(('0x' || substring(md5(v), 1, 8)) AS BIGINT)``.  32 bits is
    ample minhash resolution (per-pair collision 2^-32) and fits a signed
    BIGINT in both engines with no sign fixup.
    """
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


# Affine universal-hash family for the portable minhash path: the s-th
# "permutation" of a base hash h is (A[s]*h + B[s]) mod P.  ONE md5 per
# shingle + 64 integer-arithmetic mixes replaces 64 md5 evaluations, and
# DuckDB reproduces the arithmetic exactly (all operands non-negative and
# < 2^62, so BIGINT % agrees between engines).  Coefficients are fixed
# md5-derived constants so both engines embed identical literals.
MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
import hashlib as _hashlib

MINHASH_A = [
    int(_hashlib.md5(f"minhash-a-{s}".encode()).hexdigest()[:8], 16)
    % (MINHASH_P - 1)
    + 1
    for s in range(64)
]
MINHASH_B = [
    int(_hashlib.md5(f"minhash-b-{s}".encode()).hexdigest()[:8], 16)
    % MINHASH_P
    for s in range(64)
]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_size: int = 3,
    hasher: str = "xxhash",
    use_arrow: bool = True,
) -> DataFrame:
    """k seeded minhashes over word shingles.

    sig[s] = min over shingles of h(shingle, s) — the standard
    one-permutation-per-seed construction; E[sig_a == sig_b] = J(a, b).
    ``hasher="xxhash"`` is the fast JVM path; ``hasher="md5"``
    hashes each shingle once with the 32-bit md5 prefix and derives the k
    seeded values with the affine family (A[s]*h + B[s]) mod P, so a
    DuckDB oracle reproduces the signatures bit-for-bit (use for
    verification surfaces).

    Shape (md5, r11 default): the per-shingle base hashes stay a JVM
    array projection (one native md5 per distinct shingle, no explode),
    and the k seeded minima are ONE exact integer pass per Arrow batch
    (``_minhash_sigs_md5_arrow``) — zero exchanges, replacing the
    previous explode-to-(id, shingle, seed) fanout whose k x shingles
    rows all crossed a partial aggregate and whose (id, seed) ->
    (id) rollup was a second shuffle.  All arithmetic is int64 with
    operands < 2^62, so NumPy and the JVM agree bit-for-bit — the
    signatures are IDENTICAL to the explode path
    (test_dedup.py::test_minhash_md5_arrow_matches_explode_path), and
    every persisted band index built by the old path stays valid.
    ``use_arrow=False`` keeps the JVM-only explode shape.

    Shape (xxhash, and the md5 fallback): explode shingles, fan each
    out to its k seeded hashes, then a two-level aggregate back to the
    signature array.  A single nested higher-order expression
    (transform over seeds x shingles) looks simpler but re-inlines the
    shingle construction k times after projection collapse — ~50x
    slower in practice; the explode form is linear work with map-side
    combine.
    """
    if hasher == "md5" and use_arrow:
        return _minhash_sigs_md5_arrow(
            df, text_col, id_col, num_hashes, shingle_size
        )
    mh = _minhash_per_seed(df, text_col, id_col, num_hashes, shingle_size, hasher)
    return mh.groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("seed", "mh"))),
            lambda s: s["mh"],
        ).alias("sig")
    )


def _minhash_sigs_md5_arrow(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_size: int,
    sets: DataFrame | None = None,
) -> DataFrame:
    """(id, sig) minhash signatures for the md5/affine family with the
    seed minima computed vectorized — the r11 scale shape shared by
    every oracle-checked minhash surface (q37/q78 and the q110/q114/
    q117 persisted index family).

    The JVM side stays what it is good at: the shingle regex and ONE
    native md5 per distinct shingle, as an array ``transform``
    projection (hb = pmod(md5_32(shingle), P) per element — the md5
    dominates; no explode, so nothing is fanned out k times).  The
    Arrow side then computes, per document, min over shingles of
    (A[s] * hb + B[s]) mod P for all k seeds in one flat int64 pass
    (per-seed ``np.minimum.reduceat`` over the batch-concatenated hb
    arrays).  Every operand is non-negative and < 2^62, so int64
    multiply/add/mod agree with the JVM BIGINT arithmetic exactly —
    bit-identical signatures by construction, not by epsilon.

    Cost shape vs the explode path: zero exchanges and zero
    aggregate-hash lookups (the old path pushed k x |shingles| rows
    through a partial aggregate, then shuffled (id, seed) minima
    twice); here the corpus is touched by one projection + one Arrow
    stage, both embarrassingly parallel.

    ``sets`` (optional, columns ``(id, sh)`` with ``sh`` the distinct
    shingle array): reuse a caller-materialized shingle extraction —
    every verified minhash surface needs the shingle STRINGS again for
    exact-Jaccard verification, so callers that checkpoint the sets
    frame can feed banding and verification from ONE regex pass
    instead of two.  Partitioning is then the caller's contract
    (``_parallelize`` is skipped).
    """
    if num_hashes > len(MINHASH_A):
        raise ValueError(
            f"num_hashes={num_hashes} exceeds the {len(MINHASH_A)}-coefficient "
            "limit of the md5 affine family (MINHASH_A/MINHASH_B); use "
            "num_hashes <= 64 or hasher='xxhash64'"
        )
    a_arr = np.array(MINHASH_A[:num_hashes], dtype=np.int64)
    b_arr = np.array(MINHASH_B[:num_hashes], dtype=np.int64)

    @F.pandas_udf("array<long>")
    def _sig(hbs: pd.Series) -> pd.Series:
        if len(hbs) == 0:
            return pd.Series([], dtype=object)
        lens = np.fromiter((len(x) for x in hbs), np.int64, count=len(hbs))
        # _shingles guarantees >= 1 shingle per doc (short docs yield
        # the full-text shingle), so reduceat segment starts are strict
        flat = np.concatenate([np.asarray(x, np.int64) for x in hbs])
        starts = np.zeros(len(hbs), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        sigs = np.empty((len(hbs), len(a_arr)), dtype=np.int64)
        for s in range(len(a_arr)):
            sigs[:, s] = np.minimum.reduceat(
                (flat * a_arr[s] + b_arr[s]) % MINHASH_P, starts
            )
        return pd.Series([row.tolist() for row in sigs])

    # NULL text yields a NULL shingle array (hence NULL hb); the explode
    # path silently dropped such docs, and the incremental-index contract
    # REQUIRES NULL-text re-ingests to produce zero band rows — filter
    # before the UDF (len(None) would crash the Python worker otherwise).
    if sets is not None:
        hb = F.transform(
            "sh", lambda x: F.pmod(_md5_32(x), F.lit(MINHASH_P))
        )
        return (
            sets.select("id", hb.alias("hb"))
            .filter(F.col("hb").isNotNull())
            .select("id", _sig("hb").alias("sig"))
        )
    hb = F.transform(
        F.array_distinct(_shingles(text_col, shingle_size)),
        lambda x: F.pmod(_md5_32(x), F.lit(MINHASH_P)),
    )
    return (
        _parallelize(df)
        .select(F.col(id_col).alias("id"), hb.alias("hb"))
        .filter(F.col("hb").isNotNull())
        .select("id", _sig("hb").alias("sig"))
    )


def _minhash_per_seed(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_size: int,
    hasher: str,
) -> DataFrame:
    """(id, seed, mh) minhash rows — the shared pre-array stage."""
    exploded = _parallelize(df).select(
        F.col(id_col).alias("id"),
        F.explode(_shingles(text_col, shingle_size)).alias("shingle"),
    )
    if hasher == "md5":
        # ONE md5 per doc-shingle pair, then the k seeded values come from
        # the affine family via a broadcast equi-join with the 64-row
        # coefficient table (BroadcastHashJoin, codegen'd; NOT literal
        # arrays inside a HOF, which run interpreted and bloat codegen).
        # The shingle string is dropped before the k-fanout so only
        # (id, h, seed) triples flow into the partial aggregate.
        if num_hashes > len(MINHASH_A):
            raise ValueError(
                f"num_hashes={num_hashes} exceeds the {len(MINHASH_A)}-coefficient "
                "limit of the md5 affine family (MINHASH_A/MINHASH_B); use "
                "num_hashes <= 64 or hasher='xxhash64'"
            )
        seeds_df = df.sparkSession.createDataFrame(
            [
                (s, MINHASH_A[s], MINHASH_B[s])
                for s in range(num_hashes)
            ],
            "seed int, a long, b long",
        )
        hv = exploded.select(
            "id", F.pmod(_md5_32(F.col("shingle")), F.lit(MINHASH_P)).alias("hb")
        )
        hashed = (
            hv.select(
                "id",
                "hb",
                F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias(
                    "seed"
                ),
            )
            .join(F.broadcast(seeds_df), "seed")
            .select(
                "id",
                "seed",
                F.pmod(
                    F.col("a") * F.col("hb") + F.col("b"), F.lit(MINHASH_P)
                ).alias("h"),
            )
        )
    else:
        hashed = exploded.select(
            "id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(num_hashes - 1)),
                    lambda s: F.xxhash64("shingle", s),
                )
            ).alias("seed", "h"),
        )
    return hashed.groupBy("id", "seed").agg(F.min("h").alias("mh"))


def banded_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    hasher: str = "xxhash",
    sets: DataFrame | None = None,
) -> DataFrame:
    """(id, band, bucket) LSH band rows, pre-cap — the per-document
    banding stage shared by the one-shot candidate pipeline and the
    persistent index (minhash_index.py).  A document's rows depend only
    on its OWN text and the parameters, never on the rest of the
    corpus — the property that makes an incrementally-built index emit
    exactly the rows a full rebuild would.

    Bands aggregate directly at (id, band) granularity from the
    (id, seed, mh) rows — NOT by slicing a materialized signature
    array: a band transform over ``sig`` gets the signature expression
    (array_sort over 64 structs) inlined into its lambda by
    CollapseProject and re-evaluates it per band — 16x interpreted
    re-evaluation, ~6s of pure overhead at sf0.1.

    ``bucket`` is a STRING for both hashers (md5: the band's signature
    slice joined as text — the DuckDB-portable key; xxhash: the band
    hash cast to string) so index storage has one schema regardless of
    hasher.

    Deployment note (ADVICE r11): the md5 hasher routes through the
    Arrow signature fold unconditionally — a deliberate trade: md5 is
    the oracle-verification hasher, its r11 explode fallback cost 2
    extra exchanges, and the buckets are bit-identical either way.
    JVM-only deployments (no Python workers) should use the xxhash
    hasher, which never leaves the JVM; `minhash_signatures` /
    `simhash_signatures_md5` keep `use_arrow=False` escapes for the
    signature-only surfaces."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide evenly into "
            f"bands ({bands}) — each band hashes num_hashes/bands rows"
        )
    r = num_hashes // bands
    if hasher == "md5":
        # r11: band buckets are sliced out of the Arrow-computed
        # signature array — the sig is a physical ArrowEvalPython
        # output attribute, so the per-band slices cannot re-inline
        # the signature pipeline (the CollapseProject hazard that
        # forbade slicing the old aggregate-built sig).  Zero
        # exchanges: projection -> Arrow -> posexplode.  Bucket key
        # string is unchanged (the band's signature slice joined as
        # text — DuckDB groups on the identical array_to_string
        # value), so persisted indexes remain valid.
        sigs = _minhash_sigs_md5_arrow(
            df, text_col, id_col, num_hashes, shingle_size, sets=sets
        )
        band_arr = F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.array_join(
                F.transform(
                    F.slice("sig", b * r + F.lit(1), r),
                    lambda x: x.cast("string"),
                ),
                ",",
            ),
        )
        return sigs.select(
            "id", F.posexplode(band_arr).alias("band", "bucket")
        ).select("id", F.col("band").cast("int").alias("band"), "bucket")
    mh = _minhash_per_seed(df, text_col, id_col, num_hashes, shingle_size, hasher)
    grouped = mh.groupBy(
        "id", F.floor(F.col("seed") / r).cast("int").alias("band")
    ).agg(
        F.array_sort(F.collect_list(F.struct("seed", "mh"))).alias("sm")
    )
    bucket = F.xxhash64(
        F.transform("sm", lambda s: s["mh"]), F.col("band")
    ).cast("string")
    return grouped.select("id", "band", bucket.alias("bucket"))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    hasher: str = "xxhash",
    max_bucket_width: int = MAX_BUCKET_WIDTH,
    width_observation: Observation | None = None,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: ids agreeing on >= 1 LSH band.

    b bands of r = k/b rows; collision prob = 1-(1-J^r)^b (S-curve at
    J ~ (1/b)^(1/r)).

    Two structural choices, both measured on the sf0.1 corpus:

    - Bands aggregate directly at (id, band) granularity from the
      (id, seed, mh) rows — NOT by slicing a materialized signature
      array: a band transform over ``sig`` gets the signature expression
      (array_sort over 64 structs) inlined into its lambda by
      CollapseProject and re-evaluates it per band — 16x interpreted
      re-evaluation, ~6s of pure overhead at sf0.1.
    - Pairs are enumerated by grouping ids per (band, bucket) and
      exploding in-bucket pairs — NOT a banded self-join: a self-join
      references the whole signature pipeline twice and Catalyst does not
      reuse the exchange across the differently-aliased branches
      (measured 2x the stage cost).  Output volume is identical
      (quadratic in bucket size either way); ``exact_dedup`` first drains
      mass-identical documents, and ``max_bucket_width`` truncates any
      mega-bucket that survives it (templated near-identical corpora) to
      its smallest ids BEFORE the bucket list is collected — see
      ``MAX_BUCKET_WIDTH`` / ``_cap_bucket_width``.
    """
    banded = _cap_bucket_width(
        banded_rows(
            df, text_col, id_col, num_hashes, bands, shingle_size, hasher,
            sets=sets,
        ),
        ["band", "bucket"],
        "id",
        max_bucket_width,
        width_observation,
    )
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list("id").alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return (
        buckets.select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    hasher: str = "xxhash",
    max_bucket_width: int = MAX_BUCKET_WIDTH,
    width_observation: Observation | None = None,
    reliable: bool = False,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """LSH candidates verified with *exact* Jaccard over shingle sets —
    false positives from banding are filtered, so the output depends on
    the threshold only (plus LSH recall; raise ``bands`` for higher
    recall at lower thresholds).

    ``reliable=True`` swaps the shingle-set materialization from
    executor-memory ``localCheckpoint`` (lost on executor failure —
    fine on local[n]) to durable parquet under ``checkpoint_dir``
    (graph.py::_checkpointer), the mode for multi-hour cluster dedup
    jobs that must survive executor loss.  Hashes are unchanged either
    way — only where the materialized frame lives."""
    from golang_cassandra_kafka_feed_spark.operators.graph import (
        _checkpointer,
    )

    shingle_sets = _parallelize(df).select(
        F.col(id_col).alias("id"),
        F.array_distinct(_shingles(text_col, shingle_size)).alias("sh"),
    )
    # The two verify sides AND (r11, md5 hasher) the banding pipeline
    # all reference this frame — materialize the shingle extraction
    # once (iterative/multi-reference persist idiom; q37 cold 13.4 ->
    # 2.7 s, steady -9% at sf0.1; the sets= reuse removes the second
    # full regex pass the banding side used to pay).  Executor storage
    # holds one shingle array per doc, the same volume the two joins
    # move anyway.
    shingle_sets = _checkpointer(shingle_sets, reliable, checkpoint_dir)(
        shingle_sets
    )
    cands = minhash_lsh_candidates(
        df,
        text_col,
        id_col,
        num_hashes,
        bands,
        shingle_size,
        hasher,
        max_bucket_width,
        width_observation,
        sets=shingle_sets if hasher == "md5" else None,
    )
    return (
        cands.join(
            shingle_sets.select(
                F.col("id").alias("id_a"), F.col("sh").alias("sh_a")
            ),
            "id_a",
        )
        .join(
            shingle_sets.select(
                F.col("id").alias("id_b"), F.col("sh").alias("sh_b")
            ),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_accuracy_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    max_bucket_width: int = MAX_BUCKET_WIDTH,
    reliable: bool = False,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Sketch-accuracy audit of the MinHash mechanism itself: for every
    LSH-candidate pair, the signature-agreement Jaccard ESTIMATE
    (fraction of the k seeded minhashes that agree — E[est] = J, the
    MinHash identity) next to the exact shingle-set Jaccard, plus the
    absolute error.  This is the query a 100 TB deployment runs on a
    sample before trusting `minhash_near_duplicates`' threshold on the
    full corpus — the same audit shape as q48's KMV-vs-exact-distinct
    (the reference's only accuracy loop is its bench polling,
    e2e_bench.go:188-228; this is its sketch-era analog).

    Uses the md5 hasher path so a DuckDB oracle reproduces estimate AND
    exact bit-identically (est = m/k is an exact binary rational; exact
    Jaccard is a small-integer ratio; their difference is one IEEE
    subtraction of identical doubles).  No threshold filter: banding
    false positives are exactly what the audit needs to surface.

    Plan note: the expensive signature pipeline (shingle regex + md5 +
    k-fanout + two shuffles) runs ONCE.  Band buckets are sliced out of
    the one aggregated `sig` array (past the aggregate boundary `sig`
    is a physical attribute, so the per-band slice cannot re-inline the
    pipeline — the CollapseProject hazard), and the signature rides
    along through the bucket grouping so the pair enumeration emits
    (sig_a, sig_b) directly — no sig self-join.  Composing
    `minhash_lsh_candidates` + 2x `minhash_signatures` joins instead
    runs the pipeline three times: separately-constructed (or
    self-join-dealiased) subtrees carry distinct lambda-variable
    expression ids, which defeats ReuseExchange's canonicalized-plan
    match (the round-2 banded self-join finding; re-verified here — 0
    ReusedExchange nodes in that shape).  Cost of the carry: the band
    shuffle moves k longs per (doc, band) instead of the r-value bucket
    string — linear, and cheaper than one extra pipeline pass.
    """
    r = num_hashes // bands
    # ONE shingle extraction feeds both the signatures and the exact-
    # Jaccard verification below (r11; the audit used to regex the
    # corpus twice) — checkpointed because it anchors three branches.
    from golang_cassandra_kafka_feed_spark.operators.graph import (
        _checkpointer,
    )

    sets = _parallelize(df).select(
        F.col(id_col).alias("id"),
        F.array_distinct(_shingles(text_col, shingle_size)).alias("sh"),
    )
    sets = _checkpointer(sets, reliable, checkpoint_dir)(sets)
    sigs = _minhash_sigs_md5_arrow(
        df, text_col, id_col, num_hashes, shingle_size, sets=sets
    )
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.array_join(
            F.transform(
                F.slice("sig", b * r + F.lit(1), r),
                lambda x: x.cast("string"),
            ),
            ",",
        ),
    )
    banded = _cap_bucket_width(
        sigs.select(
            "id", "sig", F.posexplode(band_arr).alias("band", "bucket")
        ),
        ["band", "bucket"],
        "id",
        max_bucket_width,
        None,
    )
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list(F.struct("id", "sig")).alias("xs"))
        .filter(F.size("xs") > 1)
    )
    pairs = (
        buckets.select(F.explode("xs").alias("a"), "xs")
        .select("a", F.explode("xs").alias("b"))
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .agg(
            F.first("a.sig").alias("sig_a"), F.first("b.sig").alias("sig_b")
        )
    )
    joined = pairs.join(
        sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")),
        "id_a",
    ).join(
        sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")),
        "id_b",
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda m: m,
            )
        )
        / F.lit(num_hashes)
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    exact = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return joined.select(
        "id_a",
        "id_b",
        est.alias("est_jaccard"),
        exact.alias("exact_jaccard"),
        (F.round(F.abs(est - exact) * 1000000) / 1000000).alias("abs_err"),
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIMHASH_EXPR_TMPL = """
aggregate(
  transform(
    aggregate(
      transform(filter(split(lower({col}), '[^a-z]+'), t -> length(t) > 0),
                t -> xxhash64(t)),
      array_repeat(cast(0 as bigint), 64),
      (a, hv) -> transform(a, (x, i) ->
                   x + IF((shiftright(hv, i) & 1) = 1, 1, -1))
    ),
    (x, i) -> IF(x > 0, shiftleft(cast(1 as bigint), i), cast(0 as bigint))
  ),
  cast(0 as bigint), (a, b) -> a | b
)
"""


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash: per-bit vote of seeded token hashes (Charikar).
    Pure SQL higher-order fold — codegen'd, no UDF."""
    return _parallelize(df).select(
        F.col(id_col).alias("id"),
        F.expr(_SIMHASH_EXPR_TMPL.format(col=text_col)).alias("simhash"),
    )


def simhash_signatures_md5(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    use_arrow: bool = True,
) -> DataFrame:
    """Engine-portable 64-bit SimHash as TWO 32-bit halves (id, hi, lo).

    One md5 per token supplies both halves (hex digits 1-8 and 9-16);
    the per-bit +-1 votes and the sign assembly are exact integer
    arithmetic, so both engines agree bit-for-bit.  Two BIGINT halves
    rather than one 64-bit value keep every quantity non-negative and
    below 2^32, so no engine disagrees on sign or overflow.

    Default shape (r11, guide §2.3/§4.2): the JVM computes one md5 hex
    string per token as an array ``transform`` (no explode), and ONE
    exact int64 Arrow pass per batch parses the two halves and folds
    the 64 bit-votes with ``np.add.reduceat`` — zero exchanges,
    replacing the explode + 64-SUM groupBy whose every token row
    crossed a partial aggregate and whose vote rollup was a shuffle.
    Docs with zero tokens are dropped (filter) exactly as the explode
    path dropped them (no exploded rows -> no group).  Bit-identity
    with the explode path is asserted in
    test_dedup.py::test_simhash_md5_arrow_matches_explode_path.
    ``use_arrow=False`` keeps the JVM-only explode shape.
    """
    if use_arrow:
        hexes = F.transform(_tokens(text_col), lambda t: F.md5(t))

        @F.pandas_udf("hi long, lo long")
        def _sig(hx: pd.Series) -> pd.DataFrame:
            if len(hx) == 0:
                return pd.DataFrame({"hi": [], "lo": []}, dtype="int64")
            from itertools import chain

            lens = np.fromiter((len(x) for x in hx), np.int64, count=len(hx))
            # ONE C-level hex decode of the whole batch (r12, verdict
            # ask #5 — the per-token int(h[:8],16) Python loop was the
            # one non-vectorized Arrow-tier inner loop): 32 hex chars
            # per token -> 16 md5 bytes; big-endian u4 word 0 is hex
            # digits 1-8 (hi), word 1 is digits 9-16 (lo) — the exact
            # integers int(h[:8],16) / int(h[8:16],16) produced.
            # (Emitting the halves as longs JVM-side was rejected:
            # HOF lambdas re-inline after CollapseProject, so the two
            # half-extractions would each recompute the md5.)
            blob = bytes.fromhex("".join(chain.from_iterable(hx)))
            words = np.frombuffer(blob, dtype=">u4").reshape(-1, 4)
            his = words[:, 0].astype(np.int64)
            los = words[:, 1].astype(np.int64)
            starts = np.zeros(len(hx), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            out_hi = np.zeros(len(hx), dtype=np.int64)
            out_lo = np.zeros(len(hx), dtype=np.int64)
            for i in range(32):
                # votes_i = (#set - #unset) = 2 * #set - n_tokens
                for flat, out in ((his, out_hi), (los, out_lo)):
                    set_counts = np.add.reduceat(
                        (flat >> i) & 1, starts
                    )
                    out += ((2 * set_counts - lens) > 0).astype(
                        np.int64
                    ) << i
            return pd.DataFrame({"hi": out_hi, "lo": out_lo})

        return (
            _parallelize(df)
            .select(F.col(id_col).alias("id"), hexes.alias("hx"))
            .filter(F.size("hx") > 0)
            .select("id", _sig("hx").alias("s"))
            .select("id", F.col("s.hi").alias("hi"), F.col("s.lo").alias("lo"))
        )
    toks = _parallelize(df).select(
        F.col(id_col).alias("id"),
        F.explode(_tokens(text_col)).alias("tok"),
    )
    th = toks.select(
        "id",
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10)
        .cast("bigint")
        .alias("hi"),
        F.conv(F.substring(F.md5("tok"), 9, 8), 16, 10)
        .cast("bigint")
        .alias("lo"),
    )

    def vote(col: str, i: int) -> Column:
        bit = F.shiftright(F.col(col), i).bitwiseAND(F.lit(1))
        return F.sum(F.when(bit == 1, 1).otherwise(-1))

    sums = th.groupBy("id").agg(
        *[vote("hi", i).alias(f"vh{i}") for i in range(32)],
        *[vote("lo", i).alias(f"vl{i}") for i in range(32)],
    )

    def assemble(prefix: str) -> Column:
        out = F.lit(0).cast("bigint")
        for i in range(32):
            out = out + F.when(
                F.col(f"{prefix}{i}") > 0, F.lit(1 << i).cast("bigint")
            ).otherwise(F.lit(0).cast("bigint"))
        return out

    return sums.select(
        "id", assemble("vh").alias("hi"), assemble("vl").alias("lo")
    )


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hasher: str = "xxhash",
    max_bucket_width: int = MAX_BUCKET_WIDTH,
    width_observation: Observation | None = None,
) -> DataFrame:
    """Near-dups by hamming distance <= max_hamming.

    Banding: with 4 x 16-bit chunks, any pair within hamming 3 agrees on
    >= 1 chunk (pigeonhole), so candidates = chunk-equal pairs; verification
    is ``bit_count(a ^ b)``.  Same shuffle shape as MinHash-LSH.

    ``hasher="md5"`` uses the portable two-half signature
    (simhash_signatures_md5) and enumerates pairs per chunk bucket (the
    signature there is an aggregate, so the self-join form would compute
    its shuffle twice); verification joins the tiny (id, hi, lo) table
    back onto the pairs.
    """
    if hasher == "md5":
        # The signature is 3 longs, so carry it THROUGH the bucket
        # pipeline (collect_list of structs, explode in-bucket pairs)
        # instead of joining the signature table back per pair side —
        # the aggregate signature pipeline then appears exactly once in
        # the plan (the join-back form computed it three times).
        sigs = simhash_signatures_md5(df, text_col, id_col)
        chunked = sigs.selectExpr(
            "struct(id, hi, lo) AS s",
            "explode(array("
            "struct(0 AS chunk, (lo & 65535) AS ckey), "
            "struct(1 AS chunk, (shiftright(lo, 16) & 65535) AS ckey), "
            "struct(2 AS chunk, (hi & 65535) AS ckey), "
            "struct(3 AS chunk, (shiftright(hi, 16) & 65535) AS ckey)"
            ")) AS cc",
        ).select("s", "cc.chunk", "cc.ckey")
        chunked = _cap_bucket_width(
            chunked, ["chunk", "ckey"], "s.id", max_bucket_width,
            width_observation,
        )
        buckets = (
            chunked.groupBy("chunk", "ckey")
            .agg(F.collect_list("s").alias("ss"))
            .filter(F.size("ss") > 1)
        )
        return (
            buckets.select(F.explode("ss").alias("a"), "ss")
            .select("a", F.explode("ss").alias("b"))
            .filter(F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                (
                    F.bit_count(F.col("a.hi").bitwiseXOR(F.col("b.hi")))
                    + F.bit_count(F.col("a.lo").bitwiseXOR(F.col("b.lo")))
                )
                .cast("long")
                .alias("hamming"),
            )
            .distinct()
            .filter(F.col("hamming") <= max_hamming)
        )
    sigs = simhash_signatures(df, text_col, id_col)
    chunked = sigs.selectExpr(
        "id",
        "simhash",
        "explode(transform(sequence(0, 3), c -> struct(c AS chunk, "
        "(shiftright(simhash, c * 16) & 65535) AS ckey))) AS cc",
    ).select("id", "simhash", "cc.chunk", "cc.ckey")
    chunked = _cap_bucket_width(
        chunked, ["chunk", "ckey"], "id", max_bucket_width, width_observation
    )
    a = chunked.alias("a")
    b = chunked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ckey") == F.col("b.ckey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard via inverted index
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int = 1000,
) -> DataFrame:
    """Exact Jaccard for pairs sharing at least one n-gram shingle.

    Inverted index as ONE aggregation: group postings per shingle, keep
    buckets with 2..max_shingle_freq docs, and explode in-bucket pairs.
    The size cap both guards skew (hot shingles contribute near-zero
    Jaccard signal but quadratic pairs — the 100 TB safety valve) and
    bounds the collected posting list, so no bucket array can exceed
    max_shingle_freq structs.  The previous formulation (separate
    hot-shingle anti-join + posting-list self-join) referenced the
    shingle-extraction pipeline three times; Catalyst does not reuse the
    exchange across those branches, so the regex work ran 3x.
    """
    sets = _parallelize(df).select(
        F.col(id_col).alias("id"),
        F.array_distinct(_shingles(text_col, n)).alias("sh"),
    ).withColumn("set_size", F.size("sh"))
    inv = sets.select(
        "id", "set_size", F.explode("sh").alias("shingle")
    )
    buckets = (
        inv.groupBy("shingle")
        .agg(F.collect_list(F.struct("id", "set_size")).alias("xs"))
        .filter((F.size("xs") >= 2) & (F.size("xs") <= max_shingle_freq))
    )
    shared = (
        buckets.select(F.explode("xs").alias("a"), "xs")
        .select("a", F.explode("xs").alias("b"))
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.set_size").alias("size_a"),
            F.col("b.set_size").alias("size_b"),
        )
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.withColumn(
            "jaccard",
            F.col("shared")
            / (F.col("size_a") + F.col("size_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_pairs_store(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """``ngram_jaccard_pairs`` served from a create-if-absent parquet
    materialization (``fsutil.materialize_once``) — the shared-stage fix for
    the q47/q71/q103/q111/q115 family, which all consume the same pair
    graph and used to re-derive the shingle pipeline per key (verdict
    r8 ask #2: q111 re-ran the full pair derivation + component
    fixpoint every run).

    The store path embeds the sorted input-file list and every
    parameter, so a different corpus, scale factor, or threshold can
    never serve a stale graph; non-file-backed inputs (unit-test
    frames) compute inline — nothing to key staleness on, and they
    are cheap.  Values are exact across the parquet roundtrip
    (BIGINT ids, binary64 jaccard), so consumers hash identically to
    the inline form.

    100 TB posture: a verified pair graph is a shared derived
    artifact — curation computes it ONCE per corpus snapshot and every
    downstream stage (grouping, canonical selection, leakage audit,
    triangle cohesion) reads the materialization instead of re-paying
    the shingle shuffle."""
    from golang_cassandra_kafka_feed_spark.sources.fsutil import (
        materialize_once,
        store_path,
    )

    files = df.inputFiles()
    if not files:
        return ngram_jaccard_pairs(df, text_col, id_col, n, threshold)
    return materialize_once(
        df.sparkSession,
        store_path(
            "pairs", files, text_col, id_col, n, threshold, "pairs-v1"
        ),
        lambda: ngram_jaccard_pairs(df, text_col, id_col, n, threshold),
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    width_observation: Observation | None = None,
) -> DataFrame:
    """Exact Jaccard pairs via PREFIX FILTERING (SSJoin, Chaudhuri et
    al. ICDE 2006; All-Pairs, Bayardo et al. WWW 2007) — the
    set-similarity join that indexes only each document's RAREST
    shingles instead of all of them.

    Theorem: order the shingle universe totally (here by ascending
    document frequency, ties by shingle text — rarest first, so the
    indexed postings are the SHORTEST ones); if
    ``J(A, B) >= t`` then ``|A ∩ B| >= ceil(t * max(|A|, |B|))``, and
    two sets intersecting that much MUST share an element within each
    one's first ``|X| - ceil(t * |X|) + 1`` shingles of that order.
    Indexing only those prefixes is therefore candidate-COMPLETE — no
    cap, no recall trade — while the index shrinks to a
    ``(1 - t)``-fraction of the corpus postings, and the entries kept
    are precisely the lowest-frequency ones, so celebrity shingles
    (boilerplate, stopword runs) never enter the index as long as docs
    carry rarer shingles to fill their prefixes (contrast
    ``ngram_jaccard_pairs``, which indexes everything and needs
    ``max_shingle_freq`` to cap the celebrity buckets).  The residual
    pathology is the mass-identical template corpus — every shingle
    high-df, prefixes still collide quadratically; completeness forbids
    capping here, so drain exact duplicates first (``exact_dedup``),
    the same precondition the MinHash family documents.
    ``width_observation`` (optional Observation) makes that pathology
    OBSERVABLE at runtime instead of documented-only: it records
    ``n_enumerated_pairs`` — the pre-dedup candidate enumeration that
    SURVIVES the PPJoin positional/length filters below (r11: the raw
    sum over prefix shingles of w*(w-1)/2 no longer materializes; the
    filters discard most of a template corpus's late-position
    boilerplate matches inside the join itself).  A healthy corpus
    keeps the metric within a small multiple of the doc count; a
    mass-identical corpus still drives it toward n_docs^2/2 (true
    pairs must enumerate — completeness) — the alarm that says "run
    exact_dedup first" (test_dedup.py plants both corpora and asserts
    the metric fires, the filters' drop, and that the precondition
    recovers the cost).  Like _cap_bucket's observation, the
    CollectMetrics node is for corpus audits, not the steady-state
    pipeline.

    Cost shape: one shuffle for global shingle frequencies, one
    frequency join back (AQE broadcasts it when the vocabulary is
    small), one per-doc rank window, the prefix-postings self-join
    with the PPJoin positional + length filters applied INSIDE the
    join condition (candidates are discarded before they ever become
    rows), then exact verification by joining the surviving pairs back
    to the full shingle ARRAYS (array_intersect per pair — candidates
    are few by construction, and no exploded row ever carries pair
    multiplicity).  More passes than the capped inverted index, in
    exchange for provable completeness and a frequency-bounded index —
    the right trade when recall is contractual (dedup for eval-set
    decontamination) rather than best-effort.

    The ceil is computed as ``ceil(size * t - 1e-9)`` — the float
    product can land one ulp ABOVE the true rational (0.7 * 10 ->
    7.000000000000001, ceil 8) which would SHORTEN the prefix and
    break completeness; the epsilon biases toward the longer (always
    safe) prefix.

    Same output contract as ``ngram_jaccard_pairs``:
    ``(id_a, id_b, jaccard)``, id_a < id_b.
    """
    sets = (
        _parallelize(df)
        .select(
            F.col(id_col).alias("id"),
            F.array_distinct(_shingles(text_col, n)).alias("sh"),
        )
        .withColumn("set_size", F.size("sh"))
    )
    # both the ranking pass and the verify pass read `sets`; cut the
    # lineage once so the shingle regex runs a single time
    sets = sets.localCheckpoint(eager=False)
    inv = sets.select("id", "set_size", F.explode("sh").alias("shingle"))
    freq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy("df", "shingle")
    prefix_len = (
        F.col("set_size")
        - F.ceil(F.col("set_size") * threshold - 1e-9)
        + 1
    )
    prefix = (
        inv.join(freq, "shingle")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= prefix_len)
        .select("id", "shingle", F.col("__rn").alias("pos"), "set_size")
    )
    # r12 note: a lazy localCheckpoint here (the two self-join aliases
    # re-run the freq aggregate + rank window) was measured WORSE —
    # the RDD-backed frame loses plan statistics, AQE mis-sizes the
    # prefix self-join (6-task stages at 1.2-1.4 s replaced the two
    # concurrent 0.6 s branch jobs).  The duplicated branch is the
    # cheaper evil; left alone.
    # PPJoin positional + length filters (Xiao et al. WWW 2008), r11
    # verdict #3 — prune candidates BEFORE they exist, without losing
    # completeness:
    #
    # - minoverlap: J >= t  =>  |A∩B| >= t/(1+t) * (|A|+|B|) =: alpha
    #   (tighter than the per-set ceil(t*max) the prefix lengths use).
    # - positional: a match at positions (p_a, p_b) of the frequency
    #   order bounds the overlap by 1 + min(|A|-p_a, |B|-p_b) — the
    #   current match plus everything AFTER it in each ordered set.
    #   Completeness: all common elements of a true pair sit at-or-
    #   after its FIRST common element c1, so ubound(c1) >= |A∩B| >=
    #   alpha, and the prefix theorem already guarantees c1 is inside
    #   both prefixes — c1's match always survives, so dropDuplicates
    #   sees every qualifying pair.  What dies is the template-corpus
    #   blast radius: boilerplate shingles sit LATE in the frequency
    #   order, exactly where the positional bound is strongest.
    # - length: J >= t => min(|A|,|B|) >= t * max(|A|,|B|).
    #
    # Both float thresholds carry the 1e-9 bias in the KEEP direction
    # (alpha one ulp smaller, size bound one ulp looser) — same ulp
    # discipline as prefix_len above, so float rounding can only admit
    # a doomed candidate (verification kills it), never drop a true
    # pair.
    alpha = F.ceil(
        (F.col("a.set_size") + F.col("b.set_size"))
        * (threshold / (1.0 + threshold))
        - 1e-9
    )
    overlap_ubound = 1 + F.least(
        F.col("a.set_size") - F.col("a.pos"),
        F.col("b.set_size") - F.col("b.pos"),
    )
    length_ok = (
        F.least("a.set_size", "b.set_size").cast("double")
        >= F.greatest("a.set_size", "b.set_size") * threshold - 1e-9
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id"))
            & (overlap_ubound >= alpha)
            & length_ok,
        )
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
    )
    if width_observation is not None:
        cand = cand.observe(
            width_observation,
            F.count(F.lit(1)).alias("n_enumerated_pairs"),
        )
    cand = cand.dropDuplicates(["id_a", "id_b"])
    sa = sets.select(
        F.col("id").alias("id_a"),
        F.col("sh").alias("sh_a"),
        F.col("set_size").alias("size_a"),
    )
    sb = sets.select(
        F.col("id").alias("id_b"),
        F.col("sh").alias("sh_b"),
        F.col("set_size").alias("size_b"),
    )
    shared = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            shared / (F.col("size_a") + F.col("size_b") - shared),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
    keep: str = "none",
    min_count: int = 2,
) -> DataFrame:
    """Line-level (paragraph-level) exact dedup across the corpus —
    the CCNet / RefinedWeb curation step that exact document dedup
    cannot do: boilerplate lines (nav chrome, license headers, cookie
    banners) repeat across otherwise-distinct pages, and removing the
    *line* everywhere both dedups and strips boilerplate.

    Every document is split on ``line_sep`` (a Java regex); a line's
    identity is the md5 of its trimmed text.  A line is "duplicated"
    when its identity occurs >= ``min_count`` times corpus-wide.

    keep='none' (CCNet 2020 §3.1: duplicated paragraphs are removed
    wherever they occur) drops every copy of a duplicated line;
    keep='first' (RefinedWeb-style) retains the single canonical copy
    with the smallest (id, line_idx).

    Returns one row per input document: (id, n_lines, n_kept, text_kept)
    with text_kept the surviving lines re-joined in original order.
    When ``line_sep`` is a non-trivial regex the rejoin uses the pattern
    string literally — pass texts pre-normalized to a literal separator
    if byte-exact reconstruction matters.

    100 TB posture: posexplode is narrow (lines stay in the doc's
    partition); ONE shuffle on the line hash computes both the global
    count and (for keep='first') the canonical rank in a single window
    pass; ONE shuffle regroups survivors by document.  Hot lines (the
    empty line, "Home", …) make wide hash partitions but the window
    computes only count/row_number — no pair enumeration, so there is
    no quadratic mega-bucket hazard to cap (contrast
    minhash_lsh_candidates).
    """
    if keep not in ("none", "first"):
        raise ValueError(f"keep must be 'none' or 'first', got {keep!r}")
    join_sep = "\n" if line_sep == "\n" else line_sep
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), line_sep)).alias(
            "line_idx", "line"
        ),
    ).withColumn("__h", F.md5(F.trim(F.col("line"))))
    w = Window.partitionBy("__h")
    counted = lines.withColumn("__cnt", F.count(F.lit(1)).over(w))
    if keep == "first":
        wr = Window.partitionBy("__h").orderBy(id_col, "line_idx")
        counted = counted.withColumn("__rn", F.row_number().over(wr))
        kept = counted.filter(
            (F.col("__cnt") < min_count) | (F.col("__rn") == 1)
        )
    else:
        kept = counted.filter(F.col("__cnt") < min_count)
    survivors = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("line_idx", "line"))
                ),
                lambda s: s["line"],
            ),
            join_sep,
        ).alias("text_kept"),
    )
    totals = df.select(
        F.col(id_col),
        (F.size(F.split(F.col(text_col), line_sep))).alias("n_lines"),
    )
    return (
        totals.join(survivors, id_col, "left")
        .select(
            id_col,
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("text_kept", F.lit("")).alias("text_kept"),
        )
    )
