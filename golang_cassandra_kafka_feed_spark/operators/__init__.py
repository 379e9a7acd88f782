from golang_cassandra_kafka_feed_spark.operators.topk import (
    top_k_global,
    top_k_per_key,
)
from golang_cassandra_kafka_feed_spark.operators.asof import asof_join
from golang_cassandra_kafka_feed_spark.operators.profile import (
    profile_table,
    quality_checks,
)
from golang_cassandra_kafka_feed_spark.operators.range_join import (
    interval_join,
)
from golang_cassandra_kafka_feed_spark.operators.sessionize import sessionize
from golang_cassandra_kafka_feed_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
    simhash_signatures,
)
from golang_cassandra_kafka_feed_spark.operators.similarity import (
    brute_force_topk,
    lsh_bucketed_topk,
)
from golang_cassandra_kafka_feed_spark.operators.textstats import (
    fingerprint,
    lang_id,
    quality_features,
    tokens,
    winnowing_fingerprints,
)
from golang_cassandra_kafka_feed_spark.operators.skew import salted_join
from golang_cassandra_kafka_feed_spark.operators.similarity import ivf_topk
from golang_cassandra_kafka_feed_spark.operators.sketches import (
    bloom_fp_audit,
)
from golang_cassandra_kafka_feed_spark.operators.dedup import line_dedup
from golang_cassandra_kafka_feed_spark.operators.selection import (
    dsir_importance,
    weighted_bottomk,
)
from golang_cassandra_kafka_feed_spark.operators.textstats import (
    typicality_buckets,
)
from golang_cassandra_kafka_feed_spark.operators.asof import asof_nearest
from golang_cassandra_kafka_feed_spark.operators.dedup import (
    minhash_accuracy_audit,
)
from golang_cassandra_kafka_feed_spark.operators.events import (
    cohort_retention,
    funnel_counts,
    scd2_intervals,
)
from golang_cassandra_kafka_feed_spark.operators.graph import (
    connected_components,
    duplicate_groups,
    pagerank,
)
from golang_cassandra_kafka_feed_spark.operators.similarity import (
    pq_adc_audit,
    rrf_fuse,
)
from golang_cassandra_kafka_feed_spark.operators.textstats import (
    bm25_search,
    collocations,
    token_diversity,
)

__all__ = [
    "top_k_global",
    "top_k_per_key",
    "asof_join",
    "sessionize",
    "exact_dedup",
    "minhash_lsh_candidates",
    "minhash_near_duplicates",
    "ngram_jaccard_pairs",
    "simhash_signatures",
    "simhash_near_duplicates",
    "brute_force_topk",
    "lsh_bucketed_topk",
    "tokens",
    "fingerprint",
    "lang_id",
    "quality_features",
    "winnowing_fingerprints",
    "salted_join",
    "ivf_topk",
    "line_dedup",
    "dsir_importance",
    "weighted_bottomk",
    "typicality_buckets",
    "asof_nearest",
    "minhash_accuracy_audit",
    "funnel_counts",
    "cohort_retention",
    "connected_components",
    "duplicate_groups",
    "pagerank",
    "rrf_fuse",
    "pq_adc_audit",
    "bm25_search",
    "collocations",
    "token_diversity",
    "scd2_intervals",
    "interval_join",
    "bloom_fp_audit",
    "profile_table",
    "quality_checks",
]
