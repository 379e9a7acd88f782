"""Connected-components / duplicate-groups unit tests
(operators/graph.py) on hand-built topologies."""

from __future__ import annotations

from golang_cassandra_kafka_feed_spark.operators.graph import (
    canonical_docs,
    connected_components,
    duplicate_groups,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_chain_collapses_to_one_component(spark):
    """1-2, 2-3, 3-4: transitivity the pair-drop policy misses — all
    four nodes must share component 1."""
    e = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    got = {r.id: r.comp for r in connected_components(e).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_disjoint_components_and_survivors(spark):
    e = _edges(spark, [(1, 2), (2, 3), (10, 11), (20, 21), (21, 20)])
    rows = {r.id: r for r in duplicate_groups(e).collect()}
    assert {i: rows[i].comp for i in rows} == {
        1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20,
    }
    assert {i for i in rows if rows[i].is_survivor} == {1, 10, 20}
    assert rows[2].group_size == 3 and rows[11].group_size == 2


def test_canonical_docs_quality_policy(spark):
    """Per component: max quality wins; quality tie falls to n_tokens;
    full tie falls to min id — NOT blindly the component min id."""
    e = _edges(spark, [(1, 2), (2, 3), (10, 11), (20, 21)])
    docs = spark.createDataFrame(
        [
            # comp 1: doc 3 has the best quality despite the largest id
            (1, 0.50, 100),
            (2, 0.80, 10),
            (3, 0.90, 5),
            # comp 10: quality tie -> n_tokens decides
            (10, 0.70, 40),
            (11, 0.70, 90),
            # comp 20: full tie -> min id
            (20, 0.60, 7),
            (21, 0.60, 7),
        ],
        "doc_id long, quality double, n_tokens long",
    )
    rows = {r.doc_id: r for r in canonical_docs(e, docs).collect()}
    assert {i for i in rows if rows[i].keep} == {3, 11, 20}
    assert rows[3].comp == 1 and rows[3].group_size == 3
    assert all(not rows[i].keep for i in (1, 2, 10, 21))
    # exactly one keeper per component
    by_comp = {}
    for r in rows.values():
        by_comp.setdefault(r.comp, 0)
        by_comp[r.comp] += int(r.keep)
    assert set(by_comp.values()) == {1}


def test_long_path_converges_past_naive_rounds(spark):
    """A 12-node path needs ~diameter rounds of propagation — the
    fixpoint loop must keep iterating until converged, not stop after
    a fixed small number."""
    n = 12
    e = _edges(spark, [(i, i + 1) for i in range(n)])
    got = {r.id: r.comp for r in connected_components(e).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_empty_edges_yield_empty_components(spark):
    e = _edges(spark, []).filter("id_a IS NOT NULL")
    assert connected_components(e).count() == 0


def test_reliable_without_dir_fails_fast(spark):
    """Runs BEFORE the roundtrip tests (definition order) so the shared
    session has no checkpoint dir yet."""
    import pytest

    e = _edges(spark, [(1, 2)])
    if spark.sparkContext.getCheckpointDir() is None:
        with pytest.raises(ValueError, match="checkpoint directory"):
            connected_components(e, reliable=True).collect()


def test_reliable_checkpoint_roundtrip_identical(spark, tmp_path):
    """reliable=True must route the fixpoint through durable checkpoint
    files (cluster fault tolerance — executor-memory localCheckpoint
    blocks die with the executor) and produce the exact same labeling."""
    import os

    ckdir = str(tmp_path / "ck")
    e = _edges(
        spark, [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)]
    )
    base = {r.id: r.comp for r in connected_components(e).collect()}
    durable = {
        r.id: r.comp
        for r in connected_components(
            e, reliable=True, checkpoint_dir=ckdir
        ).collect()
    }
    assert durable == base
    # the reliable path actually wrote durable checkpoint data
    found = [
        f for root, _, fs in os.walk(ckdir) for f in fs if f.startswith("part")
    ]
    assert found, "no checkpoint part-files written under checkpoint_dir"
    # superseded rounds are reclaimed: whatever the iteration count,
    # only edges + sym + the ONE live round remain on disk
    ck_dirs = [
        d for root, ds, _ in os.walk(ckdir) for d in ds if d.startswith("ck-")
    ]
    assert len(ck_dirs) == 3, f"stale checkpoint rounds left behind: {ck_dirs}"


def test_pagerank_reliable_matches_local(spark, tmp_path):
    from golang_cassandra_kafka_feed_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c"), ("c", "a")],
        "src string, dst string",
    )
    base = {r.node: r.r for r in pagerank(edges, iterations=3).collect()}
    durable = {
        r.node: r.r
        for r in pagerank(
            edges,
            iterations=3,
            reliable=True,
            checkpoint_dir=str(tmp_path / "ck_pr"),
        ).collect()
    }
    assert durable == base


def test_pagerank_hub_and_mass(spark):
    from golang_cassandra_kafka_feed_spark.operators.graph import pagerank

    # undirected star: hub a <-> {b, c}
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c"), ("c", "a")],
        "src string, dst string",
    )
    out = {r.node: r.r for r in pagerank(edges, iterations=2).collect()}
    assert set(out) == {"a", "b", "c"}
    # replicate the recurrence in plain python (same op order)
    n = 3.0
    d = 0.85
    base = (1.0 - d) / n
    r0 = 1.0 / n
    r1a = base + d * (r0 + r0)          # b and c each contribute r0/1
    r1bc = base + d * (r0 / 2.0)        # a splits over outdeg 2
    r2a = base + d * (r1bc + r1bc)
    r2bc = base + d * (r1a / 2.0)
    assert out["a"] == r2a and out["b"] == r2bc and out["c"] == r2bc
    assert out["a"] > out["b"]
    # rank mass conserved (no dangling nodes in a symmetrized graph)
    assert abs(sum(out.values()) - 1.0) < 1e-12


def test_dup_groups_store_matches_inline_and_caches(spark, tmp_path):
    """The materialized pair-graph/groups store must hash-match the
    inline derivation (same rows, exact values) and serve repeat
    consumers from parquet (build marker present, second read touches
    no shingle stage).  Staleness: different params key different
    store paths, so a threshold change can never serve a stale graph."""
    import os

    from golang_cassandra_kafka_feed_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_pairs_store,
    )
    from golang_cassandra_kafka_feed_spark.operators.graph import (
        dup_groups_store,
    )

    # file-backed corpus (inputFiles non-empty => store engages)
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "en", "a"),
            (2, "the quick brown fox jumps over the lazy cat", "en", "a"),
            (3, "completely different words entirely here now", "en", "a"),
            (4, "the quick brown fox jumps over the lazy dog", "en", "a"),
        ],
        "doc_id long, text string, lang string, source string",
    ).write.mode("overwrite").parquet(src)
    d = spark.read.parquet(src)

    # the two cross-run stores this test builds, keyed as
    # ngram_pairs_store and dup_groups_store key them; removed at the
    # end by their exact paths, so no other run's store is touched
    import hashlib
    import shutil

    files = "|".join(sorted(d.inputFiles()))
    k05 = hashlib.md5(
        f"{files}|text|doc_id|3|0.5|pairs-v1".encode()
    ).hexdigest()[:12]
    kgroups = hashlib.md5(
        f"{files}|text|doc_id|3|0.5|groups-v1".encode()
    ).hexdigest()[:12]
    built = [f"/tmp/gckfs_pairs_{k05}", f"/tmp/gckfs_dupgroups_{kgroups}"]
    try:
        inline = {
            tuple(r)
            for r in ngram_jaccard_pairs(d, n=3, threshold=0.5).collect()
        }
        stored = {
            tuple(r) for r in ngram_pairs_store(d, n=3, threshold=0.5).collect()
        }
        assert inline == stored and stored, "store diverged from inline"

        grp = dup_groups_store(d, n=3, threshold=0.5)
        got = {(r.id, r.comp) for r in grp.collect()}
        assert got == {(1, 1), (2, 1), (4, 1)}  # doc 3 has no pair

        # distinct params => distinct store paths (no stale serving)
        k03 = hashlib.md5(
            f"{files}|text|doc_id|3|0.3|pairs-v1".encode()
        ).hexdigest()[:12]
        assert k05 != k03
        for path in built:
            assert os.path.exists(f"{path}/_STAGE_COMMITTED"), path

        # in-memory frames bypass the store (nothing to key staleness on)
        mem = spark.createDataFrame(
            [(1, "a b c d e", "en", "a")],
            "doc_id long, text string, lang string, source string",
        )
        assert ngram_pairs_store(mem).count() == 0
    finally:
        for path in built:
            shutil.rmtree(path, ignore_errors=True)
