"""Persistent MinHash-LSH index (operators/minhash_index.py): the
delta-run-equals-full-run contract on a split corpus, index append,
meta pinning, and the no-corpus-rescan plan property."""

from __future__ import annotations

import pytest

from golang_cassandra_kafka_feed_spark.operators.dedup import (
    minhash_near_duplicates,
)
from golang_cassandra_kafka_feed_spark.operators.minhash_index import (
    append_to_minhash_index,
    build_minhash_index,
    delete_from_minhash_index,
    ensure_minhash_index,
    minhash_near_duplicates_incremental,
    read_index_meta,
)

_SCHEMA = "doc_id long, text string"


def _w(n):
    """Letterify a number — the shingle tokenizer keeps [a-z]+ runs
    only, so family-distinguishing tokens must differ in letters
    (digits are stripped)."""
    return "".join("abcdefghij"[int(c)] for c in str(n))


def _corpus(spark, n=60, dup_every=4):
    """Synthetic corpus with planted near-dup families (families
    mutually DISTINCT, members near-identical): every
    ``dup_every``-th doc is a light mutation of its family head, so
    near-dup pairs exist both inside and across any id-based split.

    Tests scan the corpus many times (splits, builds, full-run twins);
    the lazy ``localCheckpoint`` keeps its rows after the first scan
    instead of re-converting the Python list on every one."""
    rows = []
    for i in range(n):
        fam = i - (i % dup_every)
        base = (
            f"the quick document {_w(fam)} talks about topic "
            f"{_w(fam % 7)} with shared phrasing across its family "
            f"members and enough tokens to shingle meaningfully "
            f"{_w(fam * 13)}"
        )
        if i % dup_every == 0:
            text = base
        else:
            text = base + f" variant tail {_w(i % dup_every)}"
        rows.append((i, text))
    return spark.createDataFrame(rows, _SCHEMA).localCheckpoint(eager=False)


def _pairs(df):
    return {
        (r.id_a, r.id_b, round(r.jaccard, 9)) for r in df.collect()
    }


@pytest.mark.parametrize("hasher", ["xxhash", "md5"])
def test_split_equals_full(spark, tmp_path, hasher):
    """index(A) + incremental(B) emits exactly the delta-touching slice
    of a full run over A+B, and together with the A-only run it
    reconstructs the full pair set."""
    full = _corpus(spark)
    a = full.filter("doc_id % 3 != 0")
    b = full.filter("doc_id % 3 = 0")
    idx = str(tmp_path / f"idx_{hasher}")

    build_minhash_index(a, idx, hasher=hasher)
    inc = _pairs(
        minhash_near_duplicates_incremental(b, idx, threshold=0.5)
    )

    full_pairs = _pairs(
        minhash_near_duplicates(full, threshold=0.5, hasher=hasher)
    )
    b_ids = {r.doc_id for r in b.select("doc_id").collect()}
    expected_inc = {
        p for p in full_pairs if p[0] in b_ids or p[1] in b_ids
    }
    assert inc == expected_inc
    assert inc, "planted families must collide across the split"

    a_only = _pairs(
        minhash_near_duplicates(a, threshold=0.5, hasher=hasher)
    )
    assert a_only | inc == full_pairs


def test_append_extends_the_index(spark, tmp_path):
    """After appending the first delta, a SECOND delta near-dups
    against corpus + first delta — the daily-crawl loop."""
    full = _corpus(spark)
    a = full.filter("doc_id % 3 = 1")
    b = full.filter("doc_id % 3 = 2")
    c = full.filter("doc_id % 3 = 0")
    idx = str(tmp_path / "idx")

    build_minhash_index(a, idx)
    append_to_minhash_index(b, idx)
    inc = _pairs(minhash_near_duplicates_incremental(c, idx, threshold=0.5))

    full_pairs = _pairs(minhash_near_duplicates(full, threshold=0.5))
    c_ids = {r.doc_id for r in c.select("doc_id").collect()}
    assert inc == {
        p for p in full_pairs if p[0] in c_ids or p[1] in c_ids
    }
    assert inc


def test_meta_is_pinned_at_build_time(spark, tmp_path):
    idx = str(tmp_path / "idx")
    build_minhash_index(
        _corpus(spark, n=12),
        idx,
        num_hashes=32,
        bands=8,
        shingle_size=2,
        hasher="md5",
    )
    meta = read_index_meta(spark, idx)
    assert meta["num_hashes"] == 32
    assert meta["bands"] == 8
    assert meta["shingle_size"] == 2
    assert meta["hasher"] == "md5"
    # append + incremental pick the pinned params up without being told
    delta = spark.createDataFrame([(100, "short delta doc text")], _SCHEMA)
    append_to_minhash_index(delta, idx)
    assert (
        minhash_near_duplicates_incremental(delta.limit(0), idx).count()
        == 0
    )


def _listing(root):
    import os

    out = []
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out.append((p, os.path.getmtime(p), os.path.getsize(p)))
    return sorted(out)


def test_ensure_is_create_if_absent(spark, tmp_path):
    """ensure_minhash_index builds once, then reuses the committed
    index byte-for-byte (no file touched on the second call) — the CAS
    create-if-absent shape at index level."""
    idx = str(tmp_path / "idx")
    corpus = _corpus(spark)
    first = ensure_minhash_index(corpus, idx, hasher="md5")
    before = _listing(idx)
    assert before, "build must have materialized files"

    second = ensure_minhash_index(corpus, idx, hasher="md5")
    assert second == first
    assert _listing(idx) == before

    # the reused index answers incremental queries identically to a
    # fresh build over the same corpus
    delta = _corpus(spark).filter("doc_id % 4 = 0")
    fresh = str(tmp_path / "idx_fresh")
    build_minhash_index(corpus, fresh, hasher="md5")
    assert _pairs(
        minhash_near_duplicates_incremental(delta, idx, threshold=0.5)
    ) == _pairs(
        minhash_near_duplicates_incremental(delta, fresh, threshold=0.5)
    )


def test_ensure_rejects_parameter_drift(spark, tmp_path):
    idx = str(tmp_path / "idx")
    ensure_minhash_index(_corpus(spark, n=12), idx, num_hashes=32, bands=8)
    with pytest.raises(ValueError, match="built with"):
        ensure_minhash_index(_corpus(spark, n=12), idx, num_hashes=64)


def test_ensure_rebuilds_an_uncommitted_index(spark, tmp_path):
    """Meta is written LAST, so a crash mid-build leaves no commit
    marker and ensure rebuilds instead of serving a partial index."""
    import shutil

    idx = str(tmp_path / "idx")
    corpus = _corpus(spark)
    ensure_minhash_index(corpus, idx)
    shutil.rmtree(str(tmp_path / "idx" / "meta"))
    ensure_minhash_index(corpus, idx)
    assert read_index_meta(spark, idx)["num_hashes"] == 64


def test_concurrent_ensure_builds_the_index_once(
    spark, tmp_path, monkeypatch
):
    """Two sessions ensuring the same index path at once: one builds
    under the store's lock, the other waits, finds the committed meta
    and reuses it, so no build ever rewrites files a reader holds."""
    import threading

    from golang_cassandra_kafka_feed_spark.operators import minhash_index

    builds = []
    real_build = minhash_index.build_minhash_index

    def counting_build(*args, **kwargs):
        builds.append(1)
        return real_build(*args, **kwargs)

    monkeypatch.setattr(minhash_index, "build_minhash_index", counting_build)
    idx = str(tmp_path / "idx")
    corpus = _corpus(spark, n=12)
    start = threading.Barrier(2)
    metas, errors = [], []

    def ensure():
        try:
            start.wait(timeout=30)
            metas.append(ensure_minhash_index(corpus, idx, hasher="md5"))
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors.append(e)

    threads = [threading.Thread(target=ensure) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(builds) == 1, f"index built {len(builds)} times"
    assert len(metas) == 2 and metas[0] == metas[1]


def test_build_write_shape_is_mod_aligned(spark, tmp_path):
    """Band files are aligned to bucket_mod directories: O(mods)
    parquet files total, not a tasks x dirs spray — the small-files
    guard for the pruned incremental reads."""
    import glob

    idx = str(tmp_path / "idx")
    build_minhash_index(
        _corpus(spark), idx, bucket_mods=8, signature_partitions=16
    )
    files = glob.glob(str(tmp_path / "idx" / "bands" / "*" / "*.parquet"))
    dirs = {f.rsplit("/", 2)[1] for f in files}
    assert len(files) <= 2 * 8, files
    assert all(d.startswith("bucket_mod=") for d in dirs)


def test_delete_equals_rebuild_without_the_ids(spark, tmp_path):
    """Deletion is the retention path: after deleting a family's
    corpus ids, incremental answers match a FRESH index built from
    corpus-minus-deleted (corpus far below the width cap, where the
    equivalence is exact per the docstring)."""
    full = _corpus(spark, n=60)
    corpus = full.filter("doc_id % 3 != 0")
    delta = full.filter("doc_id % 3 = 0")
    doomed = corpus.filter("doc_id % 4 = 2").select("doc_id")
    idx = str(tmp_path / "idx")
    build_minhash_index(corpus, idx)
    delete_from_minhash_index(spark, idx, doomed)

    fresh = str(tmp_path / "fresh")
    build_minhash_index(
        corpus.join(doomed, "doc_id", "left_anti"), fresh
    )
    got = _pairs(
        minhash_near_duplicates_incremental(delta, idx, threshold=0.5)
    )
    assert got == _pairs(
        minhash_near_duplicates_incremental(delta, fresh, threshold=0.5)
    )
    assert got, "surviving families must still collide"
    doomed_ids = {r.doc_id for r in doomed.collect()}
    assert not any(
        a in doomed_ids or b in doomed_ids for a, b, _ in got
    )


def test_maintenance_heals_a_crashed_swap(spark, tmp_path):
    """A swap that died between its two renames leaves live missing +
    .old present; the next maintenance call (a delete of an id the
    index does not hold) restores the committed copy before operating
    (the FeedStore.compact recovery contract)."""
    import os

    idx = str(tmp_path / "idx")
    corpus = _corpus(spark, n=40)
    build_minhash_index(corpus, idx)
    delta = _corpus(spark, n=40).filter("doc_id % 4 = 0")
    want = _pairs(
        minhash_near_duplicates_incremental(delta, idx, threshold=0.5)
    )

    bands = str(tmp_path / "idx" / "bands")
    os.rename(bands, bands + ".old")
    delete_from_minhash_index(
        spark, idx, spark.createDataFrame([(-1,)], "doc_id long")
    )
    assert os.path.exists(bands) and not os.path.exists(bands + ".old")
    assert _pairs(
        minhash_near_duplicates_incremental(delta, idx, threshold=0.5)
    ) == want


def test_delete_on_a_file_uri_index_matches_bare_path(spark, tmp_path):
    """Maintenance on a ``file://`` index swaps the local directories the
    URI names, and answers exactly as the same delete on a bare path."""
    import os

    full = _corpus(spark, n=40)
    corpus = full.filter("doc_id % 4 != 0")
    delta = full.filter("doc_id % 4 = 0")
    doomed = corpus.filter("doc_id % 5 = 1").select("doc_id")
    bare = str(tmp_path / "bare")
    uri = "file://" + str(tmp_path / "uri")
    for idx in (bare, uri):
        build_minhash_index(corpus, idx)
        delete_from_minhash_index(spark, idx, doomed)
    got = _pairs(
        minhash_near_duplicates_incremental(delta, uri, threshold=0.5)
    )
    assert got == _pairs(
        minhash_near_duplicates_incremental(delta, bare, threshold=0.5)
    )
    assert got, "surviving families must still collide"
    assert sorted(os.listdir(tmp_path / "uri")) == sorted(
        os.listdir(tmp_path / "bare")
    )


def test_incremental_never_rescans_the_corpus_source(spark, tmp_path):
    """The 100 TB property, asserted on the plan: the incremental
    query's scans touch the INDEX parquet and the delta source only —
    the corpus parquet path appears nowhere."""
    corpus_path = str(tmp_path / "corpus_parquet")
    _corpus(spark).filter("doc_id % 3 != 0").write.parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    idx = str(tmp_path / "idx")
    build_minhash_index(corpus, idx)

    delta = _corpus(spark).filter("doc_id % 3 = 0")
    plan = minhash_near_duplicates_incremental(
        delta, idx, threshold=0.5
    )._sc._jvm.PythonSQLUtils.explainString(
        minhash_near_duplicates_incremental(delta, idx, threshold=0.5)
        ._jdf.queryExecution(),
        "formatted",
    )
    assert "corpus_parquet" not in plan
    assert "bands" in plan and "shingles" in plan


def test_rebuild_in_place_kills_the_commit_marker_first(
    spark, tmp_path, monkeypatch
):
    """Rebuilding over a COMMITTED index must invalidate the old meta
    before touching bands/shingles (round-7 advice): a crash
    mid-overwrite must leave a meta-less partial that ensure rebuilds,
    never old-meta-next-to-new-partial-data that ensure would reuse."""
    import golang_cassandra_kafka_feed_spark.operators.minhash_index as mi
    from golang_cassandra_kafka_feed_spark.sources.fsutil import path_exists

    idx = str(tmp_path / "idx")
    corpus = _corpus(spark)
    build_minhash_index(corpus, idx)
    assert path_exists(spark, idx + "/meta")

    real = mi._index_rows

    def boom(*a, **k):
        raise RuntimeError("simulated crash before the bands overwrite")

    monkeypatch.setattr(mi, "_index_rows", boom)
    with pytest.raises(RuntimeError):
        mi.build_minhash_index(corpus, idx)
    assert not path_exists(spark, idx + "/meta"), (
        "stale commit marker survived a crashed rebuild"
    )

    monkeypatch.setattr(mi, "_index_rows", real)
    ensure_minhash_index(corpus, idx)  # rebuilds — no marker present
    assert read_index_meta(spark, idx)["num_hashes"] == 64


def test_incremental_tolerates_reingested_ids(spark, tmp_path):
    """A delta replaying ids ALREADY in the index resolves delta-wins:
    each candidate pair joins exactly one shingle row per side (no
    duplicated pair rows), and the answer equals an index that never
    contained the replayed docs — the delta copy is authoritative."""
    full = _corpus(spark)
    a = full.filter("doc_id % 3 != 0")
    b = full.filter("doc_id % 3 = 0")
    overlap = a.filter("doc_id % 5 = 1")  # stored docs replayed in delta
    assert overlap.count() > 0
    delta = b.unionByName(overlap)

    idx = str(tmp_path / "idx")
    build_minhash_index(a, idx)
    got = minhash_near_duplicates_incremental(delta, idx, threshold=0.5)
    rows = got.collect()
    keys = [(r.id_a, r.id_b) for r in rows]
    assert len(keys) == len(set(keys)), "duplicated pair rows"

    idx2 = str(tmp_path / "idx2")
    build_minhash_index(
        a.join(overlap.select("doc_id"), "doc_id", "left_anti"), idx2
    )
    expected = _pairs(
        minhash_near_duplicates_incremental(delta, idx2, threshold=0.5)
    )
    assert {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in rows} == expected
    assert expected, "planted families must collide for this to test"


def test_expire_equals_rebuild_without_expired(spark, tmp_path):
    """TTL retention (verdict-r7 ask #5): after expiring docs older
    than the cutoff, incremental answers match a FRESH index built
    from only the young docs — no id enumeration by the caller."""
    import pyspark.sql.functions as F

    from golang_cassandra_kafka_feed_spark.operators.minhash_index import (
        expire_minhash_index,
    )

    full = _corpus(spark, n=60)
    # crawl day = doc_id % 30, closed-form so the survivor set is known
    stamped = full.withColumn(
        "crawl_ts",
        F.to_timestamp(F.lit("2026-01-01"))
        + F.make_interval(days=F.col("doc_id") % 30),
    )
    corpus = stamped.filter("doc_id % 3 != 0")
    delta = full.filter("doc_id % 3 = 0")
    idx = str(tmp_path / "idx")
    build_minhash_index(corpus, idx, ts_col="crawl_ts")
    expire_minhash_index(spark, idx, "2026-01-10")

    fresh = str(tmp_path / "fresh")
    build_minhash_index(
        corpus.filter("doc_id % 30 >= 9"), fresh, ts_col="crawl_ts"
    )
    got = _pairs(
        minhash_near_duplicates_incremental(delta, idx, threshold=0.5)
    )
    assert got == _pairs(
        minhash_near_duplicates_incremental(delta, fresh, threshold=0.5)
    )
    assert got, "young families must still collide"
    assert not any(
        (a % 3 != 0 and a % 30 < 9) or (b % 3 != 0 and b % 30 < 9)
        for a, b, _ in got
    ), "expired corpus docs leaked into the pair set"


def test_expire_requires_a_ts_indexed_build(spark, tmp_path):
    """An index built without ts_col cannot silently no-op a retention
    request — it must refuse loudly."""
    import pytest as _pytest

    from golang_cassandra_kafka_feed_spark.operators.minhash_index import (
        expire_minhash_index,
    )

    idx = str(tmp_path / "idx")
    build_minhash_index(_corpus(spark, n=20), idx)
    with _pytest.raises(ValueError, match="without ts_col"):
        expire_minhash_index(spark, idx, "2026-01-10")


def test_append_carries_the_pinned_ts_col(spark, tmp_path):
    """Appends to a ts-indexed build stamp the same pinned column, so a
    later expire drops old appended docs too."""
    import pyspark.sql.functions as F

    from golang_cassandra_kafka_feed_spark.operators.minhash_index import (
        expire_minhash_index,
    )

    full = _corpus(spark, n=60).withColumn(
        "crawl_ts",
        F.to_timestamp(F.lit("2026-01-01"))
        + F.make_interval(days=F.col("doc_id") % 30),
    )
    a = full.filter("doc_id % 3 = 1")
    b = full.filter("doc_id % 3 = 2")
    delta = full.filter("doc_id % 3 = 0").drop("crawl_ts")
    idx = str(tmp_path / "idx")
    build_minhash_index(a, idx, ts_col="crawl_ts")
    append_to_minhash_index(b, idx)
    expire_minhash_index(spark, idx, "2026-01-10")

    fresh = str(tmp_path / "fresh")
    build_minhash_index(
        a.unionByName(b).filter("doc_id % 30 >= 9"), fresh,
        ts_col="crawl_ts",
    )
    assert _pairs(
        minhash_near_duplicates_incremental(delta, idx, threshold=0.5)
    ) == _pairs(
        minhash_near_duplicates_incremental(delta, fresh, threshold=0.5)
    )


def test_expire_self_heals_a_crashed_shingles_swap(spark, tmp_path):
    """Both sides heal BEFORE any transform runs: expire's bands pass
    reads the live shingles side for the doomed ids, so a crash
    between the shingles swap's two renames must not brick the next
    expire (review-found, round 8 — used to raise PATH_NOT_FOUND on
    every retry)."""
    import os

    import pyspark.sql.functions as F

    from golang_cassandra_kafka_feed_spark.operators.minhash_index import (
        expire_minhash_index,
    )

    full = _corpus(spark, n=40).withColumn(
        "crawl_ts",
        F.to_timestamp(F.lit("2026-01-01"))
        + F.make_interval(days=F.col("doc_id") % 30),
    )
    idx = str(tmp_path / "idx")
    build_minhash_index(full.filter("doc_id % 4 != 0"), idx,
                        ts_col="crawl_ts")

    sh = str(tmp_path / "idx" / "shingles")
    os.rename(sh, sh + ".old")  # crashed mid-swap: live gone, .old left
    expire_minhash_index(spark, idx, "2026-01-10")

    fresh = str(tmp_path / "fresh")
    build_minhash_index(
        full.filter("doc_id % 4 != 0 AND doc_id % 30 >= 9"), fresh,
        ts_col="crawl_ts",
    )
    delta = _corpus(spark, n=40).filter("doc_id % 4 = 0")
    assert _pairs(
        minhash_near_duplicates_incremental(delta, idx, threshold=0.5)
    ) == _pairs(
        minhash_near_duplicates_incremental(delta, fresh, threshold=0.5)
    )


def test_reingested_null_text_still_wins_over_stored(spark, tmp_path):
    """A replayed id whose NEW text is NULL (extraction now fails) must
    not let its STALE stored copy keep emitting pairs — delta ids are
    resolved from new_docs, not from the (empty) band rows a NULL text
    produces (review-found, round 8)."""
    full = _corpus(spark, n=40)
    a = full.filter("doc_id % 3 != 0")
    idx = str(tmp_path / "idx")
    build_minhash_index(a, idx)

    # pick a stored doc that HAS near-dup pairs, replay it with NULL
    victim = 1 if 1 % 3 != 0 else 2
    delta = full.filter("doc_id % 3 = 0").unionByName(
        spark.createDataFrame([(victim, None)], _SCHEMA)
    )
    got = _pairs(
        minhash_near_duplicates_incremental(delta, idx, threshold=0.5)
    )
    assert not any(victim in (p[0], p[1]) for p in got), (
        "stale stored copy of the NULL-replayed id leaked pairs"
    )
    keys = [(p[0], p[1]) for p in got]
    assert len(keys) == len(set(keys))


def test_reingested_null_text_md5_index(spark, tmp_path):
    """md5-hasher twin of the NULL-text re-ingest test: the md5 index
    routes signatures through the Arrow fold, whose pandas UDF crashed
    on the NULL shingle array a NULL text produces (the explode path
    silently dropped such docs; ADVICE r11 high).  The NULL row must be
    dropped before the UDF, its stale stored copy must stop emitting
    pairs, and the query must not raise."""
    full = _corpus(spark, n=40)
    a = full.filter("doc_id % 3 != 0")
    idx = str(tmp_path / "idx")
    build_minhash_index(a, idx, hasher="md5")

    victim = 1 if 1 % 3 != 0 else 2
    delta = full.filter("doc_id % 3 = 0").unionByName(
        spark.createDataFrame([(victim, None)], _SCHEMA)
    )
    got = _pairs(
        minhash_near_duplicates_incremental(delta, idx, threshold=0.5)
    )
    assert not any(victim in (p[0], p[1]) for p in got), (
        "stale stored copy of the NULL-replayed id leaked pairs (md5)"
    )
    keys = [(p[0], p[1]) for p in got]
    assert len(keys) == len(set(keys))


def test_minhash_md5_arrow_drops_null_text_rows(spark):
    """Direct contract: md5/Arrow signatures for a corpus containing a
    NULL-text doc equal the JVM explode path's (which drops it) — no
    crash, no NULL-sig row."""
    from golang_cassandra_kafka_feed_spark.operators.dedup import (
        minhash_signatures,
    )

    docs = _corpus(spark, n=12).unionByName(
        spark.createDataFrame([(99, None)], _SCHEMA)
    )
    got = {
        r["id"]: tuple(r["sig"])
        for r in minhash_signatures(docs, hasher="md5").collect()
    }
    want = {
        r["id"]: tuple(r["sig"])
        for r in minhash_signatures(
            docs, hasher="md5", use_arrow=False
        ).collect()
    }
    assert 99 not in got
    assert got == want


def test_incremental_reliable_mode_matches_local(spark, tmp_path):
    """reliable=True routes the verify side through the r12
    candidate-pruned durable-checkpoint shape (one corpus-shingle scan,
    candidate-id semi-join at the scan); pairs must be identical to the
    local-mode flat plan."""
    full = _corpus(spark, n=40)
    idx = str(tmp_path / "idx")
    build_minhash_index(full.filter("doc_id % 3 != 0"), idx, hasher="md5")
    delta = full.filter("doc_id % 3 = 0")

    local = _pairs(
        minhash_near_duplicates_incremental(delta, idx, threshold=0.5)
    )
    durable = _pairs(
        minhash_near_duplicates_incremental(
            delta,
            idx,
            threshold=0.5,
            reliable=True,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
    )
    assert durable == local and local
