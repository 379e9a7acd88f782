"""Blocked fuzzy record linkage (operators/linkage.py) — edit-distance
semantics, blocking recall trade, deterministic argmin, and the
no-window scale shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from golang_cassandra_kafka_feed_spark.operators.linkage import (
    blocked_fuzzy_matches,
    suffix_block_key,
)


def _clean(spark, rows):
    return spark.createDataFrame(rows, "id bigint, name string")


def _dirty(spark, rows):
    return spark.createDataFrame(rows, "dirty_id bigint, dirty_name string")


def test_one_edit_matches_its_source(spark):
    clean = _clean(spark, [(1, "alpha-9042"), (2, "delta-7310")])
    dirty = _dirty(spark, [(100, "alpha-042")])  # '9' deleted
    out = blocked_fuzzy_matches(dirty, clean).collect()
    assert [(r.match_id, r.dist) for r in out] == [(1, 1)]


def test_threshold_excludes_distant_names(spark):
    clean = _clean(spark, [(1, "alpha-9042")])
    dirty = _dirty(spark, [(100, "zzzzz-9042")])  # dist 5, same block
    assert blocked_fuzzy_matches(dirty, clean, max_dist=2).count() == 0


def test_block_key_disagreement_is_unmatched_by_design(spark):
    """Blocking's recall trade: a corruption INSIDE the block key makes
    the true match invisible — documented dial, not a join defect."""
    clean = _clean(spark, [(1, "alpha-9042")])
    dirty = _dirty(spark, [(100, "alpha-9049")])  # last-3 block differs
    assert blocked_fuzzy_matches(dirty, clean).count() == 0


def test_argmin_breaks_ties_on_smallest_id(spark):
    # both candidates sit at distance 1 in the same last-3 block
    clean = _clean(spark, [(7, "item-311"), (3, "itex-311")])
    dirty = _dirty(spark, [(100, "itez-311")])
    out = blocked_fuzzy_matches(dirty, clean).collect()
    assert [(r.match_id, r.dist) for r in out] == [(3, 1)]


def test_exact_duplicate_wins_at_distance_zero(spark):
    clean = _clean(spark, [(5, "gamma-123"), (6, "gamma-123")])
    dirty = _dirty(spark, [(100, "gamma-123")])
    out = blocked_fuzzy_matches(dirty, clean).collect()
    assert [(r.match_id, r.dist) for r in out] == [(5, 0)]


def test_suffix_block_key_is_last_k_chars(spark):
    row = spark.range(1).select(
        suffix_block_key(F.lit("abcdef"), 3).alias("b")
    ).head()
    assert row.b == "def"


def test_no_window_in_the_selection_plan(spark):
    """Best-match selection must be a hash aggregate with map-side
    partials (the q111 lesson) — a window over the block would ship a
    hot block to one task."""
    clean = _clean(spark, [(1, "alpha-9042")])
    dirty = _dirty(spark, [(100, "alpha-042")])
    # cap disabled to isolate the SELECTION plan (the cap itself is a
    # WindowGroupLimit by design — map-side truncation, not a window
    # over the candidates)
    plan = (
        blocked_fuzzy_matches(dirty, clean, max_block_width=None)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "partial_min" in plan


def test_multi_pass_blocking_recovers_suffix_corruption(spark):
    """A record corrupted INSIDE the suffix block key is invisible to
    the suffix pass but recovered by the prefix pass — and a record
    both passes see is not double-counted (argmin idempotent)."""
    from golang_cassandra_kafka_feed_spark.operators.linkage import (
        prefix_block_key,
    )

    clean = _clean(spark, [(1, "alpha-9042"), (2, "delta-7310")])
    dirty = _dirty(
        spark,
        [(100, "alpha-9049"),   # suffix corrupted: prefix pass only
         (101, "alpha-904")],   # mid deletion: both passes find it
    )
    out = blocked_fuzzy_matches(
        dirty, clean,
        block_keys=[suffix_block_key, prefix_block_key],
    ).collect()
    got = {(r.dirty_id, r.match_id, r.dist) for r in out}
    assert got == {(100, 1, 1), (101, 1, 1)}


def test_suffix_block_key_short_names_use_whole_string(spark):
    """Names shorter than k block on the whole string (review-found:
    the unguarded substring's pos<=0 edge semantics gave inconsistent
    key widths, so 'ab' and 'b' could land in different blocks)."""
    from golang_cassandra_kafka_feed_spark.operators.linkage import (
        suffix_block_key,
    )

    df = spark.createDataFrame(
        [("a",), ("ab",), ("abc",), ("abcd",), ("",)], "n string"
    )
    got = dict(
        df.select("n", suffix_block_key("n").alias("k")).collect()
    )
    assert got == {
        "a": "a", "ab": "ab", "abc": "abc", "abcd": "bcd", "": ""
    }


def test_block_width_cap_truncates_hot_blocks_map_side(spark):
    """A degenerate block (every clean row sharing one key) is
    truncated to the cap's smallest ids BEFORE pair enumeration, and
    the rank-filter plans as WindowGroupLimit (map-side, the dedup
    mega-bucket idiom)."""
    clean = _clean(
        spark, [(i, f"dup-{i:04d}-x11") for i in range(50)]
    )  # all share last-3 block "x11"
    dirty = _dirty(spark, [(100, "dup-0049-x11")])
    out = blocked_fuzzy_matches(
        dirty, clean, max_dist=2, max_block_width=10
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    # ids >= 10 were truncated from the block, so the true source
    # (id 49, dist 0) is invisible — the documented cap trade; the
    # best SURVIVING candidate under the cap wins instead
    rows = out.collect()
    assert all(r.match_id < 10 for r in rows)


def test_block_width_cap_is_exact_below_the_cap(spark):
    clean = _clean(spark, [(1, "alpha-9042"), (2, "alphb-9042")])
    dirty = _dirty(spark, [(100, "alpha-042")])
    capped = blocked_fuzzy_matches(dirty, clean, max_block_width=4096)
    uncapped = blocked_fuzzy_matches(dirty, clean, max_block_width=None)
    assert sorted(map(tuple, capped.collect())) == sorted(
        map(tuple, uncapped.collect())
    )


def test_block_cap_binds_before_memory_at_any_histogram(spark):
    """The 100 TB binding-cap proof (verdict-r11 ask #7): q121's
    planted block space (~N/1000-wide blocks) reaches the 4096 cap at
    ~4.1M clean rows, beyond which per-block work STOPS growing — so
    the scale exponent is capped, and memory never binds first:

    - the rank-filter plans as a TWO-PHASE WindowGroupLimit (Partial
      before the exchange, Final after), so a map task buffers at most
      ``cap`` rows per block it sees, REGARDLESS of the input block
      width — a 100x-cap degenerate block costs each map task the same
      bounded buffer as a cap-sized one;
    - downstream pair enumeration per block is |dirty_block| x cap,
      never |dirty_block| x |block|.

    Demonstrated with a block 100x the cap: the plan carries both
    WindowGroupLimit phases and every surviving candidate is one of
    the cap smallest ids."""
    cap = 8
    clean = _clean(
        spark, [(i, f"deg-{i:05d}-z77") for i in range(100 * cap)]
    )  # one degenerate block: every row shares last-3 key "z77"
    dirty = _dirty(spark, [(9000, "deg-0003-z77"), (9001, "deg-00777z77")])
    out = blocked_fuzzy_matches(
        dirty, clean, max_dist=2, max_block_width=cap
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2, plan  # Partial + Final
    assert "Partial" in plan and "Final" in plan, plan
    rows = out.collect()
    assert rows, "a sub-cap-id candidate must survive"
    assert all(r.match_id < cap for r in rows)
