"""The benchmark's own tests (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import collections

import numpy as np
import pytest

from perfbench import gen
from perfbench.common import highest_supported_percentile, percentile
from perfbench.spans import Span, Tracer, covered, self_time
from perfbench.sweep import result_hash


def _plan(seed):
    model = gen.feed_model(seed, n_users=300, n_posts=2000, mean_followers=10)
    return model, gen.delivery_plan(seed, model, n_files=40)


def test_same_seed_same_inputs():
    m1, p1 = _plan(7)
    m2, p2 = _plan(7)
    assert m1.user_ids == m2.user_ids
    assert m1.follows == m2.follows
    assert m1.posts == m2.posts
    assert p1.deliveries == p2.deliveries
    assert p1.junk_posts == p2.junk_posts
    assert m1.expected_feed_rows() == m2.expected_feed_rows()
    values = [gen.junk_value(d.kind, i) for i, d in enumerate(p1.deliveries)]
    assert values == [gen.junk_value(d.kind, i) for i, d in enumerate(p2.deliveries)]


def test_other_seed_other_inputs():
    m1, p1 = _plan(7)
    m2, p2 = _plan(8)
    assert m1.follows != m2.follows
    assert m1.posts != m2.posts
    assert p1.deliveries != p2.deliveries


def test_follow_graph_is_valid_and_skewed():
    m, _ = _plan(3)
    assert len(set(m.follows)) == len(m.follows)  # no duplicate edge
    assert all(f != a for f, a in m.follows)  # no self-follow
    counts = sorted((len(v) for v in m.followers_of.values()), reverse=True)
    assert counts[0] >= 10 * np.median(counts)  # a few celebrity authors
    assert m.expected_feed_rows() == sum(
        len(m.followers_of[a]) for _, a, _, _ in m.posts
    )


def test_delivery_plan_covers_every_post_with_redelivery_and_junk():
    m, p = _plan(5)
    kinds = collections.Counter(d.kind for d in p.deliveries)
    assert kinds["post"] == len(m.posts)
    assert kinds["redelivery"] == int(0.05 * len(m.posts))
    assert sum(kinds[k] for k in gen.JUNK_KINDS) >= 0.01 * len(m.posts)
    first = {d.ref: d.file_idx for d in p.deliveries if d.kind == "post"}
    redo = [d for d in p.deliveries if d.kind == "redelivery"]
    assert all(d.file_idx >= first[d.ref] for d in redo)
    assert any(d.file_idx > first[d.ref] for d in redo)  # some in a later epoch
    assert [d.file_idx for d in p.deliveries] == sorted(d.file_idx for d in p.deliveries)


def test_star_schema_is_deterministic():
    a = gen.star_schema(4, 0.001)
    b = gen.star_schema(4, 0.001)
    assert a.keys() == b.keys()
    for t in a:
        for c in a[t]:
            assert np.array_equal(np.asarray(a[t][c]), np.asarray(b[t][c])), (t, c)
    assert len(a["orders"]["o_orderkey"]) == 1500


def test_percentile_needs_ten_samples_beyond():
    xs = list(range(1, 101))  # 100 samples
    assert percentile(xs, 90) == 90.0  # 10 samples lie beyond
    assert percentile(xs, 91) is None  # only 9 would
    assert percentile(xs[:99], 90) is None
    assert percentile(xs, 50) == 50.0


def test_highest_supported_percentile():
    assert highest_supported_percentile(list(range(1000))) == (99.0, 989.0)
    assert highest_supported_percentile(list(range(100))) == (90.0, 89.0)
    assert highest_supported_percentile(list(range(20))) == (50.0, 9.0)
    assert highest_supported_percentile(list(range(10))) is None


def test_self_time_subtracts_union_of_children():
    parent = Span(1, "p", 0.0, 10.0, None, "r")
    kids = [
        Span(2, "a", 2.0, 4.0, 1, "r"),
        Span(3, "b", 3.0, 6.0, 1, "r"),  # overlaps a: counted once
        Span(4, "c", 8.0, 12.0, 1, "r"),  # runs past the parent: clipped
    ]
    assert covered(0.0, 10.0, [(k.start, k.end) for k in kids]) == 6.0
    assert self_time(parent, kids) == 4.0
    assert self_time(parent, []) == 10.0


def test_tracer_parents_and_request_ids():
    tr = Tracer()
    with tr.span("outer", request="req1") as outer:
        with tr.span("inner", request="req1"):
            pass
    spans = {s.name: s for s in tr.spans}
    assert spans["inner"].parent == outer
    assert spans["outer"].parent is None
    assert {s.request for s in tr.spans} == {"req1"}
    assert tr.children(spans["outer"]) == [spans["inner"]]


def test_row_digest_is_order_insensitive_checksum():
    rows = [("u1", "p1", 5), ("u2", "p1", 6), ("u1", "p2", 7)]
    a = sum(gen.row_digest(*r) for r in rows)
    b = sum(gen.row_digest(*r) for r in reversed(rows))
    assert a == b
    assert a != sum(gen.row_digest(*r) for r in rows[:2])


@pytest.mark.parametrize("rows", [[(1, "a"), (2, "b")], []])
def test_result_hash_ignores_row_and_column_order(rows):
    flipped = [(b, a) for a, b in reversed(rows)]
    assert result_hash(["x", "y"], rows) == result_hash(["y", "x"], flipped)


def test_benchmark_json_matches_the_runner():
    import json
    import re
    from pathlib import Path

    from perfbench.run import END_TO_END, WORKLOADS, per_layer_units

    spec = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_units()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    for m in spec["end_to_end"] + spec["per_layer"] + spec["workloads"]:
        assert name.match(m["name"]), m["name"]
    assert all(len(w["why"]) <= 200 for w in spec["workloads"])
