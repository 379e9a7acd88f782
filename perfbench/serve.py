"""Phase 2 of ``feed_ingest_serve``: one closed-loop client against the
FeedStore the drain left behind.

The client issues operations back to back, each only after the previous
one returned, in blocks of BLOCK operations with a fixed mix shuffled by
the seed:

- ``get_feed(user, 50)`` for Zipf-hot users (16 of 20);
- ``get_followers(author)`` (2 of 20);
- ``user_id_by_username(name)`` (1 of 20);
- a single-post ``add_posts`` followed at once by ``get_feed`` for one of
  the author's followers, which must already show the post (1 of 20).

Every read is compared with the benchmark's in-memory model; a mismatch
or an exception is a failed operation.  The loop ends at the first block
boundary after ``--seconds``.
"""

from __future__ import annotations

import calendar
import time
import uuid

import numpy as np

from perfbench import gen
from perfbench.common import (
    JobCounter,
    highest_supported_percentile,
    median,
    percentile,
)

FEED_LIMIT = 50
BLOCK = ["get_feed"] * 16 + ["get_followers"] * 2 + ["lookup", "write"]


def _ms(dt) -> int:
    return calendar.timegm(dt.utctimetuple()) * 1000 + dt.microsecond // 1000


class Model:
    """Who follows whom and every post, with the expected feed of a user:
    the newest FEED_LIMIT posts of the authors they follow, ordered by
    ``created_at DESC, post_id DESC``."""

    def __init__(self, fm: gen.FeedModel):
        self.user_ids = fm.user_ids
        self.usernames = fm.usernames
        self.followers_of = fm.followers_of
        self.following: dict[int, list[int]] = {}
        for f, a in fm.follows:
            self.following.setdefault(f, []).append(a)
        self.posts_by: dict[int, list[tuple[int, str, str]]] = {}
        for pid, a, body, ms in fm.posts:
            self.posts_by.setdefault(a, []).append((ms, pid, body))

    def add_post(self, author: int, pid: str, body: str, ms: int) -> None:
        self.posts_by.setdefault(author, []).append((ms, pid, body))

    def feed(self, user: int) -> list[tuple[str, str, str, int]]:
        rows = [
            (ms, pid, a, body)
            for a in self.following.get(user, ())
            for ms, pid, body in self.posts_by.get(a, ())
        ]
        rows.sort(key=lambda r: (r[0], r[1]), reverse=True)
        return [
            (pid, self.user_ids[a], body, ms) for ms, pid, a, body in rows[:FEED_LIMIT]
        ]


def _got_feed(rows) -> list[tuple[str, str, str, int]]:
    return [(r.post_id, r.author_id, r.body, _ms(r.created_at)) for r in rows]


class Client:
    """Issues one operation at a time and checks each result."""

    def __init__(self, spark, store, model: Model, seed: int, tracer, counter):
        self.spark, self.store, self.model = spark, store, model
        self.rng = np.random.default_rng([seed, 4])
        n = len(model.user_ids)
        w = np.arange(1, n + 1, dtype=np.float64) ** -1.1
        self.hot = self.rng.permutation(n)
        self.hot_p = w / w.sum()
        self.authors = [a for a, fol in model.followers_of.items() if fol]
        self.next_ms = max(
            ms for posts in model.posts_by.values() for ms, _, _ in posts
        ) + 1000
        self.tracer, self.counter = tracer, counter
        self.lat: dict[str, list[float]] = {
            "get_feed": [], "get_followers": [], "lookup": [], "write": []
        }
        self.visible_ms: list[float] = []
        self.jobs: list[dict] = []
        self.problems: list[str] = []
        self.n_ops = 0
        self.failed = 0

    def _timed_feed(self, user: int):
        t0 = time.perf_counter()
        rows = self.store.get_feed(self.model.user_ids[user], FEED_LIMIT).collect()
        return _got_feed(rows), (time.perf_counter() - t0) * 1000

    def op(self, kind: str) -> bool:
        m, rng = self.model, self.rng
        if kind == "get_feed":
            u = int(self.hot[rng.choice(len(self.hot), p=self.hot_p)])
            got, ms = self._timed_feed(u)
            self.lat[kind].append(ms)
            return got == m.feed(u)
        if kind == "get_followers":
            a = self.authors[int(rng.integers(len(self.authors)))]
            t0 = time.perf_counter()
            rows = self.store.get_followers(m.user_ids[a]).collect()
            self.lat[kind].append((time.perf_counter() - t0) * 1000)
            want = sorted(m.user_ids[f] for f in m.followers_of[a])
            return sorted(r.user_id for r in rows) == want
        if kind == "lookup":
            u = int(rng.integers(len(m.user_ids)))
            t0 = time.perf_counter()
            rows = self.store.user_id_by_username(m.usernames[u]).collect()
            self.lat[kind].append((time.perf_counter() - t0) * 1000)
            return [r.user_id for r in rows] == [m.user_ids[u]]
        # write: one post, then the follower's feed must show it
        a = self.authors[int(rng.integers(len(self.authors)))]
        fol = m.followers_of[a]
        reader = fol[int(rng.integers(len(fol)))]
        pid = str(uuid.UUID(bytes=rng.bytes(16), version=4))
        body = gen.VOCAB[int(rng.integers(len(gen.VOCAB)))] + f" post {self.n_ops}"
        ms = self.next_ms
        self.next_ms += 1000
        df = self.spark.createDataFrame(
            [(pid, m.user_ids[a], body, ms)],
            "post_id string, author_id string, body string, ms long",
        ).selectExpr("post_id", "author_id", "body",
                     "timestamp_millis(ms) AS created_at")
        t0 = time.perf_counter()
        self.store.add_posts(df)
        self.lat[kind].append((time.perf_counter() - t0) * 1000)
        m.add_post(a, pid, body, ms)
        got, _ = self._timed_feed(reader)
        self.visible_ms.append((time.perf_counter() - t0) * 1000)
        return bool(got) and got[0][0] == pid and got == m.feed(reader)

    def run_op(self, kind: str, request: str) -> None:
        self.n_ops += 1
        before = self.counter.mark() if self.counter and kind == "get_feed" else None
        try:
            if self.tracer:
                with self.tracer.span(f"serve.{kind}", request=request):
                    ok = self.op(kind)
            else:
                ok = self.op(kind)
        except Exception as ex:  # a raising operation is a failed one
            ok = False
            self.problems.append(f"{kind}: {str(ex).splitlines()[0][:200]}")
        else:
            if not ok:
                self.problems.append(f"{kind}: result differs from the model")
        if before is not None:
            self.jobs.append(self.counter.delta(before))
        self.failed += not ok


def serve_phase(spark, store, model: Model, seed: int, seconds: float, tracer) -> dict:
    """Warm up, then run the closed loop for ``seconds`` (whole blocks)."""
    warm = Client(spark, store, model, seed, None, None)
    t = time.perf_counter()
    for kind in ("get_feed", "get_followers", "lookup") * 3:
        warm.op(kind)
    warm_s = time.perf_counter() - t

    counter = JobCounter(spark) if tracer else None
    client = Client(spark, store, model, seed, tracer, counter)
    table_calls0 = type(store).table_calls if tracer else 0
    spans0 = len(tracer.spans) if tracer else 0
    order_rng = np.random.default_rng([seed, 5])
    t0 = time.perf_counter()
    blocks = 0
    while blocks == 0 or time.perf_counter() - t0 < seconds:
        for i in order_rng.permutation(len(BLOCK)):
            client.run_op(BLOCK[i], f"op{client.n_ops}")
        blocks += 1
    wall = time.perf_counter() - t0

    lat = client.lat
    tail = highest_supported_percentile(lat["get_feed"])
    out = {
        "attempted": client.n_ops,
        "failed": client.failed,
        "problems": client.problems,
        "warm_s": warm_s,
        "get_feed_ms": lat["get_feed"],
        "detail": {
            "serve_ops_per_s": client.n_ops / wall,
            "get_feed_ms_p50": median(lat["get_feed"]),
            "get_feed_tail": {"p": tail[0], "ms": tail[1]} if tail else None,
            "get_feed_samples": len(lat["get_feed"]),
            "get_feed_ms": [round(x, 1) for x in lat["get_feed"]],
            "get_followers_ms_p50": median(lat["get_followers"]),
            "lookup_ms_p50": median(lat["lookup"]),
            "add_posts_ms_p50": median(lat["write"]),
            "post_visible_ms_p50": median(client.visible_ms),
            "writes": len(client.visible_ms),
            "blocks": blocks,
        },
        "layers": {},
    }
    if tracer:
        n = max(1, client.n_ops)
        serve_spans = tracer.spans[spans0:]
        out["layers"] = {
            "feed.get_feed_jobs": median([j["jobs"] for j in client.jobs]),
            "feed.get_feed_tasks": median([j["tasks"] for j in client.jobs]),
            # nearest-rank p90; under 100 reads it has fewer than ten
            # samples beyond it (``get_feed_tail`` gives the supported one)
            "feed.get_feed_ms_p90": percentile(lat["get_feed"], 90, min_beyond=0),
            "feed.get_followers_ms_p50": median(lat["get_followers"]),
            "feed.post_visible_ms_p50": median(client.visible_ms),
            "feed.serve_table_calls": (type(store).table_calls - table_calls0) / n,
            "feed.serve_table_ms": 1000.0
            * sum(s.duration for s in serve_spans if s.name == "feed.table")
            / n,
        }
    return out
