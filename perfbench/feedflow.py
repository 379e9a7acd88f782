"""``feed_ingest_serve``: the reference worker's hot path, then its read path.

Set-up loads the seeded users and follow graph into a FeedStore
(``users`` as a bulk input load, ``follows`` through ``create_follows``),
writes the envelope backlog, and drains its first quarter into a
throw-away store to warm the JVM.

Phase 1 drains the whole backlog (all input due at t=0) through
``run_fanout_pipeline`` into the store and checks ``feed_by_user`` and
``posts`` against the model (see ingest.py).  Phase 2 serves a closed loop
from the store the drain left behind, a streamed-sink file layout, and
checks every read against the model (see serve.py).
"""

from __future__ import annotations

import os
import shutil
import time

from perfbench import gen, ingest, serve
from perfbench.common import median
from perfbench.spans import Tracer, traced_feed_store


def _users_frame(spark, model):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"user_id": model.user_ids, "username": model.usernames}),
        "user_id string, username string",
    )


def run(spark, args, run_dir, tracer: Tracer | None, cores: int) -> dict:
    from golang_cassandra_kafka_feed_spark.feed import FeedStore

    setup_t0 = time.perf_counter()
    model = gen.feed_model(
        args.seed, ingest.N_USERS, ingest.N_POSTS, ingest.MEAN_FOLLOWERS
    )
    plan = gen.delivery_plan(args.seed, model, ingest.N_FILES)
    t = time.perf_counter()
    env_dir = run_dir.sub("envelopes")
    ingest.write_backlog(spark, model, plan, env_dir)
    envelopes_write_s = time.perf_counter() - t
    template = FeedStore(spark, run_dir.sub("template-store"))
    template._append(_users_frame(spark, model), "users")
    template.create_follows(ingest.follows_frame(spark, model))

    def fresh_store(cls):
        s = cls(spark, run_dir.sub("store"))
        for table in ("users", "follows"):
            shutil.copytree(template._path(table), s._path(table))
        return s

    # warm-up: the first quarter of the backlog into a throw-away store, so
    # the measured drain starts on a warm JVM
    warm_dir = run_dir.sub("warm-envelopes")
    os.makedirs(warm_dir)
    for f in range(ingest.N_FILES // 4):
        name = f"part-{f:05d}.parquet"
        shutil.copy2(os.path.join(env_dir, name), os.path.join(warm_dir, name))
    ingest.drain(spark, warm_dir, fresh_store(FeedStore), run_dir.sub("warm-ckpt"))
    setup_s = time.perf_counter() - setup_t0

    store = fresh_store(traced_feed_store(tracer) if tracer else FeedStore)
    d = ingest.drain_phase(
        spark, model, store, env_dir, run_dir.sub("ckpt"), tracer, cores
    )
    if "wall" not in d:  # the drain raised: nothing to serve from
        return {
            "attempted": 1,
            "failed": 1,
            "problems": d["problems"],
            "setup_s": setup_s,
            "throughput_per_s": 0.0,
            "latency_ms_p50": 0.0,
            "detail": {},
            "layers": {"sources.envelopes_write_s": envelopes_write_s},
        }
    s = serve.serve_phase(
        spark, store, serve.Model(model), args.seed, args.seconds, tracer
    )
    rate = d["posts"] / d["wall"]
    return {
        "attempted": 1 + s["attempted"],
        "failed": d["failed"] + s["failed"],
        "problems": d["problems"] + s["problems"],
        "setup_s": setup_s + s["warm_s"],
        "throughput_per_s": rate,
        "latency_ms_p50": median(s["get_feed_ms"]),
        "detail": {
            "ingest_posts_per_s": rate,
            "epoch_s_p50": median(d["epoch_ms"]) / 1000.0,
            "drain_s": d["wall"],
            "epoch_ms": d["epoch_ms"],
            "valid_posts": d["posts"],
            "envelopes": len(plan.deliveries),
            "feed_rows": model.expected_feed_rows(),
            **s["detail"],
        },
        "layers": {
            "sources.envelopes_write_s": envelopes_write_s,
            **d["layers"],
            **s["layers"],
        },
    }
