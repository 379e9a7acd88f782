"""Phase 1 of ``feed_ingest_serve``: drain a backlog of Kafka envelopes
through the streaming fan-out pipeline into a fresh FeedStore.

All input is due at t=0.  The backlog is the generator's posts encoded
with ``sources.kafka.posts_to_envelopes`` plus redeliveries and junk
envelopes, written as N_FILES files; ``run_fanout_pipeline`` drains it
through ``read_stream_envelope_files(max_files_per_trigger=...)`` over
EPOCHS epochs, so the feed grows EPOCHS-fold from the first epoch to the
last.  The drain is checked against the model: ``feed_by_user`` must be
exactly the valid distinct posts joined with follows, ``posts`` exactly the
valid distinct posts.
"""

from __future__ import annotations

import json
import os
import time

from perfbench import gen
from perfbench.common import JobCounter, median
from perfbench.spans import self_time

N_USERS = 1500
N_POSTS = 12_000
MEAN_FOLLOWERS = 10
N_FILES = 120
EPOCHS = 8
DRAIN_TIMEOUT_S = 120


def _posts_frame(spark, rows, user_ids):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "post_id": [r[0] for r in rows],
            "author_id": [user_ids[r[1]] for r in rows],
            "body": [r[2] for r in rows],
            "created_at": pd.to_datetime([r[3] for r in rows], unit="ms"),
        }
    )
    return spark.createDataFrame(
        pdf, "post_id string, author_id string, body string, created_at timestamp"
    )


def write_backlog(spark, model: gen.FeedModel, plan: gen.DeliveryPlan, out_dir: str):
    """Encode posts with ``posts_to_envelopes`` and lay the envelopes out
    as ``plan.n_files`` parquet files whose modification times follow the
    file order (the file source takes the oldest files first)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from golang_cassandra_kafka_feed_spark.sources.kafka import posts_to_envelopes

    rows = model.posts + plan.junk_posts
    env = posts_to_envelopes(_posts_frame(spark, rows, model.user_ids))
    table = env.select("value").toArrow()
    by_id = {json.loads(v)["id"]: v for v in table.column("value").to_pylist()}
    created = {r[0]: r[3] for r in rows}
    files: list[list[tuple[bytes, bytes | None, int]]] = [
        [] for _ in range(plan.n_files)
    ]
    for i, d in enumerate(plan.deliveries):
        key, ts = b"post_created", gen.EPOCH_2024_US // 1000
        if d.kind in ("post", "redelivery"):
            pid = model.posts[d.ref][0]
            value, ts = by_id[pid], created[pid]
        elif d.kind in ("foreign_key", "oversize"):
            pid = plan.junk_posts[d.ref][0]
            value, ts = by_id[pid], created[pid]
            if d.kind == "foreign_key":
                key = b"user_created"
        else:
            value = gen.junk_value(d.kind, i)
        files[d.file_idx].append((key, value, ts))
    os.makedirs(out_dir)
    schema = pa.schema(
        [
            ("key", pa.binary()),
            ("value", pa.binary()),
            ("timestamp", pa.timestamp("ms", tz="UTC")),
        ]
    )
    base = time.time() - plan.n_files - 10
    for f, recs in enumerate(files):
        path = os.path.join(out_dir, f"part-{f:05d}.parquet")
        pq.write_table(
            pa.table(
                [
                    pa.array([r[0] for r in recs], pa.binary()),
                    pa.array([r[1] for r in recs], pa.binary()),
                    pa.array([r[2] for r in recs], pa.timestamp("ms", tz="UTC")),
                ],
                schema=schema,
            ),
            path,
        )
        os.utime(path, (base + f, base + f))


def expected_checksums(model: gen.FeedModel) -> dict[str, tuple[int, int]]:
    """(row count, digest sum) of the exact ``feed_by_user`` and ``posts``
    contents the model implies."""
    uid = model.user_ids
    feed_n = feed_sum = post_sum = 0
    for pid, a, body, ms in model.posts:
        post_sum += gen.row_digest(pid, uid[a], body, ms)
        for f in model.followers_of.get(a, ()):
            feed_n += 1
            feed_sum += gen.row_digest(uid[f], pid, uid[a], body, ms)
    return {"feed_by_user": (feed_n, feed_sum), "posts": (len(model.posts), post_sum)}


def table_checksum(df, cols) -> tuple[int, int]:
    """Spark twin of ``gen.row_digest`` summed over a table."""
    from pyspark.sql import functions as F

    parts = [
        F.unix_millis(F.col(c)).cast("string") if c == "created_at" else F.col(c)
        for c in cols
    ]
    digest = F.conv(F.substring(F.md5(F.concat_ws("|", *parts)), 1, 12), 16, 10)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(digest.cast("decimal(38,0)")).alias("s"),
    ).collect()[0]
    return int(row["n"]), int(row["s"] or 0)


def check_store(store, expected) -> list[str]:
    problems = []
    got = table_checksum(
        store.table("feed_by_user"),
        ["user_id", "post_id", "author_id", "body", "created_at"],
    )
    if got != expected["feed_by_user"]:
        problems.append(f"feed_by_user {got} != {expected['feed_by_user']}")
    got = table_checksum(
        store.table("posts"), ["post_id", "author_id", "body", "created_at"]
    )
    if got != expected["posts"]:
        problems.append(f"posts {got} != {expected['posts']}")
    return problems


def feed_layout(store) -> dict[str, float]:
    """Files and stored bytes per row of the ``feed_by_user`` table."""
    path = store._path("feed_by_user")
    files = n_bytes = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                n_bytes += os.path.getsize(os.path.join(root, n))
    rows = store.table("feed_by_user").count()
    return {
        "feed.feed_files": float(files),
        "feed.bytes_per_feed_row": n_bytes / max(1, rows),
    }


def follows_frame(spark, model):
    import pandas as pd

    uid = model.user_ids
    pdf = pd.DataFrame(
        {
            "user_id": [uid[f] for f, _ in model.follows],
            "followee_id": [uid[a] for _, a in model.follows],
        }
    )
    return spark.createDataFrame(pdf, "user_id string, followee_id string")


def drain(spark, env_dir, store, ckpt):
    """Run the pipeline until the backlog in ``env_dir`` is drained;
    returns (wall seconds, progress of the epochs that read input)."""
    from golang_cassandra_kafka_feed_spark.sources.kafka import (
        read_stream_envelope_files,
    )
    from golang_cassandra_kafka_feed_spark.streaming import run_fanout_pipeline

    src = read_stream_envelope_files(
        spark, env_dir, max_files_per_trigger=N_FILES // EPOCHS
    )
    t0 = time.perf_counter()
    q = run_fanout_pipeline(src, store, ckpt)
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise RuntimeError(f"drain still running after {DRAIN_TIMEOUT_S} s")
    wall = time.perf_counter() - t0
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return wall, [p for p in q.recentProgress if p.numInputRows > 0]


def _epoch_window(p) -> tuple[float, float]:
    from datetime import datetime

    start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
    return start, start + p.durationMs.get("triggerExecution", 0) / 1000.0


def drain_phase(spark, model, store, env_dir, ckpt, tracer, cores) -> dict:
    """Drain the backlog once into ``store`` and check the result;
    returns the drain's figures (and its per-layer figures when traced)."""
    counter = JobCounter(spark) if tracer else None
    before = counter.mark() if counter else None
    table_calls0 = type(store).table_calls if tracer else 0
    out = {"problems": [], "failed": 0, "layers": {}}
    try:
        wall, progress = drain(spark, env_dir, store, ckpt)
    except Exception as ex:  # a failed drain is a failed operation
        out["failed"] = 1
        out["problems"].append(f"drain: {str(ex).splitlines()[0][:200]}")
        return out
    jobs = counter.delta(before) if counter else None
    table_calls = type(store).table_calls - table_calls0 if tracer else 0
    bad = check_store(store, expected_checksums(model))
    out["failed"] = int(bool(bad))
    out["problems"].extend(bad)
    trig = [p.durationMs.get("triggerExecution", 0) for p in progress]
    add_batch = [p.durationMs.get("addBatch", 0) for p in progress]
    out.update(wall=wall, epoch_ms=trig, posts=len(model.posts))
    if tracer:
        epochs = _record_epoch_spans(tracer, progress)
        # addBatch minus the feed child spans = the epoch span's self time
        # minus what triggerExecution adds around addBatch
        self_ms = [
            1000.0 * self_time(e, tracer.children(e)) - (t - ab)
            for e, t, ab in zip(epochs, trig, add_batch)
        ]
        q = max(1, len(trig) // 4)
        fan = jobs["by_desc"].get("feed.fan_out", {"jobs": 0, "shuffle_bytes": 0})
        n = max(1, len(progress))
        drain_spans = [s for s in tracer.spans if s.request is not None]
        out["layers"] = {
            "streaming.epochs": float(len(progress)),
            "streaming.add_batch_ms_p50": median(add_batch),
            "streaming.epoch_overhead_ms_p50": median(
                [t - ab for t, ab in zip(trig, add_batch)]
            ),
            "streaming.process_self_ms_p50": median(self_ms),
            "streaming.epoch_growth": median(trig[-q:]) / max(1.0, median(trig[:q])),
            "streaming.jobs_per_epoch": jobs["jobs"] / n,
            "streaming.tasks_per_epoch": jobs["tasks"] / n,
            "streaming.task_busy_ratio": jobs["executor_run_ms"] / 1000.0
            / (wall * cores),
            "feed.add_posts_ms_p50": median(
                [s.duration * 1000 for s in drain_spans if s.name == "feed.add_posts"]
            ),
            "feed.fan_out_ms_p50": median(
                [s.duration * 1000 for s in drain_spans if s.name == "feed.fan_out"]
            ),
            "feed.fan_out_jobs": fan["jobs"] / n,
            "feed.fan_out_shuffle_mb": fan["shuffle_bytes"] / 2**20 / n,
            "feed.table_calls": table_calls / n,
            "feed.table_ms": 1000.0
            * sum(s.duration for s in drain_spans if s.name == "feed.table")
            / n,
            **feed_layout(store),
        }
    return out


def _record_epoch_spans(tracer, progress) -> list:
    """One ``streaming.epoch`` span per epoch; the feed spans that started
    inside an epoch join its request id and, at top level, take it as
    parent.  Returns the epoch spans."""
    epochs = []
    for p in progress:
        lo, hi = _epoch_window(p)
        req = f"epoch{p.batchId}"
        epoch = tracer.add("streaming.epoch", lo, hi, request=req)
        for s in tracer.spans:
            if s.request is None and s.name.startswith("feed.") and lo <= s.start <= hi:
                s.request = req
                if s.parent is None:
                    s.parent = epoch.id
        epochs.append(epoch)
    return epochs
