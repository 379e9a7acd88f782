"""feedspark benchmark: one command, two workloads, every output checked.

    python3 perfbench/run.py --workload {feed_ingest_serve,analytics_sweep}
                             --seed N --seconds S --trace {0,1}

Run from the repository root.  The last stdout line is one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``:
with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a separate traced run.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import subprocess
import sys
import time
from pathlib import Path

ROOT = str(Path(__file__).resolve().parent.parent)

WORKLOADS = ("feed_ingest_serve", "analytics_sweep")

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "throughput_per_s": "1/s",
    "latency_ms_p50": "ms",
}

def per_layer_units() -> dict[str, str]:
    from perfbench.sweep import OPERATORS, SWEEP_KEYS

    units = {
        "session.start_s": "s",
        "sources.envelopes_write_s": "s",
        "sources.load_table_s": "s",
        "streaming.epochs": "count",
        "streaming.add_batch_ms_p50": "ms",
        "streaming.epoch_overhead_ms_p50": "ms",
        "streaming.process_self_ms_p50": "ms",
        "streaming.epoch_growth": "ratio",
        "streaming.jobs_per_epoch": "count",
        "streaming.tasks_per_epoch": "count",
        "streaming.task_busy_ratio": "ratio",
        "feed.add_posts_ms_p50": "ms",
        "feed.fan_out_ms_p50": "ms",
        "feed.fan_out_jobs": "count",
        "feed.fan_out_shuffle_mb": "MB",
        "feed.table_calls": "count",
        "feed.table_ms": "ms",
        "feed.feed_files": "count",
        "feed.bytes_per_feed_row": "B",
        "feed.get_feed_jobs": "count",
        "feed.get_feed_tasks": "count",
        "feed.get_feed_ms_p90": "ms",
        "feed.get_followers_ms_p50": "ms",
        "feed.serve_table_calls": "count",
        "feed.serve_table_ms": "ms",
        "feed.post_visible_ms_p50": "ms",
        "plans.build_ms_p50": "ms",
        "plans.execute_s": "s",
        "plans.jobs_per_query_p50": "count",
        "plans.tasks_per_query_p50": "count",
        "plans.shuffle_mb": "MB",
        "plans.task_busy_ratio": "ratio",
        "plans.relational_s": "s",
    }
    units.update({f"operators.{g}_s": "s" for g in dict.fromkeys(OPERATORS.values())})
    units.update({f"query.{k}_s": "s" for k in SWEEP_KEYS})
    units.update({"trace.throughput_per_s": "1/s", "trace.latency_ms_p50": "ms"})
    return units


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _share(before, after) -> float:
    total = after[1] - before[1]
    return round((after[0] - before[0]) / total, 3) if total > 0 else 0.0


def main(argv=None) -> int:
    args = _parse(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    spec = importlib.util.find_spec("golang_cassandra_kafka_feed_spark")
    if spec is None or not (spec.origin or "").startswith(ROOT + os.sep):
        print(
            "perfbench: the golang_cassandra_kafka_feed_spark package is not "
            f"in {ROOT}; run from the repository root",
            file=sys.stderr,
        )
        return 2

    from perfbench import common
    from perfbench.spans import Tracer

    os.environ["TZ"] = "UTC"  # collected timestamps compare as UTC
    time.tzset()

    run_dir = common.RunDir(ROOT)
    common.isolate_temp_files(run_dir)
    load_start = common.load_1m()
    steal0 = common.cpu_steal_ticks()
    tracer = Tracer() if args.trace else None
    cores = common.cpu_count()
    spark = None
    try:
        spark, start_s = common.start_session(bool(args.trace))
        if args.workload == "feed_ingest_serve":
            from perfbench import feedflow as wl
        else:
            from perfbench import sweep as wl
        res = wl.run(spark, args, run_dir, tracer, cores)
        rss = common.peak_rss_mb(spark)
    finally:
        if spark is not None:
            stop_session(spark)
        run_dir.close()

    if tracer is not None:
        out = os.path.join(ROOT, ".perfbench_traces")
        os.makedirs(out, exist_ok=True)
        tracer.write(os.path.join(out, f"{args.workload}-seed{args.seed}.jsonl"))

    e2e = {
        "setup_s": start_s + res["setup_s"],
        "peak_rss_mb": rss,
        "throughput_per_s": res["throughput_per_s"],
        "latency_ms_p50": res["latency_ms_p50"],
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "load_1m_start": load_start,
        "load_1m_end": common.load_1m(),
        "cpu_steal_share": _share(steal0, common.cpu_steal_ticks()),
        "problems": res["problems"][:20],
        **res["detail"],
    }
    print(json.dumps({"detail": detail}))
    if args.trace:
        layers = {"session.start_s": start_s, **res["layers"]}
        layers["trace.throughput_per_s"] = e2e["throughput_per_s"]
        layers["trace.latency_ms_p50"] = e2e["latency_ms_p50"]
        units = per_layer_units()
        metrics = {
            k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in units.items()
        }
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    if sys.path and sys.path[0] == os.path.dirname(os.path.abspath(__file__)):
        sys.path[0] = ROOT  # import the benchmark as the perfbench package
    sys.exit(main())
