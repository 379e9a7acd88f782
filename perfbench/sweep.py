"""``analytics_sweep``: steady passes through a fixed set of declared
queries (``plans.queries.QUERIES``), each executed through the noop sink.

Set-up generates the ten star-schema tables from the seed at scale SF,
computes every key's DuckDB oracle hash (``plans.oracles.ORACLES``) and
makes one pass that collects each key's result and compares its hash with
the oracle's, then one untimed noop-sink pass; both warm the JVM.  The
timed passes follow.
Keys served from a cross-run ``/tmp/gckfs_*`` store are left out, so that
run 1 is like runs 2..n.
"""

from __future__ import annotations

import hashlib
import tempfile
import time
from datetime import date, datetime

from perfbench import gen
from perfbench.common import JobCounter, median
from perfbench.spans import Tracer

SF = 0.01

RELATIONAL = [
    "q11_hash_agg",
    "q16_topk_per_key",
    "tpch_q1",
    "tpch_q18",
]

# operator key -> the operators module group it exercises
OPERATORS = {
    "q37_minhash_lsh_neardup": "dedup",
    "q30_cosine_topk": "similarity",
    "q64_tfidf_top_terms": "textstats",
    "q83_pagerank": "graph",
    "q65_kmeans_assign": "clustering",
    "q48_sketch_stats": "other",
}

SWEEP_KEYS = RELATIONAL + list(OPERATORS)

def _norm(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    return str(v)


def result_hash(cols, rows) -> str:
    """Order-insensitive sha256 over rows, columns sorted by name (the
    scripts/driver_sim.py contract)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def oracle_hashes(sf_dir: str, keys, threads: int) -> dict[str, tuple]:
    """(sorted column names, row count, hash) of each key's DuckDB oracle."""
    import duckdb

    from golang_cassandra_kafka_feed_spark.plans.oracles import ORACLES
    from golang_cassandra_kafka_feed_spark.sources.testdata import TESTDATA_TABLES

    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    # spill files, if any, stay in the run's temp dir, not the working dir
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}/duckdb'")
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for k in keys:
        rel = con.sql(ORACLES[k])
        rows = rel.fetchall()
        out[k] = (sorted(rel.columns), len(rows), result_hash(rel.columns, rows))
    con.close()
    return out


def run(spark, args, run_dir, tracer: Tracer | None, cores: int) -> dict:
    from golang_cassandra_kafka_feed_spark.plans.queries import QUERIES
    from golang_cassandra_kafka_feed_spark.sources.testdata import (
        TESTDATA_TABLES,
        load_table,
    )

    setup_t0 = time.perf_counter()
    sf_dir = run_dir.sub("sf")
    gen.write_star_schema(args.seed, SF, sf_dir)
    t = time.perf_counter()
    for name in TESTDATA_TABLES:
        load_table(spark, sf_dir, name)
    load_table_s = time.perf_counter() - t
    t = time.perf_counter()
    oracle = oracle_hashes(sf_dir, SWEEP_KEYS, cores)
    oracle_s = time.perf_counter() - t
    t = time.perf_counter()

    attempted = failed = 0
    problems = []
    for k in SWEEP_KEYS:  # correctness pass, also the warm-up
        attempted += 1
        try:
            df = QUERIES[k](spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
            got = (sorted(cols), len(rows), result_hash(cols, rows))
        except Exception as ex:  # a raising query is a failed operation
            failed += 1
            problems.append(f"{k}: {str(ex).splitlines()[0][:200]}")
            continue
        if got != oracle[k]:
            failed += 1
            problems.append(f"{k}: result {got[:2]} differs from oracle {oracle[k][:2]}")
    check_s = time.perf_counter() - t
    # one more, untimed pass through the noop sink: the first executions
    # after the check are still warming up, and the number of timed passes
    # that fit in --seconds must not decide how warm the measured ones are
    for k in SWEEP_KEYS:
        try:
            QUERIES[k](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception:  # counted when the timed passes run it again
            pass
    setup_s = time.perf_counter() - setup_t0

    counter = JobCounter(spark) if tracer else None
    per_key: dict[str, list[float]] = {k: [] for k in SWEEP_KEYS}
    builds, executes, passes, counts = [], [], [], []
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < args.seconds:
        pass_s = 0.0
        for k in SWEEP_KEYS:
            attempted += 1
            before = counter.mark() if counter else None
            try:
                wall0, tb = time.time(), time.perf_counter()
                df = QUERIES[k](spark, sf_dir)
                te = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                tx = time.perf_counter()
            except Exception as ex:  # a raising query is a failed operation
                failed += 1
                problems.append(f"{k}: {str(ex).splitlines()[0][:200]}")
                continue
            if tracer:
                req = f"pass{len(passes)}-{k}"
                built, done = wall0 + (te - tb), wall0 + (tx - tb)
                q = tracer.add("plans.query", wall0, done, request=req)
                tracer.add("plans.build", wall0, built, q.id, req)
                tracer.add("plans.execute", built, done, q.id, req)
            if counter:
                counts.append(counter.delta(before) | {"wall": tx - tb})
            builds.append(te - tb)
            executes.append(tx - te)
            per_key[k].append(tx - tb)
            pass_s += tx - tb
        passes.append(pass_s)

    all_q = [s for v in per_key.values() for s in v]
    sweep_s = median(passes)
    out = {
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "setup_s": setup_s,
        "throughput_per_s": len(SWEEP_KEYS) / sweep_s if sweep_s else 0.0,
        # the median over passes of the mean query time: a median over a
        # handful of unlike queries jumps between neighbouring keys
        "latency_ms_p50": 1000.0 * sweep_s / len(SWEEP_KEYS),
        "detail": {
            "sweep_s": sweep_s,
            "query_s_p50": median(all_q) if all_q else 0.0,
            "passes": len(passes),
            "setup_parts_s": {"oracle": oracle_s, "check_pass": check_s},
            "queries": len(SWEEP_KEYS),
            "sf": SF,
            "query_s": {k: round(median(v), 4) for k, v in per_key.items() if v},
        },
        "layers": {"sources.load_table_s": load_table_s},
    }
    if tracer and all_q:
        n = len(passes)
        med = {k: median(v) for k, v in per_key.items() if v}
        groups: dict[str, float] = {}
        for k, g in OPERATORS.items():
            groups[g] = groups.get(g, 0.0) + med.get(k, 0.0)
        wall = sum(c["wall"] for c in counts)
        out["layers"].update({
            "plans.build_ms_p50": 1000.0 * median(builds),
            "plans.execute_s": sum(executes) / n,
            "plans.jobs_per_query_p50": median([c["jobs"] for c in counts]),
            "plans.tasks_per_query_p50": median([c["tasks"] for c in counts]),
            "plans.shuffle_mb": sum(c["shuffle_bytes"] for c in counts) / 2**20 / n,
            "plans.task_busy_ratio": sum(c["executor_run_ms"] for c in counts)
            / 1000.0
            / (wall * cores),
            "plans.relational_s": sum(med.get(k, 0.0) for k in RELATIONAL),
            **{f"operators.{g}_s": t for g, t in groups.items()},
            **{f"query.{k}_s": t for k, t in med.items()},
        })
    return out
