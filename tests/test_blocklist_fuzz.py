"""Differential fuzzing of the domain-blocklist seam (q120).

The Spark side matches via dot-boundary suffix EXPLOSION + equi-join;
the oracle via ``host = rule OR host LIKE '%.' || rule`` — two
genuinely different mechanisms that must agree on every (host, rules)
input, most of all on the label-boundary traps (``ample.com`` vs
``example.com``) and the most-specific-rule tiebreak (longest, then
lexicographically greatest — the q120 oracle's ORDER BY length DESC,
rule DESC).  The label pool is built so random concatenations
constantly produce partial-label overlaps.

Seeded and deterministic: SPARK_GRAFT_BLFUZZ_SEED /
SPARK_GRAFT_BLFUZZ_N reproduce any failure.  Soak record (committed):
seed 20260816 at 2000 hosts (twice — before and after NULL-host
planting landed), seed 20260817 at 1000 — zero divergences.  Suite
default is 400 hosts (~10 s).
"""

from __future__ import annotations

import os
import random

import duckdb

from golang_cassandra_kafka_feed_spark.operators.urltools import (
    domain_block_matches,
)

SEED = int(os.environ.get("SPARK_GRAFT_BLFUZZ_SEED", "20260816"))
N_HOSTS = int(os.environ.get("SPARK_GRAFT_BLFUZZ_N", "400"))

# Overlap-rich label pool: 'ample'/'xample'/'example' and 'm'/'media'
# manufacture partial-label traps; 'site1'/'site12' manufacture
# prefix-of-label traps.
_LABELS = [
    "com", "org", "example", "ample", "xample", "site1", "site12",
    "a", "aa", "media", "m", "cdn",
]


def _host(rng: random.Random) -> str | None:
    if rng.random() < 0.03:
        return None  # upstream-quarantined rows: a NULL host never matches
    n = rng.randint(1, 5)
    return ".".join(rng.choice(_LABELS) for _ in range(n))


def _rules(rng: random.Random, hosts: list[str]) -> list[str]:
    rules: set[str] = set()
    real = [h for h in hosts if h is not None]
    for _ in range(rng.randint(2, 8)):
        if real and rng.random() < 0.6:
            # a real dot-boundary suffix of some host — guaranteed hits
            h = rng.choice(real).split(".")
            i = rng.randrange(len(h))
            rules.add(".".join(h[i:]))
        else:
            # random combo — mostly traps
            rules.add(
                ".".join(
                    rng.choice(_LABELS)
                    for _ in range(rng.randint(1, 3))
                )
            )
    return sorted(rules)


def test_blocklist_semantics_agree_cross_engine(spark):
    rng = random.Random(SEED)
    hosts = [_host(rng) for _ in range(N_HOSTS)]
    rules = _rules(rng, hosts)
    hosts_df = spark.createDataFrame(
        list(enumerate(hosts)), "doc_id bigint, host string"
    )
    rules_df = spark.createDataFrame([(r,) for r in rules], "rule string")
    got = {
        r.doc_id: r.rule
        for r in domain_block_matches(hosts_df, rules_df).collect()
    }

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE hosts AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, " + ("NULL" if h is None else f"'{h}'") + ")"
            for i, h in enumerate(hosts)
        )
        + ") t(doc_id, host)"
    )
    con.execute(
        "CREATE TABLE rules AS SELECT * FROM (VALUES "
        + ", ".join(f"('{r}')" for r in rules)
        + ") t(rule)"
    )
    want = dict(
        con.sql(
            """
            SELECT doc_id, rule FROM (
                SELECT h.doc_id, r.rule
                FROM hosts h JOIN rules r
                  ON h.host = r.rule OR h.host LIKE '%.' || r.rule
            )
            QUALIFY row_number() OVER (
                PARTITION BY doc_id ORDER BY length(rule) DESC, rule DESC
            ) = 1
            """
        ).fetchall()
    )
    assert got == want, (
        f"divergence (seed {SEED}): "
        f"{ {k: (got.get(k), want.get(k)) for k in set(got) ^ set(want) or set(got) if got.get(k) != want.get(k)} }"
    )
