"""Differential fuzzing of the temporal seam (round-5 verdict ask #8).

The one divergence the external driver ever found (q92) lived in the
session/interval/SCD2 composition space, so this suite fuzzes exactly
that: gap-and-island sessionization, session x history interval-overlap
joins, SCD2 validity derivations, point-in-interval and as-of joins —
executed as the SAME SQL text on Spark and DuckDB over the same
in-memory events, with randomized timestamps that include sub-second
and sub-millisecond spacing, EXACTLY-boundary-equal gaps, and equal
timestamps (tie-broken by event_id everywhere order is observable).

Representation: every event carries its timestamp twice — ``ts``
TIMESTAMP and ``us`` BIGINT epoch-micros, consistent by construction.
TIMESTAMPs flow through the type-sensitive surface (window ordering,
min/max, comparisons, BETWEEN, coalesce with sentinels) while gap
ARITHMETIC uses the BIGINT twin, because timestamp difference is not
portable as one SQL text: Spark spells it ``timestampdiff`` (truncated
difference), DuckDB ``date_diff`` (boundary-crossing count) — they
also genuinely disagree on sub-unit fractions, which is an oracle-
authoring rule (memory: ms-gap thresholds must compare the truncated
difference), not a fuzzable intersection.

Portability rules inherited from test_differential_fuzz + the q92
root-cause: integer window/group sums always CAST AS BIGINT (bare
SUM(int) is HUGEINT in DuckDB — the q92 hash-fail), ORDER BY never
references an output alias that shadows a source column, every
observable order ends in a unique key.

Seeded and deterministic: SPARK_GRAFT_TFUZZ_SEED /
SPARK_GRAFT_TFUZZ_CASES reproduce any failure; divergence reports
carry the offending SQL.  Round-6 soak record: seeds 20260815 x 1000,
20260816 x 1000 (7-kind grammar), then 20260818 x 1000,
20260819 x 1000 (full 10-kind grammar incl. as-of state
reconstruction, overlap-duration aggregation, daily session buckets)
— zero divergences.
"""

from __future__ import annotations

import datetime
import os
import random
from collections import Counter

# Suite default is 150 cases (~3 min); the committed soak record below
# ran SPARK_GRAFT_TFUZZ_CASES=1000 per seed.
SEED = int(os.environ.get("SPARK_GRAFT_TFUZZ_SEED", "20260815"))
N_CASES = int(os.environ.get("SPARK_GRAFT_TFUZZ_CASES", "150"))

_EPOCH = datetime.datetime(1970, 1, 1)
_BASE_US = int(
    (datetime.datetime(2021, 1, 1) - _EPOCH).total_seconds()
) * 1_000_000

# Gap thresholds (ms) the generated queries draw from; event streams
# plant gaps EXACTLY equal to these so boundary-equality is exercised,
# plus one sub-millisecond threshold to stress sub-ms spacing.
_GAPS_MS = [1, 500, 1_000, 30_000, 1_800_000]

# A far-future sentinel for open-interval clamping (SCD2 current rows).
_SENTINEL = "TIMESTAMP '2100-01-01 00:00:00'"


def _us_to_dt(us: int) -> datetime.datetime:
    return _EPOCH + datetime.timedelta(microseconds=us)


def _gen_events(rng: random.Random):
    """(user_id, event_id, ts, us, value) rows: per-user walks whose
    steps mix exact-threshold gaps, off-by-one-us gaps, sub-ms bursts,
    plain seconds, and zero (equal timestamps)."""
    rows = []
    eid = 0
    for user in range(40):
        us = _BASE_US + rng.randrange(0, 3_600_000_000)
        for _ in range(rng.randrange(10, 60)):
            rows.append(
                (
                    user,
                    eid,
                    _us_to_dt(us),
                    us,
                    rng.randrange(-100, 101),
                )
            )
            eid += 1
            r = rng.random()
            if r < 0.25:
                step = rng.choice(_GAPS_MS) * 1000  # exactly a threshold
            elif r < 0.40:
                step = rng.choice(_GAPS_MS) * 1000 + rng.choice([-1, 1])
            elif r < 0.55:
                step = rng.randrange(1, 1000)  # sub-ms burst
            elif r < 0.65:
                step = 0  # equal timestamps (event_id breaks the tie)
            else:
                step = rng.randrange(1, 120) * 1_000_000
            us += step
    rng.shuffle(rows)
    return rows


def _gen_probes(rng: random.Random):
    """(probe_id, user_id, ts, us) point-in-time probes, deliberately
    including exact copies of plausible event instants."""
    rows = []
    for pid in range(200):
        user = rng.randrange(40)
        us = _BASE_US + rng.randrange(0, 3_700_000_000)
        us -= us % rng.choice([1, 1, 1000, 1_000_000])  # some aligned
        rows.append((pid, user, _us_to_dt(us), us))
    return rows


# ---------------------------------------------------------------------------
# query grammar: every kind is a session/interval/SCD2 composition
# ---------------------------------------------------------------------------


def _sessions_cte(gap_ms: int) -> str:
    """Gap-and-island sessions as intervals, in the portable dialect:
    the gap compares the BIGINT micros difference (exact on both
    engines); window order is (ts, event_id) — unique."""
    return f"""
    lagd AS (
        SELECT user_id, event_id, ts, us, value,
               lag(us) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS pus
        FROM ev
    ), flagged AS (
        SELECT *, CASE WHEN pus IS NULL
                        OR (us - pus) > {gap_ms * 1000}
                       THEN 1 ELSE 0 END AS nw
        FROM lagd
    ), sess_rows AS (
        SELECT *, CAST(sum(nw) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING)
                       AS BIGINT) AS session_id
        FROM flagged
    ), sess AS (
        SELECT user_id, session_id,
               min(ts) AS s_start, max(ts) AS s_end,
               min(us) AS s_start_us, max(us) AS s_end_us,
               count(*) AS n_events,
               CAST(sum(value) AS BIGINT) AS sum_value
        FROM sess_rows GROUP BY user_id, session_id
    )"""


def _scd2_cte(rng: random.Random) -> tuple[str, str]:
    """SCD2 validity intervals via lead(); open ends either clamped to
    the user's max ts or to a far sentinel (both real oracle shapes).
    Returns (cte_sql, end_expr_description)."""
    clamp = rng.choice(["maxts", "sentinel"])
    if clamp == "maxts":
        end_expr = "coalesce(valid_to, m)"
        end_us = "coalesce(valid_to_us, m_us)"
    else:
        end_expr = f"coalesce(valid_to, {_SENTINEL})"
        end_us = "coalesce(valid_to_us, 4102444800000000)"
    return (
        f"""
    scd AS (
        SELECT user_id, event_id, value, ts AS valid_from,
               us AS valid_from_us,
               lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS valid_to,
               lead(us) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS valid_to_us
        FROM ev
    ), mts AS (
        SELECT user_id, max(ts) AS m, max(us) AS m_us
        FROM ev GROUP BY user_id
    ), hist AS (
        SELECT scd.user_id, scd.event_id, scd.value,
               valid_from, valid_from_us,
               {end_expr} AS valid_to,
               {end_us} AS valid_to_us
        FROM scd JOIN mts ON scd.user_id = mts.user_id
    )""",
        clamp,
    )


def _q_session_rollup(rng: random.Random) -> str:
    gap = rng.choice(_GAPS_MS)
    return f"""
    WITH {_sessions_cte(gap)}
    SELECT user_id, session_id, s_start, s_end,
           s_end_us - s_start_us AS dur_us, n_events, sum_value
    FROM sess
    ORDER BY user_id, session_id
    """


def _q_session_stats(rng: random.Random) -> str:
    gap = rng.choice(_GAPS_MS)
    min_events = rng.randrange(1, 4)
    return f"""
    WITH {_sessions_cte(gap)}
    SELECT user_id,
           count(*) AS n_sessions,
           CAST(max(n_events) AS BIGINT) AS max_events,
           CAST(min(s_start_us) AS BIGINT) AS first_us,
           CAST(max(s_end_us) AS BIGINT) AS last_us
    FROM sess
    WHERE n_events >= {min_events}
    GROUP BY user_id
    ORDER BY user_id
    """


def _q_interval_join(rng: random.Random) -> str:
    """The q92 shape: sessions x SCD2 history overlap join, randomized
    gap/clamp, closed-interval overlap on TIMESTAMP columns."""
    gap = rng.choice(_GAPS_MS)
    scd, _ = _scd2_cte(rng)
    agg = rng.choice(
        [
            "s.user_id, s.session_id, h.event_id",
            "s.user_id, s.session_id, count(*) AS n_overlaps",
        ]
    )
    group = (
        "GROUP BY s.user_id, s.session_id" if "count(*)" in agg else ""
    )
    order = (
        "ORDER BY s.user_id, s.session_id"
        if "count(*)" in agg
        else "ORDER BY s.user_id, s.session_id, h.event_id"
    )
    return f"""
    WITH {_sessions_cte(gap)}, {scd}
    SELECT {agg}
    FROM sess s JOIN hist h
      ON s.user_id = h.user_id
     AND s.s_start <= h.valid_to AND h.valid_from <= s.s_end
    {group}
    {order}
    """


def _q_point_in_interval(rng: random.Random) -> str:
    """Probes against SCD2 validity: closed vs half-open semantics,
    on the TIMESTAMP columns."""
    scd, _ = _scd2_cte(rng)
    if rng.random() < 0.5:
        pred = "p.ts >= h.valid_from AND p.ts < h.valid_to"
    else:
        pred = "p.ts BETWEEN h.valid_from AND h.valid_to"
    return f"""
    WITH {scd}
    SELECT p.probe_id, h.event_id, h.value
    FROM probes p JOIN hist h
      ON p.user_id = h.user_id AND {pred}
    ORDER BY p.probe_id, h.event_id
    """


def _q_asof(rng: random.Random) -> str:
    """Latest event at-or-before each probe, as a correlated scalar
    max — the as-of join's portable reference form."""
    strict = rng.choice(["<=", "<"])
    return f"""
    SELECT p.probe_id,
           (SELECT max(e.us) FROM ev e
            WHERE e.user_id = p.user_id AND e.ts {strict} p.ts)
               AS asof_us
    FROM probes p
    ORDER BY p.probe_id
    """


def _q_interevent(rng: random.Random) -> str:
    """Inter-event gap distribution with a boundary-sensitive bucket
    label: dense sub-second data stresses the exact thresholds."""
    gap = rng.choice(_GAPS_MS)
    return f"""
    WITH lagd AS (
        SELECT user_id,
               us - lag(us) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS gap_us
        FROM ev
    )
    SELECT user_id,
           CAST(sum(CASE WHEN gap_us >  {gap * 1000} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_above,
           CAST(sum(CASE WHEN gap_us =  {gap * 1000} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_equal,
           CAST(sum(CASE WHEN gap_us <  {gap * 1000} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_below
    FROM lagd
    WHERE gap_us IS NOT NULL
    GROUP BY user_id
    ORDER BY user_id
    """


def _q_session_pairs(rng: random.Random) -> str:
    """Session-interval SELF overlap across users (do user A's sessions
    overlap user B's?) — bounded to two specific users to stay small,
    pair emitted once via (user_lt, session ids)."""
    gap = rng.choice(_GAPS_MS)
    ua, ub = rng.sample(range(40), 2)
    return f"""
    WITH {_sessions_cte(gap)}
    SELECT a.session_id AS sa, b.session_id AS sb,
           CASE WHEN a.s_start_us >= b.s_start_us
                THEN a.s_start_us ELSE b.s_start_us END AS ov_from_us
    FROM sess a JOIN sess b
      ON a.user_id = {ua} AND b.user_id = {ub}
     AND a.s_start <= b.s_end AND b.s_start <= a.s_end
    ORDER BY sa, sb
    """


def _q_state_asof(rng: random.Random) -> str:
    """Warehouse AS-OF reconstruction: every user's in-effect SCD2 row
    at one random instant T (half-open validity), T drawn near the data
    range so boundary-equal probes occur."""
    scd, _ = _scd2_cte(rng)
    t_us = _BASE_US + rng.randrange(0, 3_700_000_000)
    t_us -= t_us % rng.choice([1, 1000, 1_000_000])
    t = _us_to_dt(t_us).strftime("%Y-%m-%d %H:%M:%S.%f")
    return f"""
    WITH {scd}
    SELECT user_id, event_id, value
    FROM hist
    WHERE valid_from <= TIMESTAMP '{t}'
      AND TIMESTAMP '{t}' < valid_to
    ORDER BY user_id, event_id
    """


def _q_overlap_duration(rng: random.Random) -> str:
    """Session x history overlap LENGTH aggregation: greatest/least on
    the BIGINT twins (the engines' timestamp greatest/least stay
    un-exercised on purpose — duration arithmetic belongs on the
    portable integers), summed per session with the mandatory cast."""
    gap = rng.choice(_GAPS_MS)
    scd, _ = _scd2_cte(rng)
    return f"""
    WITH {_sessions_cte(gap)}, {scd}
    SELECT s.user_id, s.session_id,
           CAST(sum(
               CASE WHEN s.s_end_us < h.valid_to_us
                    THEN s.s_end_us ELSE h.valid_to_us END
             - CASE WHEN s.s_start_us > h.valid_from_us
                    THEN s.s_start_us ELSE h.valid_from_us END
           ) AS BIGINT) AS overlap_us
    FROM sess s JOIN hist h
      ON s.user_id = h.user_id
     AND s.s_start <= h.valid_to AND h.valid_from <= s.s_end
    GROUP BY s.user_id, s.session_id
    ORDER BY s.user_id, s.session_id
    """


def _q_daily_sessions(rng: random.Random) -> str:
    """Sessions bucketed to the calendar day they START (DATE_TRUNC is
    in the proven portable intersection): counts + the longest session
    per (user, day)."""
    gap = rng.choice(_GAPS_MS)
    return f"""
    WITH {_sessions_cte(gap)}
    SELECT user_id,
           CAST(DATE_TRUNC('day', s_start) AS DATE) AS day,
           count(*) AS n_sessions,
           CAST(max(s_end_us - s_start_us) AS BIGINT) AS longest_us
    FROM sess
    GROUP BY user_id, CAST(DATE_TRUNC('day', s_start) AS DATE)
    ORDER BY user_id, day
    """


_KINDS = [
    _q_session_rollup,
    _q_session_stats,
    _q_interval_join,
    _q_point_in_interval,
    _q_asof,
    _q_interevent,
    _q_session_pairs,
    _q_state_asof,
    _q_overlap_duration,
    _q_daily_sessions,
]


def _gen_query(rng: random.Random) -> str:
    return rng.choice(_KINDS)(rng)


# ---------------------------------------------------------------------------
# harness (same normalization as scripts/driver_sim.py)
# ---------------------------------------------------------------------------


def _norm_cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def _multiset(cols, rows) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter("|".join(_norm_cell(r[i]) for i in order) for r in rows)


def test_temporal_differential_fuzz(spark, duck):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    rng = random.Random(SEED)
    ev = _gen_events(rng)
    probes = _gen_probes(rng)

    # Materialize the Python-side rows once (see test_differential_fuzz):
    # every scan of a view over the raw local list re-runs Python workers.
    spark.createDataFrame(
        ev, "user_id bigint, event_id bigint, ts timestamp, us bigint, "
        "value bigint"
    ).localCheckpoint().createOrReplaceTempView("ev")
    spark.createDataFrame(
        probes, "probe_id bigint, user_id bigint, ts timestamp, us bigint"
    ).localCheckpoint().createOrReplaceTempView("probes")

    duck.sql("DROP TABLE IF EXISTS ev")
    duck.sql("DROP TABLE IF EXISTS probes")
    duck.sql(
        "CREATE TABLE ev (user_id BIGINT, event_id BIGINT, ts TIMESTAMP, "
        "us BIGINT, value BIGINT)"
    )
    duck.sql(
        "CREATE TABLE probes (probe_id BIGINT, user_id BIGINT, "
        "ts TIMESTAMP, us BIGINT)"
    )
    duck.executemany("INSERT INTO ev VALUES (?, ?, ?, ?, ?)", ev)
    duck.executemany("INSERT INTO probes VALUES (?, ?, ?, ?)", probes)

    # representation consistency: the BIGINT twin IS the timestamp
    assert duck.sql(
        "SELECT count(*) FROM ev WHERE epoch_us(ts) <> us"
    ).fetchone()[0] == 0
    assert spark.sql(
        "SELECT count(*) FROM ev WHERE unix_micros(ts) <> us"
    ).collect()[0][0] == 0

    divergences = []
    for i in range(N_CASES):
        sql = _gen_query(rng)
        sdf = spark.sql(sql)
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
        rel = duck.sql(sql)
        d_cols = list(rel.columns)
        d_rows = rel.fetchall()
        if sorted(map(str.lower, s_cols)) != sorted(map(str.lower, d_cols)):
            divergences.append((i, sql, "columns", s_cols, d_cols))
            continue
        sm, dm = _multiset(s_cols, s_rows), _multiset(d_cols, d_rows)
        if sm != dm:
            extra_s = list((sm - dm).items())[:3]
            extra_d = list((dm - sm).items())[:3]
            divergences.append((i, sql, "values", extra_s, extra_d))

    assert not divergences, (
        f"{len(divergences)}/{N_CASES} divergent temporal queries "
        f"(seed={SEED}); first: {divergences[:3]}"
    )
