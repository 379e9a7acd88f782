"""Interval-overlap join via bucketing — the scalable non-equi join.

A naive theta join on ``l.start <= r.end AND r.start <= l.end`` with only
a key equi-condition degrades when keys are hot.  Bucketing by time
quantizes the intervals into an extra equi column: each side joins the
buckets its interval covers, so the join is fully equi (key, bucket) with
a residual overlap filter — hash-joinable, AQE-skew-splittable, and
prunable at 100 TB.  q92 runs it; q09's point-in-window join is inline.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    bucket_seconds: int = 7 * 86400,
    open_end_ts: str | None = None,
) -> DataFrame:
    """Overlap join of two INTERVAL tables (closed intervals:
    ``l_start <= r_end AND r_start <= l_end``), keys equi-matched —
    the general temporal join that point-in-window joins and
    `asof_join` (latest-at-or-before) are special cases of; joins
    session tables, SCD2 histories, maintenance windows.

    NULL endpoints are NOT silently droppable: ``sequence()`` over a
    NULL bound yields NULL and the explode would lose the row — which
    for SCD2 histories means every CURRENT row (``valid_to`` NULL,
    `scd2_intervals`' open rows) vanishes from the join.  So NULL
    starts always fail fast (``raise_error`` in the executor), and NULL
    ends fail fast unless ``open_end_ts`` (e.g. ``"9999-12-31"``) is
    given.  Open-ended rows then join through dedicated key-equi
    branches (below) — NOT by clamping into the bucket explode, which
    would fan one open interval out to millions of bucket rows — and
    the output still carries the original NULL end.

    Scale shape: closed intervals on both sides explode to the coarse
    time buckets they cover, so the join is fully equi (keys, bucket)
    with a residual overlap filter — hash-joinable and
    AQE-skew-splittable.  Each overlapping pair is emitted EXACTLY ONCE
    without a distinct: the pair only fires in the bucket containing
    ``max(l_start, r_start)`` (the first bucket both cover), the
    standard dedup-free interval-join trick.  Open-ended rows take two
    disjoint key-equi branches (open-left x all-right, closed-left x
    open-right: no pair appears in two branches) with the residual
    overlap predicate — an open interval genuinely overlaps everything
    at-or-after its start for its key, so key-equi IS its minimal join;
    open rows are the SCD2-current minority, and the branch stays
    hash-joinable.  ``bucket_seconds`` trades explode fan-out (long
    intervals cover many buckets) against join selectivity; size it
    near the typical interval length.

    Both inputs' columns survive; non-key names must be disjoint
    (select/alias before joining on collision).
    """
    l_cols, r_cols = list(left.columns), list(right.columns)

    def _guard_start(df: DataFrame, name: str) -> DataFrame:
        return df.withColumn(
            name,
            F.when(
                F.col(name).isNull(),
                F.raise_error(
                    F.lit(
                        f"interval_join: NULL {name} (interval start) — "
                        "rows would be silently dropped; filter or fill "
                        "them first"
                    )
                ).cast("timestamp"),
            ).otherwise(F.col(name)),
        )

    def _guard_end(df: DataFrame, name: str) -> DataFrame:
        if open_end_ts is not None:
            return df
        return df.withColumn(
            name,
            F.when(
                F.col(name).isNull(),
                F.raise_error(
                    F.lit(
                        f"interval_join: NULL {name} (interval end) — "
                        "open intervals need open_end_ts= (an "
                        "end-of-time sentinel, e.g. '9999-12-31')"
                    )
                ).cast("timestamp"),
            ).otherwise(F.col(name)),
        )

    left = _guard_end(_guard_start(left, l_start), l_end)
    right = _guard_end(_guard_start(right, r_start), r_end)

    def _buckets(start: str, end: str):
        return F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(start) / bucket_seconds).cast(
                    "long"
                ),
                F.floor(F.unix_timestamp(end) / bucket_seconds).cast(
                    "long"
                ),
            )
        )

    def _select_pair(joined: DataFrame) -> DataFrame:
        return joined.select(
            *[F.col(f"l.{c}") for c in l_cols],
            *[F.col(f"r.{c}") for c in r_cols if c not in on],
        )

    keys_eq = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in on]

    if open_end_ts is None:
        l_closed, r_closed = left, right
    else:
        l_closed = left.filter(F.col(l_end).isNotNull())
        r_closed = right.filter(F.col(r_end).isNotNull())

    # Branch A (the bulk): closed x closed, bucketed equi join.
    l_b = l_closed.withColumn("__bucket", _buckets(l_start, l_end))
    r_b = r_closed.withColumn("__bucket", _buckets(r_start, r_end))
    overlap = (
        F.col(f"l.{l_start}") <= F.col(f"r.{r_end}")
    ) & (F.col(f"r.{r_start}") <= F.col(f"l.{l_end}"))
    first_bucket = F.floor(
        F.unix_timestamp(
            F.greatest(F.col(f"l.{l_start}"), F.col(f"r.{r_start}"))
        )
        / bucket_seconds
    ).cast("long")
    closed = _select_pair(
        l_b.alias("l")
        .join(
            r_b.alias("r"),
            keys_eq + [F.col("l.__bucket") == F.col("r.__bucket")],
        )
        .filter(overlap & (F.col("l.__bucket") == first_bucket))
    )
    if open_end_ts is None:
        return closed

    l_open = left.filter(F.col(l_end).isNull())
    r_open = right.filter(F.col(r_end).isNull())
    # Branch B: open-left x ALL right — overlap reduces to
    # l_start <= r_end for closed rights, and is UNCONDITIONAL for
    # open x open (two [start, +inf) intervals on the same key always
    # overlap) — an explicit IS NULL disjunction, not a coalesce to the
    # sentinel, so a caller's mid-range sentinel can't drop open x open
    # pairs (round-4 advice).
    b = _select_pair(
        l_open.alias("l")
        .join(right.alias("r"), keys_eq)
        .filter(
            F.col(f"r.{r_end}").isNull()
            | (F.col(f"l.{l_start}") <= F.col(f"r.{r_end}"))
        )
    )
    # Branch C: closed-left x open-right — overlap reduces to
    # r_start <= l_end.  (open x open pairs were already in branch B.)
    c = _select_pair(
        l_closed.alias("l")
        .join(r_open.alias("r"), keys_eq)
        .filter(F.col(f"r.{r_start}") <= F.col(f"l.{l_end}"))
    )
    return closed.unionByName(b).unionByName(c)
