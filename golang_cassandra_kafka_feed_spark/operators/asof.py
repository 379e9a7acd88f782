"""As-of join (latest right row at-or-before each left row's timestamp).

Spark has no native as-of join; the scalable formulation here is the
union-and-carry-forward trick: tag both sides, union on the key, sort by
(ts, side) within key, and carry the last seen right-side values forward
with ``last(..., ignorenulls=True)``.  Cost: ONE shuffle of |L|+|R| rows —
no join blowup (the naive join+filter+row_number materializes |L|x|R_key|
intermediates; see plans/queries.q10 for that form, kept because it is the
SQL-oracle-checkable shape).

At 100 TB: both inputs shuffle-partition on the key; AQE handles skewed
keys.  For interval overlap (a time-bucketed equi join) see
range_join.interval_join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str] | None = None,
    suffix: str = "_asof",
    right_tie_cols: Sequence[str] = (),
) -> DataFrame:
    """For each left row, attach the most recent right row with
    ``right_ts <= left_ts`` (per ``on`` key); ties at equal ts prefer the
    right row (inclusive <=).  Right value columns come back suffixed.

    ``right_tie_cols`` makes ties among right rows at the SAME timestamp
    deterministic: the carried row is the one with the greatest
    (right_ts, *right_tie_cols) tuple.  Without it, equal-timestamp right
    rows are carried in arbitrary shuffle order (fine for true event
    streams, wrong for date-granular history like orders-per-day).
    """
    value_cols = list(
        value_cols
        if value_cols is not None
        else [c for c in right.columns if c not in (*on, right_ts)]
    )

    # Carry ONE struct of all right value columns so the carried row stays
    # atomic: last(struct, ignorenulls=True) skips left-side rows (whole
    # struct NULL) but never skips a right row whose individual value
    # columns contain NULLs — those NULLs are preserved, and multi-column
    # results can't mix fields from different right rows.
    struct_type = T.StructType([right.schema[c] for c in value_cols])
    lhs = (
        left.withColumn("__side", F.lit(1))
        .withColumn("__ts", F.col(left_ts))
        .withColumn("__r", F.lit(None).cast(struct_type))
    )
    tie_names = [f"__tie{i}" for i in range(len(right_tie_cols))]
    lhs = lhs.select(
        "*", *[F.lit(None).cast(right.schema[c].dataType).alias(n)
               for c, n in zip(right_tie_cols, tie_names)]
    )
    rhs = right.select(
        *on,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.struct(*[F.col(c).alias(c) for c in value_cols]).alias("__r"),
        *[F.col(c).alias(n) for c, n in zip(right_tie_cols, tie_names)],
    )
    for c in left.columns:
        if c not in rhs.columns:
            rhs = rhs.withColumn(c, F.lit(None).cast(left.schema[c].dataType))

    unioned = lhs.unionByName(rhs.select(*lhs.columns))
    # right (side=0) sorts before left (side=1) at equal ts -> inclusive;
    # ascending tie columns make the LAST carried right row the greatest
    # (ts, *ties) — left rows order among themselves by NULL ties, which
    # is harmless (their __r is NULL and ignored by last()).
    w = (
        Window.partitionBy(*on)
        .orderBy("__ts", "__side", *tie_names)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.select(
        "*", F.last("__r", ignorenulls=True).over(w).alias("__carried")
    )
    return carried.filter(F.col("__side") == 1).select(
        *[c for c in left.columns],
        *[F.col(f"__carried.{c}").alias(f"{c}{suffix}") for c in value_cols],
    )


def asof_nearest(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str] | None = None,
    suffix: str = "_nearest",
    right_tie_cols: Sequence[str] = (),
) -> DataFrame:
    """Nearest-in-time join: for each left row, the right row (per key)
    minimizing ``|right_ts - left_ts|``; equidistant candidates prefer
    the BACKWARD (at-or-before) row.  Timestamp columns only (distance
    compares via ``unix_micros``).

    Same union-and-carry shape as ``asof_join`` — ONE shuffle of
    |L| + |R| rows, no join amplification — but with two window passes
    over the same key partitioning: a forward scan carrying the last
    at-or-before right row and a reverse scan carrying the first
    at-or-after one; a final projection picks the closer.  The second
    window re-sorts within partitions but adds no exchange.

    Tie determinism mirrors ``asof_join``: among equal-timestamp right
    rows the backward carry keeps the greatest ``(ts, *right_tie_cols)``
    and the forward carry the smallest — both pinned, so results are
    shuffle-order-independent.
    """
    value_cols = list(
        value_cols
        if value_cols is not None
        else [c for c in right.columns if c not in (*on, right_ts)]
    )
    struct_type = T.StructType(
        [T.StructField("__rts", right.schema[right_ts].dataType)]
        + [right.schema[c] for c in value_cols]
    )
    lhs = (
        left.withColumn("__side", F.lit(1))
        .withColumn("__ts", F.col(left_ts))
        .withColumn("__r", F.lit(None).cast(struct_type))
    )
    tie_names = [f"__tie{i}" for i in range(len(right_tie_cols))]
    lhs = lhs.select(
        "*", *[F.lit(None).cast(right.schema[c].dataType).alias(n)
               for c, n in zip(right_tie_cols, tie_names)]
    )
    rhs = right.select(
        *on,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.struct(
            F.col(right_ts).alias("__rts"),
            *[F.col(c).alias(c) for c in value_cols],
        ).alias("__r"),
        *[F.col(c).alias(n) for c, n in zip(right_tie_cols, tie_names)],
    )
    for c in left.columns:
        if c not in rhs.columns:
            rhs = rhs.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    unioned = lhs.unionByName(rhs.select(*lhs.columns))

    wb = (
        Window.partitionBy(*on)
        .orderBy("__ts", "__side", *tie_names)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy(*on)
        .orderBy(
            F.desc("__ts"),
            F.asc("__side"),
            *[F.desc(n) for n in tie_names],
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.select(
        "*",
        F.last("__r", ignorenulls=True).over(wb).alias("__b"),
        F.last("__r", ignorenulls=True).over(wf).alias("__f"),
    )
    b_ts = F.col("__b.__rts")
    f_ts = F.col("__f.__rts")
    # backward wins when (L - B) <= (F - L)  <=>  B + F >= 2L
    back_wins = (
        F.unix_micros(b_ts) + F.unix_micros(f_ts)
        >= F.lit(2) * F.unix_micros(F.col("__ts"))
    )
    chosen = (
        F.when(F.col("__b").isNull(), F.col("__f"))
        .when(F.col("__f").isNull(), F.col("__b"))
        .when(back_wins, F.col("__b"))
        .otherwise(F.col("__f"))
    )
    return (
        carried.filter(F.col("__side") == 1)
        .withColumn("__n", chosen)
        .select(
            *[c for c in left.columns],
            *[
                F.col(f"__n.{c}").alias(f"{c}{suffix}")
                for c in value_cols
            ],
        )
    )
