"""Skew mitigation: salted joins.

AQE's skew-join splitting (enabled in session.py) handles most skew at
runtime; explicit salting remains the tool when a *broadcast* is too
big but a handful of keys dominate (the celebrity-author fan-out:
followers_by_followee with a viral followee is exactly this shape,
reference worker.go:128).

Salting trades one shuffle for bounded per-task input: the skewed side
gets a random-ish salt in [0, salt); the other side is replicated salt
times.  Equivalence to the unsalted join is exact (asserted in
tests/test_skew.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _salt_col(df: DataFrame, salt: int, deterministic_by: str | None) -> Column:
    """Deterministic salt (hash of a unique column) keeps replays/retries
    idempotent; fall back to a per-row hash of all columns."""
    src = (
        F.xxhash64(deterministic_by)
        if deterministic_by
        else F.xxhash64(*df.columns)
    )
    return F.pmod(src, F.lit(salt)).cast("int")


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: Sequence[str],
    salt: int = 8,
    how: str = "inner",
    deterministic_by: str | None = None,
) -> DataFrame:
    """Equi-join where ``skewed`` has hot keys: salt the skewed side,
    replicate ``other`` across all salt values, join on (keys + salt).

    Replication cost: |other| x salt rows shuffled — use only when
    ``other`` is the smaller side but above the broadcast threshold.

    Only ``inner`` and ``left`` are equivalence-preserving: with right or
    full outer joins an unmatched ``other`` row would surface once per
    salt replica, so those modes are rejected.
    """
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"salted_join supports how in ('inner','left'); got {how!r} — "
            "outer-preserving the replicated side would emit one row per salt"
        )
    s = skewed.withColumn(
        "__salt", _salt_col(skewed, salt, deterministic_by)
    )
    o = other.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return s.join(o, [*on, "__salt"], how).drop("__salt")
