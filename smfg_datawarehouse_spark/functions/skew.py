"""Skew mitigation — salted joins and hot-key aggregation.

AQE's skew-join splitting (on in ``session.py``) handles most skew
automatically by splitting oversized shuffle partitions. These helpers
cover the cases AQE can't: a *single* join key so hot that splitting the
partition still leaves one task with all matches, and aggregations whose
per-key state is large (collect_list-style) where map-side combine doesn't
bound the reduce task.

The salt is derived with ``xxhash64`` from a caller-chosen uniform column
— never ``rand()``, which would break retry determinism (a re-executed
task must salt rows identically or results change under failure replay).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    keys: list[str],
    salt_from: Column,
) -> DataFrame:
    """Skew-resistant inner equi-join: the big side salts each row into
    one of 8 sub-keys (deterministic hash of ``salt_from``); the small
    side replicates 8× so every sub-key finds its match. One hot key
    becomes 8 parallel tasks at the cost of replicating the small side —
    the classic trade when broadcast doesn't fit."""
    b = big.withColumn(
        "_salt", F.pmod(F.xxhash64(salt_from), F.lit(8)).cast("int")
    )
    s = small.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(7))))
    return b.join(s, [*keys, "_salt"], "inner").drop("_salt")


def salted_two_stage_agg(
    df: DataFrame,
    keys: list[str],
    salt_from: Column,
    partial_aggs: list[Column],
    final_aggs: list[Column],
    buckets: int = 16,
) -> DataFrame:
    """Two-stage aggregation for algebraic aggregates over hot keys:
    stage 1 aggregates on (keys, salt) — bounding any single task's state
    to 1/buckets of the hot key — stage 2 merges partials on the keys.

    ``partial_aggs`` produce intermediate columns; ``final_aggs`` merge
    them (e.g. partial ``sum(x) as s, count(1) as c`` then final
    ``sum(s), sum(c)`` for a global sum/count)."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(salt_from), F.lit(buckets)).cast("int")
    )
    partial = salted.groupBy(*keys, "_salt").agg(*partial_aggs)
    return partial.groupBy(*keys).agg(*final_aggs)
