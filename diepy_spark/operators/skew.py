"""Skew-handling utilities (SURVEY §2.6 scale notes).

First line of defense is AQE (`spark.sql.adaptive.skewJoin.enabled`, on by
default in diepy_spark.session): it splits oversized sort-merge-join
partitions at runtime. Manual salting remains the escape hatch AQE cannot
cover — e.g. a shuffled hash join against a dimension too big to broadcast
where a handful of keys dominate, or a hot-key aggregation whose buffer is
non-algebraic (collect_list/distinct) and therefore cannot map-side
combine.

Determinism: the salt is a hash of the probe row's own columns (never
rand()), so replays and retries produce identical partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT = "__diepy_salt"


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    salt_from: list[str],
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the LEFT (big, skewed) side salted into `buckets`
    sub-keys and the RIGHT side replicated once per bucket.

    A hot join key that would land on one reducer is spread across
    `buckets` reducers; the right side grows ×buckets, so use this when
    right is small-ish but above the broadcast threshold. `salt_from`
    names left-side columns whose hash spreads the hot key's rows
    (typically the row's primary key).

    Only left-preserving joins are supported: with how='right'/'full', an
    UNMATCHED right row would surface once per replica — `buckets` copies
    of corruption — so those modes are rejected."""
    if how not in ("inner", "left", "left_outer", "leftouter", "left_semi",
                   "leftsemi", "left_anti", "leftanti"):
        raise ValueError(
            f"salted_join supports left-preserving joins only, got how={how!r}: "
            "the replicated right side would emit unmatched rows once per bucket"
        )
    salted_left = left.withColumn(
        SALT, F.pmod(F.xxhash64(*[F.col(c) for c in salt_from]), F.lit(buckets)).cast("int")
    )
    replicated_right = right.withColumn(
        SALT, F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)).cast("array<int>"))
    )
    return salted_left.join(replicated_right, on + [SALT], how).drop(SALT)
