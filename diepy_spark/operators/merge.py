"""Merge / upsert (CDC-style) — apply a batch of keyed updates to a base
table, latest version wins. The ingest-with-corrections operation every
warehouse pipeline runs; the reference's closest surface is
truncate-then-reload (core.py:205-213), which rewrites everything. This is
the incremental form.

Scale: one union (narrow) + one shuffle on the key for the per-key
latest-row window. With the base stored bucketed by key (sources/
bucketing.py) the base side's shuffle disappears; at 100 TB the practical
deployment partitions by an ingest-date column so only touched partitions
rewrite (classic merge-on-read compaction shape).

At warehouse scale the right tool is a MERGE-capable table format
(Delta Lake / Apache Iceberg `MERGE INTO`): transactional, file-level
skipping, no full-table rewrite. This operator is the FORMAT-FREE
fallback — plain parquet in, plain DataFrame out — for pipelines that
haven't adopted a table format; it recomputes the merged result rather
than committing a delta. sources/table_format.py:merge_into_path applies
it to a parquet table at a path and overwrites that path
(tests/test_table_format.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["merge_upsert", "snapshot_diff"]

_SRC = "__diepy_src"
_RN = "__diepy_rn"


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    version_col: str | None = None,
) -> DataFrame:
    """Return `base` with `updates` applied: rows whose key appears in
    `updates` are replaced, new keys are inserted.

    Precedence: higher `version_col` wins; on equal/absent version, the
    update wins over the base row (upsert semantics). Within `updates`,
    duplicate keys resolve by version then update-order-independent
    tie-break on the version column only — feed pre-deduplicated updates
    when versions can tie. Columns must match by name."""
    cols = base.columns
    if set(cols) != set(updates.columns):
        raise ValueError(
            f"merge_upsert: column sets differ: {sorted(cols)} vs "
            f"{sorted(updates.columns)}"
        )
    u = updates.select(*cols).withColumn(_SRC, F.lit(1))
    b = base.withColumn(_SRC, F.lit(0))
    order = [F.col(_SRC).desc()]
    if version_col:
        order.insert(0, F.col(version_col).desc())
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        b.unionByName(u)
        .withColumn(_RN, F.row_number().over(w))
        .where(F.col(_RN) == 1)
        .drop(_RN, _SRC)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """The inverse of :func:`merge_upsert`: given two snapshots of a keyed
    table, derive the CHANGESET that turns `old` into `new` — one row per
    changed key with ``change_type`` in ``('insert', 'delete', 'update')``.
    Unchanged keys are dropped. Output columns: the key columns, then
    ``change_type``, then ``old_<c>`` / ``new_<c>`` for every compare
    column (NULL on the side the key is absent from).

    ``compare_cols`` defaults to every shared non-key column. Two rows are
    "unchanged" when all compare columns are null-safe-equal (``<=>``).

    Scale: ONE full outer join on the key — both sides shuffle once on the
    same key, so with key-bucketed storage neither side shuffles at all.
    The change classification is a pure projection (codegen'd). This is
    the snapshot-reconciliation shape (audit two loads, build an
    incremental feed from full dumps); at 100 TB the practical deployment
    partitions both snapshots by the same ingest-date/bucket layout so the
    join is per-partition zipper, and the changeset out the other end is
    exactly what `merge_upsert` (or a warehouse MERGE) replays.
    """
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = [c for c in shared if c not in set(key_cols)]
    o = old.select(
        *key_cols, *compare_cols, F.lit(1).alias("__in_old")
    ).withColumnsRenamed({c: f"old_{c}" for c in compare_cols})
    n = new.select(
        *key_cols, *compare_cols, F.lit(1).alias("__in_new")
    ).withColumnsRenamed({c: f"new_{c}" for c in compare_cols})
    j = o.join(n, on=key_cols, how="full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("insert"))
        .when(F.col("__in_new").isNull(), F.lit("delete"))
        .when(~same, F.lit("update"))
    )
    out_cols = (
        [*key_cols, F.col("__ct").alias("change_type")]
        + [f"old_{c}" for c in compare_cols]
        + [f"new_{c}" for c in compare_cols]
    )
    return (
        j.withColumn("__ct", change)
        .where(F.col("__ct").isNotNull())
        .select(*out_cols)
    )


def apply_changelog(
    base: DataFrame,
    log: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Apply an ordered CDC CHANGELOG (the Debezium-consumer shape) to a
    base snapshot: per key the highest-`seq_col` log entry wins; a
    winning ``'D'`` deletes the key, any other op upserts the entry's
    data columns; keys untouched by the log carry through. Handles
    out-of-order arrival by construction — precedence is the sequence
    number, not arrival order — and conflicting updates resolve to the
    latest. `seq_col` must be unique per key (a changelog's LSN is).

    Scale: the latest-wins window runs over the LOG (log-sized state,
    not base-sized); the base is touched by exactly one anti-join on
    the log's keys — at 100 TB the log is the small side and broadcasts,
    so the snapshot is never shuffled."""
    data_cols = list(base.columns)
    w = Window.partitionBy(*key_cols).orderBy(F.col(seq_col).desc())
    latest = (
        log.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .drop("__rk")
    )
    survivors = base.join(latest.select(*key_cols), key_cols, "left_anti")
    upserts = latest.where(F.col(op_col) != "D").select(*data_cols)
    return survivors.unionByName(upserts)
