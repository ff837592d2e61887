"""Keyed upsert into a parquet table at a path.

The reference's write path is truncate-then-reload (core.py:205-213) —
every refresh rewrites the whole table. :func:`merge_into_path` is the
format-free incremental form: read the parquet at ``path``, apply
operators/merge.py:merge_upsert, and overwrite the path with the result.

At warehouse scale the production answer is a transactional table
format's ``MERGE INTO`` (Delta Lake / Apache Iceberg): ACID commit,
file-level skipping, no full-table rewrite, concurrent-writer safety.
SURVEY §7.2 records that design; this module carries only the parquet
rewrite, which needs no table format installed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

__all__ = ["merge_into_path"]


def merge_into_path(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    version_col: str | None = None,
) -> None:
    """Upsert ``updates`` into the keyed table stored at ``path``: read
    parquet → operators/merge.py:merge_upsert → overwrite. Correct but
    full-rewrite (the reference's own semantics); update wins over base,
    higher ``version_col`` wins when given.
    """
    from diepy_spark.operators.merge import merge_upsert

    base = spark.read.parquet(path)
    merged = merge_upsert(base, updates, key_cols, version_col)
    # Materialize before overwriting the input path (Spark cannot read
    # and overwrite the same files in one job).
    merged = merged.localCheckpoint(eager=True)
    merged.write.mode("overwrite").parquet(path)
