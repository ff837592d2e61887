"""Keyed parquet upsert (sources/table_format.py): merge_into_path
leaves the rows operators/merge.py:merge_upsert gives."""

from __future__ import annotations

import pytest

from diepy_spark.sources.table_format import merge_into_path


@pytest.fixture()
def base_updates(spark, tmp_path):
    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 2)], "k int, v string, ver int"
    )
    updates = spark.createDataFrame(
        [(2, "B", 2), (3, "stale", 1), (4, "d", 1)], "k int, v string, ver int"
    )
    path = str(tmp_path / "tbl")
    base.write.parquet(path)
    return path, updates


def test_merge_into_path_fallback(spark, base_updates):
    path, updates = base_updates
    merge_into_path(spark, path, updates, ["k"], version_col="ver")
    got = {
        (r.k, r.v, r.ver)
        for r in spark.read.parquet(path).collect()
    }
    # ver=2 update beats base; stale ver=1 update loses to base ver=2;
    # new key inserts; untouched key survives.
    assert got == {(1, "a", 1), (2, "B", 2), (3, "c", 2), (4, "d", 1)}


def test_merge_into_path_no_version(spark, tmp_path):
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    updates = spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
    path = str(tmp_path / "tbl2")
    base.write.parquet(path)
    merge_into_path(spark, path, updates, ["k"])
    got = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}
