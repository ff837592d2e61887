"""LIVE JDBC roundtrip — the storage surface the contract tests
(test_jdbc_contract.py) pin by recording becomes a real database here:
K1 (CREATE TABLE from inferred DDL), K2 (batched INSERT), K3
(truncate-then-load), S8 (full-table scan), T9 (existence probe) against
a file-backed DuckDB over its JDBC driver (reference storage layer:
core.py:112-151,205-213).

Activates only when session.find_jdbc_jars() discovers a DuckDB driver
jar in a local artifact cache (the Spark distro ships none); skipped
with a reason otherwise. Writes open one connection per partition of
the frame; a DuckDB file takes those concurrent inserts (pinned by
test_live_append_from_many_partitions).
"""

import os

import pytest

from diepy_spark.core.database import JdbcBackend
from diepy_spark.functions.inference import ColumnSpec
from diepy_spark.session import find_jdbc_jars

_DUCK_JARS = [j for j in find_jdbc_jars() if "duckdb" in os.path.basename(j).lower()]

pytestmark = pytest.mark.skipif(
    not _DUCK_JARS,
    reason="no DuckDB JDBC driver jar discoverable (session.find_jdbc_jars)",
)


def _specs():
    name = ColumnSpec("name")
    for v in ("a", "bb"):
        name.observe(v)
    n = ColumnSpec("n")
    for v in ("1", "40000"):
        n.observe(v)
    d = ColumnSpec("d")
    d.observe("2024-01-02")
    return [name, n, d]


@pytest.fixture()
def backend(spark, tmp_path):
    return JdbcBackend(spark, f"jdbc:duckdb:{tmp_path}/live.db")


def test_live_create_insert_read_truncate(spark, backend):
    import datetime

    assert not backend.table_exists("people")  # T9 before create
    backend.create_table("people", _specs())   # K1 (inferred DDL types)
    assert backend.table_exists("people")      # T9 after create

    rows = [
        ("a", 1, datetime.date(2024, 1, 2)),
        ("bb", 40000, datetime.date(2024, 3, 4)),
    ]
    df = spark.createDataFrame(rows, "name string, n int, d date")
    backend.append(df, "people")  # K2 (batchsize=1000)
    got = sorted(
        (r["name"], r["n"], r["d"]) for r in backend.read_table("people").collect()
    )  # S8
    assert got == sorted(rows)

    # append again -> rows double
    backend.append(df, "people")
    assert backend.read_table("people").count() == 4

    # K3: truncate-then-load replaces contents, keeping the table
    repl = spark.createDataFrame(
        [("zz", 7, datetime.date(2025, 5, 6))], "name string, n int, d date"
    )
    backend.append(repl, "people", truncate=True)
    got = [(r["name"], r["n"], r["d"]) for r in backend.read_table("people").collect()]
    assert got == [("zz", 7, datetime.date(2025, 5, 6))]


def test_live_append_from_many_partitions(spark, backend):
    """Each of the frame's 4 partitions writes over its own connection
    into the one DuckDB file; every row lands."""
    backend._execute_update("CREATE TABLE many_t (k BIGINT)")
    df = spark.range(0, 4000, numPartitions=4).selectExpr("id AS k")
    backend.append(df, "many_t")
    got = backend.read_table("many_t").agg({"k": "sum"}).collect()[0][0]
    assert backend.read_table("many_t").count() == 4000
    assert got == sum(range(4000))


def test_live_create_errors_on_existing(spark, backend):
    backend.create_table("dup_t", _specs())
    with pytest.raises(FileExistsError):
        backend.create_table("dup_t", _specs())


def test_live_partitioned_read_matches_single(spark, backend):
    """S8 at scale (VERDICT r5 #2): read_table(num_partitions=4) must
    stripe the scan across >1 JDBC partition — the key auto-picked from
    the reflected schema — and return exactly the single-connection
    rows."""
    df = spark.range(0, 500).selectExpr(
        "CAST(id AS INT) AS k", "CAST(id % 7 AS INT) AS v"
    )
    backend._execute_update("CREATE TABLE wide_t (k INTEGER, v INTEGER)")
    backend.append(df, "wide_t")

    serial = backend.read_table("wide_t")
    striped = backend.read_table("wide_t", num_partitions=4)
    assert striped.rdd.getNumPartitions() == 4  # the plan really stripes
    assert serial.rdd.getNumPartitions() == 1
    assert sorted((r["k"], r["v"]) for r in striped.collect()) == sorted(
        (r["k"], r["v"]) for r in serial.collect()
    )

    # Degenerate bounds (constant key) fall back to the serial shape.
    one = spark.createDataFrame([(5, 1), (5, 2)], "k int, v int")
    backend._execute_update("CREATE TABLE const_t (k INTEGER, v INTEGER)")
    backend.append(one, "const_t")
    fb = backend.read_table("const_t", num_partitions=4)
    assert fb.rdd.getNumPartitions() == 1
    assert fb.count() == 2

    # Explicit partition_column is honoured too.
    exp = backend.read_table("wide_t", partition_column="v", num_partitions=3)
    assert exp.rdd.getNumPartitions() == 3
    assert exp.count() == 500
