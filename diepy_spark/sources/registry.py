"""Test-data table registry.

The driver generates TPC-H-ish parquet at /root/testdata/sf*/ (TESTDATA.md).
Queries load via this one chokepoint so the physical source (parquet today,
JDBC/catalog tomorrow) is swappable without touching plan code.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables: always broadcast-join candidates at any scale factor.
SMALL_DIMS = frozenset({"region", "nation"})

# Localize (rewrite into a partitioned scratch copy) only when the source
# cannot parallelize a scan (one row group) AND is big enough for that to
# matter — a rule on the input alone, whatever the core count.
_LOCALIZE_MIN_ROWS = 50_000


def _source_row_groups(path: str) -> tuple[int, int]:
    """(num_row_groups, num_rows) from parquet footer metadata — no data read."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    return md.num_row_groups, md.num_rows


def _localized_dir(sf_dir: str, name: str) -> str:
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    return os.path.join(tempfile.gettempdir(), f"diepy-local-{tag}", name)


def _localize(spark: SparkSession, df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """One-time rewrite of a single-row-group table into a scratch parquet
    directory with one file per core.

    Spark parallelizes parquet scans at ROW-GROUP granularity: a 600k-row
    table written as one row group decodes on ONE core no matter how many
    byte-range splits the scheduler makes, serializing every downstream
    plan until its first shuffle. A real warehouse controls layout at write
    time; this is the engine's equivalent for the read-only driver data.
    Values are byte-identical (parquet → parquet), all declared queries are
    row-order-independent (total ORDER BY / deterministic per-row maps),
    and the copy is shared across processes via an atomic rename."""
    target = _localized_dir(sf_dir, name)
    if not os.path.exists(os.path.join(target, "_SUCCESS")):
        tmp = f"{target}.{uuid.uuid4().hex[:8]}.tmp"
        df.repartition(spark.sparkContext.defaultParallelism).write.mode(
            "overwrite"
        ).parquet(tmp)
        try:
            os.rename(tmp, target)
        except OSError:  # lost a concurrent race — the other copy is identical
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(target)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table. Plain parquet scan — Catalyst handles column
    pruning + predicate pushdown from whatever plan is built on top.

    `events.ts` is parquet TIMESTAMP(NANOS), which Spark cannot represent;
    with `spark.sql.legacy.parquet.nanosAsLong` the scan yields epoch-nanos
    longs, converted here via integer division (floor) to microseconds —
    bit-identical to DuckDB's ns→us truncation. The conversion is a narrow
    projection (no shuffle, stays in whole-stage codegen).

    Big tables stored as a single row group are localized once into a
    partitioned scratch copy so scans parallelize (see _localize)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    ts_type = dict(df.dtypes).get("ts")
    if name == "events" and ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif name == "events" and ts_type == "timestamp_ntz":
        # Driver data stores ts as parquet timestamp[us] WITHOUT tz, which
        # Spark's NTZ inference surfaces as TIMESTAMP_NTZ — a type functions
        # like unix_micros/window() reject. Session tz is pinned UTC, so the
        # cast is a pure re-tag (identical wall clock, identical oracle
        # rendering); narrow projection, no shuffle.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    try:
        groups, rows = _source_row_groups(path)
    except Exception:  # directory input or exotic layout: leave as-is
        return df
    if groups == 1 and rows >= _LOCALIZE_MIN_ROWS:
        df = _localize(spark, df, sf_dir, name)
    return df
