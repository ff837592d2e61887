"""SparkSession bootstrap with scale-appropriate defaults.

Defaults chosen for correctness + 100 TB-mindset:
- AQE on (runtime coalesce, skew-join splitting, dynamic join strategy)
- UTC session timezone (deterministic timestamp semantics vs the DuckDB oracle)
- Arrow on for any pandas interchange (vectorized UDF path)
- shuffle.partitions sized for the local harness; on a real cluster AQE's
  coalescePartitions makes the static number mostly irrelevant.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import os
from typing import Any, Callable, TypeVar

from pyspark.sql import SparkSession

_F = TypeVar("_F", bound=Callable[..., Any])

# Runtime (non-static) confs applied to ANY session we receive, including the
# driver's. These are all settable after the JVM is up.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # The driver's events.parquet stores TIMESTAMP(NANOS); Spark has no ns
    # timestamp. Read as long + convert (see sources/registry.py) — this
    # matches DuckDB's truncate-to-micros behavior exactly.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent, cheap)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be static in some envs
            pass
    return spark


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Set runtime conf ``key`` to ``value`` while the block runs; its
    previous value is back afterwards, also when the block raises."""
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


# session_cached entries, all of one application (the id in _memo_app)
_memo: dict = {}
_memo_app: str | None = None


def session_cached(fn: _F) -> _F:
    """Memoize ``fn(spark, *args)`` for the lifetime of ``spark``'s session.

    For the trained models and persisted-artifact frames the plans reuse
    (centroids, codebooks, pair tables, the cleaned corpus, graph edges):
    each is a deterministic function of its arguments, so a session builds
    it once and every consumer reads the same value, the way a production
    pipeline writes such an artifact once and joins it everywhere.

    Entries are keyed on ``fn``, the session's ``applicationId`` and the
    remaining (positional, hashable) arguments. Seeing a new
    ``applicationId`` drops every entry of the old one: a frame's
    localCheckpoint blocks and catalog tables belong to the SparkContext
    that built them, and driver-side models are rebuilt with the frames
    so that a new session pays every build once, as a fresh process
    would. A build that raises stores nothing."""

    @functools.wraps(fn)
    def wrapper(spark, *args):
        global _memo_app
        app = spark.sparkContext.applicationId
        if app != _memo_app:
            _memo.clear()
            _memo_app = app
        key = (fn, args)
        if key not in _memo:
            _memo[key] = fn(spark, *args)
        return _memo[key]

    return wrapper  # type: ignore[return-value]


def find_jdbc_jars() -> list[str]:
    """Best-effort discovery of JDBC driver jars in standard local
    artifact caches (coursier, maven, system java dirs). The Spark distro
    ships no database drivers, so the live-JDBC path (core/database.py
    JdbcBackend, tests/test_jdbc_live.py) only activates when a cached
    driver jar (e.g. org.duckdb:duckdb_jdbc from Maven) is discoverable.
    Override or disable with SPARK_GRAFT_JDBC_JARS (comma-separated
    paths; empty string = none). Results are static per process — call
    before the first get_spark (jars are a JVM-start config)."""
    env = os.environ.get("SPARK_GRAFT_JDBC_JARS")
    if env is not None:
        return [p for p in env.split(",") if p]
    patterns = ("duckdb_jdbc*.jar", "sqlite-jdbc*.jar", "h2-[0-9]*.jar", "postgresql-[0-9]*.jar")
    out: set[str] = set()
    for root in map(os.path.expanduser, ("~/.cache/coursier", "~/.m2", "/usr/share/java")):
        for pat in patterns:
            out.update(glob.glob(os.path.join(root, "**", pat), recursive=True))
    return sorted(out)


def get_spark(app_name: str = "diepy-spark", cpus: str | None = None) -> SparkSession:
    """Build (or fetch) a local session with engine defaults."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
    )
    jars = find_jdbc_jars()
    if jars:
        builder = builder.config("spark.jars", ",".join(jars))
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
