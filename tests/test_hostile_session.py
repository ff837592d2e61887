"""The driver hands __spark_entry__ an ARBITRARY SparkSession — none of
our confs, possibly a hostile timezone. __spark_entry__ applies
session.tune() to whatever session each query receives (UTC tz,
nanosAsLong for the events ns-timestamps, Arrow). This pins the verify-skill's manual
hostile-session probe as a permanent test, using newSession() so the
probe session has its own SQLConf (session-level state — exactly what
the driver's session would differ in) while sharing the JVM.
"""

from __future__ import annotations

import os

import pytest


def _hostile(spark):
    ns = spark.newSession()
    ns.conf.set("spark.sql.session.timeZone", "America/New_York")
    ns.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    return ns


def test_entry_survives_hostile_session(spark):
    import __spark_entry__ as e

    ns = _hostile(spark)
    rows = e.entry(ns).collect()
    assert len(rows) > 0
    assert {f.name for f in e.entry(ns).schema} >= {
        "l_returnflag", "l_linestatus", "cnt", "sum_qty",
    }


def test_events_query_survives_hostile_session(spark, sf_oracle):
    """r16 reads events.ts (parquet TIMESTAMP(NANOS)): without the
    nanosAsLong + UTC defense the scan or the hour-truncation differs."""
    import duckdb

    import __spark_entry__ as e

    ns = _hostile(spark)
    got = e.queries()["r16_tumbling_window"](ns, sf_oracle).collect()
    assert len(got) > 0
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS FROM '{sf_oracle}/events.parquet'"
    )
    n_oracle = con.execute(
        f"SELECT count(*) FROM ({e.oracle_sql()['r16_tumbling_window']})"
    ).fetchone()[0]
    assert len(got) == n_oracle
    # spot-pin the first window's rendering (tz defense: UTC hour)
    first = min(got, key=lambda r: (r[0], r[1]))
    orc_first = con.execute(
        f"SELECT * FROM ({e.oracle_sql()['r16_tumbling_window']}) LIMIT 1"
    ).fetchone()
    assert str(first[0]) == str(orc_first[0])


@pytest.mark.parametrize("name", ["x12_seasonality", "x7_stream_tumbling"])
def test_extended_and_pipeline_queries_survive_hostile_session(
    spark, sf_oracle, name
):
    """queries() applies the runtime confs before every plan, so an
    extended query (day-of-week of events.ts) and a pipeline query (hourly
    stream windows) hash-match their oracles on the hostile session."""
    import duckdb

    import __spark_entry__ as e
    from diepy_spark.sources.registry import TABLES
    from tools.check_oracle import frame_fingerprint

    ns = _hostile(spark)
    got = e.queries()[name](ns, sf_oracle).toPandas()
    assert ns.conf.get("spark.sql.session.timeZone") == "UTC"
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_oracle, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    want = con.execute(e.oracle_sql()[name]).fetchdf()
    assert frame_fingerprint(got) == frame_fingerprint(want)
