"""Pipeline query set: Structured Streaming runs and the import/export
roundtrip, each as a (spark, sf_dir) -> DataFrame entry under the driver's
DuckDB-oracle correctness gate.

These entries EXECUTE the engine's non-relational machinery — the streaming
engine (watermark + windowed state, session windows, a custom
applyInPandasWithState operator) and the file-ingest stack (CSV writer →
all-string reader → inference lattice → typed cast projection) — and
return their results as plain DataFrames so the driver can hash-compare
them against ANSI-SQL oracles. The reference has no streaming surface
(SURVEY §2.5); the import/export path is its entire product (SURVEY §2.1,
§2.2, §2.3).

Append-mode emission contract used by every streaming oracle: a window is
emitted once the event-time watermark (max ts − delay) passes its END;
windows still open at end-of-input are withheld. The oracles replicate
that rule with a scalar subquery on max(ts).
"""

from __future__ import annotations

import atexit
import functools
import glob
import itertools
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from diepy_spark.functions.inference import infer_from_dataframe
from diepy_spark.session import scoped_conf, session_cached
from diepy_spark.sources.files import apply_schema, read_untyped_csv
from diepy_spark.sources.registry import load_table
from diepy_spark.sources.writers import write_csv
from diepy_spark.streaming import events as ST

WATERMARK = "10 minutes"
SESSION_GAP = "30 minutes"
STREAM_FILES = 4  # events split into N time-range files -> N input batches


def _mfpt() -> int:
    """Files per trigger: batches per replay = STREAM_FILES / mfpt.

    Default 1 → full 4-batch replay (tests, check_oracle — maximum
    watermark/state exercise). bench.py sets SPARK_GRAFT_STREAM_MFPT=2 →
    2-batch replay: still genuinely multi-batch (watermark advancement and
    cross-batch state exercised) but half the per-micro-batch machinery
    cost. The ts-range files are disjoint, so the final append-mode
    emission set is IDENTICAL for any grouping — this knob trades replay
    granularity for time, never correctness (pinned by
    tests/test_streaming.py which runs both settings)."""
    return int(os.environ.get("SPARK_GRAFT_STREAM_MFPT", "1"))

_counter = itertools.count()
# (artifact, sf_dir) -> scratch path: files outlive sessions, so process-scoped
_scratch_cache: dict[tuple[str, str], str] = {}


@atexit.register
def _remove_scratch() -> None:
    """Delete the temp directory of every scratch artifact at process
    exit: each builder writes below its own ``diepy-*`` mkdtemp."""
    tmp = tempfile.gettempdir()
    for path in _scratch_cache.values():
        top = os.path.relpath(path, tmp).split(os.sep)[0]
        if top.startswith("diepy-"):
            shutil.rmtree(os.path.join(tmp, top), ignore_errors=True)


def _scratch_file(name: str):
    """Memoize ``build(spark, sf_dir) -> path`` of a scratch artifact in
    _scratch_cache under ``(name, sf_dir)``. Process-scoped, unlike
    session_cached: the files outlive sessions, so a new session reuses
    them. A build that raises stores nothing."""

    def deco(build):
        @functools.wraps(build)
        def wrapper(spark, sf_dir):
            key = (name, sf_dir)
            if key not in _scratch_cache:
                _scratch_cache[key] = build(spark, sf_dir)
            return _scratch_cache[key]

        return wrapper

    return deco


@_scratch_file("events")
def _events_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the events table (ns→us-converted) as STREAM_FILES
    time-range-partitioned parquet files with strictly increasing mtimes,
    so `maxFilesPerTrigger=1` replays them as a genuine multi-batch stream
    in event-time order (the file source picks oldest-mtime first). Ranges
    are disjoint, so no event is late within its own batch and the final
    append-mode emission set equals the single-batch one — while watermark
    advancement, cross-batch window state, and state-store recovery are all
    actually exercised. Cached per (process, sf_dir) — data is immutable."""
    d = os.path.join(tempfile.mkdtemp(prefix="diepy-stream-"), "events")
    (
        load_table(spark, sf_dir, "events")
        .repartitionByRange(STREAM_FILES, F.col("ts"))
        .sortWithinPartitions("ts")
        .write.parquet(d)
    )
    # part-0000k holds the k-th ts range; stamp ascending mtimes so the
    # stream source's oldest-first ordering replays event time in order.
    base = time.time() - 3600
    for i, p in enumerate(sorted(glob.glob(os.path.join(d, "part-*")))):
        os.utime(p, (base + i, base + i))
    return d


def _run_stream(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """availableNow → memory sink, fresh query name per call; the sink is
    drained and dropped before returning.

    Streaming aggregations allocate one state store (+ checkpoint files)
    per shuffle partition, fixed at first run — AQE never coalesces them.
    For this bounded replay 32 stores are pure overhead (measured 2x the
    runtime), so the run is scoped to 8; a production stream sizes this to
    sustained throughput instead.

    Cleanup contract (VERDICT r10 #1): a memory sink pins its FULL result
    set in the driver JVM for the life of the session, and the manager
    keeps every terminated query's handle — across a 355-query bench the
    accumulated sinks were measured as ~1.45x drag on late families.  So:
    materialize the result off the sink (localCheckpoint → executor
    blocks, freed by the ContextCleaner when the caller's DataFrame goes
    out of scope), drop the sink view, clear the terminated-query list,
    and remove the replay's one-shot checkpoint dir."""
    spark = stream_df.sparkSession
    name = f"x7_mem_{next(_counter)}"
    ck = tempfile.mkdtemp(prefix="diepy-ck-")
    with scoped_conf(spark, "spark.sql.shuffle.partitions", "8"):
        ST.run_to_memory(stream_df, name, ck, output_mode=output_mode)
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    spark.streams.resetTerminated()
    shutil.rmtree(ck, ignore_errors=True)
    return out


def _events_src(spark, sf_dir):
    """Multi-batch streaming source: _mfpt() files (= ts ranges) per trigger."""
    return ST.read_events_stream(
        spark, _events_stream_dir(spark, sf_dir), max_files_per_trigger=_mfpt()
    )


def x7_stream_tumbling(spark, sf_dir):
    """R16's tumbling aggregation, executed by the STREAMING engine
    (watermark + windowed state) over a multi-batch replay, result
    hash-checked against batch SQL."""
    out = _run_stream(ST.tumbling_counts(_events_src(spark, sf_dir), "1 hour", WATERMARK), "append")
    return out.select(
        "w", "event_type", "c", F.round("s", 2).alias("s")
    ).orderBy("w", "event_type")


STREAM_TOPK = 2


def x7_stream_topk(spark, sf_dir):
    """Streaming aggregation COMPOSED with downstream batch ranking — the
    standard split for per-window top-k (rank is not expressible inside
    an append-mode stream: a window's champion isn't known until the
    watermark closes it, so the streaming stage emits finalized window
    aggregates and the rank runs as a batch window over the sink — at
    production scale, the materialized-view reader). Top STREAM_TOPK
    event types per hour by count (ties: event_type order)."""
    out = _run_stream(
        ST.tumbling_counts(_events_src(spark, sf_dir), "1 hour", WATERMARK), "append"
    )
    rk = Window.partitionBy("w").orderBy(F.col("c").desc(), "event_type")
    return (
        out.withColumn("rk", F.row_number().over(rk))
        .where(F.col("rk") <= STREAM_TOPK)
        .select("w", "event_type", "c", "rk")
        .orderBy("w", "rk")
    )


def x7_stream_sliding(spark, sf_dir):
    """Hopping windows (1 hour, every 15 minutes) via the streaming engine."""
    out = _run_stream(
        ST.sliding_counts(_events_src(spark, sf_dir), "1 hour", "15 minutes", WATERMARK),
        "append",
    )
    return out.orderBy("w_start", "event_type")


def x7_stream_sessions(spark, sf_dir):
    """Per-user session windows (30-minute inactivity gap) via the
    streaming engine; the oracle rebuilds sessions with a lag/cumsum island
    computation.

    Boundary convention: Spark session windows are half-open and merge
    only on strict overlap, so an event arriving EXACTLY `gap` after the
    previous one starts a NEW session. The oracle therefore splits on
    `ts - pts >= gap` (not `>`) to match Spark's merge rule at the exact
    boundary. The batch r34 operator uses the strict-`>` convention with
    an internally consistent oracle — the two conventions are documented,
    deliberate, and each self-consistent."""
    out = _run_stream(ST.session_counts(_events_src(spark, sf_dir), SESSION_GAP, WATERMARK), "append")
    return out.orderBy("user_id", "s_start")


def x7_stream_stateful(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState): running per-user
    count + value sum. Update mode emits one row per (user, batch touching
    that user); the multi-batch replay therefore keeps only the FINAL state
    per user — the row with the max events_seen (monotone within a user) —
    which equals the batch aggregate."""
    out = _run_stream(ST.sessionize_stateful(_events_src(spark, sf_dir)), "update")
    w = Window.partitionBy("user_id").orderBy(F.col("events_seen").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id", "events_seen", F.round("total_value", 2).alias("total_value")
        )
        .orderBy("user_id")
    )


def x7_stream_dedup(spark, sf_dir):
    """Streaming exact dedup over a deliberately-duplicated source: the
    events directory is read as TWO streaming copies unioned, so every
    event arrives twice; dropDuplicatesWithinWatermark must emit each
    exactly once. Output equals the original table — a total, value-level
    oracle. Multi-batch: each trigger takes one file from EACH unioned
    copy (the same ts range), so duplicates meet inside the watermark
    horizon and are suppressed across the whole replay."""
    d = _events_stream_dir(spark, sf_dir)
    src = ST.read_events_stream(spark, d, max_files_per_trigger=_mfpt()).unionByName(
        ST.read_events_stream(spark, d, max_files_per_trigger=_mfpt())
    )
    out = _run_stream(ST.dedup_stream(src), "append")
    return out.select("event_id", "user_id", "event_type", "value").orderBy("event_id")


def x7_stream_enrich(spark, sf_dir):
    """Stream-STATIC enrichment: the events stream broadcast-joins the
    customer dimension per micro-batch, then tumbling counts/sums per
    nation key (streaming/events.py:enrich_counts). The join is stateless;
    window state is watermark-bounded as in x7_stream_tumbling."""
    # r13 (guide §2.1, the batch-6 stream-static pattern): a stream-static
    # join re-plans and re-evaluates the static side at EVERY trigger —
    # each micro-batch re-scanned the customer parquet and re-built the
    # broadcast. Eagerly checkpoint the two-column dim once per run.
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .localCheckpoint(eager=True)
    )
    out = _run_stream(
        ST.enrich_counts(
            _events_src(spark, sf_dir),
            cust,
            on="user_id",
            dim_key="c_custkey",
            group_col="c_nationkey",
            window="1 hour",
            watermark=WATERMARK,
        ),
        "append",
    )
    return out.select(
        "w", "c_nationkey", "c", F.round("s", 2).alias("s")
    ).orderBy("w", "c_nationkey")


def _canonical_orders(typed: DataFrame) -> DataFrame:
    """The roundtrip queries' compare form (t1, t2, t8): the lattice's
    SMALLINT/INT widths → bigint, its midnight-rule DATE → timestamp,
    ordered by o_orderkey."""
    casts = {"smallint": "bigint", "int": "bigint", "date": "timestamp"}
    cols = [
        F.col(f.name).cast(casts[f.dataType.simpleString()]).alias(f.name)
        if f.dataType.simpleString() in casts
        else F.col(f.name)
        for f in typed.schema.fields
    ]
    return typed.select(*cols).orderBy("o_orderkey")


@_scratch_file("roundtrip")
def _orders_csv(spark, sf_dir) -> str:
    """orders rendered as a CSV file (unix line ends)."""
    path = os.path.join(tempfile.mkdtemp(prefix="diepy-rt-"), "orders.csv")
    write_csv(load_table(spark, sf_dir, "orders"), path, unix=True)
    return path


def t1_roundtrip_csv(spark, sf_dir):
    """Full import/export stack under the correctness gate: orders →
    rendered CSV (K4/K7) → all-string scan (S1) → inference lattice
    (T1/T3-T6) → typed cast projection (T7). Output must VALUE-match the
    original table, proving the roundtrip is lossless.

    Canonicalization for the compare (semantic fidelity is pinned by
    tests/test_inference.py goldens): integral columns → bigint (the
    lattice's SMALLINT/INT width choice depends on observed min/max,
    core.py:516-521, while the oracle table is bigint); inferred DATE →
    timestamp (the source column is parquet TIMESTAMP whose values are all
    midnight — the lattice's midnight rule correctly calls them dates)."""
    raw = read_untyped_csv(spark, _orders_csv(spark, sf_dir))
    # The reader's quote census picks the splittable non-multiLine path
    # for this quote-free file, but a SMALL single file is still one input
    # split — so spread the rows across cores once and run BOTH passes
    # distributed: inference in full-scan mode (one aggregate over every
    # row — the 100 TB path; the reference-faithful 20k-sample mode is
    # unit-tested separately) and then the cast-heavy typed projection.
    # At scale imports arrive as many files/splits and the repartition is
    # a cheap rebalance of raw strings.
    # Persisted: inference and the typed projection are TWO passes, and the
    # multiLine parse is single-core — cache the post-shuffle raw strings so
    # the file is parsed once. Spark's CacheManager keys on the canonical
    # plan, so repeated calls reuse one entry (no per-call leak).
    spread = raw.repartition(spark.sparkContext.defaultParallelism).persist()
    typed = apply_schema(spread, infer_from_dataframe(spread, sample_size=None))
    return _canonical_orders(typed)


XLSX_CUST_MAX = 100  # xlsx is driver-bound by design — bound the subset


@_scratch_file("xlsx")
def _orders_xlsx(spark, sf_dir) -> str:
    """The orders of customers below XLSX_CUST_MAX as an xlsx worksheet."""
    from diepy_spark.sources.writers import write_xlsx

    path = os.path.join(tempfile.mkdtemp(prefix="diepy-xl-"), "orders.xlsx")
    orders = load_table(spark, sf_dir, "orders")
    write_xlsx(orders.where(F.col("o_custkey") < XLSX_CUST_MAX), path, "orders")
    return path


def t8_roundtrip_xlsx(spark, sf_dir):
    """The EXCEL leg of the import/export stack under the correctness
    gate (S3-S5/K6/T2 were pytest-verified only until now): a bounded
    orders subset → xlsx worksheet (writers.write_xlsx — openpyxl or the
    stdlib xlsx_lite bridge, sheet-replace Q10 semantics) → sheet scan
    (sources/excel.read_excel_sheets) → the same inference lattice +
    typed cast projection the CSV path uses → value-match against the
    source rows. Same canonicalization as t1 (lattice SMALLINT/INT
    widths → bigint, inferred midnight DATE → timestamp). xlsx is
    driver-bound by design (write_xlsx's max_rows guard documents it),
    hence the absolute subset bound — the distributed formats are
    t1-t4's job."""
    from diepy_spark.sources.excel import read_excel_sheets, sheet_to_untyped_df

    pdf = read_excel_sheets(_orders_xlsx(spark, sf_dir), "orders")["orders"]
    sdf, specs = sheet_to_untyped_df(spark, pdf)
    typed = apply_schema(sdf, specs)
    return _canonical_orders(typed)


JOIN_BOUND = "30 minutes"


def x7_stream_join(spark, sf_dir):
    """Stream-STREAM interval join (streaming/events.py:interval_join):
    click → purchase by the same user within 30 minutes, both sides
    genuine multi-batch streams over the same time-range replay. Pairs
    straddling batch boundaries exercise cross-batch join state; the
    in-order replay guarantees no late input, so the result equals the
    batch interval join (the oracle)."""
    d = _events_stream_dir(spark, sf_dir)
    clicks = ST.read_events_stream(spark, d, max_files_per_trigger=_mfpt()).where(
        F.col("event_type") == "click"
    )
    buys = ST.read_events_stream(spark, d, max_files_per_trigger=_mfpt()).where(
        F.col("event_type") == "purchase"
    )
    out = _run_stream(
        ST.interval_join(clicks, buys, on="user_id", bound=JOIN_BOUND, watermark=WATERMARK),
        "append",
    )
    return out.select("user_id", "a_id", "b_id", "a_ts", "b_ts").orderBy(
        "user_id", "a_id", "b_id"
    )


@_scratch_file("roundtrip_jsonl")
def _orders_jsonl(spark, sf_dir) -> str:
    """orders rendered as a JSON-Lines file."""
    from diepy_spark.sources.writers import write_jsonl

    path = os.path.join(tempfile.mkdtemp(prefix="diepy-rt-"), "orders.jsonl")
    write_jsonl(load_table(spark, sf_dir, "orders"), path)
    return path


def t2_roundtrip_jsonl(spark, sf_dir):
    """The import/export stack over JSON-Lines: orders → rendered JSONL
    (write_jsonl, K7 value rendering) → all-string scan
    (read_untyped_jsonl) → inference lattice → typed cast projection.
    Must VALUE-match the original table, proving the JSONL path is as
    lossless as the CSV one (t1). Same canonicalization contract as t1
    (integral widths → bigint, midnight-rule DATE → timestamp); JSON's
    null-field omission exercises the empty⇒NULL path differently from
    CSV's empty strings."""
    from diepy_spark.sources.files import read_untyped_jsonl

    raw = read_untyped_jsonl(spark, _orders_jsonl(spark, sf_dir))
    # Same distributed two-pass layout as t1: spread once, full-scan
    # inference + typed projection over the persisted raw strings.
    spread = raw.repartition(spark.sparkContext.defaultParallelism).persist()
    typed = apply_schema(spread, infer_from_dataframe(spread, sample_size=None))
    return _canonical_orders(typed)


def x7_stream_upsert(spark, sf_dir):
    """Streaming UPSERT sink via foreachBatch — the canonical Structured
    Streaming pattern for maintaining a keyed latest-state table (the
    file/Kafka → warehouse MERGE loop): each micro-batch reduces to its
    per-user latest event (one window inside the batch), then merges into
    the accumulating state with merge_upsert semantics (ts wins; the
    replay's ts-range batches are disjoint so later batches strictly
    supersede). State is eagerly localCheckpointed per batch — batch
    frames are only valid inside their micro-batch, and the checkpoint
    also keeps the merge chain's lineage flat across batches (at
    production scale the state table is a MERGE-capable warehouse table
    instead and this operator IS the foreachBatch body). Final result:
    the latest event per user — identical for any replay granularity."""
    from diepy_spark.operators.merge import merge_upsert

    src = _events_src(spark, sf_dir).select(
        "user_id", "event_id", "event_type", "ts", "value"
    )
    state: dict[str, DataFrame | None] = {"df": None}

    def fb(batch_df: DataFrame, _bid: int) -> None:
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        if state["df"] is None:
            merged = latest
        else:
            merged = merge_upsert(state["df"], latest, ["user_id"], version_col="ts")
        state["df"] = merged.localCheckpoint(eager=True)

    ck = tempfile.mkdtemp(prefix="diepy-ck-")
    with scoped_conf(spark, "spark.sql.shuffle.partitions", "8"):
        q = (
            src.writeStream.foreachBatch(fb)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    shutil.rmtree(ck, ignore_errors=True)
    out = state["df"]
    assert out is not None
    return out.select(
        "user_id", "event_id", "event_type", F.col("ts").cast("timestamp").alias("ts"), "value"
    ).orderBy("user_id")


@_scratch_file("parquet-part")
def _orders_by_status(spark, sf_dir) -> str:
    """orders as parquet partitioned by o_orderstatus."""
    d = os.path.join(tempfile.mkdtemp(prefix="diepy-pq-"), "orders")
    load_table(spark, sf_dir, "orders").write.partitionBy("o_orderstatus").parquet(d)
    return d


def t3_roundtrip_parquet(spark, sf_dir):
    """Warehouse-native roundtrip: orders written to scratch as parquet
    PARTITIONED BY o_orderstatus (the 100 TB layout — one directory per
    status), read back filtered to one partition. The filter must prune
    at the DIRECTORY level (PartitionFilters in the scan, pinned by
    tests/test_analytics.py::test_partitioned_roundtrip_prunes) — the
    non-selected partitions are never opened. Output value-matches the
    source rows of that status, proving the write→layout→read path is
    lossless including timestamp micros."""
    back = spark.read.parquet(_orders_by_status(spark, sf_dir)).where(
        F.col("o_orderstatus") == "F"
    )
    return back.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ).orderBy("o_orderkey")


@session_cached
def _bucketed_tables(spark, sf_dir) -> tuple[str, str]:
    """Write t6_bucketed_join's bucketed orders and customer catalog
    tables once per session and return their names. Session-scoped: the
    tables live in the session's in-memory catalog, so a new SparkContext
    must rebuild them."""
    import re

    from diepy_spark.sources.bucketing import save_bucketed

    sfx = re.sub(r"[^0-9a-zA-Z]", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    ot, ct = f"t6_orders_b_{sfx}", f"t6_customer_b_{sfx}"
    # A FRESH session's in-memory catalog doesn't know tables a
    # previous process left in spark-warehouse; saveAsTable then
    # fails with LOCATION_ALREADY_EXISTS. Clear both catalog entry
    # and stale location before writing.
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix("file:")
    for t in (ot, ct):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    save_bucketed(
        load_table(spark, sf_dir, "orders"), ot, ["o_custkey"], num_buckets=8
    )
    save_bucketed(
        load_table(spark, sf_dir, "customer").withColumnRenamed(
            "c_custkey", "o_custkey"
        ),
        ct,
        ["o_custkey"],
        num_buckets=8,
    )
    return ot, ct


def t6_bucketed_join(spark, sf_dir):
    """Bucketed-catalog roundtrip + CO-LOCATED join
    (sources/bucketing.py:save_bucketed): orders and customer written as
    catalog tables bucketed AND sorted on the customer key, then joined
    from the catalog — the write-time shuffle amortization that makes
    the repeated fact-dim join exchange-free on BOTH sides at 100 TB
    (tests/test_plan_shapes.py pins the no-Exchange plan; this query
    hash-checks that the bucketed layout is LOSSLESS through
    write->catalog->join). Output: per-nation order counts and exact
    totals from the bucketed join."""
    ot, ct = _bucketed_tables(spark, sf_dir)
    o = spark.table(ot)
    c = spark.table(ct)
    j = o.join(c, "o_custkey")
    return (
        j.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("c_nationkey")
    )


@_scratch_file("wap")
def _published_orders(spark, sf_dir) -> str:
    """orders staged, audited and renamed into a published path."""
    base = tempfile.mkdtemp(prefix="diepy-wap-")
    stage = os.path.join(base, "_staging", "orders")
    final = os.path.join(base, "published", "orders")
    load_table(spark, sf_dir, "orders").write.parquet(stage)
    staged = spark.read.parquet(stage)
    audit = staged.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("o_orderkey").isNull().cast("int")).alias("null_keys"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("dup_keys"),
    ).collect()[0]
    if audit.rows <= 0 or audit.null_keys or audit.dup_keys:
        raise ValueError(f"WAP audit failed; snapshot NOT published: {audit}")
    os.makedirs(os.path.dirname(final), exist_ok=True)
    os.rename(stage, final)
    return final


def t7_write_audit_publish(spark, sf_dir):
    """WRITE-AUDIT-PUBLISH — the warehouse ingestion discipline every
    production load should follow (and the transactional-format-free
    sibling of sources/table_format.py's MERGE path): the snapshot lands
    in a STAGING path invisible to readers, a DQ audit gates it (row
    count > 0, zero null keys, zero duplicate keys — the x12_dq_profile
    checks as a gate, not a report), and only a passing snapshot is
    atomically renamed into the published path. A failing audit raises
    and leaves the published path untouched — readers never see a bad
    snapshot. The returned aggregate reads the PUBLISHED data, so the
    hash check proves the staged->audited->published copy is lossless."""
    pub = spark.read.parquet(_published_orders(spark, sf_dir))
    return (
        pub.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


STREAM_OUT_K = 5  # |cents - med| > K * MAD flags an event (mirrors x12)


def x7_stream_outliers(spark, sf_dir):
    """Streaming anomaly counter with BATCH-TRAINED robust thresholds —
    the train-offline/serve-online composition: per-type median and MAD
    come from the batch history (operators/robust.freq_median, the
    bounded-state exact-median shape), the tiny threshold table
    BROADCASTs into the stream, and each micro-batch counts threshold
    breaches per (hour window, event_type) under the watermark. The
    stream side carries a stateless filter + the usual windowed count —
    no new state kind; thresholds refresh per micro-batch like any
    stream-static join side."""
    from diepy_spark.operators.robust import freq_median

    cents = F.expr("CAST(round(value * 100) AS BIGINT)")
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_type", cents.alias("cents"))
    )
    # r13 (guide §2.3 "aggregate before you shuffle" + §2.1): the old
    # shape scanned the events history TWICE (once under each
    # freq_median) and, worse, re-evaluated that whole subtree per
    # micro-batch — a stream-static join recomputes its static side at
    # every trigger. Now ONE corpus pass builds the (type, cents, cnt)
    # value-frequency table (distinct-value-domain-sized, the r28b
    # bounded-state argument) and both medians ride it via weight_col —
    # the MAD's deviation histogram is derived from the frequency rows
    # (a value with multiplicity cnt contributes cnt at |v - med|,
    # identical to re-scanning raw events). The eager localCheckpoint
    # pins the tiny threshold table so each trigger's static side is a
    # checkpointed read, not two corpus aggregations. med/mad are
    # bit-identical to the old plan (lower-median over the same
    # histograms), so the emitted breach counts are unchanged.
    freqs = (
        ev.groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)  # med + devf both read it: 1 scan
    )
    med = freq_median(freqs, "event_type", "cents", weight_col="cnt")
    devf = freqs.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(F.col("cents") - F.col("med")).alias("dev"),
        "cnt",
    )
    thr = med.join(
        freq_median(devf, "event_type", "dev", weight_col="cnt")
        .withColumnRenamed("med", "mad"),
        "event_type",
    ).localCheckpoint(eager=True)
    src = (
        _events_src(spark, sf_dir)
        .where(F.col("value").isNotNull())
        .withColumn("cents", cents)
    )
    joined = (
        src.withWatermark("ts", WATERMARK)
        .join(F.broadcast(thr), "event_type")
        .where(
            F.abs(F.col("cents") - F.col("med"))
            > F.lit(STREAM_OUT_K) * F.col("mad")
        )
    )
    agg = (
        joined.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_anom"))
        .select(F.col("w.start").alias("w"), "event_type", "n_anom")
    )
    return _run_stream(agg, "append").orderBy("w", "event_type")


@_scratch_file("orc")
def _orders_orc(spark, sf_dir) -> str:
    """orders as ORC sorted by o_totalprice within partitions."""
    d = os.path.join(tempfile.mkdtemp(prefix="diepy-orc-"), "orders")
    load_table(spark, sf_dir, "orders").sortWithinPartitions("o_totalprice").write.orc(d)
    return d


def t4_roundtrip_orc(spark, sf_dir):
    """ORC roundtrip — the second columnar format Spark ships natively
    (orc-core is in the distro; spark-avro is not, so Avro stays out of
    scope). Orders write to scratch as ORC sorted by o_totalprice within
    partitions, read back under a o_totalprice range predicate: ORC keeps
    min/max stride statistics, so the sorted layout lets the reader skip
    row groups wholesale (the ORC analog of parquet row-group pruning;
    PushedFilters visibility pinned by
    tests/test_analytics.py::test_orc_roundtrip_pushes_filter). Output
    value-matches the source rows in the range, proving the
    write→read path is lossless including DECIMAL and DATE columns."""
    back = spark.read.orc(_orders_orc(spark, sf_dir)).where(
        (F.col("o_totalprice") >= 100_000) & (F.col("o_totalprice") < 150_000)
    )
    return back.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ).orderBy("o_orderkey")


def x7_stream_ewma(spark, sf_dir):
    """The streaming sibling of r52_ewma (streaming/events.py:
    ewma_stateful): the SAME recurrence carried incrementally across
    micro-batches in per-user state — the promise in the batch
    operator's docstring, made real and hash-checked against the same
    list_reduce oracle shape. Update mode emits the running state per
    touched user each batch; the final row per user (max n_events) must
    be BIT-IDENTICAL to the batch fold because time-ordered disjoint
    batches x in-batch (ts, event_id) sort = the global fold order."""
    from diepy_spark.plans.relational import EWMA_ALPHA

    out = _run_stream(
        ST.ewma_stateful(_events_src(spark, sf_dir), alpha=EWMA_ALPHA), "update"
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", "ewma")
        .orderBy("user_id")
    )


COMPACT_SMALL = 64  # the small-file mess
COMPACT_TARGET = 4  # compacted layout


@_scratch_file("compact")
def _compacted_events(spark, sf_dir) -> str:
    """events written as COMPACT_SMALL files, then compacted."""
    base = tempfile.mkdtemp(prefix="diepy-compact-")
    small = os.path.join(base, "small")
    packed = os.path.join(base, "compacted")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(COMPACT_SMALL).write.parquet(small)
    n_small = len(glob.glob(os.path.join(small, "part-*")))
    spark.read.parquet(small).repartition(COMPACT_TARGET).write.parquet(packed)
    n_packed = len(glob.glob(os.path.join(packed, "part-*")))
    if not (n_packed < n_small and n_packed <= COMPACT_TARGET):
        raise ValueError(f"compaction did not shrink the layout: {n_small} -> {n_packed}")
    return packed


def t9_compaction(spark, sf_dir):
    """SMALL-FILE COMPACTION — the table-maintenance op every streaming
    sink eventually needs (a micro-batch writer leaves thousands of tiny
    files; scan cost and namenode pressure grow with file COUNT, not
    bytes): the events table is written as COMPACT_SMALL fragments, then
    compacted by one rebalance into COMPACT_TARGET right-sized files.
    The code ASSERTS the file count actually dropped (the operational
    contract) and the returned per-type aggregate reads the COMPACTED
    layout — so the hash check proves compaction is lossless, which is
    the failure mode that actually bites (a lost or doubled fragment).
    At scale this is the same job with maxRecordsPerFile / a file-size
    target instead of a fixed count."""
    back = spark.read.parquet(_compacted_events(spark, sf_dir))
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("users"),
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias(
                "cents_sum"
            ),
        )
        .orderBy("event_type")
    )


@_scratch_file("roundtrip_nested")
def _nested_orders_json(spark, sf_dir) -> str:
    """Orders below 4000 as nested JSON: a header struct and an item array."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 4000)
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 4000)
    items = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("l_linenumber").alias("ln"),
                    F.expr("CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)").alias("qty_c"),
                )
            )
        ).alias("items")
    )
    nested = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").alias("price_c"),
        ).alias("hdr"),
    ).join(items, o.o_orderkey == items.l_orderkey).drop("l_orderkey")
    d = os.path.join(tempfile.mkdtemp(prefix="diepy-rt-"), "nested_json")
    nested.write.json(d)
    return d


def t5_roundtrip_nested(spark, sf_dir):
    """Nested-schema JSON roundtrip — the surface the flat t1/t2 lattice
    path deliberately excludes (the reference's inference is flat by
    design): each order becomes {header struct, array of line-item
    structs}, written as native JSON, read back through Spark's nested
    schema inference, then FLATTENED by exploding the item array. Hash
    equality of the flattened output against a plain relational oracle
    proves structs, arrays, and array ORDER survive the JSON sink/source
    byte-exactly. Money rides as integer cents (JSON doubles would not
    round-trip bitwise); the item array is sorted before writing so the
    array order is deterministic and the explode replays it."""
    back = spark.read.json(_nested_orders_json(spark, sf_dir))
    return (
        back.select(
            "o_orderkey",
            F.col("hdr.status").alias("status"),
            F.col("hdr.price_c").alias("price_c"),
            F.posexplode("items").alias("pos", "it"),
        )
        .select(
            "o_orderkey",
            "status",
            "price_c",
            (F.col("pos") + 1).alias("pos"),
            F.col("it.ln").alias("ln"),
            F.col("it.qty_c").alias("qty_c"),
        )
        .orderBy("o_orderkey", "pos")
    )


@_scratch_file("embeddings")
def _embeddings_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """The embeddings table as STREAM_FILES vec_id-range parquet files —
    a replayable vector stream. No mtime choreography needed: the
    consumer (x7_stream_cluster_assign) is a stateless projection + a
    complete-mode aggregate, so batch order cannot change the result."""
    d = os.path.join(tempfile.mkdtemp(prefix="diepy-stream-"), "embeddings")
    (
        load_table(spark, sf_dir, "embeddings")
        .repartitionByRange(STREAM_FILES, F.col("vec_id"))
        .sortWithinPartitions("vec_id")
        .write.parquet(d)
    )
    return d


def x7_stream_cluster_assign(spark, sf_dir):
    """Train-offline / serve-online for the VECTOR side (the
    x7_stream_outliers composition applied to the X3 index family): the
    coarse quantizer is trained on the batch table (integer-exact
    Lloyd's, same constants as x2_semdedup), its k x dim centroid table
    rides into the STREAM as broadcast literals, and each arriving
    micro-batch of embeddings is assigned to its cell by the same
    zero-shuffle argmin projection — the online ingest path of an IVF /
    SemDeDup index. Complete-mode cell counts over the replay must equal
    the batch assignment exactly (hash-checked against the unrolled
    k-means oracle chain)."""
    from diepy_spark.operators.clustering import (
        assign_to_centroids,
        quantize_vectors,
    )
    from diepy_spark.plans.extended import KM_K, SD_ITER, SD_SCALE, _cents_cached

    cents = _cents_cached(spark, sf_dir, KM_K, SD_ITER, SD_SCALE)
    reader = spark.readStream.schema("vec_id bigint, embedding array<float>, label int")
    reader = reader.option("maxFilesPerTrigger", _mfpt())
    stream = reader.parquet(_embeddings_stream_dir(spark, sf_dir))
    q = quantize_vectors(stream, "vec_id", "embedding", SD_SCALE)
    assigned = assign_to_centroids(q, cents, "vec_id").select("vec_id", "cluster")
    agg = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_vecs"))
    out = _run_stream(agg, "complete")
    return out.orderBy("cluster")


SPSI_NBINS = 8
SPSI_BIN_CENTS = 5000  # $50-wide event-value bins (p95 lands in bin 2)

# Laplace-smoothed share / PSI-term texts with THIS query's bin count in
# the smoothing denominator (x12_psi's _PSI_SHARE hardcodes its own
# PSI_NBINS=10); identical text runs on both engines.
_SPSI_SHARE = (
    "((CAST({nb} AS DOUBLE) + 1.0)"
    f" / (CAST({{tb}} AS DOUBLE) + {SPSI_NBINS}.0))"
)


def _spsi_term(nb: str, nn: str, tb: str, tn: str) -> str:
    p = _SPSI_SHARE.format(nb=nb, tb=tb)
    q = _SPSI_SHARE.format(nb=nn, tb=tn)
    return f"((({q}) - ({p})) * ln(({q}) / ({p})))"


def x7_stream_psi(spark, sf_dir):
    """Streaming input-drift monitor — x12_psi's PSI served ONLINE (the
    train-offline/serve-online composition applied to the drift family,
    completing the monitoring triple next to x7_stream_outliers and
    x7_stream_cluster_assign): the baseline bin distribution is trained
    on the batch history, and the stream emits per-day-window bin counts
    under the watermark (append mode, the usual finalization rule).
    Post-replay the bounded sink frame joins the generated full bin
    dimension (silent empty bins still report into the fold) and folds
    per-day PSI in bin order — the pager that fires the day the value
    distribution drifts. Scale: stream state is days x bins; everything
    after the sink is bounded by the emission."""
    cents = F.expr("CAST(round(value * 100) AS BIGINT)")
    bin_expr = (
        f"least(CAST(floor(c / {SPSI_BIN_CENTS}) AS BIGINT),"
        f" CAST({SPSI_NBINS - 1} AS BIGINT)) AS bin"
    )
    base = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(cents.alias("c"))
        .selectExpr(bin_expr)
        .groupBy("bin")
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("n_base"))
    )
    src = (
        _events_src(spark, sf_dir)
        .where(F.col("value").isNotNull())
        .select("ts", cents.alias("c"))
        .selectExpr("ts", bin_expr)
    )
    agg = (
        src.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 day").alias("w"), "bin")
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("n_obs"))
        .select(F.col("w.start").alias("day"), "bin", "n_obs")
    )
    out = _run_stream(agg, "append")
    days = out.select("day").distinct()
    dim = days.crossJoin(
        F.broadcast(
            spark.range(SPSI_NBINS).selectExpr("CAST(id AS BIGINT) AS bin")
        )
    )
    # days and out share lineage (both read the sink view), so a plain
    # USING join sees one attribute on both sides — re-alias the probe
    # side's columns (Alias mints fresh attribute ids) before joining
    o = out.select(
        F.col("day").alias("o_day"),
        F.col("bin").alias("o_bin"),
        F.col("n_obs").alias("n_obs"),
    )
    j = (
        dim.join(
            o,
            (F.col("day") == F.col("o_day"))
            & (F.col("bin") == F.col("o_bin")),
            "left",
        )
        .select("day", "bin", "n_obs")
        .join(F.broadcast(base), "bin", "left")
        .selectExpr(
            "day",
            "bin",
            "CAST(coalesce(n_base, 0) AS BIGINT) AS n_base",
            "CAST(coalesce(n_obs, 0) AS BIGINT) AS n_obs",
        )
    )
    wd = Window.partitionBy("day")
    j2 = j.select(
        "day",
        "bin",
        "n_base",
        "n_obs",
        F.sum("n_base").over(wd).alias("tb"),
        F.sum("n_obs").over(wd).alias("tn"),
    )
    term_x = _spsi_term("x.n_base", "x.n_obs", "x.tb", "x.tn")
    return (
        j2.groupBy("day")
        .agg(
            F.expr("CAST(sum(n_obs) AS BIGINT)").alias("n_rows"),
            F.expr(
                "round(aggregate(array_sort(collect_list("
                "struct(bin, n_base, n_obs, tb, tn))),"
                f" CAST(0 AS DOUBLE), (acc, x) -> acc + {term_x}), 6)"
            ).alias("psi"),
        )
        .selectExpr(
            "CAST(CAST(day AS DATE) AS STRING) AS day", "n_rows", "psi"
        )
        .orderBy("day")
    )


SQNT_NBINS = 64
SQNT_BIN_CENTS = 1000  # $10-wide bins; last bin absorbs the tail


def x7_stream_quantiles(spark, sf_dir):
    """Streaming per-window QUANTILES with bounded state — the sketch
    family's streaming row: exact per-value quantiles need unbounded
    per-window state (illegal in a stream), so the production shape is
    the binned histogram (the r28b_histogram_quantiles discipline served
    online): the stream keeps days x SQNT_NBINS integer counters under
    the watermark, and p50/p90/p99 read off the finalized histograms
    sink-side as the upper edge of the first bin whose cumulative count
    reaches ceil(p*n/100) — pure integer comparisons (100*cum >= p*n),
    so the report hash-checks. Resolution is the bin width, the standard
    histogram-quantile trade; at 100 TB the state is still
    days x 64 longs."""
    cents = F.expr("CAST(round(value * 100) AS BIGINT)")
    bin_expr = (
        f"least(CAST(floor(c / {SQNT_BIN_CENTS}) AS BIGINT),"
        f" CAST({SQNT_NBINS - 1} AS BIGINT)) AS bin"
    )
    src = (
        _events_src(spark, sf_dir)
        .where(F.col("value").isNotNull())
        .select("ts", cents.alias("c"))
        .selectExpr("ts", bin_expr)
    )
    agg = (
        src.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 day").alias("w"), "bin")
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("n_obs"))
        .select(F.col("w.start").alias("day"), "bin", "n_obs")
    )
    out = _run_stream(agg, "append")
    wc = Window.partitionBy("day").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wa = Window.partitionBy("day")
    r = out.withColumn("cum", F.sum("n_obs").over(wc)).withColumn(
        "n", F.sum("n_obs").over(wa)
    )
    picks = [
        F.min(
            F.when(F.col("cum") * 100 >= F.col("n") * p, F.col("bin"))
        ).alias(f"b{p}")
        for p in (50, 90, 99)
    ]
    per = r.groupBy("day").agg(
        F.expr("CAST(max(n) AS BIGINT)").alias("n_rows"), *picks
    )
    edge = "CAST((b{p} + 1) * {w} AS DOUBLE) / 100.0 AS p{p}"
    return per.selectExpr(
        "CAST(CAST(day AS DATE) AS STRING) AS day",
        "n_rows",
        *[edge.format(p=p, w=SQNT_BIN_CENTS) for p in (50, 90, 99)],
    ).orderBy("day")


@_scratch_file("docs")
def _docs_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """The ARRIVING 20% of documents (doc_id % INC_DEDUP_MOD == 0 — the
    same crawl-N+1 split as x1_incremental_dedup) as STREAM_FILES
    doc_id-range parquet files: a replayable document-ingest stream. No
    mtime choreography: the consumer's gate is per-row and its aggregate
    complete-mode, so batch order cannot change the result."""
    from diepy_spark.plans.extended import INC_DEDUP_MOD

    d = os.path.join(tempfile.mkdtemp(prefix="diepy-stream-"), "docs")
    (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % INC_DEDUP_MOD == 0)
        .repartitionByRange(STREAM_FILES, F.col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.parquet(d)
    )
    return d


def x7_stream_ingest(spark, sf_dir):
    """STREAMING CORPUS INGEST — the production front door of the X10
    pipeline, composed from declared parts: arriving documents stream in
    (the crawl-N+1 20% split), a per-row QUALITY GATE (token minimum —
    pure projection, stateless) and an EXACT-DEDUP check against the
    STANDING corpus' fingerprint index (md5 keys, stream-static
    broadcast join — the streaming sibling of x1_incremental_dedup)
    classify each doc, and a complete-mode per-language aggregate
    reports arrived / gated_out / dup_of_index / kept. At 100 TB the
    index side is the persisted fingerprint table and the gate runs at
    wire speed; nothing here holds per-doc state, so streaming memory is
    the aggregate's language dimension."""
    from diepy_spark.operators.dedup import tokens_expr
    from diepy_spark.plans.extended import CLEAN_MIN_TOKENS, INC_DEDUP_MOD

    docs = load_table(spark, sf_dir, "documents")
    # r13 (guide §2.1): eager checkpoint — a stream-static join
    # re-evaluates its static side per trigger; the corpus md5+distinct
    # pass should run once, not once per micro-batch. Narratively this
    # IS the persisted fingerprint index the docstring describes.
    idx = (
        docs.where(F.col("doc_id") % INC_DEDUP_MOD != 0)
        .select(F.md5(F.col("text")).alias("fp"))
        .distinct()
        .withColumn("in_idx", F.lit(1))
        .localCheckpoint(eager=True)
    )
    reader = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", _mfpt()
    )
    stream = reader.parquet(_docs_stream_dir(spark, sf_dir))
    flagged = (
        stream.withColumn(
            "gate_ok",
            (F.expr(f"size({tokens_expr('text')})") >= CLEAN_MIN_TOKENS).cast(
                "int"
            ),
        )
        .withColumn("fp", F.md5(F.col("text")))
        .join(F.broadcast(idx), "fp", "left")
        .withColumn("dup", F.coalesce("in_idx", F.lit(0)))
    )
    agg = flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("arrived"),
        F.sum(1 - F.col("gate_ok")).alias("gated_out"),
        F.sum("dup").alias("dup_of_index"),
        F.sum(F.col("gate_ok") * (1 - F.col("dup"))).alias("kept"),
    )
    out = _run_stream(agg, "complete")
    return out.orderBy("lang")


def x7_stream_takedown(spark, sf_dir):
    """STREAM-SIDE TAKEDOWN filter — x9_takedown's compliance sweep
    applied at the front door instead of retroactively: the event stream
    joins the tombstone id list (stream-static broadcast, the same shape
    as x7_stream_ingest's dedup check) and every event from a
    tombstoned user is diverted; a complete-mode per-type aggregate
    reports arrived / blocked / passed so the filter's coverage is
    itself monitored. Stateless per event — streaming memory is the
    event-type dimension; at production scale the tombstone side is the
    persisted takedown table, refreshed per micro-batch epoch."""
    from diepy_spark.plans.extended import TAKEDOWN_MOD

    ev = load_table(spark, sf_dir, "events")
    # r13 (guide §2.1): eager checkpoint — the stream-static join would
    # otherwise re-scan + re-distinct the events history per trigger;
    # this IS the persisted takedown table the docstring describes,
    # refreshed per epoch, not per micro-batch.
    tomb = (
        ev.select(F.col("user_id").alias("k"))
        .where(F.col("k") % TAKEDOWN_MOD == 0)
        .distinct()
        .withColumn("hit", F.lit(1))
        .localCheckpoint(eager=True)
    )
    stream = ST.read_events_stream(
        spark, _events_stream_dir(spark, sf_dir), max_files_per_trigger=_mfpt()
    )
    flagged = stream.join(
        F.broadcast(tomb), stream["user_id"] == tomb["k"], "left"
    ).withColumn("blocked", F.coalesce("hit", F.lit(0)))
    agg = flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("arrived"),
        F.sum("blocked").alias("blocked"),
        F.sum(1 - F.col("blocked")).alias("passed"),
    )
    out = _run_stream(agg, "complete")
    return out.orderBy("event_type")


LATE_NB = 4  # arrival batches in the late-data layout
LATE_SHIFT = 2  # stragglers arrive two batches after their event-time home
LATE_WM = "45 minutes"  # watermark delay for the late-data query


def _late_bit_sql() -> str:
    """Deterministic straggler flag (~25% of events), shared verbatim
    with the oracle — one md5 nibble, the x8 permutation-bit idiom."""
    return (
        "(instr('0123456789abcdef', substr(md5(concat('late:',"
        " CAST(event_id AS STRING))), 1, 1)) - 1) % 4 = 0"
    )


@_scratch_file("events-late")
def _events_late_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """OUT-OF-ORDER arrival layout: events are split into LATE_NB
    event-time quantile buckets (0-based row_number over (ts, event_id)
    — SQL-mirrorable, unlike repartitionByRange's sampled bounds), but
    deterministic stragglers ARRIVE LATE_SHIFT batches after their
    home bucket. Unlike _events_stream_dir (disjoint in-order ranges,
    nothing ever late), this layout forces the watermark's late-row
    drop path to execute. Harness machinery: the global row_number sort
    and driver-side count materialize a toy arrival sequence ONCE per
    process — a production stream's arrival order is given by the
    source, not synthesized."""
    base = tempfile.mkdtemp(prefix="diepy-late-")
    d = os.path.join(base, "events")
    os.makedirs(d)
    ev = load_table(spark, sf_dir, "events")
    tot = ev.count()
    w = Window.orderBy("ts", "event_id")
    arr = (
        ev.withColumn("rn", F.row_number().over(w) - 1)
        .withColumn("home", F.expr(f"CAST((rn * {LATE_NB}) DIV {tot} AS INT)"))
        .withColumn("strag", F.expr(f"CASE WHEN {_late_bit_sql()} THEN 1 ELSE 0 END"))
        .withColumn(
            "a",
            F.expr(
                f"CASE WHEN strag = 1 THEN least(home + {LATE_SHIFT},"
                f" {LATE_NB - 1}) ELSE home END"
            ),
        )
    )
    base_t = time.time() - 3600
    for k in range(LATE_NB):
        tmp = os.path.join(base, f"b{k}")
        (
            arr.where(F.col("a") == k)
            .drop("rn", "home", "strag", "a")
            .coalesce(1)
            .write.parquet(tmp)
        )
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(d, f"batch-{k}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (base_t + k, base_t + k))
    return d


@session_cached
def _late_run(spark, sf_dir) -> dict:
    """Run the late-data stream ONCE per (session, sf_dir) and cache the
    materialized result plus the engine's progress metrics —
    x7_stream_late reads the result, x7_stream_late_audit reads the
    metrics, and the ~one-stream-replay cost is shared between them.
    The memory sink itself is drained and dropped (the _run_stream
    cleanup contract); what's cached is the localCheckpointed frame."""
    import json as _json

    src = ST.read_events_stream(
        spark, _events_late_stream_dir(spark, sf_dir),
        max_files_per_trigger=1,
    )
    name = f"x7_mem_{next(_counter)}"
    ck = tempfile.mkdtemp(prefix="diepy-ck-")
    with scoped_conf(spark, "spark.sql.shuffle.partitions", "8"):
        q = ST.run_to_memory(_late_agg(src), name, ck, output_mode="append")
    arrived = dropped = 0
    for p in q.recentProgress:
        d = _json.loads(p.json) if hasattr(p, "json") else p
        arrived += int(d.get("numInputRows", 0))
        for so in d.get("stateOperators", []):
            dropped += int(so.get("numRowsDroppedByWatermark", 0))
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    spark.streams.resetTerminated()
    shutil.rmtree(ck, ignore_errors=True)
    return {"df": out, "arrived": arrived, "dropped": dropped}


def x7_stream_late(spark, sf_dir):
    """WATERMARK LATE-DATA SEMANTICS — the one streaming behavior the
    in-order replay layouts can never exercise: deterministic
    stragglers arrive LATE_SHIFT batches after their event-time home,
    and the tumbling aggregate must DROP the ones whose window the
    watermark has already closed while still MERGING the ones whose
    window is open. The oracle replays the exact rule batch by batch
    (watermark at batch j = max event time arrived before j minus
    LATE_WM; a row is dropped iff its window end <= that watermark —
    comparator pinned by tests/test_streaming.py), so the hash check
    proves the engine's drop set, not just its happy path.
    maxFilesPerTrigger is PINNED at 1 (not _mfpt()): the drop set
    depends on batch boundaries, so replay granularity here is
    semantics, not a throughput knob. Sums are exact integer cents —
    the late path must not hide behind float slack."""
    return _late_run(spark, sf_dir)["df"].orderBy("w", "event_type")


def _late_agg(src: DataFrame) -> DataFrame:
    """The tumbling cents aggregate shared by x7_stream_late and its
    observability audit."""
    return (
        src.withWatermark("ts", LATE_WM)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.expr(
                "CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))"
                " AS BIGINT)"
            ).alias("cents"),
        )
        .select(F.col("w.start").alias("w"), "event_type", "c", "cents")
    )


def x7_stream_late_audit(spark, sf_dir):
    """OBSERVABILITY CONTRACT for the late path: the engine's own
    per-batch metric (`numRowsDroppedByWatermark`, summed over the
    replay's progress events) must equal the drop count the declared
    rule predicts, and the emitted-row total must account for the rest
    minus the windows still withheld at end-of-input. Measured metric
    semantics (pinned by the hash): the watermark filter runs at the
    STATE-STORE operator, after partial aggregation — so the counter
    counts dropped (batch, window, event_type) GROUPS, not raw input
    rows (903 vs 1252 at sf0.01); the oracle predicts it as
    count(DISTINCT ...) over the rule's dropped rows. This is the
    check a production stream's monitoring rests on — if the
    dashboards' drop counter and the semantic rule ever disagree, one
    of them is lying; here the disagreement is a hash mismatch. One
    row: arrived / dropped_late / emitted_rows."""
    run = _late_run(spark, sf_dir)
    emitted = run["df"].agg(F.sum("c")).collect()[0][0] or 0
    return spark.createDataFrame(
        [(int(run["arrived"]), int(run["dropped"]), int(emitted))],
        "arrived bigint, dropped_late bigint, emitted_rows bigint",
    )


STREAM_HLL_M = 64  # registers; error ~ 1.04/sqrt(64) = 13%
STREAM_HLL_ALPHA = 0.709  # standard alpha_64


def x7_stream_hll(spark, sf_dir):
    """STREAMING SKETCH: approximate distinct users per tumbling hour via
    the bit-reproducible HyperLogLog (operators/sketch.py register
    scheme, m=64) — the shape that counts uniques over an unbounded
    stream in CONSTANT state per window where exact distinct would hold
    every key. Streaming forbids chained aggregations, so the two-level
    batch plan (per-bucket max, then fold) flattens into ONE windowed
    aggregate with 64 conditional max registers; the fold runs as a
    stateless post-projection. Cross-engine exactness: every register
    term is a power of two >= 2^-33, so the 64-term sum is binary-exact
    in any order; the only irrational step is linear counting's ln(),
    inside the 4-decimal rounding guard (see sketch.hll_rho_sql). The
    oracle computes the same registers with plain two-level batch SQL
    under the append-mode emission rule."""
    from diepy_spark.operators.sketch import hll_bucket_sql, hll_rho_sql

    m, alpha = STREAM_HLL_M, STREAM_HLL_ALPHA
    src = _events_src(spark, sf_dir)
    h = src.select(
        "ts",
        F.md5(F.col("user_id").cast("string")).alias("h"),
    ).selectExpr(
        "ts",
        f"({hll_bucket_sql('h')}) % {m} AS b",
        f"{hll_rho_sql('h')} AS rho",
    )
    agg = (
        h.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            *[
                F.expr(f"max(CASE WHEN b = {k} THEN rho END)").alias(f"r{k}")
                for k in range(m)
            ]
        )
        .select(F.col("w.start").alias("w"), *[f"r{k}" for k in range(m)])
    )
    out = _run_stream(agg, "append")
    s = " + ".join(
        f"(CASE WHEN r{k} IS NULL THEN CAST(0 AS DOUBLE)"
        f" ELSE power(CAST(2 AS DOUBLE), -r{k}) END)"
        for k in range(m)
    )
    nb = " + ".join(
        f"(CASE WHEN r{k} IS NULL THEN 0 ELSE 1 END)" for k in range(m)
    )
    folded = out.selectExpr("w", f"({s}) AS s", f"CAST({nb} AS BIGINT) AS nb")
    raw = f"(CAST({alpha!r} * {m} * {m} AS DOUBLE) / (s + CAST({m} - nb AS DOUBLE)))"
    est = (
        f"CASE WHEN {raw} <= CAST({2.5 * m!r} AS DOUBLE) AND {m} - nb > 0"
        f" THEN CAST({float(m)!r} AS DOUBLE)"
        f" * ln(CAST({m} AS DOUBLE) / CAST({m} - nb AS DOUBLE))"
        f" ELSE {raw} END"
    )
    return folded.selectExpr(
        "w", "nb AS buckets_seen", f"round({est}, 4) AS hll_users"
    ).orderBy("w")


@_scratch_file("stream-resume")
def _resumed_sink(spark, sf_dir) -> str:
    """The tumbling aggregate's parquet sink after two query lives."""
    src_dir = _events_stream_dir(spark, sf_dir)
    parts = sorted(glob.glob(os.path.join(src_dir, "part-*")))
    base = tempfile.mkdtemp(prefix="diepy-resume-")
    ind = os.path.join(base, "in")
    outd = os.path.join(base, "out")
    ck = os.path.join(base, "ck")
    os.makedirs(ind)
    t0 = time.time() - 3600

    def _copy(i: int, p: str) -> None:
        dst = os.path.join(ind, f"f{i}.parquet")
        shutil.copy(p, dst)
        os.utime(dst, (t0 + i, t0 + i))

    def _run() -> None:
        # _mfpt() is safe here (unlike x7_stream_late): the layout is
        # in-order disjoint ranges, so the emission set is identical
        # for any batch grouping — the restart boundary between the
        # two lives is what this query exercises, not batch count.
        src = ST.read_events_stream(spark, ind, max_files_per_trigger=_mfpt())
        agg = (
            src.withWatermark("ts", WATERMARK)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("c"),
                F.expr(
                    "CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100"
                    " AS BIGINT)) AS BIGINT)"
                ).alias("cents"),
            )
            .select(F.col("w.start").alias("w"), "event_type", "c", "cents")
        )
        with scoped_conf(spark, "spark.sql.shuffle.partitions", "8"):
            q = (
                agg.writeStream.format("parquet")
                .option("path", outd)
                .option("checkpointLocation", ck)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    for i, p in enumerate(parts[:2]):
        _copy(i, p)
    _run()  # first life: two batches, then the restart boundary
    for i, p in enumerate(parts[2:], start=2):
        _copy(i, p)
    _run()  # second life: resume from the same checkpoint
    return outd


def x7_stream_resume(spark, sf_dir):
    """CHECKPOINT RECOVERY + EXACTLY-ONCE SINK — the operational
    contract every production stream rests on: the tumbling aggregate
    processes the first two arrival files, TERMINATES (the simulated
    failure/restart boundary), two more files arrive, and a NEW query
    resumes from the SAME checkpoint into the SAME parquet sink. The
    hash check against the full-replay rule proves the restart lost
    nothing and duplicated nothing: watermark and window state are
    restored from the checkpoint's commit log, and the file sink's
    _spark_metadata transaction log makes the output read exactly-once
    even though two separate queries wrote it. Exact integer cents —
    a duplicated or dropped window cannot hide in float slack. Runs
    once per (process, sf_dir); repeat calls read the committed sink."""
    return (
        spark.read.parquet(_resumed_sink(spark, sf_dir))
        .select("w", "event_type", "c", "cents")
        .orderBy("w", "event_type")
    )


@_scratch_file("schema-evo")
def _evolved_orders(spark, sf_dir) -> str:
    """orders in two parquet generations, the second with a new column."""
    d = os.path.join(tempfile.mkdtemp(prefix="diepy-evo-"), "orders")
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    o.where(F.col("o_custkey") % 2 == 0).select(*cols).write.parquet(d, mode="append")
    o.where(F.col("o_custkey") % 2 == 1).select(
        *cols,
        F.expr("CAST(substring(o_orderpriority, 1, 1) AS INT)").alias("priority_rank"),
    ).write.parquet(d, mode="append")
    return d


def t10_schema_evolution(spark, sf_dir):
    """SCHEMA-EVOLUTION roundtrip — the additive-column migration every
    long-lived table undergoes: generation 1 writes the even-custkey
    orders with the original 5 columns; generation 2 appends the
    odd-custkey orders carrying a NEW column (priority_rank, parsed from
    o_orderpriority); the read merges footer schemas
    (``mergeSchema=true``) so generation-1 rows surface the new column
    as NULL — no rewrite of the old files, the parquet contract that
    makes additive evolution free at 100 TB (a backfill is optional, not
    required for readers). The hash check proves both generations
    survive the merged read byte-exactly, NULLs where the column
    predates the writer."""
    back = spark.read.option("mergeSchema", "true").parquet(_evolved_orders(spark, sf_dir))
    return back.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
        "priority_rank",
    ).orderBy("o_orderkey")


PIPELINE_QUERIES = {
    "x7_stream_tumbling": x7_stream_tumbling,
    "x7_stream_sliding": x7_stream_sliding,
    "x7_stream_sessions": x7_stream_sessions,
    "x7_stream_stateful": x7_stream_stateful,
    "x7_stream_dedup": x7_stream_dedup,
    "x7_stream_enrich": x7_stream_enrich,
    "x7_stream_join": x7_stream_join,
    "t1_roundtrip_csv": t1_roundtrip_csv,
    "t2_roundtrip_jsonl": t2_roundtrip_jsonl,
    "t3_roundtrip_parquet": t3_roundtrip_parquet,
    "t4_roundtrip_orc": t4_roundtrip_orc,
    "t6_bucketed_join": t6_bucketed_join,
    "t7_write_audit_publish": t7_write_audit_publish,
    "x7_stream_ingest": x7_stream_ingest,
    "t8_roundtrip_xlsx": t8_roundtrip_xlsx,
    "t9_compaction": t9_compaction,
    "t10_schema_evolution": t10_schema_evolution,
    "x7_stream_takedown": x7_stream_takedown,
    "x7_stream_late": x7_stream_late,
    "x7_stream_late_audit": x7_stream_late_audit,
    "x7_stream_resume": x7_stream_resume,
    "x7_stream_hll": x7_stream_hll,
    "x7_stream_upsert": x7_stream_upsert,
    "x7_stream_topk": x7_stream_topk,
    "x7_stream_outliers": x7_stream_outliers,
    "x7_stream_ewma": x7_stream_ewma,
    "t5_roundtrip_nested": t5_roundtrip_nested,
    "x7_stream_cluster_assign": x7_stream_cluster_assign,
    "x7_stream_psi": x7_stream_psi,
    "x7_stream_quantiles": x7_stream_quantiles,
}

_WM_END = f"(SELECT max(ts) - INTERVAL {WATERMARK} FROM events)"

# x7_stream_late: the oracle replays the engine's batch-by-batch rule —
# arrival bucket from the same row_number quantiles and straggler bit as
# the layout builder; watermark at batch j = max ts arrived before j
# minus LATE_WM; drop iff window end <= that watermark; final emission
# under the usual append-mode rule. DROP_CMP is the comparator pinned by
# tests/test_streaming.py::test_late_drop_comparator.
_LATE_DROP_CMP = "<="
# The watermark visible to micro-batch j's late filter reflects data
# through batch j-2, not j-1: the watermark is PLANNED into the offset
# log when batch j is constructed, from tracker state last updated after
# batch j-1 was committed — whose own planned watermark came from batch
# j-2's stats (measured here; pinned by tests/test_streaming.py).
_LATE_WM_LAG = 2
_LATE_ORACLE = f"""
    WITH ordered AS (
      SELECT event_id, ts, event_type, value,
             CAST(row_number() OVER (ORDER BY ts, event_id) - 1
                  AS BIGINT) AS rn,
             CAST(count(*) OVER () AS BIGINT) AS tot
      FROM events
    ),
    asg AS (
      SELECT *, CAST((rn * {LATE_NB}) // tot AS INT) AS home,
             CASE WHEN {{late_bit}} THEN 1 ELSE 0 END AS strag
      FROM ordered
    ),
    arr AS (
      SELECT *, CASE WHEN strag = 1
                     THEN least(home + {LATE_SHIFT}, {LATE_NB - 1})
                     ELSE home END AS a
      FROM asg
    ),
    wm AS (
      SELECT b.a, max(arr.ts) - INTERVAL {LATE_WM} AS wm_ts
      FROM (SELECT DISTINCT a FROM arr) b
      JOIN arr ON arr.a <= b.a - {_LATE_WM_LAG}
      GROUP BY b.a
    ),
    keep AS (
      SELECT arr.* FROM arr LEFT JOIN wm ON wm.a = arr.a
      WHERE wm.wm_ts IS NULL
         OR NOT (date_trunc('hour', arr.ts) + INTERVAL 1 HOUR
                 {_LATE_DROP_CMP} wm.wm_ts)
    )
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w, event_type,
           CAST(count(*) AS BIGINT) AS c,
           CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents
    FROM keep
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <=
          (SELECT max(ts) - INTERVAL {LATE_WM} FROM arr)
    GROUP BY 1, 2 ORDER BY 1, 2
"""

_LATE_AUDIT_ORACLE = f"""
    WITH ordered AS (
      SELECT event_id, ts, event_type,
             CAST(row_number() OVER (ORDER BY ts, event_id) - 1
                  AS BIGINT) AS rn,
             CAST(count(*) OVER () AS BIGINT) AS tot
      FROM events
    ),
    asg AS (
      SELECT *, CAST((rn * {LATE_NB}) // tot AS INT) AS home,
             CASE WHEN {{late_bit}} THEN 1 ELSE 0 END AS strag
      FROM ordered
    ),
    arr AS (
      SELECT *, CASE WHEN strag = 1
                     THEN least(home + {LATE_SHIFT}, {LATE_NB - 1})
                     ELSE home END AS a
      FROM asg
    ),
    wm AS (
      SELECT b.a, max(arr.ts) - INTERVAL {LATE_WM} AS wm_ts
      FROM (SELECT DISTINCT a FROM arr) b
      JOIN arr ON arr.a <= b.a - {_LATE_WM_LAG}
      GROUP BY b.a
    ),
    lab AS (
      SELECT arr.*, CASE WHEN wm.wm_ts IS NOT NULL
                          AND date_trunc('hour', arr.ts) + INTERVAL 1 HOUR
                              {_LATE_DROP_CMP} wm.wm_ts
                         THEN 1 ELSE 0 END AS dropped
      FROM arr LEFT JOIN wm ON wm.a = arr.a
    )
    SELECT CAST(count(*) AS BIGINT) AS arrived,
           (SELECT CAST(count(DISTINCT (a, date_trunc('hour', ts),
                                        event_type)) AS BIGINT)
            FROM lab WHERE dropped = 1) AS dropped_late,
           CAST(sum(CASE WHEN dropped = 0
                     AND date_trunc('hour', ts) + INTERVAL 1 HOUR <=
                         (SELECT max(ts) - INTERVAL {LATE_WM} FROM arr)
                    THEN 1 ELSE 0 END) AS BIGINT) AS emitted_rows
    FROM lab
"""

PIPELINE_ORACLES: dict[str, str] = {
    "x7_stream_late": _LATE_ORACLE.format(late_bit=_late_bit_sql()),
    "x7_stream_late_audit": _LATE_AUDIT_ORACLE.format(late_bit=_late_bit_sql()),
    # dedup of a doubled stream == the original table (dedup emits rows as
    # processed; no watermark-end withholding applies to non-windowed rows).
    "x7_stream_dedup": """
        SELECT event_id, user_id, event_type, value FROM events ORDER BY event_id
    """,
    "x7_stream_tumbling": f"""
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w, event_type,
               COUNT(*) AS c, ROUND(SUM(value), 2) AS s
        FROM events
        WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= {_WM_END}
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    # streaming HLL: same md5 register scheme as operators/sketch.py,
    # two-level batch SQL (the streaming side flattens to 64 conditional
    # max registers only because streaming forbids chained aggregations),
    # append-mode emission rule.
    "x7_stream_hll": "",  # filled below (needs the sketch SQL helpers)
    # resume: the restart must reproduce the uninterrupted replay — the
    # oracle is the plain full-replay emission rule, integer cents.
    "x7_stream_resume": f"""
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w, event_type,
               CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS BIGINT) AS cents
        FROM events
        WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= {_WM_END}
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "x7_stream_sliding": f"""
        WITH expanded AS (
          SELECT time_bucket(INTERVAL 15 MINUTE, ts) - i.i * INTERVAL 15 MINUTE AS w_start,
                 event_type
          FROM events, (SELECT unnest([0, 1, 2, 3]) AS i) i
        )
        SELECT CAST(w_start AS TIMESTAMP) AS w_start,
               CAST(w_start + INTERVAL 1 HOUR AS TIMESTAMP) AS w_end,
               event_type, COUNT(*) AS c
        FROM expanded
        WHERE w_start + INTERVAL 1 HOUR <= {_WM_END}
        GROUP BY 1, 2, 3 ORDER BY 1, 3
    """,
    "x7_stream_sessions": f"""
        WITH l AS (
          SELECT user_id, ts,
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
          FROM events
        ),
        g AS (
          SELECT user_id, ts,
                 SUM(CASE WHEN pts IS NULL OR ts - pts >= INTERVAL {SESSION_GAP}
                     THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sid
          FROM l
        ),
        s AS (
          SELECT user_id, min(ts) AS s_start,
                 max(ts) + INTERVAL {SESSION_GAP} AS s_end, COUNT(*) AS c
          FROM g GROUP BY user_id, sid
        )
        SELECT CAST(s_start AS TIMESTAMP) AS s_start,
               CAST(s_end AS TIMESTAMP) AS s_end, user_id, c
        FROM s WHERE s_end <= {_WM_END}
        ORDER BY user_id, s_start
    """,
    "x7_stream_stateful": """
        SELECT user_id, COUNT(*) AS events_seen,
               ROUND(SUM(value), 2) AS total_value
        FROM events GROUP BY user_id ORDER BY user_id
    """,
    "x7_stream_enrich": f"""
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w, c_nationkey,
               COUNT(*) AS c, ROUND(SUM(value), 2) AS s
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= {_WM_END}
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "x7_stream_join": f"""
        SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
               CAST(a.ts AS TIMESTAMP) AS a_ts, CAST(b.ts AS TIMESTAMP) AS b_ts
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'click' AND b.event_type = 'purchase'
         AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL {JOIN_BOUND}
        ORDER BY a.user_id, a_id, b_id
    """,
    "t1_roundtrip_csv": """
        SELECT * FROM orders ORDER BY o_orderkey
    """,
    "t2_roundtrip_jsonl": """
        SELECT * FROM orders ORDER BY o_orderkey
    """,
    "t8_roundtrip_xlsx": f"""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(TRUNC(o_totalprice) AS BIGINT) AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_custkey < {XLSX_CUST_MAX} ORDER BY o_orderkey
    """,
    "t3_roundtrip_parquet": """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderstatus = 'F' ORDER BY o_orderkey
    """,
    "t4_roundtrip_orc": """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders
        WHERE o_totalprice >= 100000 AND o_totalprice < 150000
        ORDER BY o_orderkey
    """,
    "x7_stream_upsert": """
        SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        WHERE rn = 1 ORDER BY user_id
    """,
    "x7_stream_outliers": f"""
        WITH e AS (
          SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents, ts
          FROM events WHERE value IS NOT NULL
        ),
        h AS (SELECT event_type, cents, count(*) AS c FROM e GROUP BY 1, 2),
        w AS (SELECT event_type, cents,
                     SUM(c) OVER (PARTITION BY event_type ORDER BY cents) AS cum,
                     SUM(c) OVER (PARTITION BY event_type) AS n
              FROM h),
        m AS (SELECT event_type, MIN(cents) AS med FROM w
              WHERE cum >= (n + 1) // 2 GROUP BY 1),
        d AS (SELECT e.event_type, abs(e.cents - m.med) AS dev
              FROM e JOIN m USING (event_type)),
        h2 AS (SELECT event_type, dev, count(*) AS c FROM d GROUP BY 1, 2),
        w2 AS (SELECT event_type, dev,
                      SUM(c) OVER (PARTITION BY event_type ORDER BY dev) AS cum,
                      SUM(c) OVER (PARTITION BY event_type) AS n
               FROM h2),
        m2 AS (SELECT event_type, MIN(dev) AS mad FROM w2
               WHERE cum >= (n + 1) // 2 GROUP BY 1)
        SELECT CAST(date_trunc('hour', e.ts) AS TIMESTAMP) AS w, e.event_type,
               COUNT(*) AS n_anom
        FROM e JOIN m USING (event_type) JOIN m2 USING (event_type)
        WHERE abs(e.cents - m.med) > {STREAM_OUT_K} * m2.mad
          AND date_trunc('hour', e.ts) + INTERVAL 1 HOUR <= {_WM_END}
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "x7_stream_topk": f"""
        WITH agg AS (
          SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w, event_type,
                 COUNT(*) AS c
          FROM events
          WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= {_WM_END}
          GROUP BY 1, 2
        )
        SELECT w, event_type, c, CAST(rk AS INT) AS rk FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY w
                      ORDER BY c DESC, event_type) AS rk FROM agg)
        WHERE rk <= {STREAM_TOPK} ORDER BY w, rk
    """,
}


def _stream_ewma_oracle() -> str:
    # same fold text discipline as plans/oracles._ewma_oracle: constants
    # shared with the Spark plan, list_reduce's first element = s_1.
    from diepy_spark.plans.relational import EWMA_ALPHA

    a, b = repr(EWMA_ALPHA), repr(1.0 - EWMA_ALPHA)
    return f"""
        WITH s AS (
          SELECT user_id, list(value ORDER BY ts, event_id) AS vs
          FROM events GROUP BY user_id
        )
        SELECT user_id, CAST(len(vs) AS BIGINT) AS n_events,
               list_reduce(vs, (acc, x) -> {a} * x + {b} * acc) AS ewma
        FROM s ORDER BY user_id
    """


PIPELINE_ORACLES["x7_stream_ewma"] = _stream_ewma_oracle()


# Nested roundtrip oracle: the same flattened relation built relationally
# — if any layer of the JSON nest (struct fields, array elements, array
# order) were lost or reordered, the row set or the pos column diverges.
PIPELINE_ORACLES["t5_roundtrip_nested"] = """
    WITH it AS (
      SELECT l_orderkey, l_linenumber AS ln,
             CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS qty_c,
             CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey
                    ORDER BY l_linenumber,
                             CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS INT) AS pos
      FROM lineitem WHERE l_orderkey < 4000
    )
    SELECT o.o_orderkey, o.o_orderstatus AS status,
           CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c,
           it.pos, it.ln, it.qty_c
    FROM orders o JOIN it ON it.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey < 4000
    ORDER BY o.o_orderkey, it.pos
"""


def _stream_cluster_assign_oracle() -> str:
    # the unrolled k-means chain at the SemDeDup constants; final cell
    # assignment counts — what the streaming replay must converge to.
    from diepy_spark.plans.extended import SD_ITER, SD_SCALE, _kmeans_ctes

    ctes = _kmeans_ctes(iters=SD_ITER, scale=SD_SCALE)
    ctes.append(f"""cd AS (
        SELECT u.vec_id, c.cluster, SUM((u.x - c.c) * (u.x - c.c)) AS dist
        FROM u JOIN c{SD_ITER} c ON c.i = u.i GROUP BY 1, 2)""")
    ctes.append("""cell AS (
        SELECT vec_id, cluster FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY dist, cluster) AS rn FROM cd) WHERE rn = 1)""")
    return (
        "WITH " + ",\n".join(ctes)
        + """
        SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs
        FROM cell GROUP BY 1 ORDER BY cluster"""
    )


PIPELINE_ORACLES["x7_stream_cluster_assign"] = _stream_cluster_assign_oracle()

PIPELINE_ORACLES["t6_bucketed_join"] = """
    SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON c_custkey = o_custkey
    GROUP BY c_nationkey ORDER BY c_nationkey
"""

PIPELINE_ORACLES["t7_write_audit_publish"] = """
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

def _stream_ingest_oracle() -> str:
    """Batch statement of x7_stream_ingest: same split, same token gate,
    same fingerprint-index membership — stated over the documents table."""
    from diepy_spark.plans.extended import (
        CLEAN_MIN_TOKENS,
        INC_DEDUP_MOD,
        _TOKS_EXPR,
    )

    return f"""
    WITH idx AS (
      SELECT DISTINCT md5(text) AS fp FROM documents
      WHERE doc_id % {INC_DEDUP_MOD} != 0
    ),
    arr AS (
      SELECT d.lang,
             CASE WHEN len({_TOKS_EXPR}) >= {CLEAN_MIN_TOKENS}
                  THEN 1 ELSE 0 END AS gate_ok,
             CASE WHEN i.fp IS NOT NULL THEN 1 ELSE 0 END AS dup
      FROM documents d LEFT JOIN idx i ON i.fp = md5(d.text)
      WHERE d.doc_id % {INC_DEDUP_MOD} = 0
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS arrived,
           CAST(SUM(1 - gate_ok) AS BIGINT) AS gated_out,
           CAST(SUM(dup) AS BIGINT) AS dup_of_index,
           CAST(SUM(gate_ok * (1 - dup)) AS BIGINT) AS kept
    FROM arr GROUP BY lang ORDER BY lang
    """


PIPELINE_ORACLES["x7_stream_ingest"] = _stream_ingest_oracle()


PIPELINE_ORACLES["t9_compaction"] = """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS users,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents_sum
    FROM events GROUP BY event_type ORDER BY event_type
"""

PIPELINE_ORACLES["t10_schema_evolution"] = """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderpriority,
           CASE WHEN o_custkey % 2 = 1
                THEN CAST(substring(o_orderpriority, 1, 1) AS INT)
                ELSE NULL END AS priority_rank
    FROM orders ORDER BY o_orderkey
"""

from diepy_spark.plans.extended import TAKEDOWN_MOD as _TD_MOD  # noqa: E402

PIPELINE_ORACLES["x7_stream_takedown"] = f"""
    WITH tdl AS (SELECT DISTINCT user_id AS k FROM events
                 WHERE user_id % {_TD_MOD} = 0)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS arrived,
           CAST(sum(CASE WHEN user_id IN (SELECT k FROM tdl)
                    THEN 1 ELSE 0 END) AS BIGINT) AS blocked,
           CAST(sum(CASE WHEN user_id IN (SELECT k FROM tdl)
                    THEN 0 ELSE 1 END) AS BIGINT) AS passed
    FROM events GROUP BY event_type ORDER BY event_type
"""


def _stream_hll_oracle_sql() -> str:
    """Mirror of x7_stream_hll: same register scheme, two-level batch
    grouping (mathematically identical to the 64 conditional maxes —
    per-(window, bucket) max then an exact power-of-two fold), same
    alpha/linear-counting literals, append-mode emission rule."""
    from diepy_spark.operators.sketch import hll_bucket_sql, hll_rho_sql

    m, alpha = STREAM_HLL_M, STREAM_HLL_ALPHA
    raw = f"({alpha!r} * {m} * {m} / (s + ({m} - nb)))"
    return f"""
    WITH h AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w,
             md5(CAST(user_id AS VARCHAR)) AS h
      FROM events
    ),
    r AS (SELECT w, ({hll_bucket_sql('h')}) % {m} AS b,
                 {hll_rho_sql('h')} AS rho FROM h),
    reg AS (SELECT w, b, max(rho) AS mr FROM r GROUP BY 1, 2),
    agg AS (SELECT w, CAST(sum(power(2.0, -mr)) AS DOUBLE) AS s,
                   CAST(count(*) AS BIGINT) AS nb FROM reg GROUP BY 1)
    SELECT w, nb AS buckets_seen,
           round(CASE WHEN {raw} <= {2.5 * m!r} AND ({m} - nb) > 0
                      THEN {float(m)!r} * ln({m} / ({m} - nb))
                      ELSE {raw} END, 4) AS hll_users
    FROM agg
    WHERE w + INTERVAL 1 HOUR <= {_WM_END}
    ORDER BY w
"""


PIPELINE_ORACLES["x7_stream_hll"] = _stream_hll_oracle_sql()


def _stream_psi_oracle() -> str:
    """Mirror of x7_stream_psi: same integer binning and Laplace texts,
    same append-mode finalization rule (windows whose END has passed the
    final watermark — the x7_stream_tumbling _WM_END idiom, at day
    grain), same bin-ordered fold per day."""
    term_row = _spsi_term("n_base", "n_obs", "tb", "tn")
    return f"""
    WITH ev AS (
      SELECT ts, CAST(round(value * 100) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    ),
    binned AS (
      SELECT ts, least(CAST(floor(c / {SPSI_BIN_CENTS}) AS BIGINT),
                       CAST({SPSI_NBINS - 1} AS BIGINT)) AS bin
      FROM ev
    ),
    base AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_base
             FROM binned GROUP BY 1),
    emitted AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, bin
      FROM binned
      WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= {_WM_END}
    ),
    days AS (SELECT DISTINCT day FROM emitted),
    obs AS (SELECT day, bin, CAST(count(*) AS BIGINT) AS n_obs
            FROM emitted GROUP BY 1, 2),
    dim AS (SELECT day, CAST(range AS BIGINT) AS bin
            FROM days, range({SPSI_NBINS})),
    j AS (SELECT dim.day, dim.bin,
                 CAST(coalesce(b.n_base, 0) AS BIGINT) AS n_base,
                 CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs
          FROM dim
          LEFT JOIN obs o ON o.day = dim.day AND o.bin = dim.bin
          LEFT JOIN base b ON b.bin = dim.bin),
    j2 AS (SELECT day, bin, n_base, n_obs,
                  CAST(sum(n_base) OVER (PARTITION BY day) AS BIGINT) AS tb,
                  CAST(sum(n_obs) OVER (PARTITION BY day) AS BIGINT) AS tn
           FROM j)
    SELECT CAST(CAST(day AS DATE) AS STRING) AS day,
           CAST(sum(n_obs) AS BIGINT) AS n_rows,
           round(CAST(list_sum(list(({term_row}) ORDER BY bin)) AS DOUBLE),
                 6) AS psi
    FROM j2 GROUP BY day ORDER BY day
    """


PIPELINE_ORACLES["x7_stream_psi"] = _stream_psi_oracle()


PIPELINE_ORACLES["x7_stream_quantiles"] = f"""
    WITH ev AS (
      SELECT ts, CAST(round(value * 100) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    ),
    binned AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             least(CAST(floor(c / {SQNT_BIN_CENTS}) AS BIGINT),
                   CAST({SQNT_NBINS - 1} AS BIGINT)) AS bin
      FROM ev
      WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= {_WM_END}
    ),
    h AS (SELECT day, bin, CAST(count(*) AS BIGINT) AS n_obs
          FROM binned GROUP BY 1, 2),
    r AS (SELECT day, bin, n_obs,
                 CAST(sum(n_obs) OVER (PARTITION BY day ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                 CAST(sum(n_obs) OVER (PARTITION BY day) AS BIGINT) AS n
          FROM h),
    per AS (
      SELECT day, CAST(max(n) AS BIGINT) AS n_rows,
             min(CASE WHEN cum * 100 >= n * 50 THEN bin END) AS b50,
             min(CASE WHEN cum * 100 >= n * 90 THEN bin END) AS b90,
             min(CASE WHEN cum * 100 >= n * 99 THEN bin END) AS b99
      FROM r GROUP BY 1
    )
    SELECT CAST(CAST(day AS DATE) AS STRING) AS day, n_rows,
           CAST((b50 + 1) * {SQNT_BIN_CENTS} AS DOUBLE) / 100.0 AS p50,
           CAST((b90 + 1) * {SQNT_BIN_CENTS} AS DOUBLE) / 100.0 AS p90,
           CAST((b99 + 1) * {SQNT_BIN_CENTS} AS DOUBLE) / 100.0 AS p99
    FROM per ORDER BY day
"""


CUSUM_W = 50           # calibration events per type
CUSUM_K_CENTS = 500    # slack k (cents) — Page's allowance per event
CUSUM_H = 5_000_000    # alarm threshold in cents*W units


def x7_stream_cusum(spark, sf_dir):
    """Streaming CUSUM drift detection (streaming/events.py:
    cusum_stateful) — the ONLINE changepoint monitor beside the batch
    x8_cusum_changepoint locator: per event type, calibrate a
    reference level from the first CUSUM_W events, then carry
    g = max(0, g + (cents*W - s_cal - k*W)) across micro-batches in
    five-integer state, alarming (and resetting) when g crosses
    CUSUM_H.  Pure BIGINT state — the batch fold reproduces it
    bit-for-bit with no float concern.  Update mode emits the running
    state per touched type each batch; the final row per type (max
    n_events) is the replay's answer."""
    src = (
        _events_src(spark, sf_dir)
        .where(F.col("value").isNotNull())
        .selectExpr(
            "event_type",
            "ts",
            "event_id",
            "CAST(round(value * 100) AS BIGINT) AS cents",
        )
    )
    out = _run_stream(
        ST.cusum_stateful(
            src, w=CUSUM_W, k_cents=CUSUM_K_CENTS, h=CUSUM_H
        ),
        "update",
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("n_events").desc()
    )
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .selectExpr(
            "event_type",
            "n_events",
            "s_cal",
            "g",
            "max_g",
            "n_alarms",
            f"round(CAST(s_cal AS DOUBLE) / ({CUSUM_W} * 100), 6)"
            " AS mu0",
        )
        .orderBy("event_type")
    )


PIPELINE_QUERIES["x7_stream_cusum"] = x7_stream_cusum


def _stream_cusum_oracle() -> str:
    """Batch fold replay of cusum_stateful: BIGINT-list accumulator
    [n, s_cal, g, mx, alarms]; the element list is PADDED to the max
    per-type length with NULLs (the list_reduce cross-row hazard —
    tests/test_fold_stability.py) and the x[1] IS NULL guard no-ops
    the padding steps."""
    W, K, H = CUSUM_W, CUSUM_K_CENTS, CUSUM_H
    g2 = f"greatest(acc[3] + (x[1] * {W} - acc[2] - {K} * {W}), 0)"
    step = (
        "CASE WHEN x[1] IS NULL THEN acc"
        f" WHEN acc[1] < {W} THEN"
        " [acc[1] + 1, acc[2] + x[1], acc[3], acc[4], acc[5]]"
        f" WHEN {g2} > {H} THEN"
        f" [acc[1] + 1, acc[2], 0, greatest(acc[4], {g2}), acc[5] + 1]"
        " ELSE"
        f" [acc[1] + 1, acc[2], {g2}, greatest(acc[4], {g2}), acc[5]]"
        " END"
    )
    return f"""
        WITH s AS (
          SELECT event_type,
                 list(CAST(round(value * 100) AS BIGINT)
                      ORDER BY ts, event_id) AS vs
          FROM events WHERE value IS NOT NULL GROUP BY event_type
        ),
        mxn AS (SELECT max(len(vs)) AS mxn FROM s),
        f AS (
          SELECT event_type, len(vs) AS n,
                 list_reduce(
                   list_prepend(CAST([0, 0, 0, 0, 0] AS BIGINT[]),
                     list_transform(
                       list_resize(vs, (SELECT mxn FROM mxn), NULL),
                       v -> [v])),
                   (acc, x) -> {step}) AS st
          FROM s
        )
        SELECT event_type, CAST(n AS BIGINT) AS n_events,
               st[2] AS s_cal, st[3] AS g, st[4] AS max_g,
               st[5] AS n_alarms,
               round(CAST(st[2] AS DOUBLE) / ({W} * 100), 6) AS mu0
        FROM f ORDER BY event_type
    """


PIPELINE_ORACLES["x7_stream_cusum"] = _stream_cusum_oracle()
