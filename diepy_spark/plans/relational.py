"""The declared relational query set (SURVEY.md §2.7, R1–R26).

Each query is a pure DataFrame-API plan builder `(spark, sf_dir) -> DataFrame`.
Everything here is declarative: Catalyst performs predicate pushdown, column
pruning, join selection (broadcast for `nation`/`region`/`part` dims),
partial aggregation, and AQE runtime re-planning. No RDDs, no Python UDFs.

Naming contract: every computed column is aliased identically to the oracle
SQL in plans/oracles.py (the driver hashes columns by name).

Scale notes (100 TB mindset) appear per-query where non-obvious.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.types import DecimalType

from diepy_spark.sources.registry import load_table

DEC = DecimalType(18, 2)


def _dec_sum(col, alias):
    """Exact money aggregation: cast to DECIMAL(18,2) *before* SUM (contract
    pinned in SURVEY §2.7) so aggregation order can't perturb the result,
    then cast the exact sum to DOUBLE for the output. Rationale: pandas-side
    representations of decimals differ between engines (DuckDB fetchdf →
    float64, Spark/Arrow → Decimal objects); an exact decimal cast to double
    is bit-identical in both."""
    return F.sum(F.col(col).cast(DEC)).cast("double").alias(alias)


# --------------------------------------------------------------------------
# R1–R26
# --------------------------------------------------------------------------

def r1_scan_projection(spark, sf_dir):
    """Ordered projection scan (diepy export analog). Column pruning reaches
    the parquet footer: only 4 of 11 lineitem columns are read."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag").orderBy(
        "l_orderkey", "l_linenumber"
    )


def r2_filter(spark, sf_dir):
    """Filter + projection; both predicates push down to the parquet scan."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.where((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 100000))
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


def r3_hash_aggregate(spark, sf_dir):
    """TPC-H Q1 shape: multi-key hash aggregate with exact decimal sums.
    Partial (map-side) aggregation means the shuffle carries only
    |groups| x partitions rows regardless of input size."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            _dec_sum("l_quantity", "sum_qty"),
            _dec_sum("l_extendedprice", "sum_price"),
            F.min("l_shipdate").alias("min_ship"),
            F.max("l_shipdate").alias("max_ship"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def r4_join3_aggregate(spark, sf_dir):
    """3-way equi-join + aggregate. `nation` (25 rows) is explicitly
    broadcast; customer⋈orders shuffles on the join key once."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("num_orders"), _dec_sum("o_totalprice", "revenue"))
        .orderBy("n_name")
    )


def r5_left_outer_join(spark, sf_dir):
    """Left outer join + count of non-null keys (COUNT(col) semantics)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("cnt"))
        .orderBy("c_custkey")
    )


def r6_semi_join(spark, sf_dir):
    """IN-subquery as an explicit left-semi join (what Catalyst rewrites the
    subquery to anyway)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 200000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def r7_anti_join(spark, sf_dir):
    """NOT IN as left-anti join. Safe because o_custkey is non-nullable in
    this data (NOT IN with NULLs would yield empty — documented)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 350000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey").orderBy("c_custkey")


def r8_topk(spark, sf_dir):
    """Top-k: ORDER BY ... LIMIT k compiles to TakeOrderedAndProject — a
    per-partition heap + single small merge, never a global sort."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", F.col("o_totalprice").cast(DEC).cast("double").alias("p"))
        .orderBy(F.col("p").desc(), "o_orderkey")
        .limit(10)
    )


def r9_distinct(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.select("o_orderpriority").distinct().orderBy("o_orderpriority")


def r10_union(spark, sf_dir):
    """UNION (dedup) — union all + distinct, one shuffle."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.union(s).distinct().orderBy("k")


def r11_date_functions(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("int").alias("y"),
            F.month("o_orderdate").cast("int").alias("m"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy("y", "m")
    )


def r12_string_functions(spark, sf_dir):
    r = load_table(spark, sf_dir, "region")
    return r.select(
        F.upper("r_name").alias("u"),
        F.lower("r_name").alias("l"),
        F.length("r_name").alias("n"),
        F.substring("r_name", 1, 3).alias("s3"),
        F.trim(F.concat(F.lit("  "), F.col("r_name"), F.lit("  "))).alias("t"),
        F.col("r_name"),
    ).orderBy("r_name").drop("r_name")


def r13_conditional_aggregation(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.sum(F.when(F.col("o_totalprice") > 150000, 1).otherwise(0)).cast("bigint").alias("hi"),
            F.sum(F.when(F.col("o_totalprice") <= 150000, 1).otherwise(0)).cast("bigint").alias("lo"),
        )
        .orderBy("o_orderstatus")
    )


def r14_ranking_window(spark, sf_dir):
    """Top-2 per group via row_number. Sort happens only within each
    o_custkey partition after one shuffle — no global sort."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.select("o_custkey", "o_orderkey", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= 2)
        .orderBy("o_custkey", "rk")
    )


def r15_dedup_accounting(spark, sf_dir):
    """Exact-dup operator (X1) accounting shape."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("total"), F.countDistinct("text").alias("distinct_texts"))
        .orderBy("lang")
    )


def r16_tumbling_window(spark, sf_dir):
    """Batch analog of streaming tumbling window (X7): date_trunc bucketing."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("c"),
            # exact decimal(18,4) sum -> double -> round: order-insensitive
            F.round(F.sum(F.col("value").cast(DecimalType(18, 4))).cast("double"), 2).alias("s"),
        )
        .orderBy("w", "event_type")
    )


def r17_text_stats(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min("n_chars").alias("mn"),
            F.max("n_chars").alias("mx"),
            F.sum("n_chars").cast("bigint").alias("s"),
        )
        .orderBy("source")
    )


def r18_rollup(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.asc_nulls_first("l_returnflag"), F.asc_nulls_first("l_linestatus"))
    )


def r19_range_join(spark, sf_dir):
    """Non-equi (range) join. The equi key p_partkey=l_partkey drives the
    join strategy (hash/broadcast); the BETWEEN is a post-join filter, so
    this stays O(matching pairs), not a cartesian. `part` is a broadcast
    candidate at any SF where it fits (it's the small side here)."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (p.p_partkey == li.l_partkey) & li.l_quantity.between(
        p.p_size - 5, p.p_size + 5
    )
    return (
        broadcast(p).join(li, cond)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy("p_brand")
    )


def r20_cosine_pairs(spark, sf_dir):
    """Pairwise cosine over unnested embeddings (X3 exact analog).
    posexplode gives (i, x); pairs join on position. The vec_id<20 filter
    pushes to the scan, so the pair join is tiny. At scale the bounded
    candidate set comes from LSH bucketing (operators/similarity.py)."""
    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 20)
    u = e.select("vec_id", F.posexplode("embedding").alias("i", "x"))
    a = u.alias("a")
    b = u.alias("b")
    j = a.join(b, (F.col("a.i") == F.col("b.i")) & (F.col("a.vec_id") < F.col("b.vec_id")))
    return (
        j.groupBy(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .agg(
            F.round(
                F.sum(F.col("a.x") * F.col("b.x"))
                / (F.sqrt(F.sum(F.col("a.x") * F.col("a.x"))) * F.sqrt(F.sum(F.col("b.x") * F.col("b.x")))),
                4,
            ).alias("cos")
        )
        .orderBy("vec_a", "vec_b")
        .limit(20)
    )


def r21_intersect(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.intersect(s).orderBy("k")


def r22_except(spark, sf_dir):
    a = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("k"))
    )
    b = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 300000)
        .select(F.col("o_orderkey").alias("k"))
    )
    return a.subtract(b).orderBy("k")  # EXCEPT (distinct) semantics


def r23_cube(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.asc_nulls_first("o_orderstatus"), F.asc_nulls_first("o_orderpriority"))
    )


def r24_sliding_frame(spark, sf_dir):
    """7-row moving sum over per-day counts (window frame spec)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("event_type").orderBy("d").rowsBetween(-6, 0)
    return (
        daily.select(
            "event_type", "d", F.sum("c").over(w).cast("bigint").alias("c7")
        )
        .orderBy("event_type", "d")
        .limit(100)
    )


def r25_json_extraction(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy((F.get_json_object("props", "$.k").cast("int") % 10).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy("bucket")
    )


def r26_lag_window(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("d")).agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("d")
    return (
        daily.select("d", "c", (F.col("c") - F.lag("c", 1, 0).over(w)).alias("delta"))
        .orderBy("d")
        .limit(60)
    )


def r27_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (not derivable from rollup/cube) + the
    grouping() marker — one shuffle, grouping-set expansion map-side."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_r27")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               COUNT(*) AS c
        FROM orders_r27
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
        """
    )


def r28_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (≡ ANSI percentile_cont,
    Spark `percentile()` interpolation weights) — now via the
    value-frequency histogram + distributed block running sum
    (operators/robust.freq_quantile_cont) instead of `percentile()`,
    whose aggregation buffer holds every group row (the carried r28
    scale-weakness: ~3 groups x all of lineitem in one buffer at 100 TB).
    State is now bounded by the distinct-value domain (l_quantity: 50
    values; l_extendedprice: a cents grid that saturates at scale), the
    cumsum never sees a group-sized window, and the result is
    bit-identical to the old plan (same oracle, hash-verified).

    The base->qs join is LEFT so a group whose metric values are all
    NULL (impossible on TPC-H NOT NULL columns, but part of the
    percentile() contract) still emits its row with NULL quantiles —
    freq_quantile_cont_multi has no frequency rows for such a group
    (ADVICE r12)."""
    from diepy_spark.operators.robust import freq_quantile_cont_multi

    li = load_table(spark, sf_dir, "lineitem")
    # r13 (guide §2.3): ONE corpus pass total — n and avg_qty both derive
    # from the value-frequency table inside the operator (avg(l_quantity)
    # == sum(v*c)/sum(c) bit-exactly: l_quantity is an integral grid, so
    # every partial sum is exact in a double), and the group universe for
    # the ADVICE-r12 left join is a one-column distinct instead of a
    # second full aggregate over lineitem. Was 3 lineitem passes
    # (base avg + melted freq + melted n), now 1 + the narrow flag scan.
    qs = freq_quantile_cont_multi(
        li,
        "l_returnflag",
        {"mq": ("l_quantity", 0.5), "pp": ("l_extendedprice", 0.9)},
        mean_cols={"avg_qty": "mq"},
    )
    base = li.select("l_returnflag").distinct()
    return (
        base.join(qs, "l_returnflag", "left")
        .select(
            "l_returnflag",
            F.round("mq", 4).alias("median_qty"),
            F.round("pp", 4).alias("p90_price"),
            F.round("avg_qty", 4).alias("avg_qty"),
        )
        .orderBy("l_returnflag")
    )


R28B_QTY_W = 5      # l_quantity in [1, 50] -> 10 buckets
R28B_PRICE_W = 1000  # l_extendedprice ~[900, 105k] -> ~105 buckets


def r28b_histogram_quantiles(spark, sf_dir):
    """Scale-safe sibling of r28: fixed-width HISTOGRAM quantiles. r28's
    exact percentile() buffers every group value in aggregation state —
    unbounded at 100 TB with ~3 groups; here state is bounded by the bucket
    count (10 / ~105 buckets) and the error is bounded by the bucket width.
    Production pipelines should use this shape (or approx_percentile);
    r28's exact form is pinned only for bit-exact oracle parity.

    One pass: each row explodes into two (metric, bucket) entries (narrow),
    one shuffle aggregates (flag, metric, bucket) counts with map-side
    partial agg, then the cumulative window + final rollup run on a frame
    of #groups x #buckets rows — trivially small at any corpus scale. The
    estimate (lower edge of the first bucket whose cumulative count reaches
    ceil(q*n)) is deterministic and identical in DuckDB."""
    li = load_table(spark, sf_dir, "lineitem")
    mb = F.explode(
        F.array(
            F.struct(
                F.lit("qty").alias("metric"),
                F.floor(F.col("l_quantity").cast("double") / R28B_QTY_W).alias("bucket"),
            ),
            F.struct(
                F.lit("price").alias("metric"),
                F.floor(F.col("l_extendedprice").cast("double") / R28B_PRICE_W).alias("bucket"),
            ),
        )
    )
    h = (
        li.select(F.col("l_returnflag"), mb.alias("mb"))
        .select("l_returnflag", F.col("mb.metric").alias("metric"), F.col("mb.bucket").alias("bucket"))
        .groupBy("l_returnflag", "metric", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wcum = Window.partitionBy("l_returnflag", "metric").orderBy("bucket")
    wall = Window.partitionBy("l_returnflag", "metric")
    w = h.select(
        "l_returnflag", "metric", "bucket",
        F.sum("c").over(wcum).alias("cum"), F.sum("c").over(wall).alias("n"),
    )

    def _est(metric, q, width):
        hit = (F.col("metric") == metric) & (
            F.col("cum") >= F.ceil(F.col("n") * F.lit(q))
        )
        return F.min(F.when(hit, F.col("bucket") * width))

    return (
        w.groupBy("l_returnflag")
        .agg(
            _est("qty", 0.5, R28B_QTY_W).cast("double").alias("median_qty_est"),
            _est("price", 0.9, R28B_PRICE_W).cast("double").alias("p90_price_est"),
        )
        .orderBy("l_returnflag")
    )


def r29_exists_subquery(spark, sf_dir):
    """Correlated EXISTS with an extra predicate — decorrelated by Catalyst
    into a semi join (same physical shape as R6)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_r29")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_r29")
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM customer_r29 c
        WHERE EXISTS (SELECT 1 FROM orders_r29 o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
        ORDER BY c_custkey
        """
    )


def r30_regexp(spark, sf_dir):
    """Regexp extract/replace/count over customer names — scalar string
    kernel, fully codegen'd, no shuffle before the final sort."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.where(F.col("c_custkey") < 1000)
        .select(
            "c_custkey",
            F.regexp_extract("c_name", r"#(\d+)", 1).cast("bigint").alias("cust_num"),
            F.regexp_replace("c_name", r"\d", "x").alias("name_masked"),
            F.size(F.split("c_mktsegment", r"[^A-Z]+")).alias("segment_words"),
        )
        .orderBy("c_custkey")
    )


def r31_array_agg(spark, sf_dir):
    """Sorted array aggregation per group: collect_list is order-
    nondeterministic under parallel aggregation BY DESIGN, so determinism
    comes from sort_array on top (same contract as DuckDB list_sort)."""
    n = load_table(spark, sf_dir, "nation")
    return (
        n.groupBy("n_regionkey")
        .agg(
            F.sort_array(F.collect_list("n_name")).alias("nations"),
            F.count(F.lit(1)).alias("c"),
        )
        .select(
            "n_regionkey",
            F.concat_ws("|", "nations").alias("nations"),
            "c",
        )
        .orderBy("n_regionkey")
    )


def r32_asof_join(spark, sf_dir):
    """As-of join (operator Spark lacks natively): each click event picks up
    the latest prior-or-equal view by the same user. Implemented as
    union + windowed last_value (operators/timeseries.py) — one shuffle on
    user_id, no range-join explosion. Inner semantics via the view_id
    filter; oracle is DuckDB's native ASOF JOIN."""
    from diepy_spark.operators.timeseries import asof_join

    e = load_table(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("ts"), F.col("event_id").alias("click_id")
    )
    views = e.where(F.col("event_type") == "view").select(
        F.col("user_id"),
        F.col("ts"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    return (
        asof_join(clicks, views, on=["user_id"], ts_col="ts")
        .where(F.col("view_id").isNotNull())
        .select("click_id", F.col("ts").alias("click_ts"), "view_id", "view_ts")
        .orderBy("click_id")
    )


def r33_kmv_sketch(spark, sf_dir):
    """Distinct-count sketch (KMV, k=64) per language over document texts,
    with the exact count alongside to exhibit estimator quality. The md5
    hash and hex->fraction arithmetic are engine-portable, so the DuckDB
    oracle reproduces the estimate bit-for-bit (operators/sketch.py)."""
    from diepy_spark.operators.sketch import kmv_distinct

    d = load_table(spark, sf_dir, "documents")
    return kmv_distinct(d, on=["lang"], value_col="text", k=64, include_exact=True).orderBy(
        "lang"
    )


def r34_sessionize(spark, sf_dir):
    """Batch gap-sessionization (30-minute gap) of the event stream: session
    bounds, event count, and exact-decimal value sum per (user, session).
    One shuffle on user_id + in-partition sort (operators/timeseries.py);
    the batch analog of the streaming session window."""
    from diepy_spark.operators.timeseries import assign_sessions

    e = load_table(spark, sf_dir, "events")
    s = assign_sessions(e, on=["user_id"], ts_col="ts", gap_seconds=1800, tiebreak=["event_id"])
    return (
        s.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(DecimalType(18, 4))).cast("double"), 2).alias(
                "sum_value"
            ),
        )
        .select("user_id", "session_start", "session_end", "n_events", "sum_value")
        .orderBy("user_id", "session_start")
    )


def r35_pivot(spark, sf_dir):
    """Pivot (long->wide): order counts by priority x status. Spark's
    groupBy().pivot() with an EXPLICIT value list — never let pivot run its
    hidden distinct-collect job at 100 TB; with pinned values it's a single
    hash aggregate with conditional counters, same plan as the oracle's
    CASE form."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
        .orderBy("o_orderpriority")
    )


def r51_unpivot(spark, sf_dir):
    """Unpivot (wide->long, the melt operation): the r35 priority x
    status count grid flattens back to (priority, status, n) rows via
    DataFrame.unpivot — Spark's Expand node, one pass, no shuffle beyond
    the source aggregate. Zero cells are dropped so the long form equals
    the plain GROUP BY the oracle states (the pivot/unpivot pair is
    lossless on the populated cells)."""
    o = load_table(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    long = wide.unpivot(
        ids=["o_orderpriority"],
        values=["F", "O", "P"],
        variableColumnName="o_orderstatus",
        valueColumnName="n",
    )
    return long.where(F.col("n").isNotNull()).orderBy(
        "o_orderpriority", "o_orderstatus"
    )


EWMA_ALPHA = 0.5


def r52_ewma(spark, sf_dir):
    """Per-user exponential smoothing over the event stream
    (operators/timeseries.py:ewma — the applyInPandas recurrence, ONE
    shuffle on user_id): s_1 = x_1, s_t = a*x_t + (1-a)*s_{t-1} ordered
    by (ts, event_id). Summarized per user: event count, the smoothed
    value at the final event, and the running-series max/min — numbers
    that depend on EVERY intermediate state, so a single drifted float
    op anywhere in the recurrence fails the hash."""
    from diepy_spark.operators.timeseries import ewma

    ev = load_table(spark, sf_dir, "events")
    sm = ewma(
        ev,
        on=["user_id"],
        ts_col="ts",
        value_col="value",
        alpha=EWMA_ALPHA,
        tiebreak=["event_id"],
    )
    return (
        sm.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max_by("ewma", F.struct("ts", "event_id")).alias("ewma_last"),
            F.max("ewma").alias("ewma_max"),
            F.min("ewma").alias("ewma_min"),
        )
        .orderBy("user_id")
    )


def r54_mode(spark, sf_dir):
    """Per-group modal value (most frequent order priority per order
    status) — the MODE() aggregate built scale-safe: count per (group,
    value) with map-side combine, then one top-1 window (ties -> the
    lexically smallest value, pinned in both engines). Never Spark's
    mode() (tie choice is engine-internal) and never a value buffer."""
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("cnt").desc(), F.col("o_orderpriority")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("cnt").alias("mode_count"),
        )
        .orderBy("o_orderstatus")
    )


def r55_weighted_median(spark, sf_dir):
    """Per-group WEIGHTED median (l_quantity weighted by extended-price
    cents) — the exact-at-scale shape shared with r28b/r50: collapse to a
    value-frequency histogram with integer weights (map-side combined),
    one cumulative window over the value order, then the integer rank
    test 2*cum >= total. No per-group value buffer anywhere, so group
    cardinality is the only memory driver — unlike percentile(), which
    buffers every raw value (the r28 scale-shape exception)."""
    li = load_table(spark, sf_dir, "lineitem")
    h = (
        li.select(
            "l_returnflag",
            (F.col("l_quantity").cast(DEC) * 100).cast("bigint").alias("q"),
            (F.col("l_extendedprice").cast(DEC) * 100).cast("bigint").alias("w"),
        )
        .groupBy("l_returnflag", "q")
        .agg(F.sum("w").alias("wc"))
    )
    wcum = Window.partitionBy("l_returnflag").orderBy("q").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wtot = Window.partitionBy("l_returnflag")
    return (
        h.withColumn("cum", F.sum("wc").over(wcum))
        .withColumn("tot", F.sum("wc").over(wtot))
        .where(2 * F.col("cum") >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(F.min("q").alias("qmin"))
        .select(
            "l_returnflag",
            F.round(F.col("qmin") / 100.0, 2).alias("weighted_median_qty"),
        )
        .orderBy("l_returnflag")
    )


def r56_trailing_range_window(spark, sf_dir):
    """RANGE-frame trailing window — per-customer spend over the trailing
    7 DAYS (value-based frame, not row count: RANGE BETWEEN 6 PRECEDING
    AND CURRENT ROW over the epoch-day index). The frame r37/r49 don't
    cover: rows-frames count events, range-frames measure time, and same-
    day orders share one frame (ties enter together — deterministic
    without a tiebreak). Money stays integer cents inside the frame sum;
    one shuffle on o_custkey."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 500)
    d = o.select(
        "o_custkey",
        "o_orderkey",
        F.expr(f"unix_micros(cast(o_orderdate as timestamp)) div {DAY_US}").alias(
            "day"
        ),
        (F.col("o_totalprice").cast(DEC) * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("o_custkey").orderBy("day").rangeBetween(-6, 0)
    return (
        d.withColumn("trail_cents", F.sum("cents").over(w))
        .select(
            "o_custkey",
            "o_orderkey",
            "day",
            F.round(F.col("trail_cents") / 100.0, 2).alias("trail_7d"),
        )
        .orderBy("o_custkey", "day", "o_orderkey")
    )


def r57_window_navigation(spark, sf_dir):
    """Window NAVIGATION functions — first_value / last_value /
    nth_value / lag over each customer's order sequence (keyed by the
    unique o_orderkey, so frames are deterministic without tiebreak
    columns). last/nth need the FULL-partition frame (the default
    running frame silently truncates last_value — the classic window
    footgun both engines share). Money stays integer cents until the
    final render; one shuffle on o_custkey."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 300)
    d = o.select(
        "o_custkey",
        "o_orderkey",
        (F.col("o_totalprice").cast(DEC) * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        d.select(
            "o_custkey",
            "o_orderkey",
            F.round(F.first("cents").over(w) / 100.0, 2).alias("first_spend"),
            F.round(F.last("cents").over(wfull) / 100.0, 2).alias("last_spend"),
            F.round(F.nth_value("cents", 2).over(wfull) / 100.0, 2).alias(
                "second_spend"
            ),
            F.round((F.col("cents") - F.lag("cents", 1).over(w)) / 100.0, 2).alias(
                "prev_delta"
            ),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


def r58_rank_functions(spark, sf_dir):
    """Relative-rank window functions — percent_rank / cume_dist /
    ntile(4) over each customer's orders keyed by the unique o_orderkey
    (deterministic frames, no tiebreak columns needed). percent_rank and
    cume_dist are pure rank arithmetic ((rk−1)/(n−1), rk/n) — exact in
    doubles at any partition size — and ntile's bucket boundaries are
    integer division, so all three are bit-identical cross-engine. One
    shuffle on o_custkey; single-customer partitions hit percent_rank's
    n=1 edge (defined 0.0 in both engines)."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 400)
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


def r36_array_hof(spark, sf_dir):
    """Higher-order array functions (transform/filter/aggregate) over the
    embedding column — entirely JVM-side lambda evaluation, zero Python.
    Elements cast to double BEFORE summing so the sequential fold is
    bit-identical to DuckDB's list_aggregate."""
    v = load_table(spark, sf_dir, "embeddings")
    return (
        v.where(F.col("vec_id") < 200)
        .select(
            "vec_id",
            F.round(
                F.expr(
                    "aggregate(embedding, CAST(0.0 AS DOUBLE),"
                    " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
                ),
                4,
            ).alias("sq_sum"),
            F.expr("CAST(size(filter(embedding, x -> x > 0)) AS INT)").alias("n_pos"),
            F.round(
                F.expr("aggregate(embedding, CAST(-1e308 AS DOUBLE),"
                       " (acc, x) -> greatest(acc, CAST(x AS DOUBLE)))"),
                4,
            ).alias("mx"),
        )
        .orderBy("vec_id")
    )


def r37_window_analytics(spark, sf_dir):
    """Analytic window battery: ntile quartiles, first_value, nth_value with
    an explicit full-partition frame. Single shuffle on o_custkey feeds all
    three functions (one Window spec reused)."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 500)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.ntile(4).over(w).alias("quartile"),
            F.first("o_orderkey").over(w).alias("first_ok"),
            F.nth_value("o_orderkey", 2).over(wfull).alias("second_ok"),
        )
        .orderBy("o_custkey", "quartile", "o_orderkey")
    )


def r53_dist_windows(spark, sf_dir):
    """Distribution window functions — percent_rank and cume_dist per
    customer partition (the analytic surface r37's ntile battery doesn't
    cover). One shuffle on o_custkey feeds both; outputs are exact
    rationals of integer ranks/counts so the doubles are bit-identical
    cross-engine (rounded 6 for rendering only)."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 500)
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


def r38_date_arith(spark, sf_dir):
    """Date arithmetic kernel: interval add, last_day, ISO day-of-week,
    day difference from an epoch date. Pure codegen'd projection (no
    shuffle before the sort); conventions pinned to the portable forms
    (ISO dow — Spark weekday()+1 == DuckDB isodow)."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 5000)
    return (
        o.select(
            "o_orderkey",
            F.col("o_orderdate").alias("d"),
            (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("d_plus30"),
            F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
            (F.weekday("o_orderdate") + F.lit(1)).cast("int").alias("iso_dow"),
            F.datediff("o_orderdate", F.lit("2024-01-01").cast("date")).alias("days_from_2024"),
        )
        .orderBy("o_orderkey")
    )


def r39_scalar_subquery(spark, sf_dir):
    """Correlated scalar subquery: Catalyst decorrelates it to a left outer
    aggregate join (one shuffle pair) — never a per-row subquery execution.
    Customers without orders surface the NULL path."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_r39")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_r39")
    return spark.sql(
        """
        SELECT c_custkey, c_name,
               (SELECT MAX(o.o_totalprice) FROM orders_r39 o
                WHERE o.o_custkey = c.c_custkey) AS max_price
        FROM customer_r39 c WHERE c_custkey < 2000 ORDER BY c_custkey
        """
    )


def r40_null_functions(spark, sf_dir):
    """NULL-handling scalar kernel: coalesce / nullif / least / greatest —
    pure codegen'd projection, no shuffle before the declared sort."""
    r = load_table(spark, sf_dir, "region")
    return (
        r.select(
            "r_regionkey",
            F.coalesce(F.nullif("r_name", F.lit("EUROPE")), F.lit("EU")).alias("nm"),
            F.least("r_regionkey", F.lit(2)).alias("l"),
            F.greatest("r_regionkey", F.lit(2)).alias("g"),
        )
        .orderBy("r_regionkey")
    )


def r41_map_functions(spark, sf_dir):
    """Map-typed processing: per-priority map of order-status -> count
    built with map_from_entries over a sorted collect_list, then queried
    with element_at / map_keys / cardinality. Output is scalar-only (map
    lookups + joined key list) so the cross-engine compare stays total;
    the oracle computes the same values with conditional aggregation.

    Scale: the collect_list group is bounded by |distinct statuses| (3),
    never by row count — the heavy aggregation below it is an ordinary
    two-key count with map-side combine."""
    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("c")
    )
    m = per.groupBy("o_orderpriority").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("o_orderstatus", "c")))
        ).alias("m")
    )
    return m.select(
        F.col("o_orderpriority").alias("priority"),
        F.size("m").alias("n_statuses"),
        F.element_at("m", "F").alias("cnt_f"),
        F.element_at("m", "O").alias("cnt_o"),
        F.element_at("m", "P").alias("cnt_p"),
        F.concat_ws(",", F.map_keys("m")).alias("statuses"),
    ).orderBy("priority")


def r42_variance_stats(spark, sf_dir):
    """Second-moment statistics (variance / stddev / correlation) per
    return flag, computed from EXACT integer sums so the result is
    independent of aggregation order — the built-in var_samp/corr
    accumulate doubles whose partial-merge order differs between engines
    (and between runs under AQE), which breaks hash-checking and, at
    cluster scale, run-to-run reproducibility.

    Trick: quantity/price carry <= 2 decimals, so x*100 is an exact
    integer; sums run in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — both
    exact — and the classic n*Sxx - Sx^2 closed forms divide once into a
    double at the end. One aggregate, map-side combine, same shuffle shape
    as any groupBy."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity") * 100).cast("decimal(38,0)")
    y = F.round(F.col("l_extendedprice") * 100).cast("decimal(38,0)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("nd"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("nd")
    vx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    cov = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    return s.select(
        "l_returnflag",
        n.cast("bigint").alias("n"),
        F.round(F.col("sx").cast("double") / (n.cast("double") * 100), 6).alias("mean_qty"),
        # sample variance of qty: (n*Sxx - Sx^2) / (100^2 * n * (n-1))
        F.round(vx / (n.cast("double") * (n.cast("double") - 1) * 10000), 6).alias("var_qty"),
        F.round(F.sqrt(vx / (n.cast("double") * (n.cast("double") - 1) * 10000)), 6).alias(
            "std_qty"
        ),
        # Pearson r: the 100x scale cancels
        F.round(cov / F.sqrt(vx * vy), 6).alias("corr_qty_price"),
    ).orderBy("l_returnflag")


def r43_string_agg_filter(spark, sf_dir):
    """FILTER-clause aggregates + ORDERED string aggregation per nation:
    count/avg restricted by FILTER predicates next to an ordered
    string_agg of the top-3 customers by balance.

    Scale: the rank is one window over the customer shuffle (nation key);
    WindowGroupLimit prunes each task to its top rows before the exchange.
    The ordered concat collects only the <=3 surviving (rk, name) structs
    per group — array_sort on 3 elements, never a whole-group collect.
    FILTER aggregates are plain conditional accumulators (map-side
    combine)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    ranked = c.withColumn("rk", F.row_number().over(w))
    g = ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.expr("count(*) FILTER (WHERE c_acctbal > 0)").alias("n_positive"),
        # exact decimal sum / count, not avg(double): double partial-sum
        # merge order differs between engines and runs (see _dec_sum)
        F.expr(
            "round(cast(sum(cast(c_acctbal as decimal(18,2))) "
            "FILTER (WHERE c_mktsegment = 'BUILDING') as double) / "
            "count(*) FILTER (WHERE c_mktsegment = 'BUILDING'), 4)"
        ).alias("avg_bal_building"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("rk") <= 3, F.struct("rk", "c_name"))
                    )
                ),
                lambda s: s["c_name"],
            ),
            ",",
        ).alias("top3_names"),
    )
    return (
        g.join(broadcast(n), g.c_nationkey == n.n_nationkey)
        .select(
            "n_name", "n_cust", "n_positive", "avg_bal_building", "top3_names"
        )
        .orderBy("n_name")
    )


RESAMPLE_EVERY_S = 900  # 15-minute buckets


def r44_resample_gapfill(spark, sf_dir):
    """Hypertable-style resample + LOCF gap-fill over the events stream
    (operators/timeseries.py:resample_gapfill): 15-minute buckets of
    sum(value) per event type, densified so every bucket between a type's
    first and last appears, gaps carried forward and flagged."""
    from diepy_spark.operators.timeseries import resample_gapfill

    ev = load_table(spark, sf_dir, "events")
    out = resample_gapfill(ev, RESAMPLE_EVERY_S, on="event_type")
    return out.select(
        "event_type",
        "bucket",
        F.round("s_filled", 2).alias("s_filled"),
        "n",
        "was_gap",
    ).orderBy("event_type", "bucket")


DAY_US = 86400 * 1_000_000  # epoch-day index: microseconds per day


def r45_cohort_retention(spark, sf_dir):
    """Cohort / retention analysis over the events stream: cohort = the
    epoch-day of a user's FIRST event; retention = distinct users active
    at each day offset from their cohort, as a fraction of cohort size.

    Scale: two shuffles, both on user_id — the min-week cohort aggregate
    (map-side combined) and the cohort⋈events join, which reuses the same
    hash partitioning (one Exchange feeds both); the final
    (cohort, offset) aggregate is output-dimension-sized. count(DISTINCT
    user) inside that aggregate is exact; the events row count per
    (cohort, offset) cell is corpus-scale but the distinct runs after the
    user-keyed join, where Spark plans a partial distinct before the
    final exchange. Week arithmetic is integer microsecond floor-division
    (identical in both engines, no tz/calendar dependence)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr(f"unix_micros(cast(ts as timestamp)) div {DAY_US}").alias("d"),
    )
    cohort = ev.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    ret = (
        ev.join(cohort, "user_id")
        .groupBy("cohort_day", (F.col("d") - F.col("cohort_day")).alias("day_offset"))
        .agg(F.countDistinct("user_id").alias("active_users"))
    )
    w = Window.partitionBy("cohort_day")
    size0 = F.max(F.when(F.col("day_offset") == 0, F.col("active_users"))).over(w)
    return ret.select(
        "cohort_day",
        "day_offset",
        "active_users",
        F.round(F.col("active_users") / size0, 4).alias("retention_pct"),
    ).orderBy("cohort_day", "day_offset")


BASKET_MIN_SUPPORT = 2
BASKET_TOP = 50
BASKET_MAX_ITEMS = 30


def r46_market_basket(spark, sf_dir):
    """Market-basket co-occurrence mining: brand pairs bought together in
    the same order, support counted over distinct (order, brand) baskets,
    top pairs by support.

    Scale: the classic pair-explosion hazard is a single huge basket
    (quadratic in basket size), so baskets above BASKET_MAX_ITEMS distinct
    items are dropped BEFORE pairing — the standard market-basket cap
    (here no basket comes close; the guard is the 100 TB contract). The
    basket frame shuffles once on the basket key; the self-join reuses
    that exchange twice (identical subplan → ReusedExchange), and the
    per-pair aggregate is map-side combined. part is a broadcast dim."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    ob = (
        li.join(broadcast(p), li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    sized = ob.withColumn("bs", F.count(F.lit(1)).over(Window.partitionBy("ok")))
    # both sides of the self-join reference the basket frame; without a
    # lineage cut the join+distinct+window subplan runs twice (4 scans,
    # ~1s of the ~3s total at sf0.1). Lazy localCheckpoint = compute once.
    ob = sized.where(F.col("bs") <= BASKET_MAX_ITEMS).drop("bs").localCheckpoint(
        eager=False
    )
    a = ob.select("ok", F.col("brand").alias("brand_a"))
    b = ob.select("ok", F.col("brand").alias("brand_b"))
    pairs = a.join(b, "ok").where(F.col("brand_a") < F.col("brand_b"))
    return (
        pairs.groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") >= BASKET_MIN_SUPPORT)
        .orderBy(F.col("n_orders").desc(), "brand_a", "brand_b")
        .limit(BASKET_TOP)
    )


FUNNEL_STAGES = ["view", "click", "purchase"]


def r47_funnel(spark, sf_dir):
    """Ordered funnel analysis over the events stream: users who viewed,
    then clicked strictly AFTER their first view, then purchased strictly
    after that first qualifying click — the product-analytics sequence
    query (strict event-order matters: a purchase before the click does
    not convert).

    Scale: every stage is one user-keyed aggregate (min ts) joined to the
    previous stage's user frame — all three shuffles hash on user_id, so
    one exchange layout serves the whole chain; stage frames shrink
    monotonically. The final 3-row stage table is driver-sized; its
    conversion-rate windows are free."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    stage = None
    counts = []
    for name in FUNNEL_STAGES:
        cur = ev.where(F.col("event_type") == name)
        if stage is not None:
            cur = cur.join(stage, "user_id").where(F.col("ts") > F.col("since"))
        stage = cur.groupBy("user_id").agg(F.min("ts").alias("since"))
        counts.append(
            stage.agg(F.count(F.lit(1)).alias("users")).select(
                F.lit(name).alias("stage"), "users"
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    # stage order == FUNNEL_STAGES order; make it sortable without arrays
    order = F.when(F.col("stage") == "view", 1).when(F.col("stage") == "click", 2).otherwise(3)
    w = Window.orderBy(order)
    return (
        out.withColumn("step", order)
        .withColumn(
            "conv_from_prev", F.round(F.col("users") / F.lag("users").over(w), 4)
        )
        .withColumn(
            "conv_from_first", F.round(F.col("users") / F.first("users").over(w), 4)
        )
        .select("step", "stage", "users", "conv_from_prev", "conv_from_first")
        .orderBy("step")
    )


def r48_transitions(spark, sf_dir):
    """First-order Markov transition matrix over the event stream: for
    each user's time-ordered events, count (previous type -> type) pairs
    and normalize per source type — the path-analysis companion to
    r47_funnel (funnel fixes the path; this measures ALL of them).

    Scale: one shuffle on user_id for the lag window; the pair aggregate
    is map-side combined into a |types|² frame, and the normalizing
    window runs on that tiny frame, never the events."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.withColumn("prev", F.lag("event_type").over(w)).where(
        F.col("prev").isNotNull()
    )
    counts = pairs.groupBy(
        F.col("prev").alias("from_type"), F.col("event_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    wt = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wt), 4).alias("p"),
    ).orderBy("from_type", "to_type")


ROLLING_DAYS = 7


def r49_rolling_dau(spark, sf_dir):
    """Rolling 7-day distinct active users per day (the WAU-style
    engagement metric). Distinct counts do NOT merge across window frames
    — you cannot sum daily DAU into a weekly number — so the
    scale-correct exact plan is: dedupe to the (day, user) grain (one
    shuffle, map-side combined), EXPLODE each pair onto the ROLLING_DAYS
    target days it contributes to (a bounded constant fan-out, narrow),
    and run one exact distinct per target day. No per-day self-joins, no
    quadratic range join; approximate variants swap the final distinct
    for an HLL sketch (x8_hll_distinct) with the same shape."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr(f"unix_micros(cast(ts as timestamp)) div {DAY_US}").alias("d"),
    )
    du = ev.distinct()
    bounds = du.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    exploded = (
        du.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            "lo",
            "hi",
            F.explode(
                F.expr(f"sequence(d, least(d + {ROLLING_DAYS - 1}, hi))")
            ).alias("day"),
        )
    )
    return (
        exploded.groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
        .crossJoin(F.broadcast(bounds))
        .select(
            (F.col("day") - F.col("lo")).alias("day_idx"),
            "wau",
        )
        .orderBy("day_idx")
    )


R50_W = 1000.0  # histogram bucket width (price units)
R50_QS = [i / 10 for i in range(1, 10)]  # decile boundaries


def r50_equidepth_binning(spark, sf_dir):
    """Equi-depth discretization (the QuantileDiscretizer fit+transform):
    decile boundaries for o_totalprice estimated from a FIXED-WIDTH
    histogram (r28b's scale-safe estimator — aggregation state bounded by
    the bucket count, never the row count; error bounded by the bucket
    width), then every order assigned its bin by a BROADCAST 1-row
    boundary frame — the transform is a pure 9-comparison projection, no
    second shuffle of the data. Output: per-bin count and actual price
    range — the sanity report that the bins really are equi-depth."""
    o = load_table(spark, sf_dir, "orders").select(F.col("o_totalprice").alias("p"))
    h = o.groupBy(F.floor(F.col("p") / R50_W).alias("bucket")).agg(
        F.count(F.lit(1)).alias("c")
    )
    wcum = Window.orderBy("bucket")
    wall = Window.partitionBy()
    cum = h.select(
        "bucket",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    bounds = cum.agg(
        *[
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.col("n") * F.lit(q)),
                    F.col("bucket") * R50_W,
                )
            ).alias(f"b{i}")
            for i, q in enumerate(R50_QS, 1)
        ]
    )
    binned = o.crossJoin(F.broadcast(bounds)).withColumn(
        "bin",
        sum(
            [F.lit(1)]
            + [
                F.when(F.col("p") >= F.col(f"b{i}"), 1).otherwise(0)
                for i in range(1, len(R50_QS) + 1)
            ]
        ),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.min("p"), 2).alias("lo"),
            F.round(F.max("p"), 2).alias("hi"),
        )
        .orderBy("bin")
    )


RELATIONAL_QUERIES = {
    "r1_scan_projection": r1_scan_projection,
    "r2_filter": r2_filter,
    "r3_hash_aggregate": r3_hash_aggregate,
    "r4_join3_aggregate": r4_join3_aggregate,
    "r5_left_outer_join": r5_left_outer_join,
    "r6_semi_join": r6_semi_join,
    "r7_anti_join": r7_anti_join,
    "r8_topk": r8_topk,
    "r9_distinct": r9_distinct,
    "r10_union": r10_union,
    "r11_date_functions": r11_date_functions,
    "r12_string_functions": r12_string_functions,
    "r13_conditional_aggregation": r13_conditional_aggregation,
    "r14_ranking_window": r14_ranking_window,
    "r15_dedup_accounting": r15_dedup_accounting,
    "r16_tumbling_window": r16_tumbling_window,
    "r17_text_stats": r17_text_stats,
    "r18_rollup": r18_rollup,
    "r19_range_join": r19_range_join,
    "r20_cosine_pairs": r20_cosine_pairs,
    "r21_intersect": r21_intersect,
    "r22_except": r22_except,
    "r23_cube": r23_cube,
    "r24_sliding_frame": r24_sliding_frame,
    "r25_json_extraction": r25_json_extraction,
    "r26_lag_window": r26_lag_window,
    "r27_grouping_sets": r27_grouping_sets,
    "r28_percentiles": r28_percentiles,
    "r28b_histogram_quantiles": r28b_histogram_quantiles,
    "r29_exists_subquery": r29_exists_subquery,
    "r30_regexp": r30_regexp,
    "r31_array_agg": r31_array_agg,
    "r32_asof_join": r32_asof_join,
    "r33_kmv_sketch": r33_kmv_sketch,
    "r34_sessionize": r34_sessionize,
    "r35_pivot": r35_pivot,
    "r36_array_hof": r36_array_hof,
    "r37_window_analytics": r37_window_analytics,
    "r38_date_arith": r38_date_arith,
    "r39_scalar_subquery": r39_scalar_subquery,
    "r40_null_functions": r40_null_functions,
    "r41_map_functions": r41_map_functions,
    "r42_variance_stats": r42_variance_stats,
    "r43_string_agg_filter": r43_string_agg_filter,
    "r44_resample_gapfill": r44_resample_gapfill,
    "r45_cohort_retention": r45_cohort_retention,
    "r46_market_basket": r46_market_basket,
    "r47_funnel": r47_funnel,
    "r48_transitions": r48_transitions,
    "r49_rolling_dau": r49_rolling_dau,
    "r50_equidepth_binning": r50_equidepth_binning,
    "r51_unpivot": r51_unpivot,
    "r52_ewma": r52_ewma,
    "r53_dist_windows": r53_dist_windows,
    "r54_mode": r54_mode,
    "r55_weighted_median": r55_weighted_median,
    "r56_trailing_range_window": r56_trailing_range_window,
    "r57_window_navigation": r57_window_navigation,
    "r58_rank_functions": r58_rank_functions,
}
