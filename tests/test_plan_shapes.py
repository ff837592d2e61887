"""Physical-plan regression guards: the scale properties claimed in
docstrings (pushdown, pruning, broadcasts, zero-shuffle signatures) must
actually appear in .explain output, or a refactor silently regressed them."""

import io
import contextlib
import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from diepy_spark.operators import dedup as D
from diepy_spark.sources.registry import load_table

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def qs():
    return entry.queries()


def test_filter_pushdown_reaches_scan(spark, qs):
    plan = plan_of(qs["r2_filter"](spark, SF))
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters:.*EqualTo\(o_orderstatus,F\)", plan)
    assert re.search(r"PushedFilters:.*GreaterThan\(o_totalprice", plan)


def test_column_pruning_reaches_scan(spark, qs):
    plan = plan_of(qs["r1_scan_projection"](spark, SF))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"}


def test_small_dims_broadcast(spark, qs):
    # nation (25 rows) must broadcast in the 3-way join; no shuffle join of a dim
    plan = plan_of(qs["r4_join3_aggregate"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2


def test_semi_anti_join_shapes(spark, qs):
    assert "LeftSemi" in plan_of(qs["r6_semi_join"](spark, SF))
    assert "LeftAnti" in plan_of(qs["r7_anti_join"](spark, SF))


def test_minhash_signatures_zero_shuffle(spark):
    """The per-row signature claim: no Exchange anywhere except the
    deliberate compute-spreading repartition (RoundRobin/hash on d), and
    no aggregation."""
    docs = load_table(spark, SF, "documents")
    plan = plan_of(D.minhash_signatures(docs, 8))
    assert "HashAggregate" not in plan
    # exactly the one explicit repartition exchange
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_simhash_zero_shuffle(spark):
    docs = load_table(spark, SF, "documents")
    plan = plan_of(D.simhash(docs))
    assert "HashAggregate" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_topk_uses_take_ordered(spark, qs):
    """R8 must not global-sort 150k rows for LIMIT 10."""
    plan = plan_of(qs["r8_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_partitioned_warehouse_prunes(spark, tmp_path):
    from diepy_spark.core.database import WarehouseBackend
    from diepy_spark.functions.inference import ColumnSpec

    wh = WarehouseBackend(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(i, f"r{i % 3}", float(i)) for i in range(100)], "id long, region string, v double"
    )
    wh.append(df, "events_p", partition_by=["region"])
    scan = wh.read_table("events_p").where(F.col("region") == "r1")
    plan = plan_of(scan)
    assert re.search(r"PartitionFilters: \[.*r1", plan), plan
    assert scan.count() == 33


def test_bucketed_join_needs_no_exchange(spark):
    from diepy_spark.sources import bucketing as B

    left = spark.range(0, 1000).withColumnRenamed("id", "k").withColumn("a", F.col("k") * 2)
    right = spark.range(0, 1000).withColumnRenamed("id", "k").withColumn("b", F.col("k") + 1)
    B.save_bucketed(left, "bkt_left", ["k"], num_buckets=8)
    B.save_bucketed(right, "bkt_right", ["k"], num_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # tiny test tables would (rightly) broadcast; disable it so the plan
    # shows what bucketing buys on tables too big to broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = B.bucketed(spark, "bkt_left").join(B.bucketed(spark, "bkt_right"), "k")
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert not re.search(r"\(\d+\) Exchange", plan), plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_no_hoisted_isnotnull_hof_filters(spark, qs):
    """FilterExec evaluates IsNotNull conjuncts first; an inferred
    isnotnull(<HOF chain>) therefore runs the interpreted chain on every
    scanned row (measured 10x on winnowing). Outer generates must keep
    these out of every text-pipeline plan."""
    pat = re.compile(r"isnotnull\((?:filter|transform|zip_with|aggregate|array_distinct)\(")
    for name in ["x5_winnow", "x2_ngram_jaccard_pairs", "x2_minhash_lsh_pairs"]:
        plan = plan_of(qs[name](spark, SF))
        assert not pat.search(plan), f"{name} regressed: inferred isnotnull(HOF) in plan"


def test_asof_join_single_data_shuffle(spark, qs):
    """The as-of join must stay union+window: exactly one hash shuffle on
    the key (plus the final range sort) — never a range-join explosion."""
    plan = plan_of(qs["r32_asof_join"](spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("hashpartitioning(") == 1
    assert plan.count("rangepartitioning(") == 1  # declared ORDER BY only


def test_sessionize_single_shuffle(spark, qs):
    """Gap sessionization: one hash shuffle on user_id shared by the lag,
    the cumulative sum, and the session aggregate (same key)."""
    plan = plan_of(qs["r34_sessionize"](spark, SF))
    assert plan.count("hashpartitioning(") == 1
    assert "CartesianProduct" not in plan


def test_similarity_plan_build_runs_no_job(spark):
    """Plan construction for the LSH similarity operators must be job-free
    when `dim` is passed explicitly (the first-row peek fallback must not
    fire). The table is loaded up front — the loader's one file-listing
    job is not the operator's doing."""
    from diepy_spark.operators.similarity import ann_topk_lsh, lsh_near_dup_pairs

    v = load_table(spark, SF, "embeddings")
    tracker = spark.sparkContext.statusTracker
    before = len(tracker().getJobIdsForGroup(None) or [])
    lsh_near_dup_pairs(v, threshold=0.4, num_planes=8, dim=64)
    ann_topk_lsh(
        v.where(F.col("vec_id") < 5), v.where(F.col("vec_id") >= 5), dim=64
    )
    after = len(tracker().getJobIdsForGroup(None) or [])
    assert after == before, "plan construction ran a Spark job (hidden .first()?)"


def test_pivot_is_single_aggregate(spark, qs):
    """Pivot with a pinned value list runs Spark's two-phase aggregate
    (pre-aggregate on both keys, then pivot on the group key) — the second
    shuffle carries only |priority x status| rows. What must NEVER appear:
    a distinct-collect job (extra scan) or a join."""
    plan = plan_of(qs["r35_pivot"](spark, SF))
    assert plan.count("hashpartitioning(") <= 2
    # formatted output lists the scan in the tree AND the detail section
    assert plan.count("(1) Scan parquet") == 1
    assert "Join" not in plan


def test_vocab_topn_is_take_ordered(spark, qs):
    """Top-n over the token aggregate must compile to TakeOrderedAndProject
    (never a global sort) and keep map-side partial aggregation."""
    plan = plan_of(qs["x5_vocab"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan


def test_merge_upsert_single_key_shuffle_no_join(spark):
    """CDC merge = union + ONE keyed window shuffle; a join-based rewrite
    (or a per-side shuffle) would double the data movement."""
    from diepy_spark.operators.merge import merge_upsert

    base = load_table(spark, SF, "orders")
    upd = base.limit(10)
    plan = plan_of(merge_upsert(base, upd, ["o_orderkey"]))
    assert "Join" not in plan
    assert plan.count("hashpartitioning(o_orderkey") == 1


def test_label_centroids_single_partial_agg_shuffle(spark, qs):
    """posexplode then ONE aggregate shuffle with map-side combine — the
    scalable centroid-update shape."""
    plan = plan_of(qs["x3_label_centroids"](spark, SF))
    assert "Generate posexplode" in plan or "posexplode" in plan
    assert "partial_avg" in plan or "partial_average" in plan.lower()
    assert plan.count("hashpartitioning(") <= 1


def test_weighted_sample_is_narrow(spark, qs):
    """The weighted-sample predicate must stay a narrow filter: no
    Exchange anywhere in the plan (the declared ORDER BY adds only a
    rangepartitioning for presentation)."""
    plan = plan_of(qs["x8_weighted_sample"](spark, SF))
    assert "hashpartitioning(" not in plan


def test_repetition_stats_no_explode_one_repartition(spark):
    """Repetition signals are per-row HOF arrays: no Generate (explode),
    no aggregation, and exactly the one deliberate CPU-spread repartition."""
    from diepy_spark.operators.text import repetition_stats

    docs = load_table(spark, SF, "documents")
    plan = plan_of(repetition_stats(docs))
    assert "Generate" not in plan
    assert "HashAggregate" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_redact_pii_is_narrow(spark):
    """PII scrubbing is one JVM-side projection: no shuffle at all, no
    Python (BatchEvalPython/ArrowEvalPython) in the plan, and the regex
    work must not block scan-level column pruning."""
    from diepy_spark.operators.text import redact_pii

    docs = load_table(spark, SF, "documents")
    plan = plan_of(redact_pii(docs))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {"doc_id", "text"}


def test_contamination_broadcasts_bench_grams(spark):
    """The benchmark gram set must broadcast: the 100 TB train side joins
    without shuffling its grams (only the final per-doc count shuffles)."""
    from diepy_spark.operators.dedup import contamination

    docs = load_table(spark, SF, "documents")
    bench = docs.where(F.col("doc_id") < 20)
    train = docs.where(F.col("doc_id") >= 20)
    df = contamination(train, bench, n=4)
    # simple mode prints the join's build side inline
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    # bench side is the broadcast build side
    assert re.search(r"BroadcastHashJoin \[gram#\d+\], \[gram#\d+\], Inner, BuildRight", plan)
    # only the bench-side DISTINCT shuffles on the gram key; the train
    # side's grams must never hit an exchange
    assert plan.count("hashpartitioning(gram") == 1


def test_winnow_pairs_reuses_fingerprint_exchange(spark):
    """Both self-join sides are canonically identical subplans pre-shuffled
    on the hash: classic planning reuses ONE exchange (AQE's stage cache
    does the same at runtime via the identical canonical form)."""
    from diepy_spark.operators.dedup import winnow_pairs

    docs = load_table(spark, SF, "documents").where(F.col("doc_id") < 50)
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(winnow_pairs(docs))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert "ReusedExchange" in plan


def test_near_dup_stage_runs_right_sized_shuffles(spark):
    """The shingle self-join's pre-shuffle carries no partition count: the
    planner would resize it to spark.sql.shuffle.partitions anyway, and a
    REPARTITION_BY_NUM exchange is one AQE never coalesces. On ~200
    documents the exchange is still reused by both join sides, and no
    stage of clean_corpus runs more tasks than the session has cores."""
    from diepy_spark.operators.corpus import clean_corpus

    docs = load_table(spark, SF, "documents").where(F.col("doc_id") <= 200)
    pairs = D.ngram_jaccard_pairs(docs)
    assert pairs.collect()  # runs the plan read below; the graph is not empty
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert any("REPARTITION_BY_COL" in ln for ln in exchanges)
    assert any("ReusedExchange" in ln and "REPARTITION_BY_COL" in ln for ln in exchanges)
    # the only counted repartitions left are the doc-id spreads
    assert all("hashpartitioning(doc_id" in ln for ln in exchanges if "REPARTITION_BY_NUM" in ln)

    sc = spark.sparkContext
    group = "near-dup-right-sized"
    sc.setJobGroup(group, group)
    try:
        clean_corpus(docs).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    infos = [
        st.getStageInfo(s)
        for j in st.getJobIdsForGroup(group)
        for s in st.getJobInfo(j).stageIds
    ]
    # the status store prunes skipped stages first (they have no completion
    # time), so a stage without info is one that ran no task
    ran = [i.numCompletedTasks for i in infos if i is not None]
    assert ran and max(ran) <= sc.defaultParallelism, ran


def test_lang_classify_model_broadcasts(spark):
    """The trained model grid (|langs| x vocab) and the per-lang constant
    frame must BROADCAST into the scoring pass — the per-doc gram frame
    never shuffles for the model join; its only exchanges are the
    doc-keyed count aggregates and the argmax window."""
    from diepy_spark.operators.text import lang_classify

    docs = load_table(spark, SF, "documents")
    plan = plan_of(lang_classify(docs))
    assert "BroadcastHashJoin" in plan      # gram-keyed model-grid join
    assert "BroadcastNestedLoopJoin" in plan  # |langs|-way score fan-out
    assert "partial_count" in plan          # training counts combine map-side
    # the only sort-merge joins allowed are the DOC-keyed score/label
    # left joins (both sides corpus-sized, keyed on (d[, cand]) — the
    # correct strategy); the model/vocab side must never reach one
    smj = re.findall(r"SortMergeJoin (\w+)", plan)
    assert len(smj) <= 2 and all(t in ("LeftOuter", "Inner") for t in smj), smj


def test_duplicated_spans_hash_keyed_reused_exchange(spark):
    """The span flag-back join must be keyed on the md5 gram hash (32-byte
    keys, never text), with the occurrence count combining map-side (the
    ubiquitous-boilerplate skew killer) and the pre-shuffled gram index
    feeding both the count and the join through ONE exchange."""
    from diepy_spark.operators.dedup import duplicated_spans

    docs = load_table(spark, SF, "documents")
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(duplicated_spans(docs))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert "hashpartitioning(h" in plan
    assert not re.search(r"hashpartitioning\(text", plan)
    assert "partial_count" in plan
    assert "ReusedExchange" in plan


def test_duplicated_spans_sorted_run_shape(spark):
    """mode="sorted" is the external tier: the gram count must run as ONE
    exchange on the md5 gram hash + an in-partition sort + a streaming
    window count over the sorted runs — no hash aggregate and no
    flag-back join anywhere, so executor memory bounds on the largest
    single-gram run, never distinct-gram cardinality."""
    from diepy_spark.operators.dedup import duplicated_spans

    docs = load_table(spark, SF, "documents")
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(duplicated_spans(docs, mode="sorted"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert "hashpartitioning(h" in plan
    assert not re.search(r"hashpartitioning\(text", plan)
    # the gram-count stage is a window over sorted runs, not an aggregate
    # or a join: exactly the two windows (gram count + island merge lag),
    # one HashAggregate total (the island groupBy), zero joins.
    assert len(re.findall(r"\(\d+\) Window", plan)) >= 2
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) <= 2  # final+partial
    assert "Join" not in plan
    # exactly three exchanges: the gram-build doc repartition inside
    # _pos_gram_frame, the gram hash, then the doc-id island window
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 3


def test_hll_distinct_no_explode_partial_agg(spark):
    """The HLL register build is narrow (no explode, no distinct
    pre-shuffle); both aggregations combine map-side."""
    from diepy_spark.operators.sketch import hll_distinct

    ev = load_table(spark, SF, "events")
    plan = plan_of(hll_distinct(ev, ["event_type"], "user_id"))
    assert "Generate" not in plan
    assert "partial_max" in plan
    # no Expand/distinct materialization of the value column
    assert "Expand" not in plan


def test_chunk_tokens_no_shuffle_single_generate(spark):
    """Chunking is narrow: one posexplode Generate, zero aggregation, and
    only the deliberate CPU-spread repartition exchanges."""
    from diepy_spark.operators.text import chunk_tokens

    docs = load_table(spark, SF, "documents")
    plan = plan_of(chunk_tokens(docs))
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1
    assert "HashAggregate" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_quantize_stats_broadcast_back(spark):
    """The per-dimension stats table (dim rows) must broadcast into the
    apply pass — the corpus-wide exploded values never shuffle for the
    stats join; the only hash shuffles are the dim-keyed stats aggregate
    and the per-vector reassembly."""
    from diepy_spark.operators.similarity import quantize_int8

    vecs = load_table(spark, SF, "embeddings")
    plan = plan_of(quantize_int8(vecs))
    assert "BroadcastHashJoin" in plan
    assert plan.count("SortMergeJoin") == 0


def test_lm_score_model_broadcasts(spark):
    """The unigram model (vocabulary-sized) must broadcast into the apply
    pass; the token stream never shuffles for the probability join. The
    only hash shuffles: the model count aggregate and the per-doc fold."""
    from diepy_spark.operators.text import lm_score

    docs = load_table(spark, SF, "documents")
    plan = plan_of(lm_score(docs))
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan  # model count combines map-side
    assert "SortMergeJoin" not in plan


def test_exact_dedup_shuffles_fingerprints_not_text(spark):
    """The dedup aggregates must exchange on the 32-byte md5 key with the
    md5 evaluated BELOW the exchange (map-side partial agg) — a full-text
    shuffle here is the difference between moving 100 TB and moving ~3 TB
    of keys."""
    from diepy_spark.operators.dedup import exact_dups, normalized_dups

    docs = load_table(spark, SF, "documents")
    for op in (exact_dups, normalized_dups):
        plan = plan_of(op(docs))
        # Catalyst materializes the md5 alias as _groupingexpression; either
        # way the exchange key is the fingerprint, never the text column
        assert re.search(r"hashpartitioning\((_fp|_groupingexpression)", plan), op.__name__
        assert "partial_min" in plan, op.__name__  # map-side combine
        assert not re.search(r"hashpartitioning\(text", plan), op.__name__


def test_reservoir_per_group_has_window_group_limit(spark):
    """The per-group top-k must prune BEFORE the exchange (partial
    WindowGroupLimit) so the shuffle carries at most k rows per
    (task, group) — never the whole group."""
    from diepy_spark.operators.sampling import reservoir_per_group

    docs = load_table(spark, SF, "documents")
    df = reservoir_per_group(docs, "source", "doc_id", 3, seed="s")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan


def test_cross_split_contamination_broadcasts_eval_grams(spark):
    """Both gram joins must be broadcasts: the train side (the 100 TB
    side) never exchanges its grams — its only shuffles are within the
    tiny eval-side frames and the final per-split aggregate."""
    from diepy_spark.operators.dedup import cross_split_contamination
    from diepy_spark.operators.sampling import hash_split

    docs = hash_split(load_table(spark, SF, "documents"), "doc_id", seed="t")
    df = cross_split_contamination(docs, n=4)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_domain_mix_single_agg_shuffle(spark):
    """One aggregate exchange (map-side combine); the share window runs
    over the grouped frame, not the corpus."""
    from diepy_spark.operators.text import domain_mix

    docs = load_table(spark, SF, "documents")
    plan = plan_of(domain_mix(docs))
    assert "partial_count" in plan
    # exchanges: the group-by hash exchange + the single-partition window
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_partitioning_independence(spark):
    """The determinism contract: results must be identical under a
    different shuffle-partition count and input partitioning — the
    property that makes fingerprints comparable between a 32-thread local
    run and a 1000-executor cluster. Exercises the most
    aggregation-order-sensitive declared queries."""
    from tools.check_oracle import frame_fingerprint

    qs = entry.queries()
    sensitive = [
        "r42_variance_stats",   # closed-form moments from exact sums
        "x8_grouped_linfit",    # applyInPandas OLS
        "x2_minhash_est",       # signature agreement ratios
        "x8_hll_distinct",      # IEEE register sums
        "x3_quantize_int8",     # ordered error fold
    ]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    base = {n: frame_fingerprint(qs[n](spark, SF).toPandas()) for n in sensitive}
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        alt = {n: frame_fingerprint(qs[n](spark, SF).toPandas()) for n in sensitive}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert base == alt


def test_ewma_single_shuffle_pandas_scan(spark):
    """The EWMA recurrence is ONE key shuffle + within-partition sort
    feeding a MapInPandas batch scan (one Python call per Arrow batch,
    not per key) — no extra exchange, no window, no per-group
    FlatMapGroupsInPandas, no row-at-a-time Python eval."""
    from diepy_spark.operators.timeseries import ewma

    ev = load_table(spark, SF, "events")
    plan = plan_of(ewma(ev, on=["user_id"], tiebreak=["event_id"]))
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "BatchEvalPython" not in plan


def test_cuped_broadcasts_scalar_frames(spark, qs):
    """CUPED's global-stats row must BROADCAST into the per-cohort frame
    — no sort-merge join anywhere. The cohort-stat subplan sits behind a
    localCheckpoint boundary (its own plan pins the user aggregate), so
    the visible plan is the tiny final join only."""
    plan = plan_of(qs["x8_cuped"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cosine_topk_one_dot_product_per_pair(spark):
    """The corpus scan feeds one Arrow map that scores every (query, doc)
    pair in a vectorized kernel: no broadcast nested-loop join, no
    higher-order dot product, no corpus repartition, and the per-query
    window shuffle is the only exchange."""
    from diepy_spark.operators.similarity import cosine_topk
    from tools.plan_audit import audit, plan_nodes, subtree

    v = load_table(spark, SF, "embeddings")
    plan = plan_of(cosine_topk(v.where(F.col("vec_id") < 5), v.where(F.col("vec_id") >= 5), k=3))
    nodes = plan_nodes(plan)
    (j,) = [i for i, node in enumerate(nodes) if node[1] == "MapInArrow"]
    below = [name for _, name, _ in subtree(nodes, j)]
    assert "Scan" in below and "Exchange" not in below
    a = audit(plan)
    assert a["bnlj"] == 0 and a["per_pair_norm"] == 0
    assert "zip_with(" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "REPARTITION_BY_NUM" not in plan
    assert plan.count("Arguments: hashpartitioning(qid") == 1
    # the per-pair spelling (both norms inside the pair projection) is
    # what the audit counter flags
    from diepy_spark.operators.similarity import cosine

    q = v.where(F.col("vec_id") < 5).select(F.col("embedding").alias("qv"))
    per_pair = v.crossJoin(F.broadcast(q)).select(cosine("qv", "embedding").alias("cos"))
    assert audit(plan_of(per_pair))["per_pair_norm"] == 2
