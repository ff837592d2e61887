"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   -> flagship query (R3, TPC-H Q1 shape) on sf0.001.
queries()      -> every implemented operator from SURVEY.md §2 as
                  (spark, sf_dir) -> DataFrame.
oracle_sql()   -> matching DuckDB SQL per query (omitted only for
                  genuinely non-SQL-expressible ops).
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from diepy_spark.session import tune
from diepy_spark.plans.relational import RELATIONAL_QUERIES, r3_hash_aggregate
from diepy_spark.plans.oracles import RELATIONAL_ORACLES
from diepy_spark.plans.extended import EXTENDED_QUERIES, EXTENDED_ORACLES
from diepy_spark.plans.pipeline import PIPELINE_QUERIES, PIPELINE_ORACLES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return r3_hash_aggregate(tune(spark), "/root/testdata/sf0.001")


# The driver's correctness harness records the FIRST 50 entries of
# queries() in insertion order.
#
_PRIORITY = [
    # ROUND-14 WINDOW — generated by `python tools/window_report.py` from
    # CORRECTNESS_r01..r13 (the VERDICT r5 #8 mechanism), then adjusted
    # per the optimization round's needs: the 15 remaining r6-stale rows
    # first (x2_winnow_pairs and x8_hll_distinct lead, exactly the pair
    # VERDICT r13 #9 names), then the 16 queries whose plans this
    # optimization round REWROTE (the walk-corpus consumers, the nine
    # value-frequency-artifact riders, the two PPJoin queries,
    # r28_percentiles whose operator grew the conditional mean
    # numerator), then the ADVICE-r13-named r13 rewrites that have no
    # committed driver row for their new plans (x9_cdc_apply,
    # x10_pipeline_funnel; x7_stream_stateful is already in the r6
    # tier), then the oldest r7 rows up to the 50-slot window. Trade
    # recorded: 15 of the r7 tier stay r7 one more round so the touched
    # plans get driver rows now.
    "x2_winnow_pairs",
    "x8_hll_distinct",
    "x5_chunk_pack",
    "x3_quantize_int8",
    "x8_sprt",
    "x12_freshness",
    "x7_stream_tumbling",
    "x7_stream_sliding",
    "x7_stream_sessions",
    "x7_stream_stateful",
    "x7_stream_dedup",
    "x7_stream_enrich",
    "t1_roundtrip_csv",
    "t8_roundtrip_xlsx",
    "t9_compaction",
    "x11_node2vec",
    "x11_random_walks",
    "x11_walk_cooccur",
    "x11_walk_pmi",
    "x8_mwu",
    "x8_ks_test",
    "x8_wasserstein",
    "x8_qte",
    "x8_kruskal_wallis",
    "x8_levene",
    "x8_mood_median",
    "x8_trimmed_mean",
    "x8_auc",
    "x2_record_linkage",
    "x2_ppjoin_health",
    "r28_percentiles",
    "x9_cdc_apply",
    "x10_pipeline_funnel",
    "r57_window_navigation",
    "r58_rank_functions",
    "x1_bloom_dedup",
    "x3_filtered_ann",
    "x10_epoch_plan",
    "x1_cms_span_dedup",
    "x12_mutual_info",
    "x12_volume_anomaly",
    "x5_zipf",
    "x5_bpe_train",
    "x5_bpe_apply",
    "x11_ppr",
    "x3_kmeans_stability",
    "x2_lsh_bucket_health",
    "x8_mann_kendall",
    "x8_jackknife",
    "x9_takedown",
]


def _tuned(fn: Callable[[SparkSession, str], DataFrame]):
    """`fn` with the runtime confs applied to the session it is handed
    first: the caller's session is not ours (a hostile timezone, no
    nanosAsLong for the events ns-timestamps), so every query defends
    here, once, instead of in each plan."""

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(tune(spark), sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    merged.update(RELATIONAL_QUERIES)
    merged.update(EXTENDED_QUERIES)
    merged.update(PIPELINE_QUERIES)
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name in _PRIORITY:
        if name in merged:
            out[name] = _tuned(merged[name])
    for name, fn in merged.items():
        if name not in out:
            out[name] = _tuned(fn)
    return out


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    out.update(RELATIONAL_ORACLES)
    out.update(EXTENDED_ORACLES)
    out.update(PIPELINE_ORACLES)
    return out
