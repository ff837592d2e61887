"""Extended operator query set (SURVEY §2.6): dedup, similarity, text
analysis, multimodal — each a (spark, sf_dir) -> DataFrame plan plus a
DuckDB oracle generated from the SAME constants (thresholds, profiles,
hash counts), so Spark and oracle can't drift.

Determinism contract: every hash is md5-over-UTF-8 (identical in both
engines), tokenization is the same regex split, ratios are single divisions
of exact integers, and anything ranked is rounded before ranking.
"""

from __future__ import annotations

import re

from pyspark.sql import Window
from pyspark.sql import functions as F

from diepy_spark.operators import dedup as D
from diepy_spark.operators import similarity as S
from diepy_spark.operators import text as T
from diepy_spark.operators import multimodal as M
from diepy_spark.operators.text import LANG_PROFILES
from diepy_spark.session import session_cached
from diepy_spark.sources.registry import load_table

# tuning constants shared by Spark plans and oracle SQL
JACCARD_THRESHOLD = 0.2
JACCARD_MAX_DF = 100
LSH_NUM_HASHES = 16
LSH_BAND_SIZE = 2
LSH_THRESHOLD = 0.3
SIG_NUM_HASHES = 4
NEAR_DUP_COS = 0.4
NEAR_DUP_MAX = 500
TOPK_K = 3
TOPK_QUERY_MAX = 5
IVF_CENTROID_MAX = 16
MEDIA_DOC_MAX = 100
FP_DOC_MAX = 50
EMB_DIM = 64  # embeddings.embedding length — constant across all sf dirs
ANN_NUM_PLANES = 6
NEAR_DUP_NUM_PLANES = 8


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _vecs(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@session_cached
def _cents_cached(spark, sf_dir, k, iterations, scale):
    from diepy_spark.operators.clustering import kmeans_centroids_int

    return kmeans_centroids_int(
        _vecs(spark, sf_dir), k=k, iterations=iterations, scale=scale
    )


@session_cached
def _books_cached(spark, sf_dir, m, ncodes, scale):
    from diepy_spark.operators.similarity import pq_codebooks

    return pq_codebooks(_vecs(spark, sf_dir), m=m, ncodes=ncodes, scale=scale)


@session_cached
def _sd_pairs_cached(spark, sf_dir):
    """The SemDeDup assignment + within-cell pair frame shared by the
    flag table (_sdflags_cached) and the threshold sweep
    (x2_semdedup_sweep) — the expensive front half of the chain (k x dim
    literal-distance assignment + the cell-keyed pair join), computed
    once per session. The pair frame gets its own lineage cut; the
    assignment is already cut inside _semdedup_assign_pairs."""
    from diepy_spark.operators.similarity import _semdedup_assign_pairs

    cents = _cents_cached(spark, sf_dir, _sd_k(spark, sf_dir), SD_ITER, SD_SCALE)
    a, pr = _semdedup_assign_pairs(
        _vecs(spark, sf_dir), cents, SD_SCALE, "vec_id", "embedding"
    )
    return a, pr.localCheckpoint(eager=False)


@session_cached
def _sdflags_cached(spark, sf_dir):
    """The SemDeDup flag frame shared by its report (x2_semdedup) and
    corpus consumer (x2_semdedup_apply) — narratively the PERSISTED
    flag table a production pipeline writes once and joins everywhere.
    Session-keyed (a localCheckpoint is bound to its SparkContext) and
    lineage-cut: the expensive subtree is the k x dim literal-distance
    assignment plus the within-cell pair join, re-derived otherwise by
    every consumer."""
    cents = _cents_cached(spark, sf_dir, _sd_k(spark, sf_dir), SD_ITER, SD_SCALE)
    return S.semdedup_flags(
        _vecs(spark, sf_dir), cents,
        thr_num=SD_THR_NUM, thr_den=SD_THR_DEN, scale=SD_SCALE,
        assign_pairs=_sd_pairs_cached(spark, sf_dir),
    ).localCheckpoint(eager=False)


@session_cached
def _clean_corpus_cached(spark, sf_dir):
    """The composed clean_corpus survivor frame (quality gate -> exact
    dedup -> near-dup dedup) at the declared thresholds — narratively
    THE persisted artifact of a data pipeline (the cleaned corpus a
    production stack writes once and every downstream selection job
    reads). Shared by x10_clean_corpus and x10_training_corpus;
    session-memoized with a lineage cut like the SemDeDup flag table."""
    from diepy_spark.operators.corpus import clean_corpus

    return clean_corpus(
        _docs(spark, sf_dir),
        min_tokens=CLEAN_MIN_TOKENS,
        min_score=CLEAN_MIN_SCORE,
        max_dup3=CLEAN_MAX_DUP3,
        jaccard_threshold=JACCARD_THRESHOLD,
        max_df=JACCARD_MAX_DF,
    ).localCheckpoint(eager=False)


@session_cached
def _supply_ps(spark, sf_dir):
    """The distinct part↔supplier edge list every x11 graph query is
    built on: (l_partkey*10+1, l_suppkey*10+2) DISTINCT over lineitem.
    Session-memoized with a lineage cut (the _ph_sigs persisted-index
    discipline): a production graph stack materializes the edge list
    ONCE and every algorithm reads it — GraphFrames' vertices/edges
    contract — instead of re-running the scan + distinct exchange per
    query. Fourteen x11 plans consume this frame; results are
    hash-identical by construction (same expression, same distinct)."""
    from diepy_spark.operators.clustering import keyed_checkpoint

    li = load_table(spark, sf_dir, "lineitem")
    # r13: materialized hash-partitioned on src (keyed_checkpoint — the
    # Pregel/GraphX edge layout, see _supply_sym) so directed consumers'
    # joins/degree aggregates keyed on src skip the edge-side exchange
    # every round (hits' hub half-step is the heavy one).
    return keyed_checkpoint(
        li.select(
            (F.col("l_partkey") * 10 + 1).alias("src"),
            (F.col("l_suppkey") * 10 + 2).alias("dst"),
        ).distinct(),
        "src",
    )


@session_cached
def _supply_sym(spark, sf_dir):
    """Symmetrized _supply_ps, session-memoized as a SRC-PARTITIONED
    checkpoint (r13, guide §2.4). Part ids are ≡1 (mod 10) and supplier
    ids ≡2 (mod 10), so ps and its flip are DISJOINT and the union needs
    no dedup. The frame is materialized hash-partitioned on src
    (clustering.keyed_checkpoint — the Pregel/GraphX edge co-partitioning
    contract: edges are laid out by source exactly once, then every
    iterative consumer's per-round join/aggregate keyed on src reads the
    layout instead of re-shuffling |E| rows each round; only vertex-sized
    frames move per superstep). One explicit repartition per session buys
    pagerank/ppr/katz/bfs/closeness/kcore/LPA-degree passes their
    edge-side exchange at EVERY iteration."""
    from diepy_spark.operators.clustering import keyed_checkpoint

    ps = _supply_ps(spark, sf_dir)
    return keyed_checkpoint(
        ps.unionByName(
            ps.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ),
        "src",
    )


@session_cached
def _ev_vhist_cached(spark, sf_dir):
    """The per-(event_type, user-parity, cent-value) COUNT histogram over
    events with non-null value — THE value-frequency artifact the x8
    rank/distribution tests all start from (r14, guide §2.1/§2.3: the
    freq_median(weight_col=) precedent generalized). Every consumer's
    own histogram is an exact rollup of this one (counts sum over the
    dropped keys), so nine tests stop re-scanning and re-aggregating
    the events corpus and ride one session frame bounded by
    |types| x 2 x |cent domain| — at 100 TB the corpus scan is the
    dominant cost and the domain-bounded artifact is what a metrics
    store persists. Parity is the shared cohort key (user ids are
    NOT NULL by the events schema; both parity spellings used by the
    consumers coincide)."""
    return (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .selectExpr(
            "event_type",
            "CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS par",
            "CAST(round(value * 100) AS BIGINT) AS cents",
        )
        .groupBy("event_type", "par", "cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)
    )


# ---------------------------------------------------------------------------
# Spark plans
# ---------------------------------------------------------------------------

def x1_dedup_exact(spark, sf_dir):
    return D.exact_dups(_docs(spark, sf_dir)).orderBy("keep_id")


def x1_fingerprint(spark, sf_dir):
    d = _docs(spark, sf_dir).where(F.col("doc_id") < FP_DOC_MAX)
    return D.fingerprint(d).orderBy("doc_id")


def x2_minhash_signatures(spark, sf_dir):
    return D.minhash_signatures(_docs(spark, sf_dir), SIG_NUM_HASHES).orderBy("d")


@session_cached
def _mh_sigs_cached(spark, sf_dir):
    """The MinHash SIGNATURE frame at the standard LSH_NUM_HASHES width,
    session-memoized (r13) — narratively the persisted signature index a
    dedup pipeline writes once beside the corpus: six derivations per
    session (the _lsh_pairs_cached banding input, x2_minhash_est's
    agreement sides, x2_lsh_bucket_health, x2_lsh_curve, x2_bbit_minhash,
    x2_containment_est) collapse to ONE corpus shingle+hash pass.
    Doc-count x LSH_NUM_HASHES cells — orders of magnitude below the
    shingle ledger it derives from."""
    return D.minhash_signatures(
        _docs(spark, sf_dir), LSH_NUM_HASHES
    ).localCheckpoint(eager=False)


@session_cached
def _lsh_pairs_cached(spark, sf_dir):
    """The verified MinHash-LSH near-dup pair frame at the standard
    constants, shared by its three declared consumers
    (x2_minhash_lsh_pairs, x2_cross_source_pairs, x2_dedup_savings) —
    narratively the persisted pair table a dedup pipeline writes once
    and joins everywhere (the _cc_cached pattern). Session-keyed with a
    lineage cut: the banding + exact-Jaccard verify chain is the
    expensive part, and each consumer would otherwise re-derive it."""
    return D.minhash_lsh_pairs(
        _docs(spark, sf_dir),
        num_hashes=LSH_NUM_HASHES,
        band_size=LSH_BAND_SIZE,
        threshold=LSH_THRESHOLD,
        max_df=JACCARD_MAX_DF,
        sigs=_mh_sigs_cached(spark, sf_dir),
    ).localCheckpoint(eager=False)


def x2_minhash_lsh_pairs(spark, sf_dir):
    return _lsh_pairs_cached(spark, sf_dir).orderBy("da", "db")


def x2_ngram_jaccard_pairs(spark, sf_dir):
    return _jaccard_pairs(spark, sf_dir).orderBy("da", "db")


def x2_dup_clusters(spark, sf_dir):
    """Duplicate GROUPS, not just pairs: connected components
    (operators/clustering.py) over the n-gram
    Jaccard near-dup graph. Cluster id = min doc_id of the component —
    a unique fixpoint, so the result is deterministic. Oracle: transitive
    closure via DuckDB recursive CTE over the same pair graph."""
    cc = _cc_cached(spark, sf_dir)
    return (
        cc.withColumn("cluster_size", F.count(F.lit(1)).over(Window.partitionBy("cluster")))
        .orderBy("node")
    )


def x2_cluster_size_dist(spark, sf_dir):
    """Duplicate-cluster SIZE DISTRIBUTION — the one-table answer to "how
    duplicated is this corpus": for every cluster size (1 = unique doc),
    how many clusters and how many documents. The report every dedup
    paper prints (a heavy tail here = boilerplate mega-clusters that
    keep-one-per-cluster collapses). Composes the near-dup pair graph +
    connected components (x2_dup_clusters) with docs not in any pair
    counted as singleton clusters; two tiny aggregates on top of the
    label frame — no new corpus pass beyond the pair machinery."""
    d = _docs(spark, sf_dir)
    cc = _cc_cached(spark, sf_dir)
    lab = d.select("doc_id").join(
        cc.select(F.col("node").alias("doc_id"), "cluster"), "doc_id", "left"
    ).select(F.coalesce("cluster", F.col("doc_id")).alias("cluster"))
    sizes = lab.groupBy("cluster").agg(F.count(F.lit(1)).alias("size"))
    return (
        sizes.groupBy("size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.expr("CAST(count(*) * first(size) AS BIGINT)").alias("n_docs"),
        )
        .orderBy("size")
    )


@session_cached
def _jaccard_pairs(spark, sf_dir):
    """The n-gram Jaccard near-dup PAIR LIST, session-memoized (r13) —
    narratively the persisted dup-pair artifact a dedup pipeline writes
    once and every consumer reads: six derivations per session
    (ngram_jaccard_pairs, the CC label input, dedup apply/best/stats,
    x11_cc_twophase) collapse to one gram-bucketed pair generation.
    Pair-graph-sized, orders of magnitude below the corpus."""
    return D.ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=JACCARD_THRESHOLD, max_df=JACCARD_MAX_DF
    ).localCheckpoint(eager=False)


@session_cached
def _cc_cached(spark, sf_dir):
    """Connected components over the n-gram Jaccard near-dup graph,
    shared by the five cluster consumers (dup_clusters, size dist,
    apply, best, stats) — narratively the persisted (node, cluster)
    label table every dedup pipeline writes once. Session-keyed; the
    lineage cut stops each consumer re-running the pair generation and
    the label-propagation iterations. Dup-graph-node-sized, orders of
    magnitude below the corpus."""
    from diepy_spark.operators.clustering import connected_components

    return connected_components(
        _jaccard_pairs(spark, sf_dir), "da", "db"
    ).localCheckpoint(eager=False)


def x2_dedup_apply(spark, sf_dir):
    """The consuming operator of the dedup pipeline: near-dup pairs →
    connected components → cleaned corpus (one representative per cluster
    + all unique docs). Oracle: anti-join against the recursive-CTE
    transitive closure of the same pair graph."""
    from diepy_spark.operators.clustering import dedup_corpus

    d = _docs(spark, sf_dir)
    return (
        dedup_corpus(
            d, _jaccard_pairs(spark, sf_dir), labels=_cc_cached(spark, sf_dir)
        )
        .select("doc_id", "lang", "n_chars", "cluster")
        .orderBy("doc_id")
    )


INC_DEDUP_MOD = 5  # batch = doc_id % 5 == 0 (~20%), index = the rest


def x1_incremental_dedup(spark, sf_dir):
    """Incremental exact dedup (operators/dedup.py:incremental_exact_dedup):
    the arriving 20% batch checks its md5 fingerprints against the
    standing 80% index and against earlier rows of its own batch — the
    crawl-N+1 ingest step that avoids re-deduplicating the corpus."""
    from diepy_spark.operators.dedup import incremental_exact_dedup

    d = _docs(spark, sf_dir)
    return incremental_exact_dedup(
        d.where(F.col("doc_id") % INC_DEDUP_MOD != 0),
        d.where(F.col("doc_id") % INC_DEDUP_MOD == 0),
    ).orderBy("doc_id")


BLOOM_DD_SEED = "bloomdd"


def x1_bloom_dedup(spark, sf_dir):
    """BLOOM-GATED incremental dedup — the shuffle-free front gate for
    crawl-N+1 ingest at 100 TB: instead of exact-joining every arriving
    fingerprint against the standing index (a shuffle of the index side
    per batch), broadcast a Bloom filter of the index (operators/
    bloom.py — KB-sized regardless of index width) and bit-test the
    batch in a pure projection; only the accepted sliver (true dups +
    false positives) needs the exact verify join. This query is the
    TRUST INSTRUMENT for that design: per source, arrived / bloom_pass
    / exact_dup / false_pos and the measured FP rate among true
    uniques — the number that prices the bloom gate against BLOOM_M.
    No false negatives are possible (every exact dup bloom-passes), so
    the gate is lossless by construction; the oracle recomputes the
    same md5-slice bit positions and the exact truth."""
    from diepy_spark.operators.bloom import bloom_build, bloom_probe

    d = _docs(spark, sf_dir)
    idx = d.where(F.col("doc_id") % INC_DEDUP_MOD != 0).select(
        F.md5("text").alias("fp")
    )
    batch = d.where(F.col("doc_id") % INC_DEDUP_MOD == 0).select(
        "doc_id", "source", F.md5("text").alias("fp")
    )
    filt = bloom_build(
        idx, "fp", m=BLOOM_M, k=BLOOM_K, seed=BLOOM_DD_SEED
    ).localCheckpoint(eager=False)  # <= m/32 words — this IS the broadcast filter
    hits = (
        bloom_probe(batch, "fp", filt, m=BLOOM_M, k=BLOOM_K, seed=BLOOM_DD_SEED)
        .select("doc_id")
        .withColumn("h", F.lit(1))
    )
    truth = idx.distinct().withColumn("t", F.lit(1))
    flagged = (
        batch.join(hits, "doc_id", "left")
        .join(truth, "fp", "left")
        .selectExpr(
            "source",
            "coalesce(h, 0) AS h",
            "coalesce(t, 0) AS t",
        )
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("arrived"),
            F.expr("CAST(sum(h) AS BIGINT)").alias("bloom_pass"),
            F.expr("CAST(sum(t) AS BIGINT)").alias("exact_dup"),
        )
        .selectExpr(
            "source",
            "arrived",
            "bloom_pass",
            "exact_dup",
            "bloom_pass - exact_dup AS false_pos",
            "round(CAST(bloom_pass - exact_dup AS DOUBLE)"
            " / CAST(arrived - exact_dup AS DOUBLE), 6) AS fp_rate",
        )
        .orderBy("source")
    )


NOVELTY_BUCKET = 100  # docs per crawl-order bucket


def x5_ngram_novelty(spark, sf_dir):
    """N-GRAM NOVELTY DECAY — the diminishing-returns instrument for
    crawl scheduling: per bucket of NOVELTY_BUCKET docs in id (crawl)
    order, what fraction of the bucket's distinct bigrams had never
    appeared in any earlier document? A healthy fresh crawl holds
    novelty high; a saturated source decays toward its boilerplate
    floor. One gram explode -> min-first-doc aggregate (map-side
    combined, 32-byte-boundable keys) -> flag-back join: the same
    single-shuffle currency as span dedup, no pair joins anywhere."""
    from diepy_spark.operators.dedup import shingle_frame

    g = shingle_frame(_docs(spark, sf_dir)).select(
        "d", F.explode("sh_arr").alias("s")
    )
    first = g.groupBy("s").agg(F.min("d").alias("first_doc"))
    per_doc = (
        g.join(first, "s")
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("d")).cast("bigint")).alias(
                "n_novel"
            ),
        )
    )
    return (
        per_doc.groupBy(
            (F.col("d") / NOVELTY_BUCKET).cast("bigint").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_grams").alias("grams"),
            F.sum("n_novel").alias("novel"),
        )
        .select(
            "bucket",
            "docs",
            "grams",
            "novel",
            F.round(F.col("novel") / F.col("grams"), 4).alias("novelty"),
        )
        .orderBy("bucket")
    )


def x12_seasonality(spark, sf_dir):
    """Day-of-week SEASONALITY audit — the time-dimension DQ instrument
    (x12_benford audits value digits; this audits the event-time
    distribution): per event type, the chi-square of the observed
    day-of-week histogram against uniform. The detector for
    scheduler-shaped traffic, ingestion gaps repeating weekly, or —
    what it correctly fires on here — a capture window spanning a
    NON-WHOLE number of weeks, which over-represents the wrapped days
    (the classic dashboard artifact this audit exists to catch).
    All seven days enter the statistic (absent days count as 0 via a
    generated day dimension) and the float division happens ONCE: the
    identity chi2 = sum((7c - n)^2) / (7n) keeps the sum an exact
    integer, so no order-dependent double accumulation exists to
    drift."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.expr("dayofweek(ts) - 1").alias("dow")
    )
    # the (type, dow) histogram is types*7-bounded and consumed three
    # times (type dimension, the left join, totals) — cut its lineage
    h = (
        ev.groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    days = spark.range(7).select(F.col("id").cast("int").alias("dow"))
    types = h.select("event_type").distinct()
    full = (
        types.crossJoin(F.broadcast(days))
        .join(h, ["event_type", "dow"], "left")
        .select("event_type", "dow", F.coalesce("c", F.lit(0)).alias("c"))
    )
    tot = full.groupBy("event_type").agg(F.sum("c").alias("n"))
    sq = (
        full.join(tot, "event_type")
        .select(
            "event_type",
            "n",
            ((7 * F.col("c") - F.col("n")) * (7 * F.col("c") - F.col("n"))).alias(
                "sq"
            ),
        )
        .groupBy("event_type")
        .agg(F.max("n").alias("n"), F.sum("sq").alias("ssq"))
    )
    return sq.selectExpr(
        "event_type",
        "n",
        "round(CAST(ssq AS DOUBLE) / (7 * CAST(n AS DOUBLE)), 4) AS chi2",
    ).orderBy("event_type")


MH_MIN_MATCH = 8  # agreeing min-hashes out of LSH_NUM_HASHES (= est jaccard 0.5)


def x2_incremental_minhash(spark, sf_dir):
    """Incremental NEAR-dup dedup (operators/dedup.py:
    incremental_minhash_dedup — the MinHash sibling of
    x1_incremental_dedup, same 80/20 split): the arriving batch LSH-bands
    against the standing signature index and flags docs whose signatures
    agree on >= MH_MIN_MATCH/16 min-hashes with an index doc
    (dup_of_index) or an earlier batch doc (dup_in_batch). The index
    corpus text is never re-scanned — the signature table IS the index,
    which is what makes crawl-N+1 ingest linear in the batch."""
    from diepy_spark.operators.dedup import incremental_minhash_dedup

    d = _docs(spark, sf_dir)
    # r13 (guide §2.1): both split signature frames are row-filters of
    # the session-shared _mh_sigs_cached frame (same num_hashes/n; a
    # doc's MinHash depends only on its own shingles) — the corpus is
    # not re-shingled here, which is the operator's own 100 TB story
    # ("the index frame is the persisted signature table itself").
    sigs = _mh_sigs_cached(spark, sf_dir)
    return incremental_minhash_dedup(
        d.where(F.col("doc_id") % INC_DEDUP_MOD != 0),
        d.where(F.col("doc_id") % INC_DEDUP_MOD == 0),
        num_hashes=LSH_NUM_HASHES,
        band_size=LSH_BAND_SIZE,
        min_match=MH_MIN_MATCH,
        index_sigs=sigs.where(F.col("d") % INC_DEDUP_MOD != 0),
        batch_sigs=sigs.where(F.col("d") % INC_DEDUP_MOD == 0),
    ).orderBy("doc_id")


def x2_dedup_best(spark, sf_dir):
    """dedup_corpus with the KEEP-BEST policy
    (operators/clustering.py:dedup_corpus_best): per duplicate cluster
    keep the LONGEST member (n_chars desc, ties -> smaller id) — of N
    near-identical pages a pipeline keeps the fullest capture, not the
    min-id one. Same pair graph and closure as x2_dedup_apply, so the
    two queries differ exactly by the representative choice."""
    from diepy_spark.operators.clustering import dedup_corpus_best

    d = _docs(spark, sf_dir)
    return (
        dedup_corpus_best(
            d,
            _jaccard_pairs(spark, sf_dir),
            "n_chars",
            labels=_cc_cached(spark, sf_dir),
        )
        .select("doc_id", "lang", "n_chars", "cluster")
        .orderBy("doc_id")
    )


def x2_dedup_stats(spark, sf_dir):
    """One-row dedup accounting (docs in/out, removed, ratio) — what a
    pipeline reports after each dedup pass."""
    from diepy_spark.operators.clustering import dedup_stats

    return dedup_stats(
        _docs(spark, sf_dir),
        _jaccard_pairs(spark, sf_dir),
        labels=_cc_cached(spark, sf_dir),
    )


def x2_simhash(spark, sf_dir):
    return D.simhash(_docs(spark, sf_dir)).orderBy("d")


def x2_simhash_pairs(spark, sf_dir):
    d = _docs(spark, sf_dir).where(F.col("doc_id") < MEDIA_DOC_MAX)
    return D.simhash_candidate_pairs(d).orderBy("da", "db")


def x2_embedding_near_dup(spark, sf_dir):
    """Brute-force pairs are O(n²); the declared query bounds the candidate
    set (vec_id < NEAR_DUP_MAX) — at scale the bound comes from an LSH
    bucket instead (see x3_ann_topk_lsh for the bucketed path).
    force=True: the filter one line up IS the row bound, so the operator's
    limit-probe job (a defensive count against unbounded inputs) would
    re-verify a bound that holds by construction on every bench run."""
    v = _vecs(spark, sf_dir).where(F.col("vec_id") < NEAR_DUP_MAX)
    return S.cosine_pairs(v, threshold=NEAR_DUP_COS, force=True).orderBy("va", "vb")


def x2_embedding_near_dup_lsh(spark, sf_dir):
    """The unbounded scale path for embedding near-dup: LSH blocking over
    the FULL embeddings table (no id bound). Hash-checked: the oracle
    rebuilds the bucket ids with similarity.bucket_sql (same plane
    constants, same fold order — bit-aligned, verified 0 mismatches)."""
    return S.lsh_near_dup_pairs(
        _vecs(spark, sf_dir),
        threshold=NEAR_DUP_COS,
        num_planes=NEAR_DUP_NUM_PLANES,
        dim=EMB_DIM,
    ).orderBy("va", "vb")


def x3_mips(spark, sf_dir):
    """Maximum-inner-product search (the recommender/reranker sibling of
    cosine top-k: score = raw dot product, no normalization — MIPS is
    NOT cosine and the two rank differently whenever norms vary). Exact
    integer dot on the quantized grid, so ranking ties and values are
    bit-identical cross-engine; the query side broadcasts and the corpus
    never shuffles — the same shape cosine_topk pins."""
    from diepy_spark.operators.clustering import quantize_vectors

    v = _vecs(spark, sf_dir)
    q = quantize_vectors(
        v.where(F.col("vec_id") < TOPK_QUERY_MAX), "vec_id", "embedding", KM_SCALE
    ).select(F.col("vec_id").alias("qid"), F.col("xi").alias("qxi"))
    c = quantize_vectors(
        v.where(F.col("vec_id") >= TOPK_QUERY_MAX), "vec_id", "embedding", KM_SCALE
    ).select(F.col("vec_id").alias("cid"), F.col("xi").alias("cxi"))
    dot = F.expr(
        "aggregate(zip_with(qxi, cxi, (a, b) -> a * b),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    scored = c.join(F.broadcast(q)).withColumn("dot", dot)
    w = Window.partitionBy("qid").orderBy(F.col("dot").desc(), F.col("cid"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOPK_K)
        .select("qid", "cid", "dot", "rk")
        .orderBy("qid", "rk")
    )


def x3_cosine_topk(spark, sf_dir):
    v = _vecs(spark, sf_dir)
    return S.cosine_topk(
        v.where(F.col("vec_id") < TOPK_QUERY_MAX),
        v.where(F.col("vec_id") >= TOPK_QUERY_MAX),
        k=TOPK_K,
    ).orderBy("qid", "rk")


def x3_filtered_ann(spark, sf_dir):
    """FILTERED vector search — the vector-DB feature plain top-k can't
    express: top-k under a metadata predicate (here: neighbors NOT of
    the query's own label — cross-class retrieval). Semantics matter at
    scale: this is PRE-filtering (the predicate prunes candidates
    BEFORE ranking, so every query still gets k true matches) rather
    than post-filtering top-k' then discarding, which silently returns
    fewer than k when the filter is selective. Plan: queries broadcast
    with their labels, predicate evaluated in the join condition so the
    corpus scan stays single-pass and shuffle-free; ranking is the same
    per-query window and norm columns as x3_cosine_topk."""
    v = _vecs(spark, sf_dir)
    q = v.where(F.col("vec_id") < TOPK_QUERY_MAX).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("ql"),
    )
    c = v.where(F.col("vec_id") >= TOPK_QUERY_MAX).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cv"),
        F.col("label").alias("cl"),
    )
    return (
        S.topk_by_cosine(
            c, q, vecs=("cv", "qv"), on=F.col("ql") != F.col("cl"),
            per="qid", tie="cid", k=TOPK_K,
        )
        .select("qid", "ql", "cid", "cl", "cos", "rk")
        .orderBy("qid", "rk")
    )


def x3_ann_topk_lsh(spark, sf_dir):
    """Approximate NN via random-hyperplane LSH buckets. Hash-checked
    against a DuckDB oracle that rebuilds the bucket ids bit-identically
    (similarity.bucket_sql — same plane constants, same fold order)."""
    v = _vecs(spark, sf_dir)
    return S.ann_topk_lsh(
        v.where(F.col("vec_id") < TOPK_QUERY_MAX),
        v.where(F.col("vec_id") >= TOPK_QUERY_MAX),
        k=TOPK_K,
        num_planes=ANN_NUM_PLANES,
        dim=EMB_DIM,
    ).orderBy("qid", "rk")


def x3_ivf_topk(spark, sf_dir):
    """IVF-flat ANN: centroids are the first IVF_CENTROID_MAX vectors (a
    deterministic quantizer both engines can build), corpus = the rest,
    queries as in x3_cosine_topk. Fully SQL-expressible, so unlike the
    random-hyperplane path this one is hash-checked end to end."""
    v = _vecs(spark, sf_dir)
    cents = v.where(F.col("vec_id") < IVF_CENTROID_MAX)
    return S.ivf_topk(
        v.where((F.col("vec_id") >= IVF_CENTROID_MAX) & (F.col("vec_id") < IVF_CENTROID_MAX + TOPK_QUERY_MAX)),
        v.where(F.col("vec_id") >= IVF_CENTROID_MAX + TOPK_QUERY_MAX),
        cents,
        k=TOPK_K,
    ).orderBy("qid", "rk")


def x5_lang_id(spark, sf_dir):
    return T.lang_id(_docs(spark, sf_dir)).orderBy("doc_id")


def x5_token_stats(spark, sf_dir):
    return T.token_stats(_docs(spark, sf_dir)).orderBy("doc_id")


def x5_quality_score(spark, sf_dir):
    return T.quality_score(_docs(spark, sf_dir)).orderBy("doc_id")


def x6_media_meta(spark, sf_dir):
    # use_codecs=False PINS the deterministic stub dims: the payloads here
    # are fake (text bytes), and the oracle hash must not flip if an image
    # codec appears in the environment (decode_media probes PIL otherwise)
    d = _docs(spark, sf_dir).where(F.col("doc_id") < MEDIA_DOC_MAX)
    return M.decode_media(M.with_binary_payload(d), use_codecs=False).orderBy("doc_id")


def x6_frame_sample(spark, sf_dir):
    """Keyframe-style sampling: every 4th 256-byte block of the payload as
    a frame row; frames reported as md5 so the hash compare is
    binary-exact without shipping raw bytes through the harness."""
    d = _docs(spark, sf_dir).where(F.col("doc_id") < MEDIA_DOC_MAX)
    return (
        M.frame_sample(M.with_binary_payload(d), every=4, frame_size=256)
        .select("doc_id", "frame_idx", F.md5("frame_bytes").alias("frame_md5"), "frame_len")
        .orderBy("doc_id", "frame_idx")
    )


def x6_features(spark, sf_dir):
    """Byte-statistics feature extraction (Arrow-batched mapInPandas).
    Payloads here are ASCII text bytes, so the oracle can rebuild the byte
    histogram from char positions; float outputs rounded to 4."""
    d = _docs(spark, sf_dir).where(F.col("doc_id") < MEDIA_DOC_MAX)
    return (
        M.extract_features(M.with_binary_payload(d))
        .select(
            "doc_id",
            "n_bytes",
            F.round("mean_byte", 4).alias("mean_byte"),
            "distinct_bytes",
            F.round("entropy", 4).alias("entropy"),
        )
        .orderBy("doc_id")
    )


def x6_resize(spark, sf_dir):
    """Resize STUB: deterministic md5-of-(payload, dims) stands in for
    resized bytes (no codecs in this environment); plumbing is the real
    operator's."""
    d = _docs(spark, sf_dir).where(F.col("doc_id") < MEDIA_DOC_MAX)
    return M.resize_stub(M.with_binary_payload(d), 64, 64).orderBy("doc_id")


WINNOW_K = 3
WINNOW_W = 4


def x5_winnow(spark, sf_dir):
    """Winnowing fingerprints (MOSS): per doc, the count of selected
    fingerprints and an md5 signature of the full sorted (hash, position)
    set — the signature makes the oracle comparison total over the
    fingerprint SET, not just its size."""
    d = _docs(spark, sf_dir).where(F.col("doc_id") < FP_DOC_MAX)
    fp = D.winnow_fingerprints(d, k=WINNOW_K, w=WINNOW_W)
    return (
        fp.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fp"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.sort_array(
                        F.collect_list(F.concat_ws(":", "h", F.col("i").cast("string")))
                    ),
                )
            ).alias("fp_sig"),
        )
        .orderBy("doc_id")
    )


VOCAB_TOP = 100
TFIDF_K = 3
WEIGHTED_SCALE = 3000.0


def x5_vocab(spark, sf_dir):
    """Corpus vocabulary / heavy hitters: top tokens by occurrence count
    with doc frequency — the vocabulary-building step of a tokenizer
    pipeline (operators/text.py:vocab; one explode shuffle, map-side
    partial agg, TakeOrderedAndProject top-n)."""
    return T.vocab(_docs(spark, sf_dir), top_n=VOCAB_TOP).orderBy(
        F.col("n").desc(), "tok"
    )


def x5_tfidf(spark, sf_dir):
    """Top-k characteristic terms per doc by tf-idf
    (operators/text.py:tfidf_top_terms)."""
    return T.tfidf_top_terms(_docs(spark, sf_dir), k=TFIDF_K).orderBy("doc_id", "rk")


def x3_label_centroids(spark, sf_dir):
    """Per-label mean embedding (long form) — the centroid-update step of
    k-means/IVF training (operators/similarity.py:label_centroids)."""
    return S.label_centroids(_vecs(spark, sf_dir)).orderBy("label", "i")


def x8_weighted_sample(spark, sf_dir):
    """Length-proportional deterministic document sample: inclusion
    probability min(1, n_chars/scale) — the token-budgeted subcorpus
    selection (operators/sampling.py:weighted_hash_sample)."""
    from diepy_spark.operators.sampling import weighted_hash_sample

    d = _docs(spark, sf_dir)
    return (
        weighted_hash_sample(d, "doc_id", "n_chars", WEIGHTED_SCALE, seed="wbench")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


def x8_grouped_linfit(spark, sf_dir):
    """applyInPandas showcase: per-language OLS fit of doc length (chars)
    vs token count (operators/grouped.py:group_linfit). Exact int64
    normal-equation sums inside the UDF -> bit-identical to the SQL
    closed form."""
    from diepy_spark.operators.dedup import tokens_expr
    from diepy_spark.operators.grouped import group_linfit

    d = _docs(spark, sf_dir).select(
        "lang",
        F.expr(f"size({tokens_expr('text')})").cast("bigint").alias("x"),
        F.col("n_chars").cast("bigint").alias("y"),
    )
    return group_linfit(d, "lang", "x", "y").orderBy("lang")


def x9_merge_upsert(spark, sf_dir):
    """CDC merge: apply a keyed update batch (price corrections on
    o_orderkey % 97, plus inserted keys shifted by 10M) to orders; update
    wins per key (operators/merge.py:merge_upsert — one union + one keyed
    window shuffle). Output = the merged table's (key, price), a total
    value-level check of replace/insert/carry-through semantics."""
    from diepy_spark.operators.merge import merge_upsert

    o = _t_orders(spark, sf_dir)
    corrections = o.where(F.col("o_orderkey") % 97 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000.0
    )
    inserts = o.where(F.col("o_orderkey") % 31 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10_000_000
    )
    merged = merge_upsert(o, corrections.unionByName(inserts), ["o_orderkey"])
    # raw doubles: +1000.0 is bit-exact in both engines, no rounding needed
    return merged.select(
        "o_orderkey", F.col("o_totalprice").alias("price")
    ).orderBy("o_orderkey")


def _t_orders(spark, sf_dir):
    return load_table(spark, sf_dir, "orders")


CDC_U_MOD, CDC_D_MOD, CDC_C_MOD = 5, 7, 11  # update / delete / conflict keys


def x9_cdc_apply(spark, sf_dir):
    """ORDERED CHANGELOG application (operators/merge.py:apply_changelog
    — the Debezium-consumer shape x9_merge_upsert's plain upsert can't
    express): a synthetic but adversarial log where update and DELETE
    entries overlap on the same keys (every %35 key has U@2 then D@3 —
    the delete must win) and conflicting updates arrive out of order
    (every %11 key has U@1 and U@4 — the later sequence must win, even
    over an interleaved delete at %77). Per key the highest sequence
    decides; the hash check is therefore a total test of latest-wins,
    tombstone, and carry-through semantics at once. Price deltas are
    whole doubles (+1.0/+2.0/+3.0) — bit-exact in both engines."""
    from diepy_spark.operators.merge import apply_changelog

    o = _t_orders(spark, sf_dir).select("o_orderkey", "o_totalprice")

    # r13 (guide §2.3 "project before the exchange" / one-pass builds):
    # the four changelog classes were four filtered SCANS of orders
    # unioned row-wise; each row's applicable entries are a pure function
    # of its key, so ONE scan explodes them per row instead (same
    # (key, price+delta, op, seq) multiset — union order is irrelevant,
    # latest-wins is decided by seq). 4 orders scans -> 1.
    ent = ", ".join(
        f"CASE WHEN o_orderkey % {mod} = 0 THEN"
        f" named_struct('op', '{op}', 'seq', {seq}, 'delta',"
        f" CAST({delta} AS DOUBLE)) END"
        for mod, op, seq, delta in (
            (CDC_U_MOD, "U", 2, 1.0),
            (CDC_D_MOD, "D", 3, 0.0),
            (CDC_C_MOD, "U", 1, 2.0),
            (CDC_C_MOD, "U", 4, 3.0),
        )
    )
    log = (
        o.select(
            "o_orderkey",
            "o_totalprice",
            F.expr(f"filter(array({ent}), x -> x IS NOT NULL)").alias("__es"),
        )
        .where(F.size("__es") > 0)
        .select("o_orderkey", "o_totalprice", F.explode("__es").alias("__e"))
        .select(
            "o_orderkey",
            (F.col("o_totalprice") + F.col("__e.delta")).alias("o_totalprice"),
            F.col("__e.op").alias("op"),
            F.col("__e.seq").alias("seq"),
        )
    )
    out = apply_changelog(o, log, ["o_orderkey"], seq_col="seq", op_col="op")
    return out.select(
        "o_orderkey", F.col("o_totalprice").alias("price")
    ).orderBy("o_orderkey")


def x8_hash_split(spark, sf_dir):
    """Deterministic 80/10/10 train/valid/test split of the corpus
    (operators/sampling.py): narrow projection, reproducible across runs and
    partitionings, then per-(split, lang) accounting. At 100 TB the split
    is a free column and the only shuffle is the tiny final rollup."""
    from diepy_spark.operators.sampling import hash_split

    d = _docs(spark, sf_dir)
    return (
        hash_split(d, "doc_id")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("c"), F.sum("n_chars").alias("chars"))
        .orderBy("split", "lang")
    )


def x8_hash_sample(spark, sf_dir):
    """Deterministic ~10% sample (seed-salted md5 threshold) with full-row
    fidelity — the filter is a plain predicate, so at scale it prunes at
    the scan. Output is the sampled doc ids + stats."""
    from diepy_spark.operators.sampling import hash_sample

    d = _docs(spark, sf_dir)
    return (
        hash_sample(d, "doc_id", 0.1, seed="bench")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


CONTAM_N = 4  # word n-gram length for the contamination check
CONTAM_BENCH_FRAC = 0.2  # deterministic benchmark split fraction
WINNOW_MIN_SHARED = 1  # min shared fingerprints to report a pair (the
# fixture corpus's word-salad docs rarely share more than one winnowed
# k-gram; real plagiarism detection raises this with corpus size)


def x5_repetition(spark, sf_dir):
    """Within-doc repetition (Gopher duplicate-ngram-fraction filters):
    per-row HOF arrays, zero shuffle (operators/text.py:repetition_stats)."""
    return T.repetition_stats(_docs(spark, sf_dir)).orderBy("doc_id")


# Deterministic synthetic PII derived from doc_id arithmetic — the corpus
# text itself is clean word salad, so the declared query plants
# reconstructible emails/phones/IPs and the operator must find ALL of them.
# The same formula is emitted into both engines (cast spelling differs).
def _pii_text(cast_str) -> str:
    return (
        "concat(substr(text, 1, 40), ' mail u', {d}, '@ex', {d7}, "
        "'.org call 555-', lpad({d1000}, 3, '0'), '-', lpad({d10000}, 4, '0'), "
        "' from 10.', {d256}, '.0.', {d100})"
    ).format(
        d=cast_str("doc_id"),
        d7=cast_str("doc_id % 7"),
        d1000=cast_str("doc_id % 1000"),
        d10000=cast_str("doc_id % 10000"),
        d256=cast_str("doc_id % 256"),
        d100=cast_str("doc_id % 100"),
    )


def x5_pii_redact(spark, sf_dir):
    """PII scrubbing pass (operators/text.py:redact_pii): count + mask
    emails/phones/IPv4s, one narrow JVM-side projection."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(_pii_text(lambda x: f"CAST({x} AS STRING)")).alias("text"),
    )
    return T.redact_pii(d).orderBy("doc_id")


def x2_contamination(spark, sf_dir):
    """Benchmark-contamination check (operators/dedup.py:contamination):
    hash-split the corpus into train/benchmark, report train docs sharing
    any word 4-gram with the benchmark side. Benchmark gram set broadcast —
    the train side never shuffles its grams."""
    from diepy_spark.operators.sampling import hash_frac

    d = _docs(spark, sf_dir)
    f = hash_frac("doc_id", "contam")
    bench = d.where(f < CONTAM_BENCH_FRAC)
    train = d.where(f >= CONTAM_BENCH_FRAC)
    return D.contamination(train, bench, n=CONTAM_N).orderBy("doc_id")


def x2_winnow_pairs(spark, sf_dir):
    """Document-overlap pairs from the winnowing fingerprint index
    (operators/dedup.py:winnow_pairs) — MOSS's detection step."""
    d = _docs(spark, sf_dir).where(F.col("doc_id") < FP_DOC_MAX)
    return D.winnow_pairs(
        d, k=WINNOW_K, w=WINNOW_W, min_shared=WINNOW_MIN_SHARED
    ).orderBy("da", "db")


CHUNK_SIZE = 16  # tokens per training sequence window
CHUNK_STRIDE = 12  # window start step (overlap = 4)


def x5_chunk_pack(spark, sf_dir):
    """Context-window chunking / sequence packing
    (operators/text.py:chunk_tokens): per-doc token windows of CHUNK_SIZE
    every CHUNK_STRIDE, with content md5 per chunk. Zero shuffle."""
    return T.chunk_tokens(
        _docs(spark, sf_dir), chunk_size=CHUNK_SIZE, stride=CHUNK_STRIDE
    ).orderBy("doc_id", "chunk_idx")


def x3_quantize_int8(spark, sf_dir):
    """Scalar int8 embedding quantization
    (operators/similarity.py:quantize_int8): corpus-wide per-dimension
    affine grid, broadcast stats apply, ordered error fold."""
    return S.quantize_int8(_vecs(spark, sf_dir)).orderBy("vec_id")


CLEAN_MIN_TOKENS = 5
CLEAN_MIN_SCORE = 0.5
CLEAN_MAX_DUP3 = 0.5


def x10_clean_corpus(spark, sf_dir):
    """The COMPOSED cleaning pipeline (operators/corpus.py:clean_corpus):
    quality gate -> exact dedup -> near-dup dedup, end to end in one call,
    hash-checked against a single recursive-CTE oracle that replays every
    stage over the same thresholds."""
    out = _clean_corpus_cached(spark, sf_dir)
    return out.select("doc_id", "lang", "n_tokens", "score", "cluster").orderBy(
        "doc_id"
    )


def x10_training_corpus(spark, sf_dir):
    """The END-TO-END training-corpus pipeline — x10_clean_corpus
    extended through the round-4 surface into actual training shards:
    quality gate -> exact dedup -> n-gram near-dup (clean_corpus), then
    SEMANTIC dedup (SemDeDup flags over the embedding column, broadcast
    back so the corpus never reshuffles), then token-budget SHARD
    PACKING per language (pack_shards' one-running-sum-window shape).
    Output: per (lang, shard) doc/token totals — the manifest a training
    job reads. Every stage is the declared operator the standalone
    queries pin, so this is the composition proof: the whole
    clean->dedup->pack path hash-checks end to end against one oracle."""
    base = _clean_corpus_cached(spark, sf_dir)
    # the same flag table x10_pipeline_funnel / x2_semdedup read — the
    # persisted SemDeDup artifact, not a per-query re-derivation
    fl = _sdflags_cached(spark, sf_dir)
    keep = base.join(
        F.broadcast(fl.select(F.col("vec_id").alias("doc_id"), "is_dup")),
        "doc_id",
        "left",
    ).where(~F.coalesce("is_dup", F.lit(False)))
    p = keep.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.expr(
            f"CAST((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id"
            f" ROWS UNBOUNDED PRECEDING) - n_tokens) div {SHARD_BUDGET} AS INT)"
        ).alias("shard"),
    )
    return (
        p.groupBy("lang", "shard")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tokens").cast("bigint").alias("tokens"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("lang", "shard")
    )


def x2_minhash_est(spark, sf_dir):
    """MinHash estimator CALIBRATION: for every verified near-dup pair,
    the signature-agreement Jaccard estimate (matching components / k)
    next to the exact shingle Jaccard — the sketch-quality report that
    justifies trusting signatures at 100 TB (where exact verification is
    sampled, not total). est is an integer ratio — bit-exact in both
    engines; the signature frames join the (tiny) pair list by doc id."""
    # r13: both the signature frame and the verified pair list are the
    # session-shared artifacts (_mh_sigs_cached / _lsh_pairs_cached —
    # the same constants, so the pair frame is identical by
    # construction). The old within-query A/B (shared-unpersisted vs
    # persist) is superseded: with six cross-query consumers the
    # signature pass amortizes across the whole family, not one plan.
    sigs = _mh_sigs_cached(spark, sf_dir)
    pairs = _lsh_pairs_cached(spark, sf_dir)
    a = sigs.select(
        F.col("d").alias("da"), *[F.col(f"mh{h}").alias(f"a{h}") for h in range(LSH_NUM_HASHES)]
    )
    b = sigs.select(
        F.col("d").alias("db"), *[F.col(f"mh{h}").alias(f"b{h}") for h in range(LSH_NUM_HASHES)]
    )
    agree = None
    for h in range(LSH_NUM_HASHES):
        term = (F.col(f"a{h}") == F.col(f"b{h}")).cast("int")
        agree = term if agree is None else agree + term
    return (
        pairs.join(a, "da")
        .join(b, "db")
        .select("da", "db", "jac", (agree / F.lit(LSH_NUM_HASHES)).alias("jac_est"))
        .orderBy("da", "db")
    )


def x5_lm_score(spark, sf_dir):
    """Unigram LM perplexity scoring (operators/text.py:lm_score) — the
    CCNet-style quality filter; model trained and applied in two passes
    with ordered per-doc log-prob folds."""
    return T.lm_score(_docs(spark, sf_dir)).orderBy("doc_id")


HASH_EMBED_DIM = 16  # one md5 nibble = a 16-bucket feature space


def x5_hash_embed(spark, sf_dir):
    """Feature hashing (the Weinberger et al. 2009 hashing trick): each
    document becomes a HASH_EMBED_DIM-dim term-frequency vector with
    bucket(tok) = first md5 nibble — the in-engine text→vector bridge
    that feeds the X3 similarity surface without an external embedding
    model. Exact integer counts end to end (the vector IS a count
    histogram), plus the exact squared L2 norm — the quantities a
    downstream cosine/IVF consumer needs. One token explode + ONE
    conditional-sum aggregate (no pivot's hidden distinct pass, no
    per-bucket shuffle)."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.explode(F.expr(D.tokens_expr("text"))).alias("tok")
    ).withColumn(
        "b", F.expr("instr('0123456789abcdef', substr(md5(tok), 1, 1)) - 1")
    )
    vec = toks.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("b") == k, 1).otherwise(0)).alias(f"c{k}")
            for k in range(HASH_EMBED_DIM)
        ]
    )
    norm = " + ".join(f"c{k} * c{k}" for k in range(HASH_EMBED_DIM))
    ntok = " + ".join(f"c{k}" for k in range(HASH_EMBED_DIM))
    return vec.selectExpr(
        "doc_id",
        *[f"c{k}" for k in range(HASH_EMBED_DIM)],
        f"CAST({ntok} AS BIGINT) AS n_tokens",
        f"CAST({norm} AS BIGINT) AS norm_sq",
    ).orderBy("doc_id")


def x5_ppl_buckets(spark, sf_dir):
    """CCNet-style perplexity tiering (Wenzek et al. 2020): the corpus
    splits into head/middle/tail thirds by LM perplexity (x5_lm_score's
    unigram model), the quality partition CCNet feeds to training-data
    selection. Tercile boundaries come from a value-frequency histogram
    over the ROUNDED ppl (bounded state, the freq_median argument) using
    pure integer rank arithmetic (3*cum >= n / 3*cum >= 2n — no float
    quantile); output per (lang, tier): doc count, token total, and the
    tier's ppl range. No per-group float sums anywhere — the only
    doubles are ppl values selected (min/max), never accumulated."""
    d = _docs(spark, sf_dir)
    # lm_score is consumed by BOTH the boundary histogram and the tier
    # projection; uncut, each re-runs the two-pass LM (4 corpus explodes,
    # measured 2.9s -> 2.1s warm / 12.5s -> 3.5s cold at sf0.1). Its
    # output is ~40 bytes/doc — far smaller than the corpus; a 100 TB
    # pipeline materializes LM scores exactly the same way (CCNet does).
    base = T.lm_score(d).localCheckpoint(eager=False)
    h = base.groupBy("ppl").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("ppl").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    h2 = h.withColumn("cum", F.sum("c").over(w))
    tot = h.agg(F.sum("c").alias("n"))
    b = (
        h2.crossJoin(F.broadcast(tot))
        .agg(
            F.min(F.when(3 * F.col("cum") >= F.col("n"), F.col("ppl"))).alias("b1"),
            F.min(F.when(3 * F.col("cum") >= 2 * F.col("n"), F.col("ppl"))).alias(
                "b2"
            ),
        )
    )
    tiered = (
        base.crossJoin(F.broadcast(b))
        .withColumn(
            "tier",
            1
            + (F.col("ppl") > F.col("b1")).cast("int")
            + (F.col("ppl") > F.col("b2")).cast("int"),
        )
        .join(d.select("doc_id", "lang"), "doc_id")
    )
    return (
        tiered.groupBy("lang", "tier")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tokens").alias("tok_sum"),
            F.min("ppl").alias("ppl_min"),
            F.max("ppl").alias("ppl_max"),
        )
        .orderBy("lang", "tier")
    )


def x8_hll_distinct(spark, sf_dir):
    """Reproducible HyperLogLog distinct-count sketch
    (operators/sketch.py:hll_distinct) vs the exact count, per event type."""
    from diepy_spark.operators.sketch import hll_distinct

    ev = load_table(spark, sf_dir, "events")
    return hll_distinct(ev, ["event_type"], "user_id", include_exact=True).orderBy(
        "event_type"
    )


def x1_norm_dedup(spark, sf_dir):
    """Normalization-insensitive exact dedup
    (operators/dedup.py:normalized_dups): catches case/punctuation/
    whitespace-variant duplicates raw exact dedup misses."""
    return D.normalized_dups(_docs(spark, sf_dir)).orderBy("keep_id")


XSPLIT_SEED = "xsplit"
XSPLIT_WEIGHTS = {"train": 0.8, "valid": 0.1, "test": 0.1}


def x2_cross_split_contamination(spark, sf_dir):
    """Eval-integrity report (operators/dedup.py:cross_split_contamination):
    hash-split the corpus 80/10/10, then per held-out split count documents
    sharing any word 4-gram with the train split — the leakage number that
    decides whether held-out metrics can be trusted."""
    from diepy_spark.operators.sampling import hash_split

    d = hash_split(_docs(spark, sf_dir), "doc_id", XSPLIT_WEIGHTS, seed=XSPLIT_SEED)
    return D.cross_split_contamination(d, n=CONTAM_N).orderBy("split")


def x5_domain_mix(spark, sf_dir):
    """Data-mixture report (operators/text.py:domain_mix): per
    (source, lang) docs/tokens/chars and token share — the table that sets
    pretraining sampling weights."""
    return T.domain_mix(_docs(spark, sf_dir)).orderBy("domain", "lang")


RESERVOIR_K = 5


def x8_reservoir_sample(spark, sf_dir):
    """Deterministic k-per-group sample
    (operators/sampling.py:reservoir_per_group): uniform
    without-replacement k docs per source, reproducible across engines and
    partitionings."""
    from diepy_spark.operators.sampling import reservoir_per_group

    return (
        reservoir_per_group(
            _docs(spark, sf_dir), "source", "doc_id", RESERVOIR_K, seed="resv"
        )
        .select("source", "doc_id", "rk")
        .orderBy("source", "rk")
    )


NGRAM_PROFILE_N = 3
NGRAM_PROFILE_TOP = 20


def x5_ngram_profile(spark, sf_dir):
    """Per-language character-trigram profile
    (operators/text.py:char_ngram_profile) — the feature table of a
    trainable language identifier."""
    return T.char_ngram_profile(
        _docs(spark, sf_dir), n=NGRAM_PROFILE_N, top_n=NGRAM_PROFILE_TOP
    ).orderBy("lang", "rk")


def x3_ann_recall(spark, sf_dir):
    """ANN CALIBRATION: recall@k of the two approximate paths
    (hyperplane-LSH buckets, IVF-flat) against the exact cosine top-k on
    the same (query, corpus) splits — the number a user needs before
    trusting ANN at 100 TB, and the companion of x2_minhash_est (which
    calibrates the minhash sketch the same way). Since round 4 the report
    also measures the MULTI-PROBE variants (lsh_h1 = Hamming-1 bucket
    expansion, ivf_p2 = nprobe 2), so it answers the operational question
    directly: how much recall does each extra probe buy. Each side reuses
    the declared operators; recall = |ANN ∩ exact| / |exact| over
    (qid, cid) pairs, deterministic because both rankings tie-break on
    rounded cos then id."""
    v = _vecs(spark, sf_dir)
    q1 = v.where(F.col("vec_id") < TOPK_QUERY_MAX)
    c1 = v.where(F.col("vec_id") >= TOPK_QUERY_MAX)
    # r13 (guide §1.2/§5): each rec() below reads its exact frame twice
    # (denominator agg + semi-join), two rec() per split — without a
    # lineage cut the brute-force exact top-k subtree ran FOUR times.
    exact1 = S.cosine_topk(q1, c1, k=TOPK_K).localCheckpoint(eager=False)
    ann1 = S.ann_topk_lsh(q1, c1, k=TOPK_K, num_planes=ANN_NUM_PLANES, dim=EMB_DIM)
    ann1m = S.ann_topk_lsh(
        q1, c1, k=TOPK_K, num_planes=ANN_NUM_PLANES, dim=EMB_DIM, hamming=1
    )
    cents = v.where(F.col("vec_id") < IVF_CENTROID_MAX)
    q2 = v.where(
        (F.col("vec_id") >= IVF_CENTROID_MAX)
        & (F.col("vec_id") < IVF_CENTROID_MAX + TOPK_QUERY_MAX)
    )
    c2 = v.where(F.col("vec_id") >= IVF_CENTROID_MAX + TOPK_QUERY_MAX)
    exact2 = S.cosine_topk(q2, c2, k=TOPK_K).localCheckpoint(eager=False)
    ann2 = S.ivf_topk(q2, c2, cents, k=TOPK_K)
    ann2p = S.ivf_topk(q2, c2, cents, k=TOPK_K, nprobe=2)

    def rec(exact, ann, method):
        matched = exact.join(ann.select("qid", "cid"), ["qid", "cid"], "left_semi")
        return (
            exact.agg(F.count(F.lit(1)).alias("n_exact"))
            .crossJoin(matched.agg(F.count(F.lit(1)).alias("hits")))
            .select(
                F.lit(method).alias("method"),
                "n_exact",
                "hits",
                F.round(F.col("hits") / F.col("n_exact"), 4).alias("recall"),
            )
        )

    return (
        rec(exact1, ann1, "lsh")
        .unionByName(rec(exact1, ann1m, "lsh_h1"))
        .unionByName(rec(exact2, ann2, "ivf"))
        .unionByName(rec(exact2, ann2p, "ivf_p2"))
        .orderBy("method")
    )


PR_ITER = 5
PR_SCALE = 10**9
PR_TOP = 30


def x11_pagerank(spark, sf_dir):
    """Iterative numeric graph algorithm beyond connected components:
    integer-arithmetic PageRank (operators/clustering.py:pagerank) over
    the symmetrized part↔supplier supply graph (distinct lineitem
    (l_partkey, l_suppkey) pairs; part nodes = 10k+1, supplier nodes =
    10k+2 keep the id spaces disjoint). Bit-identical across engines by
    construction — the oracle unrolls the same 5 iterations as chained
    CTEs. Top PR_TOP nodes by rank."""
    from diepy_spark.operators.clustering import pagerank

    sym = _supply_sym(spark, sf_dir)
    ranks = pagerank(
        sym, iterations=PR_ITER, scale=PR_SCALE, assume_distinct=True
    )
    return ranks.orderBy(F.col("r").desc(), "node").limit(PR_TOP)


BFS_ITER = 4
BFS_SEED_MAX = 5  # seeds = part nodes with l_partkey <= 5
PPR_SEED_MAX = 5  # PPR seeds: same smallest-part node set as BFS


def x11_ppr(spark, sf_dir):
    """PERSONALIZED PageRank
    (operators/clustering.py:personalized_pagerank — Haveliwala 2002)
    over the symmetrized supply graph, seeded at the PPR_SEED_MAX
    smallest part nodes: ranks measure proximity to the seed set — the
    related-items / recommendation primitive x11_pagerank's global
    teleport can't express (and the quantitative sibling of x11_bfs's
    hop distances: mass decays with hops instead of truncating). Pure
    integer arithmetic; the oracle unrolls the same PR_ITER rounds.
    Top PR_TOP reachable nodes by rank."""
    from diepy_spark.operators.clustering import personalized_pagerank

    li = load_table(spark, sf_dir, "lineitem")
    sym = _supply_sym(spark, sf_dir)
    seeds = (
        li.where(F.col("l_partkey") <= PPR_SEED_MAX)
        .select((F.col("l_partkey") * 10 + 1).alias("node"))
        .distinct()
    )
    ranks = personalized_pagerank(
        sym, seeds, iterations=PR_ITER, scale=PR_SCALE, assume_distinct=True
    )
    return (
        ranks.where(F.col("r") > 0)
        .orderBy(F.col("r").desc(), "node")
        .limit(PR_TOP)
    )


def x11_bfs(spark, sf_dir):
    """Multi-source BFS distances (operators/clustering.py:bfs_distances)
    over the symmetrized part↔supplier supply graph, seeded at the
    BFS_SEED_MAX smallest part nodes — the DISTANCE primitive the graph
    surface lacked (contamination radius / crawl-frontier shape). Hop
    counts are pure integers, the oracle unrolls the same BFS_ITER
    rounds as chained CTEs. Output: every node reached within BFS_ITER
    hops with its shortest distance."""
    from diepy_spark.operators.clustering import bfs_distances

    li = load_table(spark, sf_dir, "lineitem")
    sym = _supply_sym(spark, sf_dir)
    seeds = (
        li.where(F.col("l_partkey") <= BFS_SEED_MAX)
        .select((F.col("l_partkey") * 10 + 1).alias("node"))
        .distinct()
    )
    return bfs_distances(
        sym, seeds, iterations=BFS_ITER, assume_distinct=True
    ).orderBy("node")


STRAT_SEED = "strat"
TFIDF_COS_THRESHOLD = 0.2
TFIDF_MAX_DF_FRAC = 0.1


def x8_stratified_sample(spark, sf_dir):
    """Stratified rebalancing sample
    (operators/sampling.py:stratified_hash_sample): every language
    sampled at min_lang_count/its_count — the mix-flattening step before
    training. Deterministic by row identity."""
    from diepy_spark.operators.sampling import stratified_hash_sample

    d = _docs(spark, sf_dir)
    return (
        stratified_hash_sample(d, "lang", "doc_id", seed=STRAT_SEED)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


def x3_tfidf_cosine_pairs(spark, sf_dir):
    """Sparse LEXICAL document similarity
    (operators/text.py:tfidf_cosine_pairs): tf-idf cosine pairs through
    the token inverted index (stop-token df cap keeps it sub-quadratic),
    integer-exact dot products. The lexical complement of the dense
    embedding similarity paths."""
    return T.tfidf_cosine_pairs(
        _docs(spark, sf_dir),
        threshold=TFIDF_COS_THRESHOLD,
        max_df_frac=TFIDF_MAX_DF_FRAC,
    ).orderBy("da", "db")


SPAN_L = 6  # tokens per span gram; shared runs >= L tokens are reported
LANGCLF_N = 3  # char n-gram order of the trained language identifier
LANGCLF_TOP = 64  # model vocabulary: top n-grams per language


@session_cached
def _langclf_cached(spark, sf_dir):
    """The trained-NB language predictions shared by the accuracy report
    (x5_lang_classify) and the detector-agreement matrix
    (x5_lang_confusion) — narratively the persisted pred_lang column a
    pipeline materializes once. Session-keyed; the lineage cut stops
    each consumer re-running the per-document trigram scoring forest
    (at 100 TB: persist this frame, it is the classification output)."""
    return T.lang_classify(
        _docs(spark, sf_dir), n=LANGCLF_N, top_n=LANGCLF_TOP
    ).localCheckpoint(eager=False)


def x5_lang_classify(spark, sf_dir):
    """TRAINED language-ID inference (operators/text.py:lang_classify):
    multinomial NB over char trigrams — the operator that closes the
    x5_ngram_profile loop (profile = features, this = train + broadcast
    apply + argmax). Output: per actual language, docs / correct /
    accuracy — near-chance on this fixture corpus BY CONSTRUCTION (every
    lang draws from the same word vocabulary; the lang column is a
    synthetic label), which is itself the useful signal: the report is
    how a pipeline detects that its labels aren't learnable."""
    pred = _langclf_cached(spark, sf_dir)
    return (
        pred.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum((F.col("pred_lang") == F.col("lang")).cast("bigint")).alias(
                "correct"
            ),
        )
        .select(
            "lang",
            "docs",
            "correct",
            F.round(F.col("correct") / F.col("docs"), 4).alias("acc"),
        )
        .orderBy("lang")
    )


def x5_lang_confusion(spark, sf_dir):
    """CONFUSION MATRIX between the two language-ID paths — the
    zero-cost heuristic (stopword hits, x5_lang_id) against the trained
    NB classifier (x5_lang_classify): per (heuristic, trained) label
    pair, how many documents land there. The instrument a pipeline runs
    before swapping detectors: off-diagonal mass is exactly the
    disagreement set a human samples. Both predictors are broadcast
    models applied in one corpus pass each; the join key is the doc id."""
    d = _docs(spark, sf_dir)
    heur = T.lang_id(d).select("doc_id", F.col("pred_lang").alias("heur"))
    trained = _langclf_cached(spark, sf_dir).select(
        "doc_id", F.col("pred_lang").alias("trained")
    )
    return (
        heur.join(trained, "doc_id")
        .groupBy("heur", "trained")
        .agg(F.count(F.lit(1)).alias("docs"))
        .orderBy("heur", "trained")
    )


CMS_SPAN_D = 3
CMS_SPAN_W = 65536  # full 4-nibble width; CMS bias ~ total_grams / W
CMS_SPAN_THR = 3  # boilerplate threshold: strip grams occurring >= 3x
CMS_SPAN_SEED = "cmsspan"


def x1_cms_span_dedup(spark, sf_dir):
    """The SKETCH TIER of boilerplate-gram stripping — below even span
    dedup's sorted-run external tier sits the memory-CONSTANT one:
    count gram occurrences in a count-min sketch (d*w cells, a few
    hundred KB, cell-wise mergeable across shards) and strip grams
    whose ESTIMATE reaches the boilerplate threshold (CMS_SPAN_THR
    occurrences — the heavy-hitter regime CMS is built for; a >=2
    dup test saturates any sketch, which this instrument demonstrates
    if you lower the threshold). CMS never underestimates, so the tier
    is conservative by construction: every true boilerplate gram is
    flagged (missed MUST be 0 — hash-checked), and the price is the
    over-strip slack from collisions (bias ~ total_grams/W per cell).
    The report prices that slack against exact truth — the number that
    sizes CMS_SPAN_W for a target false-strip budget at 100 TB, where
    the exact side of this query is what you can no longer afford."""
    from diepy_spark.operators.dedup import _grams_over
    from diepy_spark.operators.sketch import cms_cells, cms_estimate

    tk = _docs(spark, sf_dir).select(
        F.expr(D.tokens_expr("text")).alias("toks")
    )
    g = tk.select(
        F.explode(F.expr(_grams_over("toks", SPAN_L))).alias("s")
    )
    # r13: ONE corpus gram pass. The exact gram counts (distinct-gram-
    # sized) are computed first, and the sketch cells are built FROM
    # them (sum of multiplicities per cell == counting the raw ledger,
    # bit-identical) — the old plan streamed the exploded ledger through
    # both the cells aggregate and the exact aggregate.
    exact = (
        g.groupBy("s")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    cells = cms_cells(
        exact, "s", d=CMS_SPAN_D, w=CMS_SPAN_W, seed=CMS_SPAN_SEED,
        weight_col="n",
    ).localCheckpoint(eager=False)  # d*w cells — this IS the shipped sketch
    est = cms_estimate(
        exact, cells, "s", d=CMS_SPAN_D, w=CMS_SPAN_W, seed=CMS_SPAN_SEED
    )
    return est.agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.expr(
            f"CAST(sum(CASE WHEN n >= {CMS_SPAN_THR} THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("exact_dups"),
        F.expr(
            f"CAST(sum(CASE WHEN cms_est >= {CMS_SPAN_THR} THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("cms_flagged"),
        F.expr(
            f"CAST(sum(CASE WHEN cms_est >= {CMS_SPAN_THR}"
            f" AND n < {CMS_SPAN_THR} THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("extra_stripped"),
        F.expr(
            f"CAST(sum(CASE WHEN n >= {CMS_SPAN_THR}"
            f" AND cms_est < {CMS_SPAN_THR} THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("missed"),
    ).selectExpr(
        "n_grams",
        "exact_dups",
        "cms_flagged",
        "extra_stripped",
        "missed",
        "round(CAST(extra_stripped AS DOUBLE)"
        " / CAST(n_grams - exact_dups AS DOUBLE), 6) AS slack_rate",
    )


def x1_span_dedup(spark, sf_dir):
    """Substring-level exact dedup (operators/dedup.py:duplicated_spans —
    the Lee et al. duplicated-span criterion over word L-grams): maximal
    token spans whose L-gram text occurs >= 2 times anywhere in the
    corpus. The report document-level dedup cannot produce: long shared
    runs INSIDE otherwise-distinct documents. Gram index pre-shuffled once
    on the md5 hash (count + flag-back join share the exchange); island
    merge is a per-doc window."""
    return D.duplicated_spans(_docs(spark, sf_dir), L=SPAN_L).orderBy(
        "doc_id", "span_start"
    )


def x1_span_dedup_sorted(spark, sf_dir):
    """The sorted-run EXTERNAL tier of x1_span_dedup
    (operators/dedup.py:duplicated_spans mode="sorted"): identical rows
    to the hash-mode query — same oracle, hash-checked — but the gram
    occurrence count runs as one exchange + external sort + streaming
    window count, with no hash table anywhere, so memory bounds on the
    largest single-gram run instead of distinct-gram cardinality. The
    variant a 100 TB corpus whose gram index exceeds cluster memory
    switches to (plan shape pinned by tests/test_plan_shapes.py)."""
    return D.duplicated_spans(
        _docs(spark, sf_dir), L=SPAN_L, mode="sorted"
    ).orderBy("doc_id", "span_start")


SHARD_BUDGET = 2000  # tokens per training shard


def x5_shard_pack(spark, sf_dir):
    """Token-budgeted corpus sharding (operators/text.py:pack_shards):
    one-pass first-fit packing of docs into ~SHARD_BUDGET-token shards
    per source — the cleaned-corpus -> training-files step. Output: per
    (source, shard) doc and token totals plus the max doc id (a spot
    check that packing order is the stable id order)."""
    p = T.pack_shards(_docs(spark, sf_dir), budget_tokens=SHARD_BUDGET)
    return (
        p.groupBy("source", "shard")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tokens").alias("tokens"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("source", "shard")
    )


def x1_span_strip(spark, sf_dir):
    """The CONSUMING operator of span dedup
    (operators/dedup.py:strip_duplicated_spans): Lee et al. keep-one-copy
    removal — every duplicated-span occurrence except the canonical
    (min doc, min pos) one is cut, documents rebuilt from surviving
    tokens. A full non-canonical duplicate rebuilds to empty text."""
    return D.strip_duplicated_spans(_docs(spark, sf_dir), L=SPAN_L).orderBy("doc_id")


BLOOM_M = 16384
BLOOM_K = 3
BLOOM_SEED = "bloom"
BLOOM_SEGMENT = "BUILDING"


def x8_bloom_semijoin(spark, sf_dir):
    """Bloom-filter semi-join (operators/bloom.py): orders of customers in
    one market segment, filtered by a BROADCAST 16 Ki-bit Bloom filter of
    the segment's custkeys instead of a key shuffle — the runtime-filter
    pattern Spark injects for selective joins, made explicit and
    engine-portable (md5-slice bit positions, deterministic down to the
    bit, so false positives are REPRODUCIBLE and the oracle matches them
    exactly). The probe side never shuffles; the filter build aggregates
    to <= m/32 words. Output includes any false positives by design —
    the downstream exact join removes them when exactness is required."""
    from diepy_spark.operators.bloom import bloom_build, bloom_probe

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    keys = cust.where(F.col("c_mktsegment") == BLOOM_SEGMENT).select("c_custkey")
    filt = bloom_build(keys, "c_custkey", m=BLOOM_M, k=BLOOM_K, seed=BLOOM_SEED)
    return (
        bloom_probe(orders, "o_custkey", filt, m=BLOOM_M, k=BLOOM_K, seed=BLOOM_SEED)
        .select("o_orderkey", "o_custkey")
        .orderBy("o_orderkey")
    )


SNAP_DEL_MOD = 7  # old-only keys (deleted in new snapshot)
SNAP_INS_MOD = 5  # new-only keys (inserted in new snapshot)
SNAP_UPD_MOD = 3  # keys whose price changed between snapshots


def x9_snapshot_diff(spark, sf_dir):
    """CDC changeset derivation (operators/merge.py:snapshot_diff — the
    inverse of x9_merge_upsert): two simulated snapshots of orders (key
    mod-classes deleted / inserted / price-bumped) reconciled into one
    insert/update/delete changeset via a single full outer join on the
    key. The price bump is integer-cents arithmetic ((cents*11) div 10 —
    a 10% raise) so the updated double is bit-identical in both engines
    (round(x*1.1, 2) is NOT: the engines break .005 ties differently)."""
    from diepy_spark.operators.merge import snapshot_diff

    orders = load_table(spark, sf_dir, "orders")
    bump = F.expr(
        "CAST((CAST(round(o_totalprice * 100) AS BIGINT) * 11) div 10 AS DOUBLE) / 100"
    )
    old = orders.where(F.col("o_orderkey") % SNAP_DEL_MOD != 0)
    new = orders.where(F.col("o_orderkey") % SNAP_INS_MOD != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % SNAP_UPD_MOD == 0, bump).otherwise(
            F.col("o_totalprice")
        ),
    )
    d = snapshot_diff(old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"])
    return d.select(
        "o_orderkey",
        "change_type",
        "old_o_orderstatus",
        F.col("old_o_totalprice").alias("old_price"),
        "new_o_orderstatus",
        F.col("new_o_totalprice").alias("new_price"),
    ).orderBy("o_orderkey")


TRI_N = 2000  # synthetic graph node-space size


def x11_triangle_count(spark, sf_dir):
    """Exact triangle counting with degree-based orientation
    (operators/clustering.py:triangle_count — the Suri–Vassilvitskii
    'last reducer' fix: orienting edges low→high by (degree, id) caps
    every out-degree at O(sqrt(E)), bounding the wedge join at |E|^1.5
    instead of sum(deg²)). Graph: a deterministic order/customer hash
    projection into a TRI_N-node space (dense enough to close triangles
    at every sf). Output: per-node triangle counts."""
    from diepy_spark.operators.clustering import triangle_count

    orders = load_table(spark, sf_dir, "orders")
    edges = orders.select(
        ((F.col("o_orderkey") * 37 + 11) % TRI_N).alias("src"),
        ((F.col("o_custkey") * 101 + 7) % TRI_N).alias("dst"),
    )
    return triangle_count(edges).orderBy("node")


NJ_PART_MAX = 300  # left-side id bound: wedge volume stays constant-ish per sf
NJ_MIN_COMMON = 2
NJ_TOP = 30


@session_cached
def _nj_edges_cached(spark, sf_dir):
    """The deduped (part, supplier) wedge-edge frame under NJ_PART_MAX,
    shared by x11_neighbor_jaccard and x11_adamic_adar — distinct runs
    ONCE per session and the lineage cut stops each consumer (probe
    side, candidate side, degree dim) re-deriving the scan+distinct
    (was 8 scans for neighbor-jaccard alone). At 100 TB this frame is
    the persisted edge projection every link-prediction job reads."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_partkey") < NJ_PART_MAX)
        .select("l_partkey", "l_suppkey")
        .distinct()
        .localCheckpoint(eager=False)
    )


def x11_neighbor_jaccard(spark, sf_dir):
    """Link-prediction scores on the part–supplier bipartite graph:
    neighbor-set Jaccard between part pairs — |suppliers(a) ∩
    suppliers(b)| / |union| — the classic collaborative-filtering /
    related-items primitive. Scale contract: candidates come from a
    WEDGE join keyed on the shared supplier (never part×part), so the
    quadratic term is Σ_s |parts(s)|²; the left side is id-bounded
    (NJ_PART_MAX) the way every instrument here bounds its probe set,
    and pairs below NJ_MIN_COMMON shared suppliers never leave the
    wedge aggregate. Jaccard is an exact integer rational (inclusion–
    exclusion denominator), rounded only for rendering."""
    e = _nj_edges_cached(spark, sf_dir)
    deg = e.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("deg"))
    a = e.select(F.col("l_partkey").alias("pa"), "l_suppkey")
    b = e.select(F.col("l_partkey").alias("pb"), "l_suppkey")
    common = (
        a.join(b, "l_suppkey")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("common"))
        .where(F.col("common") >= NJ_MIN_COMMON)
    )
    da = deg.select(F.col("l_partkey").alias("pa"), F.col("deg").alias("da"))
    db = deg.select(F.col("l_partkey").alias("pb"), F.col("deg").alias("db"))
    return (
        common.join(F.broadcast(da), "pa")
        .join(F.broadcast(db), "pb")
        .select(
            "pa",
            "pb",
            "common",
            "da",
            "db",
            F.round(
                F.col("common") / (F.col("da") + F.col("db") - F.col("common")), 4
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "pa", "pb")
        .limit(NJ_TOP)
    )


FUZZY_MAX_DIST = 4  # levenshtein acceptance threshold
FUZZY_BLOCK_CHARS = 3  # suffix-blocking key length


def x2_fuzzy_join(spark, sf_dir):
    """Blocked fuzzy join (record linkage): part names within the same
    3-char-suffix block whose Levenshtein distance <= FUZZY_MAX_DIST.
    The scale contract of every linkage pipeline: NEVER all-pairs —
    names are distinct-compressed first (the name dimension is orders of
    magnitude smaller than the row count), then paired only within
    blocking-key groups, so the quadratic term is bounded by the largest
    block, not the corpus. Output pairs carry the distance and each
    name's part count (the match-weight inputs)."""
    p = load_table(spark, sf_dir, "part")
    names = p.groupBy(F.col("p_name").alias("name")).agg(
        F.count(F.lit(1)).alias("n_parts")
    )
    blocked = names.withColumn(
        "blk", F.substring(F.col("name"), -FUZZY_BLOCK_CHARS, FUZZY_BLOCK_CHARS)
    )
    a = blocked.select(
        "blk", F.col("name").alias("name_a"), F.col("n_parts").alias("n_parts_a")
    )
    b = blocked.select(
        "blk", F.col("name").alias("name_b"), F.col("n_parts").alias("n_parts_b")
    )
    pairs = (
        a.join(b, "blk")
        .where(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .where(F.col("dist") <= FUZZY_MAX_DIST)
    )
    return pairs.select(
        "name_a", "name_b", "dist", "n_parts_a", "n_parts_b"
    ).orderBy("name_a", "name_b")


DQ_COLS = [
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "double"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]


def _dq_render(col: str, kind: str, agg: str) -> str:
    """Engine-portable string rendering of a min/max aggregate (Spark SQL
    spelling; the DuckDB mirror lives in the oracle)."""
    if kind == "double":
        return f"CAST(CAST(round({agg}({col}), 2) AS DECIMAL(18,2)) AS STRING)"
    if kind == "ts":
        return f"date_format({agg}({col}), 'yyyy-MM-dd HH:mm:ss.SSSSSS')"
    return f"CAST({agg}({col}) AS STRING)"


def x12_dq_profile(spark, sf_dir):
    """Data-quality profile of a table in ONE scan: per column — row
    count, null count, exact distinct count, rendered min/max. The
    pre-ingest audit every warehouse load runs. Plan shape: a single
    aggregate produces one wide row (count(DISTINCT c1..cn) expands the
    input n-ways with map-side partial aggregation — at 100 TB swap the
    exact distincts for approx_count_distinct and the scan count drops to
    1x), then `stack` unpivots the row into one row per column. Rendering
    is engine-portable: doubles via exact DECIMAL(18,2) text, timestamps
    via explicit microsecond format."""
    orders = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, kind in DQ_COLS:
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"null_{c}"))
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
        aggs.append(F.expr(_dq_render(c, kind, "min")).alias(f"min_{c}"))
        aggs.append(F.expr(_dq_render(c, kind, "max")).alias(f"max_{c}"))
    one = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', null_{c}, nd_{c}, min_{c}, max_{c}" for c, _ in DQ_COLS
    )
    return one.selectExpr(
        "n_rows",
        f"stack({len(DQ_COLS)}, {stack_args}) AS (col_name, n_null, n_distinct, min_s, max_s)",
    ).select(
        "col_name", "n_rows", "n_null", "n_distinct", "min_s", "max_s"
    ).orderBy("col_name")


CMS_D = 3
CMS_W = 1024
CMS_SEED = "cms"
CMS_TOP = 20


def x8_cms_heavy_hitters(spark, sf_dir):
    """Count-min-sketch frequency estimation, calibrated against exact
    counts (operators/sketch.py:cms_cells/cms_estimate): the top-CMS_TOP
    part keys by lineitem frequency, each with its exact count and its
    CMS estimate — err >= 0 always (CMS never underestimates). Like
    x2_minhash_est / x3_ann_recall, this is the TRUST instrument: at
    100 TB the exact side of this query is what you can no longer afford,
    and the sketch (d*w cells, a few KB, cell-wise mergeable across
    shards) is what you ship; the declared query proves the error bound
    holds on real data. One shuffle builds the sketch; estimation is d
    broadcast lookups."""
    from diepy_spark.operators.sketch import cms_cells, cms_estimate

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    exact = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), "l_partkey")
        .limit(CMS_TOP)
    )
    cells = cms_cells(li, "l_partkey", d=CMS_D, w=CMS_W, seed=CMS_SEED)
    est = cms_estimate(exact, cells, "l_partkey", d=CMS_D, w=CMS_W, seed=CMS_SEED)
    return est.select(
        "l_partkey",
        "n_exact",
        "cms_est",
        (F.col("cms_est") - F.col("n_exact")).alias("err"),
    ).orderBy(F.col("n_exact").desc(), "l_partkey")


INC_SPLIT = "1999-01-01"


def x9_incremental_agg(spark, sf_dir):
    """Materialized-view maintenance: the base aggregate (orders before
    INC_SPLIT) is NOT recomputed when the delta batch (orders on/after)
    arrives — both sides reduce to PARTIAL aggregate states (count / exact
    decimal sum / min / max, all mergeable) and the states merge. The
    oracle recomputes from scratch; hash-equality proves the
    incremental path is lossless — the algebraic property every
    streaming/incremental pipeline stands on. Derived columns (avg) come
    from merged states, never from merging averages."""
    orders = load_table(spark, sf_dir, "orders")
    split = F.lit(INC_SPLIT).cast("timestamp")

    def partial(df):
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("sp"),
            F.min("o_orderdate").alias("mn"),
            F.max("o_orderdate").alias("mx"),
        )

    base = partial(orders.where(F.col("o_orderdate") < split))
    delta = partial(orders.where(F.col("o_orderdate") >= split))
    merged = (
        base.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sp").alias("sp"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
    )
    return merged.select(
        "o_orderstatus",
        "cnt",
        F.col("sp").cast("double").alias("sum_price"),
        F.round(F.col("sp").cast("double") / F.col("cnt"), 4).alias("avg_price"),
        F.col("mn").alias("min_date"),
        F.col("mx").alias("max_date"),
    ).orderBy("o_orderstatus")


KNN_K = 5
KNN_QUERY_MAX = 50


def x3_knn_classify(spark, sf_dir):
    """k-NN label prediction — the weak-supervision / label-propagation
    step of an embedding pipeline: the first KNN_QUERY_MAX vectors are
    'unlabeled' queries, classified by majority vote of their KNN_K exact
    nearest neighbors in the rest of the corpus (ties: smaller label).
    Output carries the true label and a correct flag, so the query IS the
    accuracy report. Plan: the query block is broadcast (cosine_topk),
    the vote is a (qid, label) aggregate over k*|Q| rows, and the label
    join touches only neighbor ids."""
    v = _vecs(spark, sf_dir)
    q = v.where(F.col("vec_id") < KNN_QUERY_MAX)
    c = v.where(F.col("vec_id") >= KNN_QUERY_MAX)
    nn = S.cosine_topk(q, c, k=KNN_K)
    lab = c.select(F.col("vec_id").alias("cid"), F.col("label").alias("nlabel"))
    votes = nn.join(lab, "cid").groupBy("qid", "nlabel").agg(
        F.count(F.lit(1)).alias("votes")
    )
    w = Window.partitionBy("qid").orderBy(F.col("votes").desc(), F.col("nlabel"))
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("qid", F.col("nlabel").alias("pred_label"), "votes")
    )
    truth = q.select(F.col("vec_id").alias("qid"), F.col("label").alias("true_label"))
    return (
        pred.join(truth, "qid")
        .select(
            "qid",
            "pred_label",
            "votes",
            "true_label",
            (F.col("pred_label") == F.col("true_label")).alias("correct"),
        )
        .orderBy("qid")
    )


def x9_scd2(spark, sf_dir):
    """Slowly-changing-dimension type-2 history build: each customer's
    order-priority timeline compressed to change intervals —
    ``valid_from`` / ``valid_to`` / ``is_current`` — keeping only rows
    where the tracked attribute CHANGED vs the previous version (the
    dimension-table build step of every warehouse). One shuffle on the
    key; both windows (change detection + interval close) share its sort.
    Determinism: ties on o_orderdate break by o_orderkey."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changed = o.withColumn("prev", F.lag("o_orderpriority").over(w)).where(
        F.col("prev").isNull() | (F.col("prev") != F.col("o_orderpriority"))
    )
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        changed.withColumn("valid_to", F.lead("o_orderdate").over(w2))
        .select(
            "o_custkey",
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
        .orderBy("o_custkey", "valid_from", "priority")
    )


def x9_scd2_lookup(spark, sf_dir):
    """The CONSUMING side of SCD2 (x9_scd2 builds the history; this query
    USES it): as-of attach to every order the dimension version active at
    its date — the point-in-time lookup every warehouse fact load runs
    against a type-2 dimension. History rows that share (key, valid_from)
    (two same-day changes) are first collapsed to the day's FINAL state
    (max orderkey), making the as-of pick deterministic (the asof_join
    docstring's precondition). Output per customer: fact count and how
    many facts matched their as-of version — n_matched == n_orders is
    the referential self-consistency audit (every order sees the version
    its own change produced, ties resolved to end-of-day).

    Scale: history build = one key shuffle (two windows share the sort);
    the as-of attach is the union+last_value single sort-merge pass of
    operators/timeseries.py:asof_join — never a range join."""
    from diepy_spark.operators.timeseries import asof_join

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changed = o.withColumn("prev", F.lag("o_orderpriority").over(w)).where(
        F.col("prev").isNull() | (F.col("prev") != F.col("o_orderpriority"))
    )
    wday = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.col("o_orderkey").desc()
    )
    hist = (
        changed.withColumn("rn", F.row_number().over(wday))
        .where(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderdate").alias("ts"),
            F.col("o_orderpriority").alias("active_priority"),
        )
    )
    facts = o.select("o_custkey", F.col("o_orderdate").alias("ts"), "o_orderpriority")
    looked = asof_join(facts, hist, on=["o_custkey"], ts_col="ts")
    return (
        looked.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                (F.col("active_priority") == F.col("o_orderpriority")).cast("bigint")
            ).alias("n_matched"),
        )
        .orderBy("o_custkey")
    )


SKEW_TOP = 10


def x12_skew_diag(spark, sf_dir):
    """Join-key skew diagnostic — the instrument you run BEFORE a 100 TB
    join to decide between plain shuffle, salting, and AQE skew-join: the
    SKEW_TOP heaviest l_partkey values with their row share and skew
    factor (count / mean-per-key). One aggregate builds the key histogram;
    the global stats are windows over the keys-dimension frame, never the
    fact table."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    keys = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy()
    stats = keys.select(
        "l_partkey",
        "cnt",
        F.sum("cnt").over(w).alias("total"),
        F.count(F.lit(1)).over(w).alias("n_keys"),
    )
    return (
        stats.select(
            "l_partkey",
            "cnt",
            F.round(F.col("cnt") / F.col("total"), 6).alias("share"),
            F.round(F.col("cnt") * F.col("n_keys") / F.col("total"), 4).alias(
                "skew_factor"
            ),
        )
        .orderBy(F.col("cnt").desc(), "l_partkey")
        .limit(SKEW_TOP)
    )


# Two-sided alpha=.05 / power=.80 normal quantiles, stated once and
# f-stringed into BOTH engines (the shared-text discipline).
Z_ALPHA2 = 1.959964
Z_BETA = 0.841621

# Sample variance of value-cents from exact integer sums; every operand
# casts to DOUBLE explicitly so the IEEE op sequence is engine-identical.
_MDE_TXT = (
    f"(CAST({Z_ALPHA2!r} AS DOUBLE) + CAST({Z_BETA!r} AS DOUBLE))"
    " * sqrt(CAST(2 AS DOUBLE)"
    " * ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
    " / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))"
    " / CAST(n AS DOUBLE)) / CAST(100 AS DOUBLE)"
)


def x8_power_mde(spark, sf_dir):
    """POWER ANALYSIS — the question asked before every experiment the
    x8 family evaluates after: per event type, the minimum detectable
    effect on mean value for a two-sample test at alpha=.05 / power=.80
    given this traffic ((z_a + z_b) * sqrt(2 * var / n), equal split).
    Variance comes from exact integer cent sums in ONE aggregate
    (n, Σx, Σx²) — the same algebraic-moments shape as x12_correlation —
    and the closed form is a shared double expression, so the report
    hash-checks. At 100 TB: one map-side-combined pass, rows = event
    types."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    agg = (
        ev.select(
            "event_type",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("sx"),
            F.sum(F.col("cents") * F.col("cents")).alias("sxx"),
        )
    )
    return agg.selectExpr(
        "event_type",
        "n",
        "round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / CAST(100 AS DOUBLE), 4)"
        " AS mean_value",
        f"round({_MDE_TXT}, 4) AS mde",
    ).orderBy("event_type")


ENTROPY_COLS = ["o_orderstatus", "o_orderpriority"]

# Per-value entropy contribution, shared text: both engines compute the
# identical IEEE ops per term, and the terms SUM IN VALUE ORDER (Spark
# aggregate-over-array_sort == DuckDB list_sum-over-list(ORDER BY) — the
# established ordered-fold pairing), so the double accumulation cannot
# drift.
_ENTROPY_TERM = (
    "- (CAST({c} AS DOUBLE) / CAST({n} AS DOUBLE))"
    " * ln(CAST({c} AS DOUBLE) / CAST({n} AS DOUBLE))"
)


def x12_entropy(spark, sf_dir):
    """Shannon entropy per categorical column — the DQ instrument for
    value-distribution health (near-zero entropy = a constant column
    masquerading as a dimension; max entropy = uniform): H = -sum p ln p
    over the value histogram, folded in VALUE order so the float
    accumulation is engine-identical. Histogram state is bounded by the
    column's distinct count — the same bounded-state argument as
    freq_median; the corpus is scanned once per column with map-side
    combine."""
    o = load_table(spark, sf_dir, "orders")
    outs = []
    for c in ENTROPY_COLS:
        h = (
            o.groupBy(F.col(c).alias("v"))
            .agg(F.count(F.lit(1)).alias("c"))
            .localCheckpoint(eager=False)  # distinct-count-bounded histogram
        )
        h2 = h.withColumn("n", F.sum("c").over(Window.partitionBy()))
        term = _ENTROPY_TERM.format(c="x.c", n="x.n")
        outs.append(
            h2.agg(
                F.count(F.lit(1)).alias("n_values"),
                F.max("n").alias("n_rows"),
                F.expr(
                    "round(aggregate(array_sort(collect_list(struct(v, c, n))),"
                    f" CAST(0 AS DOUBLE), (acc, x) -> acc + ({term})), 6)"
                ).alias("entropy"),
            ).select(
                F.lit(c).alias("col_name"), "n_rows", "n_values", "entropy"
            )
        )
    out = outs[0]
    for o2 in outs[1:]:
        out = out.unionByName(o2)
    return out.orderBy("col_name")


# Mutual information: column pairs probed (name, x-key, y-key) over the
# letter-aliased 3-way histogram (a=status, b=priority, y=order year).
MI_PAIRS = [
    ("priority|year", "b", "y"),
    ("status|priority", "a", "b"),
    ("status|year", "a", "y"),
]

# Per-cell MI contribution (c/n) ln(cn/(rs)) — same shared-text ordered-
# fold discipline as _ENTROPY_TERM, every operand cast to DOUBLE.
_MI_TERM = (
    "(CAST({c} AS DOUBLE) / CAST({n} AS DOUBLE))"
    " * ln(CAST({c} AS DOUBLE) * CAST({n} AS DOUBLE)"
    " / (CAST({r} AS DOUBLE) * CAST({s} AS DOUBLE)))"
)


def x12_mutual_info(spark, sf_dir):
    """Mutual information between categorical column pairs — the DQ
    instrument for REDUNDANT dimensions (NMI near 1 = one column
    determines the other, a candidate for x12_fd_discovery; near 0 =
    independent): MI = sum (c/n) ln(cn/(rs)) over the joint histogram,
    with marginal entropies and NMI = MI/sqrt(HxHy). ONE corpus scan
    builds the bounded 3-way histogram (|status|x|priority|x|years|
    cells); every pair's joint and marginals re-aggregate that
    checkpointed cube, so adding pairs never rescans orders. All float
    terms fold in cell order (engine-identical), rounded at render."""
    o = load_table(spark, sf_dir, "orders")
    cube = (
        o.selectExpr(
            "CAST(o_orderstatus AS STRING) AS a",
            "CAST(o_orderpriority AS STRING) AS b",
            "CAST(year(o_orderdate) AS STRING) AS y",
        )
        .groupBy("a", "b", "y")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)  # bounded: distinct-triple cells
    )
    wall = Window.partitionBy()
    outs = []
    for name, cx, cy in MI_PAIRS:
        j = cube.groupBy(F.col(cx).alias("vx"), F.col(cy).alias("vy")).agg(
            F.expr("CAST(sum(c) AS BIGINT)").alias("c")
        )
        j2 = (
            j.withColumn("n", F.sum("c").over(wall))
            .withColumn("r", F.sum("c").over(Window.partitionBy("vx")))
            .withColumn("s", F.sum("c").over(Window.partitionBy("vy")))
        )
        term = _MI_TERM.format(c="x.c", n="x.n", r="x.r", s="x.s")
        mi_row = j2.agg(
            F.expr("CAST(max(n) AS BIGINT)").alias("n_rows"),
            F.count(F.lit(1)).alias("n_cells"),
            F.expr(
                "aggregate(array_sort(collect_list(struct(vx, vy, c, n, r, s))),"
                f" CAST(0 AS DOUBLE), (acc, x) -> acc + ({term}))"
            ).alias("mi_u"),
        )
        hterm = _ENTROPY_TERM.format(c="x.r", n="x.n")
        margs = []
        for vcol in (cx, cy):
            m = (
                cube.groupBy(F.col(vcol).alias("vx"))
                .agg(F.expr("CAST(sum(c) AS BIGINT)").alias("r"))
                .withColumn("n", F.sum("r").over(wall))
            )
            margs.append(
                m.agg(
                    F.expr(
                        "aggregate(array_sort(collect_list(struct(vx, r, n))),"
                        f" CAST(0 AS DOUBLE), (acc, x) -> acc + ({hterm}))"
                    ).alias("h_u")
                )
            )
        hx = margs[0].withColumnRenamed("h_u", "hx_u")
        hy = margs[1].withColumnRenamed("h_u", "hy_u")
        outs.append(
            mi_row.crossJoin(hx)
            .crossJoin(hy)
            .selectExpr(
                f"'{name}' AS pair",
                "n_rows",
                "n_cells",
                "round(hx_u, 6) AS hx",
                "round(hy_u, 6) AS hy",
                "round(mi_u, 6) AS mi",
                "round(mi_u / sqrt(hx_u * hy_u), 6) AS nmi",
            )
        )
    out = outs[0]
    for o2 in outs[1:]:
        out = out.unionByName(o2)
    return out.orderBy("pair")


def x12_volume_anomaly(spark, sf_dir):
    """Daily VOLUME anomaly gate — the first alarm a data platform
    wires: each day's event count against the exact median of the
    trailing 7 days (median, not mean — one bad day must not poison
    the baseline). A day flags high when count > 2x the trailing
    median, low when count < half of it; both tests stay in integers
    (2*c < med, c > 2*med), so there is no float layer at all. The
    corpus collapses to the calendar frame in one map-side-combined
    pass; the trailing median is a 7-element sorted-array pick over
    that bounded frame — the same calendar-window shape as
    x12_freshness/x8_cusum."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(F.expr("CAST(date_trunc('day', ts) AS DATE)").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)  # calendar-bounded
    )
    w = Window.orderBy("day").rowsBetween(-7, -1)
    wrk = Window.orderBy("day")
    return (
        daily.withColumn("rk", F.row_number().over(wrk))
        .withColumn("t7", F.collect_list("c").over(w))
        .withColumn("med7", F.expr("element_at(array_sort(t7), 4)"))
        .where(F.col("rk") > 7)
        .selectExpr(
            "CAST(day AS STRING) AS day",
            "c",
            "med7",
            "CAST(CASE WHEN c > 2 * med7 THEN 1 ELSE 0 END AS BIGINT)"
            " AS flag_high",
            "CAST(CASE WHEN 2 * c < med7 THEN 1 ELSE 0 END AS BIGINT)"
            " AS flag_low",
        )
        .orderBy("day")
    )


# Key-candidate sets probed by x12_key_discovery (name -> column list)
KEY_CANDS = [
    ("o_orderkey", ["o_orderkey"]),
    ("o_custkey", ["o_custkey"]),
    ("o_custkey+o_orderdate", ["o_custkey", "o_orderdate"]),
    ("o_orderstatus+o_orderpriority", ["o_orderstatus", "o_orderpriority"]),
]


def x12_key_discovery(spark, sf_dir):
    """CANDIDATE-KEY discovery — the schema-inference instrument
    x12_dq_profile's per-column stats can't answer: which column SETS
    uniquely identify a row (composite keys included)? Per candidate
    set: rows, distinct tuples, is_key, and the duplicate-group count
    (distinct tuples occurring more than once — the rows a dedup or
    MERGE key choice would collapse). One exact distinct aggregate per
    candidate; at 100 TB the same shape runs on approx_count_distinct
    first and exact-verifies only the survivors."""
    o = load_table(spark, sf_dir, "orders")
    n_rows = o.count()
    outs = []
    for name, cols in KEY_CANDS:
        g = o.groupBy(*cols).agg(F.count(F.lit(1)).alias("c"))
        outs.append(
            g.agg(
                F.lit(name).alias("candidate"),
                F.lit(n_rows).cast("bigint").alias("n_rows"),
                F.count(F.lit(1)).alias("n_distinct"),
                F.sum((F.col("c") > 1).cast("bigint")).alias("dup_groups"),
            ).select(
                "candidate",
                "n_rows",
                "n_distinct",
                (F.col("n_distinct") == F.col("n_rows")).cast("int").alias(
                    "is_key"
                ),
                "dup_groups",
            ).localCheckpoint(eager=False)  # 1-row branch of the union
        )
    out = outs[0]
    for o2 in outs[1:]:
        out = out.unionByName(o2)
    return out.orderBy("candidate")


# Pearson correlation from exact integer sums: every operand enters the
# double formula through an explicit CAST, so both engines perform the
# identical IEEE op sequence (the _CUPED_* discipline).
_PEARSON_R = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
)

# (label, integer expression) pairs — exact decimal-derived integers so
# the moment sums are bit-identical cross-engine. Price in whole dollars
# (floor of the exact decimal) keeps sum-of-squares far inside int64.
CORR_VARS = [
    ("qty", "CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)"),
    ("price", "CAST(floor(CAST(l_extendedprice AS DECIMAL(18,2))) AS BIGINT)"),
    ("disc", "CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)"),
    ("tax", "CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT)"),
]


def x12_correlation(spark, sf_dir):
    """Pairwise Pearson correlation matrix over lineitem's numeric
    columns — the profiling instrument behind feature selection and
    multicollinearity checks. ONE scan computes every moment (n, Σx,
    Σx², Σxy for all pairs) as exact integers on decimal-derived grids;
    the r formula is a shared double expression over those sums, so the
    matrix hash-checks. At 100 TB this is the textbook algebraic
    aggregate: map-side combine does almost all the work, one row
    reaches the driver."""
    li = load_table(spark, sf_dir, "lineitem")
    proj = li.selectExpr(
        *[f"{expr} AS {name}" for name, expr in CORR_VARS]
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    names = [name for name, _ in CORR_VARS]
    for a in names:
        aggs.append(F.sum(F.col(a)).alias(f"s_{a}"))
        aggs.append(F.sum(F.col(a) * F.col(a)).alias(f"ss_{a}"))
    pairs = [
        (names[i], names[j])
        for i in range(len(names))
        for j in range(i + 1, len(names))
    ]
    for a, b in pairs:
        aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"sp_{a}_{b}"))
    # ONE row of moments consumed by six union branches — without the
    # lineage cut each branch re-runs the corpus scan (plan_audit showed
    # 12 scans; at 100 TB that is six full passes for one row).
    wide = proj.agg(*aggs).localCheckpoint(eager=False)
    rows = []
    for a, b in pairs:
        # longest tokens first — replacing 'sx' before 'sxy' would corrupt it
        r_expr = (
            _PEARSON_R.replace("sxy", f"sp_{a}_{b}")
            .replace("sxx", f"ss_{a}")
            .replace("syy", f"ss_{b}")
            .replace("sx", f"s_{a}")
            .replace("sy", f"s_{b}")
        )
        rows.append(
            wide.selectExpr(
                f"'{a}' AS var_a",
                f"'{b}' AS var_b",
                "n",
                f"round({r_expr}, 6) AS r",
            )
        )
    out = rows[0]
    for r2 in rows[1:]:
        out = out.unionByName(r2)
    return out.orderBy("var_a", "var_b")


SALT_BUCKETS = 8


def x12_salted_join(spark, sf_dir):
    """The FIX x12_skew_diag's diagnosis calls for, on the same skewed
    key (operators/skew.py:salted_join — the last library-only component
    earning a correctness row, VERDICT r4 task #7): join lineitem to
    part on partkey with the fact side salted into SALT_BUCKETS sub-keys
    and the dimension replicated once per bucket, so a hot partkey's
    rows spread across SALT_BUCKETS reducers instead of one. Salt is a
    hash of the fact row's own (orderkey, linenumber) — deterministic
    under retries, invisible in the result: the aggregate is
    hash-identical to the plain-join oracle, which is exactly the
    correctness contract of salting."""
    from diepy_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"), "l_orderkey", "l_linenumber", "l_quantity"
    )
    pt = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pk"), "p_brand"
    )
    j = salted_join(
        li, pt, on=["pk"], salt_from=["l_orderkey", "l_linenumber"],
        buckets=SALT_BUCKETS,
    )
    return (
        j.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
        .orderBy("p_brand")
    )


CDC_K = 4
CDC_DIV = 8


def x1_cdc_chunks(spark, sf_dir):
    """Content-defined chunking + chunk-level dedup
    (operators/dedup.py:cdc_chunks — the rsync/LBFS rolling-boundary
    trick): chunk boundaries fall where the k-gram hash ≡ 0 mod CDC_DIV,
    so an insertion reshapes one chunk instead of shifting all later ones
    (what makes chunk-level dedup edit-robust, vs the fixed-size
    x5_chunk_pack). Output: every chunk with its corpus-wide duplication
    flag."""
    return D.cdc_chunks(_docs(spark, sf_dir), k=CDC_K, divisor=CDC_DIV).orderBy(
        "doc_id", "chunk_idx"
    )


def x1_chunk_dedup_ratio(spark, sf_dir):
    """The STORAGE CONSUMER of content-defined chunking (pairs with
    x1_cdc_chunks the way x2_dedup_apply pairs with the pair surface):
    per source, how many tokens does a chunk-deduplicated store hold vs
    the raw corpus — the FastCDC/backup-dedup accounting that justifies
    CDC over fixed-size chunking. Identical chunk hash => identical
    tokens, so stored_tokens = one copy per distinct (source, hash).
    Shuffle currency is the 32-byte chunk hash, never chunk text."""
    ch = D.cdc_chunks(_docs(spark, sf_dir), k=CDC_K, divisor=CDC_DIV)
    src = _docs(spark, sf_dir).select("doc_id", "source")
    per_hash = (
        ch.join(src, "doc_id")
        .groupBy("source", "chunk_hash")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("n_tokens").alias("ntok"))
    )
    return (
        per_hash.groupBy("source")
        .agg(
            F.sum("cnt").alias("chunks"),
            F.sum(F.col("cnt") * F.col("ntok")).alias("tokens"),
            F.count(F.lit(1)).alias("uniq_chunks"),
            F.sum("ntok").alias("stored_tokens"),
        )
        .select(
            "source",
            "chunks",
            "tokens",
            "uniq_chunks",
            "stored_tokens",
            F.round(F.col("tokens") / F.col("stored_tokens"), 4).alias(
                "dedup_ratio"
            ),
        )
        .orderBy("source")
    )


BPE_TOP = 5


def x5_bpe_pairs(spark, sf_dir):
    """The first step of BPE tokenizer training — the most frequent
    adjacent CHARACTER pairs inside word tokens, per language (each
    top pair is what merge #1 would fuse; iterating this statistic IS
    the BPE algorithm). One explode to tokens, one per-row transform to
    pairs, one count — map-side combined, the pair domain is bounded by
    the alphabet squared so the aggregate state is tiny at any corpus
    size. Top BPE_TOP per lang by (count desc, pair)."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "lang", F.explode(F.expr(D.tokens_expr("text"))).alias("t")
    )
    pairs = toks.select(
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(t) - 1, 0)),"
                " i -> substring(t, i, 2))"
            )
        ).alias("pair"),
    ).where(F.length("pair") == 2)
    c = pairs.groupBy("lang", "pair").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), "pair")
    return (
        c.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= BPE_TOP)
        .select("lang", "pair", "cnt", "rk")
        .orderBy("lang", "rk")
    )


# Full BPE training loop (VERDICT r5 #5; Sennrich et al. 2016, "Neural
# Machine Translation of Rare Words with Subword Units" — the public
# algorithm). x5_bpe_pairs is merge #1's statistic; this runs the actual
# loop: count pairs -> pick the argmax -> fuse it everywhere -> repeat.
BPE_MERGES = 8
BPE_WORD_MIN = 2   # 1-symbol words carry no pairs and never merge
BPE_WORD_MAX = 16  # bounds the per-word fold (drops pathological id runs)

# Shared fold-step text (Spark `aggregate` / DuckDB `list_reduce`) —
# semantics documented at operators/text.py:BPE_STEP.
_BPE_STEP = T.BPE_STEP


@session_cached
def _bpe_merges_cached(spark, sf_dir) -> list[tuple[str, str]]:
    """The learned merge table as driver-side (a, b) pairs — memoized
    like the centroid/codebook models: training once per session, then
    every encode-side consumer replays the same 8 merges as literal
    folds."""
    return [(r["a"], r["b"]) for r in x5_bpe_train(spark, sf_dir).collect()]


def x5_bpe_apply(spark, sf_dir):
    """BPE ENCODE + compression report — the merge table x5_bpe_train
    learns, applied back to the per-LANGUAGE dictionaries (inference =
    replaying the merge history in order, operators/text.py:bpe_encode):
    per language, total word occurrences, character volume, BPE-piece
    volume, pieces-per-token and mean piece length — the fertility
    numbers a tokenizer team reads to see which languages the vocabulary
    serves badly. Exact integers throughout (counts weighted by type
    frequency); the two ratios are single divisions at the end. Scale
    shape: dictionary-sized after one corpus collapse; the 8 merges ride
    into ONE zero-shuffle projection as literal folds."""
    d = _docs(spark, sf_dir)
    merges = _bpe_merges_cached(spark, sf_dir)
    wl = (
        d.select("lang", F.explode(F.expr(D.tokens_expr("text"))).alias("w"))
        .where(f"length(w) BETWEEN {BPE_WORD_MIN} AND {BPE_WORD_MAX}")
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("n"))
        .selectExpr(
            "lang",
            "n",
            "length(w) AS chars",
            "transform(sequence(1, length(w)), i -> substring(w, i, 1)) AS syms",
        )
    )
    enc = T.bpe_encode(wl, merges)
    return (
        enc.groupBy("lang")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.sum(F.col("chars") * F.col("n")).alias("n_chars"),
            F.sum(F.expr("size(syms)").cast("bigint") * F.col("n")).alias(
                "n_pieces"
            ),
        )
        .selectExpr(
            "lang",
            "n_tokens",
            "n_chars",
            "n_pieces",
            "round(CAST(n_pieces AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4)"
            " AS pieces_per_token",
            "round(CAST(n_chars AS DOUBLE) / CAST(n_pieces AS DOUBLE), 4)"
            " AS mean_piece_len",
        )
        .orderBy("lang")
    )


def x5_bpe_train(spark, sf_dir):
    """BPE tokenizer TRAINING — the merge table an LLM data pipeline
    actually learns, produced by iterating x5_bpe_pairs' statistic
    BPE_MERGES times in pure integer arithmetic: per round, (1) count
    adjacent symbol pairs over the word-TYPE dictionary weighted by type
    frequency, (2) take the argmax (count desc, then pair text — the
    ' ' separator sorts below [a-z0-9], so pair-string order equals
    (a, b) tuple order), (3) fuse that pair in every word via a string
    fold, (4) repeat on the merged dictionary. Output: the ordered merge
    table (step, a, b, merged, cnt).

    Scale shape: the corpus collapses to the word-type dictionary FIRST
    (one shuffle on the token — vocabulary-sized ever after, the reason
    real BPE trainers run on frequency dictionaries, not corpora); each
    round is then one vocab-sized pair count + a 1-row broadcast argmax
    + a map-only fold, with a per-round localCheckpoint lineage cut
    (the pagerank pattern — each dictionary feeds two consumers: the
    next round's pair count and the merge projection)."""
    d = _docs(spark, sf_dir)
    words = (
        d.select(F.explode(F.expr(D.tokens_expr("text"))).alias("w"))
        .where(f"length(w) BETWEEN {BPE_WORD_MIN} AND {BPE_WORD_MAX}")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return T.bpe_merge_table(words, BPE_MERGES)


def x8_cms_join_size(spark, sf_dir):
    """Join-cardinality estimation via CMS inner product — the classic
    sketch instrument for join planning (AGMS/CMS join-size estimate:
    |A ⋈ B| = Σ_key cntA·cntB, estimated by min over rows of the
    cell-wise sketch dot product, never an underestimate). The query
    reports the exact join size next to the estimate and their ratio —
    at 100 TB you compute the two sketches in one pass each (a few KB)
    and skip the exact side entirely when choosing broadcast vs shuffle
    vs skew handling. Same cells/constants as x8_cms_heavy_hitters."""
    from diepy_spark.operators.sketch import cms_cells

    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    ca = cms_cells(o, "o_custkey", d=CMS_D, w=CMS_W, seed=CMS_SEED).select(
        "r", "c", F.col("cnt").alias("cnt_a")
    )
    cb = cms_cells(c, "c_custkey", d=CMS_D, w=CMS_W, seed=CMS_SEED).select(
        "r", "c", F.col("cnt").alias("cnt_b")
    )
    per_row = (
        ca.join(cb, ["r", "c"])
        .groupBy("r")
        .agg(F.sum(F.col("cnt_a") * F.col("cnt_b")).alias("dot"))
    )
    est = per_row.agg(F.min("dot").alias("cms_join_size"))
    oa = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("na"))
    cb2 = c.groupBy("c_custkey").agg(F.count(F.lit(1)).alias("nb"))
    exact = (
        oa.join(cb2, oa.o_custkey == cb2.c_custkey)
        .agg(F.sum(F.col("na") * F.col("nb")).alias("exact_join_size"))
    )
    return exact.crossJoin(est).select(
        "exact_join_size",
        "cms_join_size",
        F.round(F.col("cms_join_size") / F.col("exact_join_size"), 4).alias("ratio"),
    )


DRIFT_SPLIT = INC_SPLIT


def x12_drift(spark, sf_dir):
    """Distribution-drift monitor between two loads: the order-status mix
    before vs after DRIFT_SPLIT, with per-class share delta and the total
    variation distance repeated on every row (the single drift headline a
    pipeline alerts on). Counts are exact integers; shares are single
    divisions rounded — deterministic cross-engine. One aggregate per
    side over the class dimension; at 100 TB this is two map-side-combined
    scans and a |classes|-row join."""
    orders = load_table(spark, sf_dir, "orders")
    split = F.lit(DRIFT_SPLIT).cast("timestamp")

    def mix(df, cname):
        g = df.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias(cname))
        return g

    a = mix(orders.where(F.col("o_orderdate") < split), "n_base")
    b = mix(orders.where(F.col("o_orderdate") >= split), "n_new")
    j = a.join(b, "o_orderstatus", "full_outer").select(
        "o_orderstatus",
        F.coalesce("n_base", F.lit(0)).alias("n_base"),
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    w = Window.partitionBy()
    # TVD from exact integer numerators: |sn - sb| = |n_new*tb - n_base*tn|
    # / (tb*tn), so the accumulated sum is an exact bigint and only the
    # FINAL division is floating — summing the per-class double deltas
    # instead would hash-differ across engines (accumulation order).
    totals = j.select(
        "*",
        F.sum("n_base").over(w).alias("tb"),
        F.sum("n_new").over(w).alias("tn"),
    ).withColumn(
        "num", F.abs(F.col("n_new") * F.col("tb") - F.col("n_base") * F.col("tn"))
    )
    return totals.select(
        "o_orderstatus",
        "n_base",
        "n_new",
        F.round(F.col("n_base") / F.col("tb"), 6).alias("share_base"),
        F.round(F.col("n_new") / F.col("tn"), 6).alias("share_new"),
        F.round(
            F.col("n_new") / F.col("tn") - F.col("n_base") / F.col("tb"), 6
        ).alias("share_delta"),
        F.round(
            F.sum("num").over(w) / (F.lit(2.0) * F.col("tb") * F.col("tn")), 6
        ).alias("tvd"),
    ).orderBy("o_orderstatus")


GAP_MIN_PRICE = 150000
GAP_TOP = 100


def x12_gaps(spark, sf_dir):
    """Islands-and-gaps detection over a key sequence (the missing-id DQ
    audit every ingest runs): contiguous RUNS of absent keys in the
    filtered orderkey set, top GAP_TOP by length.

    Scale shape: the textbook windowed-lag solution needs a GLOBAL sort
    (one task at 100 TB). This plan never sorts the data: gap starts and
    island starts are two ANTI self-joins on key±1 (distributed hash
    joins), and only the BOUNDARY dimension — orders of magnitude smaller
    than the key set — enters the single window that pairs each gap start
    with the next island start. The trailing non-gap after the max key is
    excluded via one broadcast scalar."""
    keys = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > GAP_MIN_PRICE)
        .select(F.col("o_orderkey").alias("key"))
        .distinct()
    )
    mx = keys.agg(F.max("key").alias("mx"))
    succ = keys.select((F.col("key") + 1).alias("key"))
    gap_starts = (
        succ.join(keys, "key", "left_anti")
        .crossJoin(F.broadcast(mx))
        .where(F.col("key") <= F.col("mx"))
        .select(F.col("key").alias("pos"), F.lit("g").alias("tag"))
    )
    # island start: key present whose PREDECESSOR is absent == key NOT in
    # the successor set {k+1} (an anti join against {k-1} keeps island
    # ENDS instead — the bug the oracle hash caught on first run)
    island_starts = keys.join(succ, "key", "left_anti").select(
        F.col("key").alias("pos"), F.lit("i").alias("tag")
    )
    u = gap_starts.unionByName(island_starts)
    # "min island pos among FOLLOWING rows" spelled as a RUNNING min over
    # the DESCENDING order: Spark evaluates UNBOUNDED FOLLOWING frames by
    # recomputing the aggregate per row (O(n²) — measured 58 s on 60k
    # boundary rows), while UNBOUNDED PRECEDING running frames are
    # incremental (O(n) — 2 s). Same value, same determinism.
    w = Window.orderBy(F.desc("pos")).rowsBetween(Window.unboundedPreceding, -1)
    paired = u.withColumn(
        "next_island", F.min(F.when(F.col("tag") == "i", F.col("pos"))).over(w)
    ).where(F.col("tag") == "g")
    return (
        paired.select(
            F.col("pos").alias("gap_start"),
            (F.col("next_island") - 1).alias("gap_end"),
            (F.col("next_island") - F.col("pos")).alias("gap_len"),
        )
        .orderBy(F.col("gap_len").desc(), "gap_start")
        .limit(GAP_TOP)
    )


def x9_rollup_cascade(spark, sf_dir):
    """Hypertable-style CONTINUOUS-AGGREGATE cascade: the daily rollup is
    computed FROM the hourly rollup, never from raw events — the
    multi-resolution reuse that makes a 100 TB metrics store affordable
    (the 1-day view re-aggregates 24 tiny rows per key instead of
    rescanning the fact table; count/sum states are algebraic, so the
    cascade is lossless by construction). The oracle aggregates raw
    events straight to daily — hash equality IS the losslessness proof.
    Money stays in exact integer cents until the final render."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    hourly = (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("h"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents"),
        )
    )
    daily = (
        hourly.groupBy(
            F.date_trunc("day", F.col("h")).alias("d"), "event_type"
        )
        .agg(F.sum("c").alias("c"), F.sum("cents").alias("cents"))
    )
    return daily.select(
        F.col("d").cast("timestamp").alias("d"),
        "event_type",
        "c",
        F.round(F.col("cents") / 100.0, 2).alias("total_value"),
    ).orderBy("d", "event_type")


KC_ITER = 3


def x11_kcore(spark, sf_dir):
    """k-core extraction (operators/clustering.py:kcore — iterative
    peeling, KC_ITER rounds) over the symmetrized part↔supplier supply
    graph, with a DATA-DERIVED threshold: k = the median initial degree
    (exact lower median via the freq_median value-histogram; peel =
    strictly below median — no fixed k bites at every scale factor on
    this bipartite graph, and +1 over-cascades the small fixtures). Completes the graph surface (components /
    pagerank / triangles / LPA / k-core). The oracle unrolls the same
    peel rounds as chained CTEs. Output: surviving (node, deg)."""
    from diepy_spark.operators.clustering import kcore
    from diepy_spark.operators.robust import freq_median

    sym = _supply_sym(spark, sf_dir)
    # sym is distinct with src != dst by construction (disjoint id
    # classes mod 10) — no re-dedup pass before the degree count
    deg0 = (
        sym.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(F.lit(1).alias("g"), "deg")
    )
    kf = freq_median(deg0, "g", "deg").select(F.col("med").alias("k"))
    return kcore(sym, k=kf, iterations=KC_ITER, assume_distinct=True).orderBy(
        "node"
    )


AB_CONV_MIN = 180


def x8_ab_test(spark, sf_dir):
    """Two-proportion A/B comparison — the experimentation primitive: the
    even/odd user-id split as cohorts, conversion = user emitted at
    least one HIGH-VALUE purchase (value > AB_CONV_MIN — plain purchase
    is universal in this fixture, which would zero the pooled standard
    error). Counts are exact integers from one
    distinct-user aggregate per side; the pooled two-proportion z
    statistic is a single closed-form double expression stated
    IDENTICALLY in both engines (each sub-term is one IEEE op on exact
    int-derived doubles, so the hash can't drift). One row out:
    cohort sizes, converters, rates, and z."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > AB_CONV_MIN)
            ).cast("int")
        ).alias("conv")
    )
    g = per_user.withColumn("grp", (F.col("user_id") % 2 == 0).cast("int"))
    agg = g.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").alias("c")
    )
    a = agg.where(F.col("grp") == 1).select(
        F.col("n").alias("n_a"), F.col("c").alias("c_a")
    )
    b = agg.where(F.col("grp") == 0).select(
        F.col("n").alias("n_b"), F.col("c").alias("c_b")
    )
    j = a.crossJoin(b)
    p_a = F.col("c_a") / F.col("n_a")
    p_b = F.col("c_b") / F.col("n_b")
    pool = (F.col("c_a") + F.col("c_b")) / (F.col("n_a") + F.col("n_b"))
    se = F.sqrt(pool * (1 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    return j.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        F.round(p_a, 6).alias("rate_a"),
        F.round(p_b, 6).alias("rate_b"),
        F.round((p_a - p_b) / se, 4).alias("z"),
    )


# CUPED (Controlled-experiment Using Pre-Experiment Data): every float
# formula below is a module constant f-stringed into BOTH the Spark
# selectExpr and the DuckDB oracle — textual identity is what makes the
# multi-op IEEE chains hash-exact cross-engine. All inputs to the float
# layer are EXACT integer cents (per-user decimal sums -> bigint), so the
# only float ops are the stated closed forms.
_CUPED_CENTS = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
_CUPED_DERIVED = [
    ("mean_pre", "CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)"),
    ("mean_post", "CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)"),
    (
        "var_post",
        "CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)"
        " - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
        " * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))",
    ),
    (
        "var_pre",
        "CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)"
        " - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
        " * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))",
    ),
    (
        "cov_xy",
        "CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)"
        " - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
        " * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))",
    ),
]
_CUPED_THETA = (
    "(CAST(n_all AS DOUBLE) * CAST(sxy_all AS DOUBLE)"
    " - CAST(sx_all AS DOUBLE) * CAST(sy_all AS DOUBLE))"
    " / (CAST(n_all AS DOUBLE) * CAST(sxx_all AS DOUBLE)"
    " - CAST(sx_all AS DOUBLE) * CAST(sx_all AS DOUBLE))"
)
_CUPED_PRE_ALL = "CAST(sx_all AS DOUBLE) / CAST(n_all AS DOUBLE)"
_CUPED_MEAN_ADJ = "mean_post - theta * (mean_pre - pre_mean_all)"
_CUPED_VAR_ADJ = "var_post - 2 * theta * cov_xy + theta * theta * var_pre"


def x8_cuped(spark, sf_dir):
    """CUPED variance reduction (Deng et al. 2013, the production A/B
    covariate adjustment): per-user spend split into pre/post periods at
    the integer-microsecond time midpoint, theta = cov(pre, post)/var(pre)
    fitted on ALL users, each cohort's post-period mean adjusted by
    theta*(pre_mean - global pre_mean). Output per even/odd-user cohort:
    the raw and adjusted means, raw and adjusted variances, and the
    variance-reduction ratio — the number that says how much experiment
    sensitivity the covariate buys.

    Exactness: per-user pre/post sums are exact integer cents; every
    covariance/variance term is an algebraic closed form over those
    integer sums cast to double (never a per-user float fold — the SAME
    textual expression runs in both engines, see _CUPED_* constants).
    Scale: two map-side-combinable aggregates (per-user, then per-cohort)
    plus a 1-row broadcast of the global stats — no extra pass, no
    user-level shuffle beyond the groupBy(user_id)."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        F.expr(_CUPED_CENTS).alias("cents"),
    )
    mid = e.agg(F.expr("(min(us) + max(us)) div 2").alias("mid"))
    pu = (
        e.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.expr("coalesce(sum(CASE WHEN us < mid THEN cents END), 0)").alias(
                "pre_c"
            ),
            F.expr("coalesce(sum(CASE WHEN us >= mid THEN cents END), 0)").alias(
                "post_c"
            ),
        )
    )
    g = pu.selectExpr(
        "CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS grp", "pre_c", "post_c"
    )
    # the cohort-stat frame is TWO rows consumed twice (global roll-up +
    # final projection) -> cut lineage so per-user aggregation runs once
    cg = g.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pre_c").alias("sx"),
        F.sum("post_c").alias("sy"),
        F.expr("sum(pre_c * pre_c)").alias("sxx"),
        F.expr("sum(post_c * post_c)").alias("syy"),
        F.expr("sum(pre_c * post_c)").alias("sxy"),
    ).localCheckpoint(eager=False)
    # global stats ROLL UP from the cohort stats (cohorts partition
    # users, integer sums of sums are exact) — the per-user frame is
    # scanned once, not twice (plan-audit fix; was 8 scans)
    allr = cg.agg(
        F.sum("n").alias("n_all"),
        F.sum("sx").alias("sx_all"),
        F.sum("sy").alias("sy_all"),
        F.sum("sxx").alias("sxx_all"),
        F.sum("sxy").alias("sxy_all"),
    )
    d1 = cg.crossJoin(F.broadcast(allr)).selectExpr(
        "grp",
        "n",
        *[f"{sql} AS {name}" for name, sql in _CUPED_DERIVED],
        f"{_CUPED_THETA} AS theta",
        f"{_CUPED_PRE_ALL} AS pre_mean_all",
    )
    d2 = d1.selectExpr(
        "grp",
        "n AS n_users",
        "mean_post",
        f"{_CUPED_MEAN_ADJ} AS mean_adj",
        "var_post",
        f"{_CUPED_VAR_ADJ} AS var_adj",
        "theta",
    )
    return d2.selectExpr(
        "grp",
        "n_users",
        "round(mean_post, 6) AS mean_post",
        "round(mean_adj, 6) AS mean_adj",
        "round(var_post, 6) AS var_post",
        "round(var_adj, 6) AS var_adj",
        "round(var_adj / var_post, 6) AS var_reduction",
        "round(theta, 6) AS theta",
    ).orderBy("grp")


# Sample-ratio mismatch: chi-square against a 50/50 split, per segment.
# With two cells and equal expectation the statistic collapses to
# (n_a - n_b)^2 / N — stated once, run in both engines.
_SRM_CHI2 = (
    "(CAST(n_a AS DOUBLE) - CAST(n_b AS DOUBLE))"
    " * (CAST(n_a AS DOUBLE) - CAST(n_b AS DOUBLE))"
    " / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))"
)
_SRM_RATIO = "CAST(n_a AS DOUBLE) / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))"


def x8_srm(spark, sf_dir):
    """Sample-ratio-mismatch audit (the first thing a trustworthy A/B
    platform checks): per event-type segment, DISTINCT users in each
    cohort of the even/odd split, the observed assignment ratio, and the
    chi-square statistic against the designed 50/50 — a big chi2 in any
    segment means the randomization is broken there (bot traffic,
    logging loss) and every downstream test (x8_ab_test/x8_cuped/x8_mwu)
    on that segment is invalid.

    Scale: one distinct on (segment, user, cohort) — map-side combinable
    — then a segment-keyed conditional count; integer counts feed the
    shared one-line chi2 float form (df=1 collapses to (n_a-n_b)^2/N)."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.selectExpr(
        "event_type",
        "user_id",
        "CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS grp",
    ).distinct()
    agg = g.groupBy("event_type").agg(
        F.expr("sum(grp)").alias("n_a"),
        F.expr("sum(1 - grp)").alias("n_b"),
    )
    return agg.selectExpr(
        "event_type",
        "n_a",
        "n_b",
        f"round({_SRM_RATIO}, 6) AS ratio_a",
        f"round({_SRM_CHI2}, 6) AS chi2",
    ).orderBy("event_type")


# Permutation test: PERM_P deterministic pseudo-random cohort
# reassignments, each a parity bit of md5('perm{p}:' || user_id) — the
# hex_frac_sql idiom reduced to one nibble mod 2, valid and bit-identical
# in both engines. All texts below are generated ONCE and f-strung into
# both the Spark selectExpr and the DuckDB oracle.
PERM_P = 24


def _perm_bit(p: int) -> str:
    return (
        f"(instr('0123456789abcdef', substr(md5(concat('perm{p}:',"
        f" CAST(user_id AS STRING))), 1, 1)) - 1) % 2"
    )


def _perm_mean_diff(na: str, sa: str) -> str:
    return (
        f"(CAST({sa} AS DOUBLE) / CAST({na} AS DOUBLE)"
        f" - (CAST(s AS DOUBLE) - CAST({sa} AS DOUBLE))"
        f" / (CAST(n AS DOUBLE) - CAST({na} AS DOUBLE)))"
    )


def x8_perm_test(spark, sf_dir):
    """Permutation test for the cohort spend difference — inference with
    NO distributional assumption (the z/U tests' nonparametric backstop):
    the observed even/odd difference in mean per-user spend is compared
    against PERM_P deterministic md5-seeded reassignments of users to
    cohorts; p = fraction of permutations at least as extreme. The
    whole null distribution is ONE scan — every permutation is a pair of
    conditional integer sums in the same aggregate (user-level data
    never re-shuffles per permutation), the simulation-in-one-pass shape
    that works at any scale. Exact integer cents end-to-end; the mean
    differences are the only float layer, text-shared with the oracle."""
    ev = load_table(spark, sf_dir, "events")
    pu = (
        ev.selectExpr("user_id", f"{_CUPED_CENTS} AS cents")
        .groupBy("user_id")
        .agg(F.expr("CAST(sum(cents) AS BIGINT)").alias("tot"))
    )
    bits = pu.selectExpr(
        "tot",
        "CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS g_obs",
        *[f"{_perm_bit(p)} AS b{p}" for p in range(PERM_P)],
    )
    agg = bits.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("tot").alias("s"),
        F.expr("sum(g_obs)").alias("na_o"),
        F.expr("sum(g_obs * tot)").alias("sa_o"),
        *[F.expr(f"sum(b{p})").alias(f"na{p}") for p in range(PERM_P)],
        *[F.expr(f"sum(b{p} * tot)").alias(f"sa{p}") for p in range(PERM_P)],
    )
    d1 = agg.selectExpr(
        "n",
        f"{_perm_mean_diff('na_o', 'sa_o')} AS obs_diff",
        *[
            f"{_perm_mean_diff(f'na{p}', f'sa{p}')} AS diff{p}"
            for p in range(PERM_P)
        ],
    )
    extreme = " + ".join(
        f"(CASE WHEN abs(diff{p}) >= abs(obs_diff) THEN 1 ELSE 0 END)"
        for p in range(PERM_P)
    )
    return d1.selectExpr(
        "n AS n_users",
        "round(obs_diff, 4) AS obs_diff",
        f"CAST({extreme} AS BIGINT) AS n_extreme",
        f"round(CAST({extreme} AS DOUBLE) / {PERM_P}, 4) AS p_value",
    )


def _dm_texts(sfx: str) -> dict[str, str]:
    """Delta-method shared texts for cohort suffix `sfx` — every operand
    cast to DOUBLE, identical op order in both engines. Inputs are the
    six integer moment sums n/sx/sy/sxx/syy/sxy{sfx}."""
    n = f"CAST(n{sfx} AS DOUBLE)"
    sx = f"CAST(sx{sfx} AS DOUBLE)"
    sy = f"CAST(sy{sfx} AS DOUBLE)"
    r = f"({sx} / {sy})"
    ybar = f"({sy} / {n})"
    vxx = f"((CAST(sxx{sfx} AS DOUBLE) - {sx} * {sx} / {n}) / ({n} - 1))"
    vyy = f"((CAST(syy{sfx} AS DOUBLE) - {sy} * {sy} / {n}) / ({n} - 1))"
    vxy = f"((CAST(sxy{sfx} AS DOUBLE) - {sx} * {sy} / {n}) / ({n} - 1))"
    var = (
        f"(({vxx} - CAST(2 AS DOUBLE) * {r} * {vxy} + {r} * {r} * {vyy})"
        f" / ({n} * {ybar} * {ybar}))"
    )
    return {"r": r, "se": f"sqrt({var})"}


def x8_delta_method(spark, sf_dir):
    """RATIO-METRIC inference via the delta method (Deng, Knoblich & Lu
    2018, "Applying the Delta Method in Metric Analytics") — the
    correction every experimentation platform needs for per-user RATIO
    metrics (here: cents per event): the naive i.i.d. SE is wrong
    because numerator and denominator are cohort sums over the SAME
    users, so Var(X/Y) takes the (sxx - 2R sxy + R^2 syy) / (n ybar^2)
    form from the per-user moment sums. One corpus pass builds per-user
    (cents, events); one grouped aggregate yields the six integer
    moments per cohort (int64-safe at test scale; promote the products
    to DECIMAL at 100 TB); the ratio difference z-statistic renders
    from shared float texts. Output: one row."""
    ev = load_table(spark, sf_dir, "events")
    pu = (
        ev.selectExpr("user_id", f"{_CUPED_CENTS} AS cents")
        .groupBy("user_id")
        .agg(
            F.expr("CAST(coalesce(sum(cents), 0) AS BIGINT)").alias("x"),
            F.expr("CAST(count(*) AS BIGINT)").alias("y"),
        )
    )
    g = pu.selectExpr("user_id % 2 AS grp", "x", "y").groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("CAST(sum(x) AS BIGINT)").alias("sx"),
        F.expr("CAST(sum(y) AS BIGINT)").alias("sy"),
        F.expr("CAST(sum(x * x) AS BIGINT)").alias("sxx"),
        F.expr("CAST(sum(y * y) AS BIGINT)").alias("syy"),
        F.expr("CAST(sum(x * y) AS BIGINT)").alias("sxy"),
    )
    pivots = [
        F.expr(
            f"CAST(max(CASE WHEN grp = {grp} THEN {c} END) AS BIGINT)"
        ).alias(f"{c}{sfx}")
        for grp, sfx in ((0, "_a"), (1, "_b"))
        for c in ("n", "sx", "sy", "sxx", "syy", "sxy")
    ]
    one = g.groupBy().agg(*pivots)
    a, b = _dm_texts("_a"), _dm_texts("_b")
    return one.selectExpr(
        "n_a",
        "n_b",
        f"round({a['r']}, 6) AS ratio_a",
        f"round({a['se']}, 6) AS se_a",
        f"round({b['r']}, 6) AS ratio_b",
        f"round({b['se']}, 6) AS se_b",
        f"round({a['r']} - {b['r']}, 6) AS diff",
        f"round(({a['r']} - {b['r']})"
        f" / sqrt({a['se']} * {a['se']} + {b['se']} * {b['se']}), 4) AS z",
    )


# Benjamini-Hochberg threshold q = 0.10, spelled as an exact double
# division shared with the oracle (a bare 0.1 literal would parse as
# DECIMAL in Spark — the x12_benford lesson).
_FDR_Q_TXT = "(CAST(1 AS DOUBLE) / CAST(10 AS DOUBLE))"


def x8_fdr_bh(spark, sf_dir):
    """MULTIPLE-TESTING CORRECTION (Benjamini & Hochberg 1995): the x8
    family runs one test per metric; an experimentation platform runs
    them ALL and must control the false-discovery rate across the
    battery. Here the battery is one permutation test per event type
    (the x8_perm_test machinery grouped by event_type — every
    permutation is still a pair of conditional integer sums in ONE
    aggregate, so the full m-test null distribution is one scan), and
    the BH step adjusts: sort p ascending, p_adj(i) = min over j>=i of
    p(j)*m/j, clamped to 1, reject at q=0.10.

    Exactness: p = n_extreme/PERM_P stays a ratio of integers;
    p(j)*m/j is computed as ONE double division of integer products
    (n_extreme*m over PERM_P*rank), so the only float ops are a
    division and window-min comparisons — engine-identical. The BH
    window runs over m rows (the metric dimension, bounded like the
    ppl-bucket windows), not the data."""
    ev = load_table(spark, sf_dir, "events")
    pu = (
        ev.selectExpr("event_type", "user_id", f"{_CUPED_CENTS} AS cents")
        .groupBy("event_type", "user_id")
        .agg(F.expr("CAST(sum(cents) AS BIGINT)").alias("tot"))
    )
    bits = pu.selectExpr(
        "event_type",
        "tot",
        "CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS g_obs",
        *[f"{_perm_bit(p)} AS b{p}" for p in range(PERM_P)],
    )
    agg = bits.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("CAST(sum(tot) AS BIGINT)").alias("s"),
        F.expr("CAST(sum(g_obs) AS BIGINT)").alias("na_o"),
        F.expr("CAST(sum(g_obs * tot) AS BIGINT)").alias("sa_o"),
        *[F.expr(f"CAST(sum(b{p}) AS BIGINT)").alias(f"na{p}") for p in range(PERM_P)],
        *[
            F.expr(f"CAST(sum(b{p} * tot) AS BIGINT)").alias(f"sa{p}")
            for p in range(PERM_P)
        ],
    )
    d1 = agg.selectExpr(
        "event_type",
        "n",
        f"{_perm_mean_diff('na_o', 'sa_o')} AS obs_diff",
        *[f"{_perm_mean_diff(f'na{p}', f'sa{p}')} AS diff{p}" for p in range(PERM_P)],
    )
    extreme = " + ".join(
        f"(CASE WHEN abs(diff{p}) >= abs(obs_diff) THEN 1 ELSE 0 END)"
        for p in range(PERM_P)
    )
    pvals = d1.selectExpr(
        "event_type",
        "n AS n_users",
        "round(obs_diff, 4) AS obs_diff",
        f"CAST({extreme} AS BIGINT) AS n_extreme",
    ).localCheckpoint(eager=False)  # metric-dimension-bounded (m rows)
    wall = Window.partitionBy()
    wrk = Window.orderBy("n_extreme", "event_type")
    wsfx = (
        Window.orderBy("rk").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    ranked = (
        pvals.withColumn("m", F.count(F.lit(1)).over(wall))
        .withColumn("rk", F.row_number().over(wrk))
        .withColumn(
            "q_raw",
            F.expr(
                "CAST(n_extreme * m AS DOUBLE)"
                f" / CAST({PERM_P} * rk AS DOUBLE)"
            ),
        )
    )
    return (
        ranked.withColumn(
            "p_adj_u",
            F.least(F.min("q_raw").over(wsfx), F.lit(1.0)),
        )
        .selectExpr(
            "event_type",
            "n_users",
            "obs_diff",
            "n_extreme",
            f"round(CAST(n_extreme AS DOUBLE) / {PERM_P}, 4) AS p_value",
            "CAST(rk AS INT) AS rk",
            "round(p_adj_u, 4) AS p_adj",
            f"CAST(CASE WHEN p_adj_u <= {_FDR_Q_TXT} THEN 1 ELSE 0 END"
            " AS BIGINT) AS reject",
        )
        .orderBy("rk")
    )


# Mann-Whitney: shared float-layer formulas (same f-string-into-both-
# engines discipline as _CUPED_*). Inputs are exact BIGINTs: r2_* are
# DOUBLED rank sums (avg tie rank = r + (c-1)/2 doubled to 2r + c - 1
# stays integer), tie = sum(t^3 - t) over tie groups, nn = n_a + n_b.
_MWU_U_A = (
    "(CAST(r2_a AS DOUBLE) - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1)) / 2"
)
_MWU_MU = "CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2"
_MWU_VAR = (
    "CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12"
    " * ((CAST(nn AS DOUBLE) + 1)"
    " - CAST(tie AS DOUBLE) / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1)))"
)


def x8_mwu(spark, sf_dir):
    """Mann-Whitney U rank-sum test (the nonparametric A/B sibling of
    x8_ab_test / x8_cuped): do even- and odd-user cohorts draw event
    values from the same distribution? U from tie-averaged ranks plus the
    tie-corrected normal approximation z.

    Scale shape — NO global row rank (a global window is a single
    partition at 100 TB). Ranks come from a VALUE-FREQUENCY histogram:
    per distinct cent value its count and cumulative count-before, so
    the only ordered window runs over the histogram frame, whose size is
    bounded by the value DOMAIN (cents), not the row count — the same
    bounded-state argument as freq_median/r28b. Rank arithmetic stays in
    exact integers (DOUBLED average ranks: avg = r + (c-1)/2 doubled to
    2r + c - 1), so U, the tie term sum(t^3 - t), and the cohort counts
    are all exact BIGINTs; the z closed form is the only float layer and
    is textually shared with the oracle (_MWU_* constants)."""
    # the (cents, cohort) histogram is an exact rollup of the shared
    # session value-frequency artifact (r14) — the events corpus is
    # never re-scanned; counts sum over the dropped event_type key
    hg0 = (
        _ev_vhist_cached(spark, sf_dir)
        .groupBy("cents", F.col("par").alias("grp"))
        .agg(F.sum("cnt").cast("bigint").alias("cnt_g"))
        .localCheckpoint(eager=False)
    )
    # total per-value counts ROLL UP from the cohort histogram — one
    # event scan feeds both layers (plan-audit fix; was 10 scans)
    h = hg0.groupBy("cents").agg(F.sum("cnt_g").alias("cnt"))
    wc = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    hd = h.select(
        "cents",
        "cnt",
        F.coalesce(F.sum("cnt").over(wc), F.lit(0)).alias("before"),
    ).selectExpr(
        "cents", "cnt", "2 * (before + 1) + cnt - 1 AS d"
    ).localCheckpoint(eager=False)
    hg = hg0
    rg = (
        hg.join(F.broadcast(hd.select("cents", "d")), "cents")
        .groupBy("grp")
        .agg(
            F.expr("sum(cnt_g * d)").alias("r2"),
            F.sum("cnt_g").alias("n"),
        )
    )
    a = rg.where(F.col("grp") == 1).select(
        F.col("r2").alias("r2_a"), F.col("n").alias("n_a")
    )
    b = rg.where(F.col("grp") == 0).select(
        F.col("r2").alias("r2_b"), F.col("n").alias("n_b")
    )
    t = hd.agg(F.expr("sum(cnt * cnt * cnt - cnt)").alias("tie"))
    j = a.crossJoin(b).crossJoin(F.broadcast(t)).selectExpr(
        "r2_a", "n_a", "n_b", "tie", "n_a + n_b AS nn"
    )
    d1 = j.selectExpr(
        "n_a",
        "n_b",
        f"{_MWU_U_A} AS u_a",
        f"{_MWU_MU} AS mu",
        f"{_MWU_VAR} AS var_u",
    )
    return d1.selectExpr(
        "n_a",
        "n_b",
        "u_a",
        "CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) - u_a AS u_b",
        "round((u_a - mu) / sqrt(var_u), 4) AS z",
    )


def x12_ref_integrity(spark, sf_dir):
    """Referential-integrity audit across the star schema — the classic
    post-load DQ check: for each FK relation, total child rows and
    orphans (child keys with no parent). Each relation is one LEFT ANTI
    join on the key (distributed hash join; the parent key set is the
    build side and broadcasts when small) plus two count aggregates; the
    report is a 4-row union. Zero orphans on this generator's output is
    itself the assertion — the query proves the check runs, the counts
    prove against the oracle that it counts correctly."""

    def pair(child, key, parent, pkey, label):
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent)
        orphans = c.select(F.col(key)).join(
            p.select(F.col(pkey).alias(key)).distinct(), key, "left_anti"
        )
        return (
            c.agg(F.count(F.lit(1)).alias("n_rows"))
            .crossJoin(orphans.agg(F.count(F.lit(1)).alias("n_orphans")))
            .select(F.lit(label).alias("relation"), "n_rows", "n_orphans")
        )

    return (
        pair("lineitem", "l_orderkey", "orders", "o_orderkey", "lineitem->orders")
        .unionByName(pair("orders", "o_custkey", "customer", "c_custkey", "orders->customer"))
        .unionByName(pair("customer", "c_nationkey", "nation", "n_nationkey", "customer->nation"))
        .unionByName(pair("supplier", "s_nationkey", "nation", "n_nationkey", "supplier->nation"))
        .orderBy("relation")
    )


TMIX_FRAC = 0.25
TMIX_ALPHA = 0.5
TMIX_SEED = "tmix"


def x8_temperature_mix(spark, sf_dir):
    """Temperature data mixing (operators/sampling.py:temperature_mix):
    per-source keep rates ∝ n^alpha, overall budget TMIX_FRAC of the
    corpus, rows drawn by the deterministic hash fraction. The report is
    the mixing table a training run ships with: each source's natural
    count, its temperature share, and what the sampler actually kept."""
    from diepy_spark.operators.sampling import temperature_mix

    s = temperature_mix(
        _docs(spark, sf_dir), "source", TMIX_FRAC, TMIX_ALPHA, TMIX_SEED
    )
    return (
        s.groupBy("source")
        .agg(
            F.min("n").alias("n"),
            F.round(F.min("share"), 6).alias("share"),
            F.count(F.lit(1)).alias("kept"),
            F.round(F.count(F.lit(1)) / F.min("n"), 4).alias("kept_rate"),
        )
        .orderBy("source")
    )


PQ_M = 4
PQ_CODES = 8
PQ_NQ = 4
PQ_K = 3


@session_cached
def _pq_adc_cached(spark, sf_dir):
    """The PQ-ADC ranking frame shared by its declared query
    (x3_pq_adc) and the recall instrument (x3_pq_vs_rq_recall) — the
    same search result consumed by two queries, session-memoized with a
    lineage cut (r13, the _sdflags persisted-artifact discipline): a
    production index serves ONE ranking per query set, the instrument
    reads it."""
    from diepy_spark.operators.similarity import pq_adc_topk

    v = _vecs(spark, sf_dir)
    return pq_adc_topk(
        v.where(F.col("vec_id") < PQ_NQ),
        v.where(F.col("vec_id") >= PQ_NQ),
        _books_cached(spark, sf_dir, PQ_M, PQ_CODES, KM_SCALE),
        k=PQ_K,
        scale=KM_SCALE,
    ).localCheckpoint(eager=False)


def x3_pq_adc(spark, sf_dir):
    """Product-quantization ADC search
    (operators/similarity.py:pq_encode/pq_adc_topk): the corpus is
    stored as PQ_M code ids per vector (64 floats -> 4 bytes, the
    compression that makes billion-vector stores fit), queries search by
    LUT lookups only. Codebooks are the deterministic first-PQ_CODES
    subvectors (swap in per-subspace kmeans_centroids_int to train);
    everything is exact integer arithmetic, so encode + search
    hash-check end to end. Queries = PQ_NQ smallest vec_ids, corpus =
    the rest."""
    return _pq_adc_cached(spark, sf_dir).orderBy("qid", "rk")


IVFPQ_NPROBE = 2


def x3_ivfpq(spark, sf_dir):
    """IVF + PQ composed search (operators/similarity.py:ivfpq_topk) —
    the full faiss-style index architecture in one declared query: a
    TRAINED coarse quantizer (clustering.kmeans_centroids_int) routes
    queries to IVFPQ_NPROBE cells, and within probed cells candidates
    score by PQ asymmetric distance (m LUT lookups, integer-exact).
    Corpus-side cost: one projection pass (cell argmin + per-subspace
    code argmin against literals), m bytes/vector storage, zero
    shuffles. Queries/corpus split and codebooks match x3_pq_adc so the
    two reports are comparable: same candidates scored, different
    candidate generation."""
    from diepy_spark.operators.similarity import ivfpq_topk

    v = _vecs(spark, sf_dir)
    cents = _cents_cached(spark, sf_dir, KM_K, KM_ITER, KM_SCALE)
    books = _books_cached(spark, sf_dir, PQ_M, PQ_CODES, KM_SCALE)
    return ivfpq_topk(
        v.where(F.col("vec_id") < PQ_NQ),
        v.where(F.col("vec_id") >= PQ_NQ),
        cents,
        books,
        k=PQ_K,
        nprobe=IVFPQ_NPROBE,
        scale=KM_SCALE,
    ).orderBy("qid", "rk")


LP_ITER = 3


@session_cached
def _lpa_labels_cached(spark, sf_dir):
    """The LPA community assignment over the symmetrized supply graph,
    session-memoized (r13) — narratively the persisted community table a
    graph pipeline writes once: x11_label_prop returns it and
    x11_modularity scores it, and each previously re-ran the LP_ITER
    vote rounds. Node-sized; the checkpoint also cuts the per-round
    window lineage for the modularity consumer."""
    from diepy_spark.operators.clustering import label_propagation

    return label_propagation(
        _supply_sym(spark, sf_dir), iterations=LP_ITER,
        assume_distinct=True, assume_symmetric=True,
    ).localCheckpoint(eager=False)


def x11_label_prop(spark, sf_dir):
    """Community detection via deterministic synchronous label
    propagation (operators/clustering.py:label_propagation — min-label
    tie-break + self-vote) over the same symmetrized part↔supplier
    supply graph as x11_pagerank. Complements the component/PageRank
    surface with DENSITY communities: LP_ITER rounds keep locally dense
    groups separate where connected components would merge everything
    reachable. The oracle unrolls the same rounds as chained CTEs (the
    pagerank pattern). Output: the full final (node, label) assignment."""
    return _lpa_labels_cached(spark, sf_dir).orderBy("node")




def x11_modularity(spark, sf_dir):
    """MODULARITY of the label-propagation communities — the quality
    score that tells you whether x11_label_prop's partition means
    anything (Q near 0: no better than random; Q > ~0.3: real community
    structure). Newman's Q stated as ONE integer identity:
    Q = (A*sum(W_c) - sum(D_c^2)) / A^2 over the symmetric directed edge
    list (A = 2m), where W_c = directed within-community edges and D_c =
    community degree sums — every sum an exact integer, one float
    division at the end, so no order-dependent accumulation exists.
    Scale shape: two label joins on the edge list + two bounded
    aggregates; the community dimension is the only driver-sized thing."""
    # _supply_sym is a narrow union over the checkpointed edge blocks —
    # already cheap for the three consumers below, no second copy needed
    sym = _supply_sym(spark, sf_dir)
    labels = _lpa_labels_cached(spark, sf_dir)
    ls = labels.select(F.col("node").alias("src"), F.col("label").alias("la"))
    ld = labels.select(F.col("node").alias("dst"), F.col("label").alias("lb"))
    within = (
        sym.join(ls, "src")
        .join(ld, "dst")
        .where(F.col("la") == F.col("lb"))
        .agg(F.count(F.lit(1)).alias("sw"))
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    dsq = (
        deg.join(ls, "src")
        .groupBy("la")
        .agg(F.sum("d").alias("dc"))
        .agg(
            F.sum(F.col("dc") * F.col("dc")).alias("sd2"),
            F.count(F.lit(1)).alias("n_comm"),
        )
    )
    a = sym.agg(F.count(F.lit(1)).alias("a"))
    return (
        a.crossJoin(within)
        .crossJoin(dsq)
        .selectExpr(
            "n_comm",
            "CAST(a / 2 AS BIGINT) AS m_edges",
            "round(CAST(a * sw - sd2 AS DOUBLE)"
            " / (CAST(a AS DOUBLE) * CAST(a AS DOUBLE)), 6) AS modularity",
        )
    )


def x3_cluster_purity(spark, sf_dir):
    """External validation of the k-means partition against the
    embeddings table's ground-truth labels — PURITY per cluster (the
    majority label's share) plus sizes: the number that says whether the
    learned cells align with the labels kNN/centroid classifiers exploit.
    All counts exact integers; one rounded division per row."""
    from diepy_spark.operators.clustering import (
        assign_to_centroids,
        quantize_vectors,
    )

    v = _vecs(spark, sf_dir)
    cents = _cents_cached(spark, sf_dir, KM_K, KM_ITER, KM_SCALE)
    q = quantize_vectors(v, "vec_id", "embedding", KM_SCALE)
    asg = assign_to_centroids(q, cents, "vec_id").select("vec_id", "cluster")
    j = asg.join(v.select("vec_id", "label"), "vec_id")
    # (cluster, label) histogram: k x labels-bounded, consumed by both
    # the majority pick and the size roll-up — cut lineage so the k*dim
    # assignment forest runs once
    lc = (
        j.groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("cluster").orderBy(F.col("c").desc(), "label")
    top = (
        lc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("cluster", F.col("label").alias("top_label"), F.col("c").alias("top_cnt"))
    )
    sz = lc.groupBy("cluster").agg(F.sum("c").alias("n_vecs"))
    return (
        sz.join(top, "cluster")
        .select(
            "cluster",
            "n_vecs",
            "top_label",
            "top_cnt",
            F.round(F.col("top_cnt") / F.col("n_vecs"), 4).alias("purity"),
        )
        .orderBy("cluster")
    )


# SPRT (Wald): Bernoulli H0 p=1/2 vs H1 p=3/5 at alpha=beta=0.05. Every
# constant enters BOTH engines through the same text; ln() evaluates on
# identical doubles, so the walk and its crossings are bit-identical.
_SPRT_L1 = "ln(CAST(0.6 AS DOUBLE) / CAST(0.5 AS DOUBLE))"  # success step
_SPRT_L0 = "ln(CAST(0.4 AS DOUBLE) / CAST(0.5 AS DOUBLE))"  # failure step
_SPRT_A = "ln(CAST(19 AS DOUBLE))"  # (1-beta)/alpha = 19
_SPRT_B = "-ln(CAST(19 AS DOUBLE))"
_SPRT_LLR = f"(CAST(c AS DOUBLE) * ({_SPRT_L1}) + CAST(n - c AS DOUBLE) * ({_SPRT_L0}))"


def x8_sprt(spark, sf_dir):
    """SEQUENTIAL testing (Wald's SPRT) — the x8 family's fixed-horizon
    tests (z, MWU, permutation) all wait for all the data; SPRT is the
    peeking-safe alternative: walk the cumulative log-likelihood ratio
    over trials in a DETERMINISTIC order (per-user conversion bits,
    user_id order) and stop at the first boundary crossing
    (ln(19) at alpha=beta=.05). Cumulative counts are one integer window;
    the LLR and boundaries are shared double texts. Output: decision
    (accept_h1 / accept_h0 / continue), the trial index and LLR at stop,
    and the total trials available — the experiment-runtime answer a
    fixed-horizon test can't give.

    Scale shape (VERDICT r5 #3): the statistic is sequential but the
    cumulative (n, c) walk is NOT — a naive global
    ``Window.orderBy(user_id)`` funnels the whole per-user frame through
    one task. Two-pass block cumsum instead: range-partition on
    ``user_id`` (contiguous key ranges, so global order = partition
    order then within-partition order), within-partition cumulative
    count/sum windows run in PARALLEL across partitions, then per-
    partition totals (a partition-count-sized frame — the one place a
    single-partition window is bounded by construction) yield exclusive
    prefix offsets broadcast back. Values are exact integers, so the
    block decomposition is bit-identical to the sequential walk
    regardless of where range boundaries land."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > AB_CONV_MIN)
            ).cast("int")
        ).alias("conv")
    )
    blocks = (
        per_user.repartitionByRange(32, "user_id")
        .sortWithinPartitions("user_id")
        .withColumn("pid", F.spark_partition_id())
        # Both passes (within-partition walk + per-partition totals) read
        # this users-dimension frame; cut lineage so the events scan +
        # per-user aggregate runs once. 100 TB callers: persist().
        .localCheckpoint(eager=False)
    )
    wloc = (
        Window.partitionBy("pid")
        .orderBy("user_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    loc = blocks.withColumn("ln", F.count(F.lit(1)).over(wloc)).withColumn(
        "lc", F.sum("conv").over(wloc)
    )
    # Exclusive prefix offsets over the ≤32-row per-partition totals.
    woff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        blocks.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("pn"), F.sum("conv").alias("pc"))
        .withColumn("off_n", F.coalesce(F.sum("pn").over(woff), F.lit(0)))
        .withColumn("off_c", F.coalesce(F.sum("pc").over(woff), F.lit(0)))
        .select("pid", "off_n", "off_c")
    )
    walk = (
        loc.join(F.broadcast(offs), "pid")
        .selectExpr("ln + off_n AS n", "lc + off_c AS c")
        .selectExpr("n", "c", f"{_SPRT_LLR} AS llr")
        .localCheckpoint(eager=False)  # one sequential walk, three consumers
    )
    crossed = walk.where(
        F.expr(f"llr >= {_SPRT_A} OR llr <= {_SPRT_B}")
    )
    first = crossed.agg(F.min("n").alias("n_dec"))
    tot = walk.agg(F.max("n").alias("total_n"))
    at = walk.join(first, walk["n"] == first["n_dec"]).selectExpr(
        "n_dec",
        f"CASE WHEN llr >= {_SPRT_A} THEN 'accept_h1' ELSE 'accept_h0' END"
        " AS decision",
        "round(llr, 4) AS llr_at_stop",
    )
    return (
        tot.crossJoin(first)
        .join(at, "n_dec", "left")
        .selectExpr(
            "coalesce(decision, 'continue') AS decision",
            "coalesce(n_dec, total_n) AS n_stop",
            "llr_at_stop",
            "total_n",
        )
    )


def x12_freshness(spark, sf_dir):
    """Data FRESHNESS audit — per event type, the lag between its newest
    event and the table's newest event (integer hours on the microsecond
    grid): the staleness monitor that catches a dead producer whose rows
    simply stop arriving (row counts and distributions look fine — only
    recency moves). One aggregate + one broadcast of the global max."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
    )
    per = ev.groupBy("event_type").agg(F.max("us").alias("max_us"))
    g = per.agg(F.max("max_us").alias("gmax"))
    return (
        per.crossJoin(F.broadcast(g))
        .selectExpr(
            "event_type",
            "CAST(max_us div 1000000 AS BIGINT) AS max_epoch_s",
            "CAST((gmax - max_us) div 3600000000 AS BIGINT) AS staleness_hours",
        )
        .orderBy("event_type")
    )


READABILITY_DOC_MAX = 500
# Flesch reading ease over exact integer counts. round() on the float
# formula is a trap: 85.165 is not representable in binary, so the two
# engines' half-up roundings can disagree on decimal ties (a real sf0.001
# doc hit it). Instead the score times 1000·s·w is an EXACT integer
# (206835·s·w − 1015·w² − 84600·syl·s); floor it at centi-precision via
# one exact double division (operands ≪ 2^53) and divide by 100 — every
# step bit-deterministic in both engines.
_FLESCH_NUM = (
    "(CAST(206835 AS BIGINT) * n_sent * n_words"
    " - CAST(1015 AS BIGINT) * n_words * n_words"
    " - CAST(84600 AS BIGINT) * n_syll * n_sent)"
)
_FLESCH = (
    f"CAST(floor(CAST({_FLESCH_NUM} AS DOUBLE)"
    " / CAST(10 * n_sent * n_words AS DOUBLE)) AS BIGINT)"
    " / CAST(100 AS DOUBLE)"
)


def x5_readability(spark, sf_dir):
    """READABILITY scoring (Flesch reading ease, 1948 — the classic
    quality-gate feature next to the Gopher rules): sentences = non-blank
    [.!?]-delimited segments, words = the shared token split, syllables
    approximated as vowel-group runs per word (the standard cheap
    estimator) — ALL exact integer counts, clamped ≥1, entering the
    Flesch formula through one shared float text. Per-doc scores for the
    first READABILITY_DOC_MAX docs; zero shuffles — a pure projection
    the quality gate fuses into its scan at any corpus size."""
    d = _docs(spark, sf_dir).where(F.col("doc_id") < READABILITY_DOC_MAX)
    counts = d.selectExpr(
        "doc_id",
        "greatest(size(filter(split(text, '[.!?]+'), x -> length(trim(x)) > 0)),"
        " 1) AS n_sent",
        f"greatest(size({D.tokens_expr('text')}), 1) AS n_words",
        f"greatest(aggregate(transform({D.tokens_expr('text')},"
        " w -> size(filter(split(w, '[^aeiouy]+'), p -> p != ''))),"
        " 0, (acc, v) -> acc + v), 1) AS n_syll",
    )
    return counts.selectExpr(
        "doc_id",
        "n_sent",
        "n_words",
        "n_syll",
        f"{_FLESCH} AS flesch",
    ).orderBy("doc_id")


RANGE_R2 = 150_000_000  # squared-L2 radius on the KM_SCALE integer grid


def x3_range_query(spark, sf_dir):
    """RANGE (radius) search — the similarity primitive top-k can't
    express: ALL vectors within a fixed squared-L2 radius of the query
    (dedup wants "everything closer than t", not "the 10 closest").
    Exact integer distances on the shared quantized grid
    (clustering.quantize_vectors), query = the smallest vec_id, radius a
    declared constant — so the result set is bit-stable. Scale shape:
    one zero-shuffle projection + pushed filter (the brute-force tier);
    the IVF-bucketed tier (x3_ivf_topk's cells with a radius filter)
    takes over when the corpus outgrows a full scan, same contract."""
    from diepy_spark.operators.clustering import quantize_vectors

    v = _vecs(spark, sf_dir)
    q = quantize_vectors(v, scale=KM_SCALE)
    qv = q.orderBy("vec_id").limit(1).collect()[0]["xi"]
    lits = ", ".join(str(int(x)) for x in qv)
    return (
        q.selectExpr(
            "vec_id",
            f"aggregate(zip_with(xi, array({lits}), (a, b) -> (a - b) * (a - b)),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v) AS dist",
        )
        .where(F.col("dist") <= RANGE_R2)
        .orderBy("dist", "vec_id")
    )


TAKEDOWN_MOD = 97  # forget every user/customer id divisible by this


def x9_takedown(spark, sf_dir):
    """TAKEDOWN sweep (right-to-be-forgotten / DMCA list propagation) —
    the compliance op every stored corpus eventually runs: a tombstone
    id set (ids ≡ 0 mod TAKEDOWN_MOD) propagates as LEFT ANTI joins
    across every table keyed by it (customer, its orders, the event
    log), and the audit reports per-table rows before / deleted / after
    plus a residual count that MUST be zero — the post-sweep proof an
    auditor actually asks for. Scale shape: the tombstone set broadcasts
    (takedown lists are small by nature); each table is one anti-join
    scan — the same plan the physical delete-rewrite runs, so these
    numbers are the sweep's pre-flight and its verification."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    # The tombstone LIST (not a filter rule — production lists are
    # arbitrary ids): one per key domain, built once, broadcast.
    tomb_c = (
        c.select(F.col("c_custkey").alias("k"))
        .where(F.col("k") % TAKEDOWN_MOD == 0)
        .distinct()
        .localCheckpoint(eager=False)
    )
    tomb_u = (
        ev.select(F.col("user_id").alias("k"))
        .where(F.col("k") % TAKEDOWN_MOD == 0)
        .distinct()
        .localCheckpoint(eager=False)
    )
    specs = [
        ("customer", c, "c_custkey", tomb_c),
        ("events", ev, "user_id", tomb_u),
        ("orders", o, "o_custkey", tomb_c),
    ]
    frames = []
    for name, t, key, tomb in specs:
        # Two scans per table, the minimum the audit semantics allow:
        # pass 1 flags every row against the broadcast list (before +
        # deleted in one aggregate); pass 2 re-derives the KEPT set via
        # the anti-join — the actual delete plan — and re-probes it so
        # `residual` is an independent check of that plan, not a tautology
        # of pass 1's flags.
        flagged = t.join(F.broadcast(tomb), t[key] == tomb["k"], "left").select(
            F.coalesce((tomb["k"].isNotNull()).cast("bigint"), F.lit(0)).alias(
                "hit"
            )
        )
        before = flagged.agg(
            F.count(F.lit(1)).alias("n_before"),
            F.sum("hit").alias("n_deleted"),
        )
        kept = t.join(F.broadcast(tomb), t[key] == tomb["k"], "left_anti")
        # fresh projection of the list for the re-probe: tomb already
        # appears in kept's lineage (the self-join ambiguity trap)
        tomb2 = tomb.select(F.col("k").alias("k2"))
        after = kept.join(
            F.broadcast(tomb2), F.col(key) == F.col("k2"), "left"
        ).select(
            F.coalesce((F.col("k2").isNotNull()).cast("bigint"), F.lit(0)).alias(
                "res"
            )
        ).agg(
            F.count(F.lit(1)).alias("n_after"),
            F.sum("res").alias("residual"),
        )
        frames.append(
            before.crossJoin(after).select(
                F.lit(name).alias("table_name"),
                "n_before",
                "n_deleted",
                "n_after",
                "residual",
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.orderBy("table_name")


JK_G = 10  # leave-one-out buckets

# Jackknife shared float texts: the replicate ratio, the replicate mean,
# and the squared deviation — every operand enters through CAST AS DOUBLE.
_JK_THETA = "(CAST(c_all - c AS DOUBLE) / CAST(n_all - n AS DOUBLE))"
_JK_TB = "(s_theta / CAST(g AS DOUBLE))"


def x8_jackknife(spark, sf_dir):
    """JACKKNIFE standard error of the conversion RATE — the
    delete-one-group variance estimate for a RATIO metric (Efron 1982;
    the per-bucket form is delete-a-group jackknife, the standard
    big-data variant): users hash into JK_G buckets, each replicate
    drops one bucket (theta_i = (C−c_i)/(N−n_i), exact-integer
    numerators), and Var = (g−1)/g · Σ(theta_i − mean)². A plain ratio
    has no textbook SE; this is how experiment platforms actually report
    one. Determinism: replicate thetas fold in BUCKET order on both
    engines (the entropy idiom), so the float accumulation is
    engine-identical. Scale: one per-user aggregate, then everything is
    g-row arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > AB_CONV_MIN)
            ).cast("int")
        ).alias("conv")
    )
    b = (
        per_user.groupBy((F.col("user_id") % JK_G).alias("b"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("conv").alias("c"))
        .localCheckpoint(eager=False)  # g rows; three consumers
    )
    t = b.agg(
        F.sum("n").alias("n_all"),
        F.sum("c").alias("c_all"),
        F.count(F.lit(1)).alias("g"),
    )
    th = b.crossJoin(F.broadcast(t)).selectExpr(
        "b", f"{_JK_THETA} AS theta", "n_all", "c_all", "g"
    )
    s1 = th.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(b, theta))),"
            " CAST(0 AS DOUBLE), (acc, x) -> acc + x.theta)"
        ).alias("s_theta")
    )
    sq = (
        f"((x.theta) - ({_JK_TB.replace('s_theta', 'x.s_theta').replace('g', 'x.g')}))"
        f" * ((x.theta) - ({_JK_TB.replace('s_theta', 'x.s_theta').replace('g', 'x.g')}))"
    )
    return (
        th.crossJoin(F.broadcast(s1))
        .agg(
            F.max("n_all").alias("n_users"),
            F.max("c_all").alias("conv_users"),
            F.max("g").alias("g_buckets"),
            F.expr(
                "aggregate(array_sort(collect_list(struct(b, theta, s_theta, g))),"
                f" CAST(0 AS DOUBLE), (acc, x) -> acc + {sq})"
            ).alias("ssq"),
        )
        .selectExpr(
            "n_users",
            "conv_users",
            "g_buckets",
            "round(CAST(conv_users AS DOUBLE) / CAST(n_users AS DOUBLE), 6)"
            " AS theta_hat",
            "round(sqrt((CAST(g_buckets - 1 AS DOUBLE)"
            " / CAST(g_buckets AS DOUBLE)) * ssq), 6) AS jk_se",
        )
    )


def x10_dataset_card(spark, sf_dir):
    """DATASET CARD — the one-table corpus summary a training-data
    release ships (docs/langs/sources, character and token volume,
    vocabulary size, exact-duplicate count, top-language share): every
    number is an exact integer or one rounded division, so the card is
    reproducible to the byte across engines. Scale shape: ONE projection
    pass builds the per-doc stats frame (checkpointed, docs-dimension),
    one token explode feeds the vocabulary count, and the card rows
    unpivot from a single 1-row aggregate via stack()."""
    d = _docs(spark, sf_dir)
    base = d.selectExpr(
        "doc_id",
        "lang",
        "source",
        "length(text) AS chars",
        f"size({D.tokens_expr('text')}) AS ntoks",
        "md5(text) AS h",
    ).localCheckpoint(eager=False)
    agg = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("chars").alias("total_chars"),
        F.sum("ntoks").alias("total_tokens"),
        F.countDistinct("h").alias("n_unique_texts"),
    )
    vocab = d.select(
        F.explode(F.expr(D.tokens_expr("text"))).alias("t")
    ).agg(F.countDistinct("t").alias("distinct_tokens"))
    top = (
        base.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("ld"))
        .agg(F.max("ld").alias("top_lang_docs"))
    )
    return (
        agg.crossJoin(vocab)
        .crossJoin(top)
        .selectExpr(
            "stack(9,"
            " 'distinct_tokens', CAST(distinct_tokens AS DOUBLE),"
            " 'exact_dup_docs', CAST(n_docs - n_unique_texts AS DOUBLE),"
            " 'mean_doc_tokens', round(CAST(total_tokens AS DOUBLE)"
            "   / CAST(n_docs AS DOUBLE), 4),"
            " 'n_docs', CAST(n_docs AS DOUBLE),"
            " 'n_langs', CAST(n_langs AS DOUBLE),"
            " 'n_sources', CAST(n_sources AS DOUBLE),"
            " 'pct_top_lang', round(CAST(top_lang_docs AS DOUBLE)"
            "   / CAST(n_docs AS DOUBLE), 4),"
            " 'total_chars', CAST(total_chars AS DOUBLE),"
            " 'total_tokens', CAST(total_tokens AS DOUBLE)"
            ") AS (metric, value)"
        )
        .orderBy("metric")
    )


# Mann–Kendall z with continuity correction — shared float text over the
# exact integers (S, var18 = 18*Var(S)); one sqrt + one division at the end.
_MK_Z = (
    "CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - CAST(1 AS DOUBLE))"
    " / sqrt(CAST(var18 AS DOUBLE) / CAST(18 AS DOUBLE))"
    " WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + CAST(1 AS DOUBLE))"
    " / sqrt(CAST(var18 AS DOUBLE) / CAST(18 AS DOUBLE))"
    " ELSE CAST(0 AS DOUBLE) END"
)

_DAY_DIV = 86400 * 1_000_000


def _day_cents(spark, sf_dir):
    """Events that carry a value, as (event_type, day, cents): the UTC
    day number and the value in rounded integer cents."""
    return (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .selectExpr(
            "event_type",
            f"unix_micros(cast(ts as timestamp)) div {_DAY_DIV} AS day",
            "CAST(round(value * 100) AS BIGINT) AS cents",
        )
    )


def x8_mann_kendall(spark, sf_dir):
    """MANN–KENDALL trend test over the daily event-count series — the
    nonparametric "is traffic trending?" monitor (Mann 1945, Kendall's
    tau): S = Σ_{i<j} sign(x_j − x_i) over all day pairs, with the
    tie-corrected variance 18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)
    kept as an exact integer; the z statistic (continuity-corrected) is
    one shared float text at the end. Scale shape: the corpus collapses
    to the DAYS dimension first (one map-side-combined aggregate), so
    the O(days²) sign pair join is over a bounded calendar frame, never
    the events table; the daily frame is checkpointed once for its three
    consumers (pairs, tie groups, n)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.expr(f"unix_micros(cast(ts as timestamp)) div {_DAY_DIV}").alias("day")
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("x"))
        .localCheckpoint(eager=False)
    )
    a = daily.select(F.col("day").alias("di"), F.col("x").alias("xi"))
    b = daily.select(F.col("day").alias("dj"), F.col("x").alias("xj"))
    s = (
        a.join(b, F.col("di") < F.col("dj"))
        .selectExpr(
            "CASE WHEN xj > xi THEN 1 WHEN xj < xi THEN -1 ELSE 0 END AS sg"
        )
        .agg(F.sum("sg").cast("bigint").alias("s_stat"))
    )
    ties = (
        daily.groupBy("x")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).cast("bigint").alias("tie_term")
        )
    )
    n = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return (
        n.crossJoin(s)
        .crossJoin(ties)
        .selectExpr(
            "n_days",
            "s_stat",
            "n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS var18",
        )
        .selectExpr("n_days", "s_stat", "var18", f"round({_MK_Z}, 6) AS mk_z")
    )


def x8_cusum(spark, sf_dir):
    """CUSUM change-point detection over the daily purchase-cents series
    (Page 1954): center the series on its GLOBAL mean in exact integer
    arithmetic (scale every term by n_days — cum_n·n − i·S stays a
    BIGINT; no float accumulates across days), walk the cumulative sum,
    and report the argmax |CUSUM| day — the estimated change point — with
    the peak statistic rendered once at the end. Scale shape: events
    collapse to the bounded DAYS frame first; the walk is a window over
    that calendar-sized frame (single-partition but bounded by
    construction — the documented exception class), and the argmax is a
    1-row TakeOrdered."""
    ev = load_table(spark, sf_dir, "events").where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    daily = (
        ev.select(
            F.expr(f"unix_micros(cast(ts as timestamp)) div {_DAY_DIV}").alias("day"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("c"))
        .localCheckpoint(eager=False)
    )
    tot = daily.agg(
        F.sum("c").alias("s_tot"), F.count(F.lit(1)).alias("n_days")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    walk = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn("cum_c", F.sum("c").over(w))
        .withColumn("i", F.count(F.lit(1)).over(w))
        # scaled CUSUM: n·Σ_{≤i}(c) − i·Σ(c)  — exact integer
        .selectExpr(
            "day",
            "n_days",
            "cum_c * n_days - i * s_tot AS dev_scaled",
        )
    )
    return (
        walk.orderBy(
            F.abs(F.col("dev_scaled")).desc(), "day"
        )
        .limit(1)
        .selectExpr(
            "day AS change_day",
            "n_days",
            "dev_scaled",
            "round(abs(CAST(dev_scaled AS DOUBLE))"
            " / CAST(n_days AS DOUBLE) / CAST(100 AS DOUBLE), 2) AS peak_dev",
        )
    )


FD_COLS = ["l_discount", "l_linestatus", "l_returnflag", "l_tax"]


def x12_fd_discovery(spark, sf_dir):
    """FUNCTIONAL-DEPENDENCY discovery over lineitem's low-cardinality
    columns — the structural sibling of x12_key_discovery: A -> B holds
    iff the distinct count of A equals the distinct count of (A, B)
    (zero counterexamples). The whole pair lattice is computed from ONE
    table scan: the distinct value-combination frame g is bounded by the
    product of the candidate cardinalities (a few hundred rows at any
    corpus size), checkpointed, and every ordered pair's two distinct
    counts aggregate g, never the table. Output: (lhs, rhs, n_lhs,
    n_pairs, holds) for all 12 ordered pairs."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.select(*FD_COLS).distinct().localCheckpoint(eager=False)
    frames = []
    for a in FD_COLS:
        for b in FD_COLS:
            if a == b:
                continue
            frames.append(
                g.agg(
                    F.countDistinct(a).alias("n_lhs"),
                    F.countDistinct(a, b).alias("n_pairs"),
                ).select(
                    F.lit(a).alias("lhs"),
                    F.lit(b).alias("rhs"),
                    "n_lhs",
                    "n_pairs",
                    (F.col("n_lhs") == F.col("n_pairs")).cast("int").alias("holds"),
                )
            )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.orderBy("lhs", "rhs")


DUPKEY_SPECS = [("events", ["event_id"]), ("lineitem", ["l_orderkey", "l_linenumber"])]


def x12_dup_keys(spark, sf_dir):
    """PRIMARY-KEY violation audit — for each declared candidate key,
    the multiplicity profile a loader checks before trusting a merge
    key: total rows, distinct keys, violating keys (multiplicity > 1)
    and the worst multiplicity. One map-side-combined groupBy per table
    (the key-sized frame never leaves the executors except as a 1-row
    aggregate). In this synthetic data lineitem's (l_orderkey,
    l_linenumber) actually violates — the audit is the instrument that
    catches exactly that before an upsert silently fans out."""
    frames = []
    for tbl, keys in DUPKEY_SPECS:
        t = load_table(spark, sf_dir, tbl)
        per = t.groupBy(*keys).agg(F.count(F.lit(1)).alias("m"))
        frames.append(
            per.agg(
                F.sum("m").alias("n_rows"),
                F.count(F.lit(1)).alias("n_keys"),
                F.sum((F.col("m") > 1).cast("bigint")).alias("dup_keys"),
                F.max("m").alias("max_mult"),
            ).select(
                F.lit(tbl).alias("table_name"),
                "n_rows",
                "n_keys",
                "dup_keys",
                "max_mult",
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.orderBy("table_name")


# Difference-in-differences closed form: four (sum, count) integer pairs
# enter the double formula through explicit casts (the _CUPED_* shared-
# text discipline).
_DID_MEAN = "CAST({s} AS DOUBLE) / CAST({n} AS DOUBLE) / CAST(100 AS DOUBLE)"
_DID_EXPR = (
    f"(({_DID_MEAN.format(s='s_t1', n='n_t1')})"
    f" - ({_DID_MEAN.format(s='s_t0', n='n_t0')}))"
    f" - (({_DID_MEAN.format(s='s_c1', n='n_c1')})"
    f" - ({_DID_MEAN.format(s='s_c0', n='n_c0')}))"
)


def x8_did(spark, sf_dir):
    """DIFFERENCE-IN-DIFFERENCES — the quasi-experimental estimator for
    rollouts without randomization: treatment = the odd-user cohort
    (x8_ab_test's split), periods = event days before/after the
    range midpoint, effect = (treated post - pre) - (control post - pre),
    which nets out both the cohort's level difference and the common
    time trend. One scan -> eight integer aggregates (sum/count per
    cohort x period, map-side combined); the estimate is a shared double
    closed form over them. Output: the four cell means and the DiD."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    d = ev.select(
        (F.col("user_id") % 2).alias("grp"),
        F.expr(f"unix_micros(cast(ts as timestamp)) div {86400 * 1_000_000}").alias(
            "day"
        ),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    lim = d.agg(F.expr("(min(day) + max(day)) div 2").alias("mid"))
    cells = (
        d.crossJoin(F.broadcast(lim))
        .withColumn("post", (F.col("day") > F.col("mid")).cast("int"))
        .groupBy("grp", "post")
        .agg(F.sum("cents").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    wide = cells.agg(
        *[
            F.max(
                F.when((F.col("grp") == g) & (F.col("post") == p), F.col(c))
            ).alias(f"{c}_{'t' if g else 'c'}{p}")
            for g in (0, 1)
            for p in (0, 1)
            for c in ("s", "n")
        ]
    )
    return wide.selectExpr(
        f"round({_DID_MEAN.format(s='s_c0', n='n_c0')}, 4) AS mean_c_pre",
        f"round({_DID_MEAN.format(s='s_c1', n='n_c1')}, 4) AS mean_c_post",
        f"round({_DID_MEAN.format(s='s_t0', n='n_t0')}, 4) AS mean_t_pre",
        f"round({_DID_MEAN.format(s='s_t1', n='n_t1')}, 4) AS mean_t_post",
        f"round({_DID_EXPR}, 4) AS did",
    )


def x2_semdedup_apply(spark, sf_dir):
    """The corpus CONSUMER of SemDeDup (pairs with x2_semdedup the way
    x2_dedup_apply pairs with the MinHash surface): the embedding-space
    duplicate flags (vec_id aligned 1:1 with doc_id in this fixture)
    prune the document corpus; per language, how many docs and chars
    survive semantic dedup. The flag frame is node-sized relative to a
    100 TB corpus — it broadcast-joins back, the corpus never reshuffles."""
    fl = _sdflags_cached(spark, sf_dir)
    d = _docs(spark, sf_dir)
    j = d.join(
        F.broadcast(fl.select(F.col("vec_id").alias("doc_id"), "is_dup")),
        "doc_id",
        "left",
    )
    return (
        j.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((~F.coalesce("is_dup", F.lit(False))).cast("bigint")).alias(
                "n_kept"
            ),
            F.sum(
                F.when(~F.coalesce("is_dup", F.lit(False)), F.col("n_chars")).otherwise(
                    F.lit(0)
                )
            ).alias("chars_kept"),
        )
        .orderBy("lang")
    )


SD_PROBE_MAX = 400  # instrument subset: absolute id bound => constant cost at every sf


def x2_semdedup_probe(spark, sf_dir):
    """MULTI-PROBE SemDeDup calibration (VERDICT r4 task #4 — the
    x3_ann_recall trust-instrument pattern applied to semantic dedup):
    how many of the TRUE near-duplicate pairs does single-cell SemDeDup
    find, and how much recall does probing each vector's SECOND-nearest
    k-means cell buy? The second cell comes from
    clustering.assign_top2_to_centroids — a pure projection against the
    centroid literals, so the expansion adds zero shuffles to the
    assignment side (the ann_topk_lsh hamming=1 trick, in cluster space).
    Ground truth = the exhaustive pair set over an absolute-id-bounded
    subset (vec_id < SD_PROBE_MAX keeps the instrument constant-cost at
    every sf); the quantizer itself trains on the FULL corpus exactly as
    x2_semdedup does. Output: (method, n_exact, n_found, recall)."""
    v = _vecs(spark, sf_dir)
    cents = _cents_cached(spark, sf_dir, _sd_k(spark, sf_dir), SD_ITER, SD_SCALE)
    sub = v.where(F.col("vec_id") < SD_PROBE_MAX)
    # r13 (guide §2.1): the quantize+assign projection (k centroid
    # distances per row) is identical across the three probes= variants
    # below — build it once, feed it to all three.
    a2 = S.semdedup_assign(sub, cents, scale=SD_SCALE)

    def pairs(probes):
        return S.semdedup_dup_pairs(
            sub,
            cents,
            probes=probes,
            thr_num=SD_THR_NUM,
            thr_den=SD_THR_DEN,
            scale=SD_SCALE,
            assigned=a2,
        )

    exact = pairs("all").localCheckpoint(eager=False)

    def rec(p, method):
        found = exact.join(p, ["da", "db"], "left_semi")
        return (
            exact.agg(F.count(F.lit(1)).alias("n_exact"))
            .crossJoin(found.agg(F.count(F.lit(1)).alias("n_found")))
            .select(
                F.lit(method).alias("method"),
                "n_exact",
                "n_found",
                F.round(F.col("n_found") / F.col("n_exact"), 4).alias("recall"),
            )
        )

    return rec(pairs(1), "cell1").unionByName(rec(pairs(2), "probe2")).orderBy(
        "method"
    )


def x12_benford(spark, sf_dir):
    """Benford's-law audit of order amounts — the forensic DQ check for
    fabricated or truncated numeric columns: the observed leading-digit
    distribution vs log10(1 + 1/d), with each digit's squared relative
    deviation. Natural multi-magnitude money data follows Benford;
    uniform synthetic data (this fixture) visibly does NOT — the
    deviation column IS the detector firing. One projection (leading
    digit via a string head — no float log in the bucketing) + one
    9-group aggregate; expected fractions are shared repr literals."""
    import math

    o = load_table(spark, sf_dir, "orders")
    d = o.selectExpr(
        "substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        " AS STRING), 1, 1) AS digit"
    )
    counts = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    tot = counts.agg(F.sum("n_obs").alias("n"))
    exp_case = " ".join(
        f"WHEN digit = '{k}' THEN CAST({math.log10(1 + 1 / k)!r} AS DOUBLE)"
        for k in range(1, 10)
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .selectExpr(
            "digit",
            "n_obs",
            "round(CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE), 6) AS obs_frac",
            f"round(CASE {exp_case} END, 6) AS benford_frac",
            "round((CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE)"
            f" - (CASE {exp_case} END))"
            " * (CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE)"
            f" - (CASE {exp_case} END))"
            f" / (CASE {exp_case} END), 6) AS sq_dev",
        )
        .orderBy("digit")
    )


TRIM_DEN = 10  # trim n/10 ranks off each tail


def x8_trimmed_mean(spark, sf_dir):
    """10% trimmed mean of event value per type — the robust-location
    estimator between the mean (outlier-fragile) and the median
    (discards too much), completing the robust family around
    x12_outliers' median/MAD. NO per-group value buffering and NO global
    rank: per type a value-frequency histogram (bounded by the cent
    domain — the freq_median argument) gets a cumulative window, and the
    per-bin KEPT mass is pure integer clamp arithmetic
    (least/greatest of cumulative ranks vs the trim cuts), handling
    partial bins exactly. The only float op is the final division."""
    # rollup of the shared session value-frequency artifact (r14)
    h = (
        _ev_vhist_cached(spark, sf_dir)
        .groupBy("event_type", "cents")
        .agg(F.sum("cnt").cast("bigint").alias("c"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("event_type")
    h2 = h.withColumn("cum", F.sum("c").over(w)).withColumn(
        "n", F.sum("c").over(wn)
    )
    h3 = h2.selectExpr(
        "event_type",
        "cents",
        "c",
        "cum",
        "n",
        f"n div {TRIM_DEN} AS cut",
    ).selectExpr(
        "event_type",
        "cents",
        "n",
        "greatest(least(cum, n - cut) - greatest(cum - c, cut),"
        " CAST(0 AS BIGINT)) AS kept",
    )
    return (
        h3.groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.sum("kept").alias("trimmed_n"),
            F.expr("sum(cents * kept)").alias("tsum"),
        )
        .selectExpr(
            "event_type",
            "n",
            "trimmed_n",
            "round(CAST(tsum AS DOUBLE) / CAST(trimmed_n AS DOUBLE) / 100, 4)"
            " AS trimmed_mean",
        )
        .orderBy("event_type")
    )


# Degree assortativity: Pearson r of endpoint degrees over directed edge
# instances of the symmetrized graph. Same shared-formula discipline as
# _CUPED_*: exact integer moment sums cast to double, one closed form.
# On a symmetrized graph the x- and y-marginals coincide: Σx = Σy = Σdeg²
# (= s2) and Σx² = Σy² = Σdeg³ (= s3), both computable from the DEGREE
# TABLE alone — only Σxy needs edges. Pearson r then loses its sqrt:
_ASSORT_R = (
    "(CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))"
    " / (CAST(m AS DOUBLE) * CAST(s3 AS DOUBLE)"
    " - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))"
)


def x11_assortativity(spark, sf_dir):
    """Degree assortativity coefficient (Newman 2002) of the symmetrized
    part↔supplier graph — do high-degree nodes attach to high-degree
    nodes? The one-number structural summary that distinguishes social
    graphs (r > 0) from technological/bipartite ones (r < 0); this
    supply graph is strongly disassortative by construction. Degrees
    from one count aggregate, two key joins attach endpoint degrees to
    every directed edge, then ONE moment aggregate (m, Σx, Σy, Σxy,
    Σx², Σy² — exact BIGINTs) feeds the shared closed-form Pearson text
    (_ASSORT_R). Output: edge count, node count, and r."""
    sym = _supply_sym(spark, sf_dir)
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # node-sized frame consumed three times -> cut lineage once
    deg = deg.localCheckpoint(eager=False)
    mom1 = deg.agg(
        F.sum("deg").alias("m"),
        F.expr("sum(deg * deg)").alias("s2"),
        F.expr("sum(deg * deg * deg)").alias("s3"),
        F.count(F.lit(1)).alias("n_nodes"),
    )
    # the one edge pass: neighbor-degree sums per node, then one
    # node-sized join for sxy = sum over edges of deg(src)*deg(dst)
    snb = (
        sym.join(
            deg.select(F.col("src").alias("dst"), F.col("deg").alias("degd")),
            "dst",
        )
        .groupBy("src")
        .agg(F.sum("degd").alias("snb"))
    )
    sxyf = snb.join(deg, "src").agg(F.expr("sum(deg * snb)").alias("sxy"))
    return mom1.crossJoin(F.broadcast(sxyf)).selectExpr(
        "m AS n_edges",
        "n_nodes",
        f"round({_ASSORT_R}, 6) AS assortativity",
    )


def x5_gopher(spark, sf_dir):
    """Per-source pass rates of the Gopher-style rule filter
    (operators/text.py:gopher_rules — integer-only accept/reject rules:
    word count, mean word length, distinct stopwords, short-token
    share). The pre-dedup corpus gate, reported as the per-source audit
    a pipeline operator actually reads: how much of each source survives,
    and which rule bites. Source rides through the rule projection as a
    passthrough column, so the rollup is one narrow scan + one
    |sources|-key aggregate — no join back to the corpus."""
    from diepy_spark.operators.text import gopher_rules

    r = gopher_rules(_docs(spark, sf_dir), passthrough=("source",))
    return (
        r.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("r_wordcount").alias("n_wordcount"),
            F.sum("r_meanlen").alias("n_meanlen"),
            F.sum("r_stopwords").alias("n_stopwords"),
            F.sum("r_shorttok").alias("n_shorttok"),
            F.sum("keep").alias("n_keep"),
            F.round(F.sum("keep") / F.count(F.lit(1)), 4).alias("keep_share"),
        )
        .orderBy("source")
    )


OUT_K_MAD = 5


def x12_outliers(spark, sf_dir):
    """Robust per-group outlier monitor (operators/robust.py): median/MAD
    rule over event values in exact integer cents — |x - med| > k*MAD
    flags a row, and the medians come from VALUE-FREQUENCY histograms
    (bounded aggregation state, the scale-safe exact-median shape; see
    the robust.py module docstring for why percentile() isn't usable at
    100 TB). All-integer arithmetic end to end except the final reported
    ratios, which are single divisions — hash-exact cross-engine."""
    from diepy_spark.operators.robust import robust_outliers

    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
    )
    r = robust_outliers(e, "event_type", "cents", k=OUT_K_MAD)
    return r.select(
        "event_type",
        "n",
        F.round(F.col("med") / 100.0, 2).alias("med_val"),
        F.round(F.col("mad") / 100.0, 2).alias("mad_val"),
        "n_out",
        F.round(F.col("n_out") / F.col("n"), 4).alias("out_share"),
        F.round(F.col("max_dev") / 100.0, 2).alias("max_dev_val"),
    ).orderBy("event_type")


BOOT_B = 20
BOOT_SEED = "boot"


def x8_bootstrap_ci(spark, sf_dir):
    """Uncertainty quantification at scale: Poisson-bootstrap confidence
    band for mean order price per status
    (operators/sampling.py:poisson_bootstrap_means — the ONE-PASS
    distributed bootstrap: every replicate reweights rows by a
    deterministic Poisson(1) draw, so B=20 replicates cost one scan and
    one aggregate, no resampling shuffles). The band comes from ORDER
    STATISTICS of the sorted replicate means (min / exact middle pair /
    max — element_at on a sorted 20-element array, no percentile
    interpolation to disagree across engines). Point estimate from exact
    integer cents."""
    from diepy_spark.operators.sampling import poisson_bootstrap_means

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    reps = poisson_bootstrap_means(
        orders, "o_orderstatus", "cents", "o_orderkey", b=BOOT_B, seed=BOOT_SEED
    )
    point = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("cents").cast("double") / F.count(F.lit(1)) / 100.0).alias("mean_price"),
    )
    band = reps.groupBy("o_orderstatus").agg(
        F.array_sort(F.collect_list("boot_mean")).alias("ms")
    )
    half = BOOT_B // 2
    return (
        point.join(band, "o_orderstatus")
        .select(
            "o_orderstatus",
            "n",
            F.round("mean_price", 4).alias("mean_price"),
            F.round(F.element_at("ms", 1), 4).alias("boot_lo"),
            F.round(
                (F.element_at("ms", half) + F.element_at("ms", half + 1)) / 2.0, 4
            ).alias("boot_median"),
            F.round(F.element_at("ms", BOOT_B), 4).alias("boot_hi"),
        )
        .orderBy("o_orderstatus")
    )


KM_K = 8
KM_ITER = 3
KM_SCALE = 10_000


def x3_kmeans(spark, sf_dir):
    """Distributed Lloyd's k-means over the embedding corpus
    (operators/clustering.py:kmeans_int) with INTEGER-EXACT arithmetic —
    assignments and squared distances are bit-identical across engines
    and partitionings, which is what makes an iterative ML algorithm
    hash-checkable at all (float k-means isn't: accumulation order moves
    boundary points). Seeds = the k smallest vec_ids; the oracle unrolls
    the same KM_ITER assign/update rounds as chained CTEs (the pagerank
    pattern). Output: the full final assignment with exact distances."""
    from diepy_spark.operators.clustering import (
        assign_to_centroids,
        quantize_vectors,
    )

    v = _vecs(spark, sf_dir)
    # r13: kmeans_int == assign_to_centroids(q, _train_loop(q)), and the
    # trained centroid table is exactly what _cents_cached memoizes
    # (same vectors, k, iterations, scale, quantization) — so the
    # KM_ITER training jobs run once per session across the x3 kmeans
    # consumers (ivfpq, cluster_quality, ...); assignment is identical
    # by construction.
    cents = _cents_cached(spark, sf_dir, KM_K, KM_ITER, KM_SCALE)
    q = quantize_vectors(v, scale=KM_SCALE)
    return (
        assign_to_centroids(q, cents)
        .select("vec_id", "cluster", "dist")
        .orderBy("vec_id")
    )


@session_cached
def _km_trace_cached(spark, sf_dir):
    """The KM_ITER + 1 centroid snapshots of x3_kmeans_stability's
    training run (c0 = seeds), driver-sized."""
    from diepy_spark.operators.clustering import kmeans_centroid_trace

    return kmeans_centroid_trace(
        _vecs(spark, sf_dir), k=KM_K, iterations=KM_ITER, scale=KM_SCALE
    )


def x3_kmeans_stability(spark, sf_dir):
    """K-means CONVERGENCE diagnostic — per training round, how many
    vectors changed cluster, over how many, into how many distinct
    clusters: the "did the partition settle?" instrument behind every
    kmeans consumer here (SemDeDup cells, IVF lists, purity). Pairs the
    assignments of consecutive centroid snapshots (c0 = seeds) in exact
    integer arithmetic, so the movement counts are bit-identical to the
    oracle's unrolled chain. Scale shape: each assignment is a
    zero-shuffle broadcast-literal projection over the checkpointed
    quantized corpus; each round's stat is a 1-row aggregate of a
    vec_id-join of two such projections."""
    from diepy_spark.operators.clustering import (
        assign_to_centroids,
        quantize_vectors,
    )

    v = _vecs(spark, sf_dir)
    snaps = _km_trace_cached(spark, sf_dir)
    q = quantize_vectors(v, scale=KM_SCALE).localCheckpoint(eager=False)
    asg = [
        assign_to_centroids(q, c).select(
            "vec_id", F.col("cluster").alias(f"c{t}")
        )
        for t, c in enumerate(snaps)
    ]
    frames = []
    for t in range(1, len(snaps)):
        frames.append(
            asg[t - 1]
            .join(asg[t], "vec_id")
            .agg(
                F.sum(
                    (F.col(f"c{t}") != F.col(f"c{t-1}")).cast("bigint")
                ).alias("n_changed"),
                F.count(F.lit(1)).alias("n_vecs"),
                F.countDistinct(f"c{t}").alias("n_clusters"),
            )
            .select(
                F.lit(t).cast("int").alias("iter"),
                "n_changed",
                "n_vecs",
                "n_clusters",
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.orderBy("iter")


def x2_lsh_bucket_health(spark, sf_dir):
    """LSH TABLE-HEALTH audit — the banding machinery's skew instrument:
    per band, the number of buckets, how many are non-trivial (≥2 docs),
    the LARGEST bucket (the hot key that sizes the worst join task at
    100 TB), and the candidate-pair load Σ s(s−1)/2 the band contributes
    to the verify stage. This is the number you read BEFORE launching
    the pair join: a mega-bucket here means a degenerate band signature
    (e.g. boilerplate) that needs a stop-signature filter, exactly like
    x12_skew_diag reads join skew. Pure integer counts off one
    signature pass + one groupBy."""
    from diepy_spark.operators.dedup import band_frame

    sigs = _mh_sigs_cached(spark, sf_dir)
    bands = band_frame(sigs, LSH_NUM_HASHES, LSH_BAND_SIZE)
    sizes = bands.groupBy("band", "sig").agg(F.count(F.lit(1)).alias("s"))
    return (
        sizes.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum((F.col("s") > 1).cast("bigint")).alias("hot_buckets"),
            F.max("s").alias("max_bucket"),
            F.expr("CAST(sum(s * (s - 1)) div 2 AS BIGINT)").alias("pair_load"),
        )
        .orderBy("band")
    )


SD_SCALE = 1000  # coarser grid than KM_SCALE: keeps dot^2 inside int64
SD_ITER = 2  # partition quality saturates by round 2 here; dedup flags only
# need a stable partition, not converged centroids (measured ~0.7s/query)
SD_THR_NUM = 2
SD_THR_DEN = 5  # cosine threshold 2/5: this fixture's embeddings are
# near-orthogonal (max pairwise cosine ~0.51), so the paper's ~0.9 would
# never fire; 2/5 flags the top ~0.05%-similar within-cluster neighbors

# SemDeDup k is DATA-DERIVED (VERDICT r9 #3 — the kt_n precedent):
# the operator contract (similarity.py:semdedup_flags) says k grows
# with n so Sum|c|^2 stays bounded, but the old fixture pinned k=KM_K
# at every sf and the 10x ladder measured 14.1x cold.  sd_k =
# max(KM_K, n_vecs div SD_CELL) caps the MEAN cell at SD_CELL rows, so
# within-cell pair work n^2/k grows ~linearly with n.  SD_CELL = 250
# makes sd_k = KM_K exactly at sf0.1 (2000 vecs) and below — the
# standing hashes and bench rows are unchanged there — and 10x data
# gets 10x cells, not 100x pairs.  The oracle computes the SAME scalar
# as a subquery LIMIT (oracle SQL is static text, so the value must
# come from the data, not a Python constant the SQL can't see).
SD_CELL = 250
_SD_K_SQL = f"(SELECT greatest({KM_K}, count(*) // {SD_CELL}) FROM embeddings)"


@session_cached
def _sd_k(spark, sf_dir) -> int:
    """max(KM_K, n_vecs div SD_CELL), memoized per session — the Spark
    twin of _SD_K_SQL (Python // and DuckDB // agree on nonnegative
    ints).  The one count() is the same single corpus pass the trained
    quantizer already needs; at production scale it's table metadata."""
    return max(KM_K, _vecs(spark, sf_dir).count() // SD_CELL)


def x2_semdedup(spark, sf_dir):
    """SemDeDup (operators/similarity.py:semdedup_flags — Abbas et al.
    2023): integer-exact kmeans partitions the embedding space, then
    within each cluster any vector whose cosine to a smaller-id neighbor
    exceeds SD_THR (cross-multiplied integer test, zero float ops) is
    flagged a semantic duplicate. The embedding-space sibling of the
    text dedup surface: catches paraphrases that share no n-grams.
    k is DATA-DERIVED (_sd_k: max(KM_K, n div SD_CELL)) so mean cell
    size stays ~SD_CELL at every sf — the paper's k-grows-with-n
    contract, honored by the fixture and not just the docstring.
    Output: per-cluster vector counts, flagged counts, and keep
    fraction."""
    fl = _sdflags_cached(spark, sf_dir)
    return (
        fl.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.col("is_dup").cast("bigint")).alias("n_flagged"),
        )
        .selectExpr(
            "cluster",
            "n_vecs",
            "n_flagged",
            "n_vecs - n_flagged AS n_kept",
            "round(CAST(n_vecs - n_flagged AS DOUBLE)"
            " / CAST(n_vecs AS DOUBLE), 4) AS keep_frac",
        )
        .orderBy("cluster")
    )


IVFT_NQ = 6
IVFT_NPROBE = 2
IVFT_K = 3


def x3_ivf_trained(spark, sf_dir):
    """TRAINED IVF — the composition the build plan named: the coarse
    quantizer is learned by distributed integer-exact Lloyd's
    (clustering.kmeans_centroids_int, same k/iterations/scale as
    x3_kmeans so the oracle reuses the unrolled CTE chain), then
    similarity.ivf_topk_trained searches nprobe cells per query with
    exact integer squared L2 — nothing in train or search rounds, so the
    whole two-level index is hash-checkable end to end. Queries = the
    IVFT_NQ smallest vec_ids, corpus = the rest; training sees the full
    table (queries are drawn from the indexed corpus, as in a recall
    benchmark)."""
    v = _vecs(spark, sf_dir)
    cents = _cents_cached(spark, sf_dir, KM_K, KM_ITER, KM_SCALE)
    return S.ivf_topk_trained(
        v.where(F.col("vec_id") < IVFT_NQ),
        v.where(F.col("vec_id") >= IVFT_NQ),
        cents,
        k=IVFT_K,
        nprobe=IVFT_NPROBE,
        scale=KM_SCALE,
    ).orderBy("qid", "rk")


WTK_K = 5
WTK_SEED = "wtk"


def x8_weighted_topk(spark, sf_dir):
    """Weighted sampling WITHOUT replacement, fixed size per group — the
    Efraimidis–Spirakis A-ES algorithm
    (operators/sampling.py:weighted_topk_sample): top WTK_K docs per
    language by the key u^(1/n_chars), i.e. a length-proportional
    without-replacement draw with an exact sample size (the Bernoulli
    sampler x8_weighted_sample can't fix the size). One narrow keyed
    projection + one per-group top-k window."""
    from diepy_spark.operators.sampling import weighted_topk_sample

    d = _docs(spark, sf_dir)
    return (
        weighted_topk_sample(d, "lang", "doc_id", "n_chars", k=WTK_K, seed=WTK_SEED)
        .select("doc_id", "lang", "n_chars", "rk")
        .orderBy("lang", "rk")
    )


CONT_THRESHOLD = 0.6


def x2_containment_pairs(spark, sf_dir):
    """ASYMMETRIC near-dup detection: shingle-set CONTAINMENT
    |∩| / min(|A|,|B|) ≥ CONT_THRESHOLD — the criterion that catches a
    short document quoted wholesale inside a long one, which Jaccard
    structurally cannot (full inclusion of a small doc scores jac ≈
    |A|/|B| but cont = 1.0). Same bounded shingle self-join machinery as
    x2_ngram_jaccard_pairs (operators/dedup.py:ngram_jaccard_pairs with
    metric='containment')."""
    return D.ngram_jaccard_pairs(
        _docs(spark, sf_dir),
        threshold=CONT_THRESHOLD,
        max_df=JACCARD_MAX_DF,
        metric="containment",
    ).orderBy("da", "db")


KMV_OV_K = 64
KMV_OV_SEED = "kmvo"
KMV_OV_SOURCES = ["src0", "src1", "src2", "src3", "src4"]


def x8_kmv_overlap(spark, sf_dir):
    """Corpus-overlap estimation WITHOUT a join
    (operators/sketch.py:kmv_set_overlap — Beyer et al. KMV set
    arithmetic): pairwise token-vocabulary union/intersection estimates
    between sources from k-minimum-value samples, next to the exact
    counts (the calibration truth you drop at 100 TB, where each crawl is
    sketched in one pass and the dedup benefit between crawls is
    estimated from a few KB per side). Scoped to KMV_OV_SOURCES (10
    pairs)."""
    from diepy_spark.operators.sketch import kmv_set_overlap

    d = _docs(spark, sf_dir).where(F.col("source").isin(KMV_OV_SOURCES))
    items = (
        d.select("source", F.explode_outer(tokens_col_ref()).alias("v"))
        .where(F.col("v").isNotNull())
        .distinct()
    )
    return kmv_set_overlap(
        items, "source", "v", k=KMV_OV_K, seed=KMV_OV_SEED
    ).orderBy("ga", "gb")


def tokens_col_ref():
    from diepy_spark.operators.dedup import tokens_col

    return tokens_col("text")


def x6_media_dedup(spark, sf_dir):
    """Exact dedup of MEDIA payloads — the X1 hash-groupBy applied to the
    binary column (the multimodal corpora problem: identical assets
    uploaded under many ids). Groups on md5 of the raw bytes, so the
    shuffle carries 32-byte digests, never payloads (the same 100 TB
    argument as x1_dedup_exact); Spark's md5(binary) of the UTF-8 payload
    equals DuckDB's md5(varchar) of the text by construction (both digest
    the UTF-8 byte sequence). Output: one row per distinct payload —
    canonical id, copy count, byte length."""
    d = _docs(spark, sf_dir)
    p = M.with_binary_payload(d)
    return (
        p.groupBy(F.md5("payload").alias("_fp"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min(F.col("media_meta.byte_len")).alias("byte_len"),
        )
        .select("keep_id", "n_copies", "byte_len")
        .orderBy("keep_id")
    )


def x2_lsh_curve(spark, sf_dir):
    """The LSH TUNING instrument: the empirical banding s-curve — per
    exact-Jaccard bucket, what fraction of pairs became LSH candidates —
    next to the textbook theoretical curve 1-(1-s^r)^b at the bucket
    midpoint (r = LSH_BAND_SIZE, b = bands). This is how band/row
    parameters are actually chosen at 100 TB: move the s-curve's knee to
    the dedup threshold and read the false-negative mass directly off
    this table. Universe = shingle-sharing pairs (the only ones with
    jac > 0); the theoretical value uses squaring-chain multiplication
    only, so both engines compute the identical double."""
    from diepy_spark.operators.dedup import band_frame

    d = _docs(spark, sf_dir)
    allp = D.ngram_jaccard_pairs(d, threshold=0.0, max_df=JACCARD_MAX_DF)
    sigs = _mh_sigs_cached(spark, sf_dir)
    bands = band_frame(sigs, LSH_NUM_HASHES, LSH_BAND_SIZE).repartition(
        spark.sparkContext.defaultParallelism, F.col("band"), F.col("sig")
    )
    x, y = bands.alias("x"), bands.alias("y")
    cand = (
        x.join(y.hint("shuffle_hash"), ["band", "sig"])
        .where(F.col("x.d") < F.col("y.d"))
        .select(F.col("x.d").alias("da"), F.col("y.d").alias("db"))
        .distinct()
        .withColumn("is_cand", F.lit(1))
    )
    j = allp.join(cand, ["da", "db"], "left").select(
        F.least(F.floor(F.col("jac") * 10), F.lit(9)).alias("bucket"),
        F.coalesce("is_cand", F.lit(0)).alias("is_cand"),
    )
    n_bands = LSH_NUM_HASHES // LSH_BAND_SIZE
    assert LSH_BAND_SIZE == 2 and n_bands == 8  # the squaring chain below
    return (
        j.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("is_cand").alias("n_cand"),
        )
        .withColumn("s_mid", (F.col("bucket") + 0.5) / 10)
        .withColumn("t1", 1 - F.col("s_mid") * F.col("s_mid"))
        .withColumn("t2", F.col("t1") * F.col("t1"))
        .withColumn("t4", F.col("t2") * F.col("t2"))
        .select(
            "bucket",
            "n_pairs",
            "n_cand",
            F.round(F.col("n_cand") / F.col("n_pairs"), 4).alias("cand_rate"),
            F.round(1 - F.col("t4") * F.col("t4"), 4).alias("theoretical"),
        )
        .orderBy("bucket")
    )


EPOCH_BUDGET_MULT = 3  # training budget = 3x the unique corpus tokens
EPOCH_MAX = 4  # repeats beyond ~4 epochs add little (Muennighoff 2023)

# Temperature weight with alpha=0.5 spelled as sqrt — sqrt is correctly
# rounded under IEEE-754 (unlike pow), so the weight is engine-exact.
_EPOCH_W = "sqrt(CAST(tokens AS DOUBLE)) / z"


def x10_epoch_plan(spark, sf_dir):
    """Data-constrained epoch planning (Muennighoff et al. 2023,
    "Scaling Data-Constrained Language Models"): given a training
    budget of EPOCH_BUDGET_MULT x the unique corpus tokens and
    temperature-sqrt mixture weights, how many EPOCHS of each source
    does the run need, and where does the EPOCH_MAX repeat cap leave a
    deficit that must be filled by new collection? Per-source token
    totals are one map-side-combined scan; the weight normalizer is an
    ordered fold over the source-bounded frame; everything after the
    one floor/ceil render is integer arithmetic."""
    d = _docs(spark, sf_dir)
    per = (
        d.select(
            "source",
            F.expr(f"size({D.tokens_expr('text')})").cast("bigint").alias("t"),
        )
        .groupBy("source")
        .agg(F.expr("CAST(sum(t) AS BIGINT)").alias("tokens"))
        .localCheckpoint(eager=False)  # source-dimension-bounded
    )
    tot = per.agg(
        F.expr("CAST(sum(tokens) AS BIGINT)").alias("total"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(source, tokens))),"
            " CAST(0 AS DOUBLE), (acc, x) -> acc + sqrt(CAST(x.tokens AS DOUBLE)))"
        ).alias("z"),
    )
    j = per.crossJoin(tot).selectExpr(
        "source", "tokens", "total", f"{_EPOCH_W} AS w_u"
    )
    j2 = j.selectExpr(
        "*",
        f"CAST(floor(CAST({EPOCH_BUDGET_MULT} AS DOUBLE)"
        " * CAST(total AS DOUBLE) * w_u) AS BIGINT) AS desired_tokens",
    )
    j3 = j2.selectExpr(
        "*",
        "CAST(ceil(CAST(desired_tokens AS DOUBLE) / CAST(tokens AS DOUBLE))"
        " AS BIGINT) AS epochs_need",
    )
    return j3.selectExpr(
        "source",
        "tokens",
        "round(w_u, 6) AS weight",
        "desired_tokens",
        "epochs_need",
        f"least(epochs_need, CAST({EPOCH_MAX} AS BIGINT)) AS epochs",
        f"least(desired_tokens, CAST({EPOCH_MAX} AS BIGINT) * tokens)"
        " AS realized_tokens",
        f"desired_tokens - least(desired_tokens,"
        f" CAST({EPOCH_MAX} AS BIGINT) * tokens) AS deficit",
    ).orderBy("source")


ZIPF_TOP = 500  # ranks fitted per language

# Shared per-rank log terms and the closed-form OLS from the five folded
# sums (k, sx, sy, sxx, sxy, syy) — every operand DOUBLE, text-shared.
_ZIPF_SLOPE = (
    "(CAST(k AS DOUBLE) * sxy - sx * sy)"
    " / (CAST(k AS DOUBLE) * sxx - sx * sx)"
)
_ZIPF_R2 = (
    "((CAST(k AS DOUBLE) * sxy - sx * sy)"
    " * (CAST(k AS DOUBLE) * sxy - sx * sy))"
    " / ((CAST(k AS DOUBLE) * sxx - sx * sx)"
    " * (CAST(k AS DOUBLE) * syy - sy * sy))"
)


def x5_zipf(spark, sf_dir):
    """Zipf rank-frequency fit per language — the corpus-health
    instrument behind vocabulary sizing (a natural-language corpus has
    log-log slope near -1; machine-generated or template-heavy text
    bends the curve): OLS of ln(freq) on ln(rank) over the top
    ZIPF_TOP ranks, with slope, intercept and R². One explode shuffle
    builds the per-(lang, token) histogram (map-side combined); ranking
    windows partition BY LANGUAGE (never global); the five OLS sums
    fold in rank order over the bounded top-rank frame so the float
    accumulation is engine-identical."""
    d = _docs(spark, sf_dir)
    tk = d.select("lang", F.explode(F.expr(D.tokens_expr("text"))).alias("tok"))
    h = (
        tk.groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)  # vocab-bounded, consumed twice
    )
    hv = h.groupBy("lang").agg(
        F.count(F.lit(1)).alias("vocab"),
        F.expr("CAST(sum(n) AS BIGINT)").alias("total_tok"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "tok")
    top = (
        h.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= ZIPF_TOP)
        .selectExpr("lang", "CAST(rk AS BIGINT) AS rk", "n")
    )
    lx = "ln(CAST(x.rk AS DOUBLE))"
    ly = "ln(CAST(x.n AS DOUBLE))"

    def fold(term: str, name: str):
        return F.expr(
            "aggregate(array_sort(collect_list(struct(rk, n))),"
            f" CAST(0 AS DOUBLE), (acc, x) -> acc + ({term}))"
        ).alias(name)

    s = top.groupBy("lang").agg(
        F.count(F.lit(1)).alias("k"),
        fold(lx, "sx"),
        fold(ly, "sy"),
        fold(f"{lx} * {lx}", "sxx"),
        fold(f"{lx} * {ly}", "sxy"),
        fold(f"{ly} * {ly}", "syy"),
    )
    sl = s.selectExpr("*", f"{_ZIPF_SLOPE} AS slope_u")
    return (
        sl.join(hv, "lang")
        .selectExpr(
            "lang",
            "vocab",
            "total_tok",
            "k AS k_fit",
            "round(slope_u, 6) AS slope",
            "round((sy - slope_u * sx) / CAST(k AS DOUBLE), 6) AS intercept",
            f"round({_ZIPF_R2}, 6) AS r2",
        )
        .orderBy("lang")
    )


# --- x8_tost: equivalence testing (TOST) --------------------------------
# Margin: +/- TOST_EPS_CENTS cents of mean per-user purchase spend. The
# z critical value for one-sided alpha=0.05 is spelled as a full-precision
# double literal shared by both engines (the _FDR_Q_TXT lesson: never let
# a bare decimal literal parse differently across engines).
TOST_EPS_CENTS = 2000
_TOST_ZCRIT = "CAST(1.6448536269514722 AS DOUBLE)"
_TOST_MEAN = "(CAST(s{s} AS DOUBLE) / CAST(n{s} AS DOUBLE))"
# Sample variance from exact integer moments: (ss - s*s/n) / (n-1).
_TOST_VAR = (
    "((CAST(ss{s} AS DOUBLE)"
    " - CAST(s{s} AS DOUBLE) * CAST(s{s} AS DOUBLE) / CAST(n{s} AS DOUBLE))"
    " / (CAST(n{s} AS DOUBLE) - 1.0))"
)


def _tost_texts() -> dict[str, str]:
    """Shared closed-form float texts for the TOST statistic — f-stringed
    into BOTH the Spark selectExpr and the DuckDB oracle so the IEEE op
    chains are textually identical (the CUPED discipline)."""
    mean_a, mean_b = _TOST_MEAN.format(s="_a"), _TOST_MEAN.format(s="_b")
    var_a, var_b = _TOST_VAR.format(s="_a"), _TOST_VAR.format(s="_b")
    diff = f"({mean_a} - {mean_b})"
    se = (
        f"sqrt({var_a} / CAST(n_a AS DOUBLE)"
        f" + {var_b} / CAST(n_b AS DOUBLE))"
    )
    eps = f"CAST({TOST_EPS_CENTS} AS DOUBLE)"
    z_low = f"(({diff} + {eps}) / {se})"
    z_high = f"(({eps} - {diff}) / {se})"
    return {
        "mean_a": mean_a,
        "mean_b": mean_b,
        "diff": diff,
        "se": se,
        "z_low": z_low,
        "z_high": z_high,
    }


def x8_tost(spark, sf_dir):
    """TOST equivalence test (two one-sided tests, Schuirmann 1987) —
    the experimentation primitive x8_ab_test CANNOT express: proving a
    change is NOT worse, e.g. a cheaper ranking model shipping on "revenue
    within $20/user". H0 is |mean_a - mean_b| >= eps; equivalence is
    declared when BOTH one-sided z statistics (diff+eps)/se and
    (eps-diff)/se clear the one-sided 5% critical value. Per-user purchase
    cents are exact integer sums; n/s/ss per cohort are exact bigint
    moments from ONE grouped aggregate (map-side combined, 2 groups);
    every float op is a closed form over those integers stated identically
    in both engines. At 100 TB: one scan, one 2-row shuffle. Output: one
    row with cohort moments, Welch SE, both z's, and the verdict."""
    ev = load_table(spark, sf_dir, "events")
    pu = (
        ev.where(F.col("event_type") == "purchase")
        .selectExpr("user_id", f"{_CUPED_CENTS} AS cents")
        .groupBy("user_id")
        .agg(F.expr("CAST(sum(cents) AS BIGINT)").alias("x"))
    )
    g = pu.selectExpr("user_id % 2 AS grp", "x").groupBy("grp").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        F.expr("CAST(sum(x) AS BIGINT)").alias("s"),
        F.expr("CAST(sum(x * x) AS BIGINT)").alias("ss"),
    )
    pivots = [
        F.expr(
            f"CAST(max(CASE WHEN grp = {grp} THEN {c} END) AS BIGINT)"
        ).alias(f"{c}{sfx}")
        for grp, sfx in ((0, "_a"), (1, "_b"))
        for c in ("n", "s", "ss")
    ]
    one = g.groupBy().agg(*pivots)
    t = _tost_texts()
    return one.selectExpr(
        "n_a",
        "n_b",
        f"round({t['mean_a']}, 4) AS mean_a",
        f"round({t['mean_b']}, 4) AS mean_b",
        f"round({t['diff']}, 4) AS diff",
        f"round({t['se']}, 4) AS se",
        f"round({t['z_low']}, 4) AS z_low",
        f"round({t['z_high']}, 4) AS z_high",
        f"CAST(({t['z_low']} > {_TOST_ZCRIT})"
        f" AND ({t['z_high']} > {_TOST_ZCRIT}) AS INT) AS equivalent",
    )


# --- x12_psi: population stability index ---------------------------------
# Fixed-width $50k price bins (exact integer binning over cents), Laplace
# +1 smoothing so empty bins stay finite; the per-bin term and the ordered
# fold reuse the x12_entropy discipline.
PSI_NBINS = 10
PSI_BIN_CENTS = 5_000_000
_PSI_SHARE = (
    "((CAST({nb} AS DOUBLE) + 1.0)"
    f" / (CAST({{tb}} AS DOUBLE) + {PSI_NBINS}.0))"
)
_PSI_TERM_T = "((({q}) - ({p})) * ln(({q}) / ({p})))"


def _psi_texts(nb: str, nn: str, tb: str, tn: str) -> tuple[str, str, str]:
    p = _PSI_SHARE.format(nb=nb, tb=tb)
    q = _PSI_SHARE.format(nb=nn, tb=tn)
    return p, q, _PSI_TERM_T.format(p=p, q=q)


def x12_psi(spark, sf_dir):
    """Population Stability Index per price bin — the standard ML-model
    input-drift monitor (PSI < 0.1 stable, > 0.25 retrain), complementing
    x12_drift's categorical TVD with a BINNED-NUMERIC instrument:
    PSI = sum (q-p) ln(q/p) over fixed-width o_totalprice bins, base vs
    new period split at DRIFT_SPLIT. Binning is exact integer floor-div
    over cents; bin counts are exact bigints joined onto a generated
    full bin dimension (so silent empty bins still report); shares are
    Laplace-smoothed closed forms; the headline PSI folds the per-bin
    terms in BIN order (engine-identical accumulation, the x12_entropy
    pattern). At 100 TB: two map-side-combined scans into a 10-row
    frame; everything after is bounded by PSI_NBINS."""
    o = load_table(spark, sf_dir, "orders").selectExpr(
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c",
        "o_orderdate",
    )
    binned = o.selectExpr(
        f"least(CAST(floor(c / {PSI_BIN_CENTS}) AS BIGINT),"
        f" CAST({PSI_NBINS - 1} AS BIGINT)) AS bin",
        "o_orderdate",
    )
    split = F.lit(DRIFT_SPLIT).cast("timestamp")
    base = (
        binned.where(F.col("o_orderdate") < split)
        .groupBy("bin")
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("n_base"))
    )
    new = (
        binned.where(F.col("o_orderdate") >= split)
        .groupBy("bin")
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("n_new"))
    )
    dim = spark.range(PSI_NBINS).selectExpr("CAST(id AS BIGINT) AS bin")
    j = (
        dim.join(base, "bin", "left")
        .join(new, "bin", "left")
        .selectExpr(
            "bin",
            "CAST(coalesce(n_base, 0) AS BIGINT) AS n_base",
            "CAST(coalesce(n_new, 0) AS BIGINT) AS n_new",
        )
    )
    w = Window.partitionBy()
    j2 = j.select(
        "bin",
        "n_base",
        "n_new",
        F.sum("n_base").over(w).alias("tb"),
        F.sum("n_new").over(w).alias("tn"),
    ).localCheckpoint(eager=False)  # PSI_NBINS rows, bounded
    p, q, term_row = _psi_texts("n_base", "n_new", "tb", "tn")
    _, _, term_x = _psi_texts("x.n_base", "x.n_new", "x.tb", "x.tn")
    total = j2.agg(
        F.expr(
            "round(aggregate(array_sort(collect_list("
            "struct(bin, n_base, n_new, tb, tn))),"
            f" CAST(0 AS DOUBLE), (acc, x) -> acc + {term_x}), 6)"
        ).alias("psi")
    )
    return (
        j2.crossJoin(total)
        .selectExpr(
            "bin",
            "n_base",
            "n_new",
            f"round({p}, 6) AS p_smooth",
            f"round({q}, 6) AS q_smooth",
            f"round({term_row}, 6) AS psi_term",
            "psi",
        )
        .orderBy("bin")
    )


# --- x3_embedding_drift: embedding-space drift monitor -------------------
# Centroid shift per label between the even/odd vec_id halves, in the
# KM_SCALE exact-integer coordinate space. shift^2 * (na*nb)^2 =
# sum_d (sa_d*nb - sb_d*na)^2 is an EXACT bigint (int64-safe at test
# scale; promote the products to DECIMAL at 100 TB), so the only float
# op is the final sqrt/divide render.
_EDRIFT_SHIFT = (
    "(sqrt(CAST(shift_num AS DOUBLE))"
    " / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)"
    f" * CAST({KM_SCALE} AS DOUBLE)))"
)


def x3_embedding_drift(spark, sf_dir):
    """Embedding-space drift — the monitor that catches a silently
    retrained/buggy embedding model upstream of every ANN and SemDeDup
    stage: per-label L2 centroid shift between two corpus halves (the
    even/odd vec_id split standing in for yesterday's vs today's batch).
    Coordinates are exact KM_SCALE integers; per-(label, dim) sums are
    one map-side-combined aggregate over the posexploded frame (output
    bounded by labels x EMB_DIM); the squared shift numerator is an
    exact bigint fold, so the hash anchors on integers and the rendered
    shift is one sqrt/divide chain. At 100 TB: one scan, one shuffle on
    (label, dim) — no pairwise work anywhere."""
    e = load_table(spark, sf_dir, "embeddings")
    x = e.selectExpr(
        "vec_id",
        "label",
        "CAST(vec_id % 2 AS INT) AS grp",
        f"transform(embedding, v -> CAST(round(CAST(v AS DOUBLE)"
        f" * {KM_SCALE}) AS BIGINT)) AS xi",
    )
    ld = x.selectExpr("label", "grp", "posexplode(xi) AS (d, v)")
    sums = ld.groupBy("label", "d").agg(
        F.expr("CAST(sum(CASE WHEN grp = 0 THEN v END) AS BIGINT)").alias("sa"),
        F.expr("CAST(sum(CASE WHEN grp = 1 THEN v END) AS BIGINT)").alias("sb"),
    )
    counts = x.groupBy("label").agg(
        F.expr("CAST(count(CASE WHEN grp = 0 THEN 1 END) AS BIGINT)").alias(
            "n_a"
        ),
        F.expr("CAST(count(CASE WHEN grp = 1 THEN 1 END) AS BIGINT)").alias(
            "n_b"
        ),
    )
    num = (
        sums.join(counts, "label")
        .groupBy("label")
        .agg(
            F.expr(
                "CAST(sum((sa * n_b - sb * n_a) * (sa * n_b - sb * n_a))"
                " AS BIGINT)"
            ).alias("shift_num"),
            F.expr("CAST(max(n_a) AS BIGINT)").alias("n_a"),
            F.expr("CAST(max(n_b) AS BIGINT)").alias("n_b"),
        )
    )
    return num.selectExpr(
        "label",
        "n_a",
        "n_b",
        "shift_num",
        f"round({_EDRIFT_SHIFT}, 6) AS shift",
    ).orderBy("label")


def x2_cross_source_pairs(spark, sf_dir):
    """Cross-source duplicate-sharing matrix — the provenance question a
    crawl operator asks before scheduling ("which sources mirror each
    other?"): the MinHash-LSH near-dup pair frame joined back to each
    side's source, aggregated per unordered source pair. Pairs come from
    the banded LSH path (never all-pairs); the doc->source attachment is
    two keyed joins of the SPARSE pair frame against the (doc_id, source)
    projection; output is bounded by |sources|^2. The diagonal
    (src_a = src_b) measures within-source redundancy, the off-diagonal
    cross-source mirroring."""
    d = _docs(spark, sf_dir)
    pairs = _lsh_pairs_cached(spark, sf_dir)
    src = d.select("doc_id", "source")
    j = (
        pairs.join(
            src.selectExpr("doc_id AS da", "source AS s1"), "da"
        ).join(src.selectExpr("doc_id AS db", "source AS s2"), "db")
    )
    return (
        j.selectExpr(
            "least(s1, s2) AS src_a", "greatest(s1, s2) AS src_b"
        )
        .groupBy("src_a", "src_b")
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("n_pairs"))
        .orderBy("src_a", "src_b")
    )


# --- x3_pq_distortion: PQ codebook quality report -------------------------


def x3_pq_distortion(spark, sf_dir):
    """PQ quantization-distortion report
    (operators/similarity.py:pq_distortion) — the instrument run before
    committing a corpus to m-bytes-per-vector storage: per subspace, the
    exact integer squared-L2 error from every vector to its nearest
    code (the same argmin pq_encode assigns), as count / sse / max, plus
    the mse rendered back to float units. Codebooks match x3_pq_adc /
    x3_ivfpq so the three reports describe one index. Scale shape: the
    per-row error is least() over plan-literal columns — zero corpus
    shuffles; the only exchange is the m-row aggregate."""
    from diepy_spark.operators.similarity import pq_distortion

    v = _vecs(spark, sf_dir)
    books = _books_cached(spark, sf_dir, PQ_M, PQ_CODES, KM_SCALE)
    rep = pq_distortion(v, books, scale=KM_SCALE)
    return rep.selectExpr(
        "s",
        "n_vecs",
        "sse",
        "max_err",
        f"round(CAST(sse AS DOUBLE) / CAST(n_vecs AS DOUBLE)"
        f" / (CAST({KM_SCALE} AS DOUBLE) * CAST({KM_SCALE} AS DOUBLE)),"
        " 6) AS mse",
    ).orderBy("s")


# --- x2_dedup_savings: dedup-savings-vs-threshold sweep --------------------

DEDUP_CURVE_THRESHOLDS = (0.3, 0.4, 0.5, 0.6, 0.7, 0.8)


def x2_dedup_savings(spark, sf_dir):
    """Dedup savings as a function of the similarity threshold — the
    planning sweep run before fixing a near-dup policy: for each
    threshold, how many pairs survive, how many docs the keep-smallest-id
    policy would flag, and how many chars that removes. ONE pass builds
    the banded LSH pair frame at the loosest threshold (lineage cut: two
    consumers), then the sweep is an explode of a literal threshold
    array over the SPARSE pair frame — the corpus is never rescanned and
    no per-threshold re-run happens, which is the whole point of the
    instrument at 100 TB. A threshold with zero surviving pairs emits no
    row (identically in the oracle)."""
    d = _docs(spark, sf_dir)
    pairs = _lsh_pairs_cached(spark, sf_dir)  # shared persisted pair table
    lits = ", ".join(f"CAST({t} AS DOUBLE)" for t in DEDUP_CURVE_THRESHOLDS)
    e = pairs.selectExpr(
        f"explode(filter(array({lits}), t -> jac >= t)) AS thr", "da", "db"
    )
    n_pairs = e.groupBy("thr").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_pairs")
    )
    flagged = e.select("thr", "db").distinct()
    fl = (
        flagged.join(d.selectExpr("doc_id AS db", "n_chars"), "db")
        .groupBy("thr")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_docs_flagged"),
            F.expr("CAST(sum(n_chars) AS BIGINT)").alias("chars_flagged"),
        )
    )
    return n_pairs.join(fl, "thr").select(
        "thr", "n_pairs", "n_docs_flagged", "chars_flagged"
    ).orderBy("thr")


# --- x10_pipeline_funnel: per-stage corpus attrition ----------------------


def x10_pipeline_funnel(spark, sf_dir):
    """Per-stage attrition for the end-to-end training-corpus pipeline
    (operators/corpus.py:corpus_funnel) — the table an operator reads
    after every corpus build: docs/tokens surviving scored -> quality
    gate -> exact dedup -> near-dup dedup -> semantic dedup, which is
    exactly x10_training_corpus's chain instrumented per stage. ONE
    chain feeds all five aggregates (feature frame and exact-survivor
    set lazily checkpointed; SemDeDup flags from the shared session
    cache), so the funnel costs one pipeline run, not five. Exact
    integers end to end."""
    from diepy_spark.operators.corpus import corpus_funnel

    flags = _sdflags_cached(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), "is_dup"
    )
    # r13: stages 3-4 read the session's persisted cleaned-corpus
    # artifact (_clean_corpus_cached — identical thresholds, identical
    # chain) instead of re-running pair generation + connected
    # components inside the funnel; the funnel now instruments the
    # pipeline run instead of repeating it.
    return corpus_funnel(
        _docs(spark, sf_dir),
        flags,
        min_tokens=CLEAN_MIN_TOKENS,
        min_score=CLEAN_MIN_SCORE,
        max_dup3=CLEAN_MAX_DUP3,
        jaccard_threshold=JACCARD_THRESHOLD,
        max_df=JACCARD_MAX_DF,
        clean=_clean_corpus_cached(spark, sf_dir),
    )


# --- x6_media_pack: bytes-budgeted media shard packing ---------------------

MEDIA_PACK_BUDGET = 2048  # bytes per media shard at test scale


def x6_media_pack(spark, sf_dir):
    """WebDataset-style media shard packing — the multimodal sibling of
    x5_shard_pack: assign each media payload to an output shard so every
    (source, shard) holds ~MEDIA_PACK_BUDGET payload BYTES (the
    tar-shard-building step a multimodal training pipeline runs), budget
    measured on the opaque binary payload's byte length, never its
    content. Same scale shape as pack_shards: a narrow (id, source,
    bytes) projection and ONE running-sum window per source — packing
    parallelizes across sources; payloads themselves never shuffle."""
    d = M.with_binary_payload(_docs(spark, sf_dir))
    b = d.select(
        "doc_id",
        "source",
        F.col("media_meta.byte_len").cast("bigint").alias("n_bytes"),
    )
    p = b.selectExpr(
        "doc_id",
        "source",
        "n_bytes",
        f"CAST((sum(n_bytes) OVER (PARTITION BY source ORDER BY doc_id"
        f" ROWS UNBOUNDED PRECEDING) - n_bytes) div {MEDIA_PACK_BUDGET}"
        " AS INT) AS shard",
    )
    return (
        p.groupBy("source", "shard")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("files"),
            F.expr("CAST(sum(n_bytes) AS BIGINT)").alias("bytes"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("source", "shard")
    )


# --- x5_regex_tokens: pre-tokenizer budget audit ---------------------------

# GPT-2-style pretokenizer classes (letter runs | digit runs | symbol
# runs). Backslash-free by the PII_PATTERNS portability rule — the SAME
# string is a valid identical regex in Java (Spark) and RE2 (DuckDB).
RE_TOK_PAT = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"


def x5_regex_tokens(spark, sf_dir):
    """Pre-tokenization token-budget audit — the number a training plan
    is actually priced in: per source, documents, regex pre-tokens
    (GPT-2-style letter/digit/symbol runs — the upper bound the real BPE
    tokenizer starts from), word tokens, chars, plus the fertility ratio
    (pre-tokens per word) and chars-per-pre-token. The instrument that
    catches a source whose symbol-heavy text will blow the token budget
    long before x5_bpe_apply runs. One narrow JVM-codegen'd projection
    (regexp_extract_all, no Python, no shuffle except the
    source-bounded aggregate)."""
    from diepy_spark.operators.dedup import tokens_expr

    d = _docs(spark, sf_dir)
    per = d.select(
        "source",
        F.expr(
            f"CAST(size(regexp_extract_all(text, '{RE_TOK_PAT}', 0))"
            " AS BIGINT)"
        ).alias("re_toks"),
        F.expr(f"CAST(size({tokens_expr('text')}) AS BIGINT)").alias(
            "word_toks"
        ),
        F.expr("CAST(length(text) AS BIGINT)").alias("chars"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("docs"),
            F.expr("CAST(sum(re_toks) AS BIGINT)").alias("re_toks"),
            F.expr("CAST(sum(word_toks) AS BIGINT)").alias("word_toks"),
            F.expr("CAST(sum(chars) AS BIGINT)").alias("chars"),
            F.expr(
                "round(CAST(sum(re_toks) AS DOUBLE)"
                " / CAST(sum(word_toks) AS DOUBLE), 6)"
            ).alias("fertility"),
            F.expr(
                "round(CAST(sum(chars) AS DOUBLE)"
                " / CAST(sum(re_toks) AS DOUBLE), 6)"
            ).alias("chars_per_tok"),
        )
        .orderBy("source")
    )


# --- x9_retention_plan: TTL partition-purge planning ------------------------

RETENTION_DAYS = 14  # keep the most recent N day-partitions


def x9_retention_plan(spark, sf_dir):
    """TTL retention PLAN over the day-partitioned event store — the
    dry-run every scheduled purge job emits before touching data: per
    day-partition, rows and distinct users, the keep/drop decision
    against a data-relative watermark (the most recent RETENTION_DAYS
    days — relative to max(day), not wall clock, so the plan is
    deterministic and restatement-safe), and the cumulative rows
    reclaimed in day order. At 100 TB this is partition metadata work:
    the corpus collapses to the calendar frame in one map-side-combined
    pass, the watermark is a one-row aggregate broadcast back, and the
    cumulative sum is a window over the bounded calendar frame. The
    executing sibling is x9_takedown (row-level deletes); this is the
    partition-level lifecycle gate."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.expr("CAST(date_trunc('day', ts) AS DATE)").alias("day"),
            "user_id",
        )
        .groupBy("day")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_rows"),
            F.expr("CAST(count(DISTINCT user_id) AS BIGINT)").alias(
                "n_users"
            ),
        )
        .localCheckpoint(eager=False)  # calendar-bounded
    )
    mx = daily.agg(F.max("day").alias("max_day"))
    pl = daily.crossJoin(F.broadcast(mx)).withColumn(
        "action",
        F.expr(
            f"CASE WHEN day > date_sub(max_day, {RETENTION_DAYS})"
            " THEN 'keep' ELSE 'drop' END"
        ),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        pl.select(
            "day",
            "n_rows",
            "n_users",
            "action",
            F.sum(
                F.when(F.col("action") == "drop", F.col("n_rows")).otherwise(
                    F.lit(0)
                )
            )
            .over(w)
            .cast("bigint")
            .alias("cum_reclaimed"),
        )
        .orderBy("day")
        # render day as its ISO string (the x12_volume_anomaly idiom —
        # DuckDB's fetchdf widens DATE to datetime64, STRING doesn't)
        .selectExpr(
            "CAST(day AS STRING) AS day",
            "n_rows",
            "n_users",
            "action",
            "cum_reclaimed",
        )
    )


# --- x11_cc_twophase: the distributed CC tier under the hash gate ----------


def x11_cc_twophase(spark, sf_dir):
    """The DISTRIBUTED tier of connected components under the hash gate
    (clustering.py:connected_components_two_phase — large-star/small-star,
    Kiveris et al. 2014 "Connected Components in MapReduce and Beyond"):
    `local_threshold=0` FORCES past the driver-side union-find the
    adaptive dispatcher would pick at this sf, so the tier that actually
    runs when a dup graph exceeds driver memory earns its own
    correctness row — the same move round 5 made for the sorted-run
    external span-dedup tier. Output mirrors x2_dup_clusters exactly
    (same pair graph, same min-id fixpoint, same oracle SQL), so a
    hash match here IS the proof the two algorithms agree; rounds grow
    with log(diameter), each round two self-join exchanges over the
    edge frame and nothing driver-sized anywhere."""
    from diepy_spark.operators.clustering import connected_components

    cc = connected_components(
        _jaccard_pairs(spark, sf_dir),
        "da",
        "db",
        local_threshold=0,
    )
    return cc.withColumn(
        "cluster_size", F.count(F.lit(1)).over(Window.partitionBy("cluster"))
    ).orderBy("node")


# --- x11_degree_dist: degree distribution of the supply graph --------------


def x11_degree_dist(spark, sf_dir):
    """Degree DISTRIBUTION of the symmetrized part↔supplier supply graph,
    split by node kind — the first plot a graph pipeline draws before
    choosing algorithms (a heavy tail means hub-aware partitioning; a
    flat histogram means plain hash partitioning is fine), and the
    skew-read for every x11 iteration's join. Same edge derivation as
    x11_pagerank/x11_assortativity; two bounded aggregates (degree per
    node, then nodes per (kind, degree)) — output is
    distinct-degree-sized."""
    sym = _supply_sym(spark, sf_dir)
    deg = sym.groupBy("src").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("deg")
    )
    return (
        deg.selectExpr("CAST(src % 10 AS INT) AS kind", "deg")
        .groupBy("kind", "deg")
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("n_nodes"))
        .orderBy("kind", "deg")
    )


# --- x12_gini: corpus concentration audit -----------------------------------


def x12_gini(spark, sf_dir):
    """Concentration audit — the Gini coefficient of the corpus byte
    mass across sources and across languages: the one-number answer to
    "is this corpus a few mega-sources in a trench coat?", read before
    trusting any per-source quality signal (and the diversity companion
    of x5_domain_mix's raw shares). Exact integer identity: with group
    masses x_(1..n) ascending, G = (2·Σi·x_i − (n+1)·Σx_i) / (n·Σx_i) —
    numerator and denominator are exact bigints off ONE window over the
    group-bounded frame, one float division at the end. Ties in x are
    order-invariant (equal x contribute the same Σi·x under any
    permutation of their positions)."""
    d = _docs(spark, sf_dir)

    def conc(dim):
        g = d.groupBy(F.col(dim).alias("grp")).agg(
            F.expr("CAST(sum(n_chars) AS BIGINT)").alias("x")
        )
        w = Window.orderBy("x", "grp")  # group-bounded frame
        r = g.withColumn("i", F.row_number().over(w))
        return r.agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n"),
            F.expr("CAST(sum(x) AS BIGINT)").alias("tot"),
            F.expr("CAST(sum(i * x) AS BIGINT)").alias("six"),
        ).select(
            F.lit(dim).alias("dim"),
            F.col("n").alias("n_groups"),
            F.col("tot").alias("total_chars"),
            F.expr(
                "round(CAST(2 * six - (n + 1) * tot AS DOUBLE)"
                " / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE)), 6)"
            ).alias("gini"),
        )

    return conc("source").unionByName(conc("lang")).orderBy("dim")


# --- x6_frame_dedup: cross-video duplicate-frame detection -----------------


def x6_frame_dedup(spark, sf_dir):
    """Frame-LEVEL media dedup — the keyframe-granularity sibling of
    x6_media_dedup (whole-payload): sampled frames digested and grouped,
    reporting every frame that occurs more than once (occurrences,
    distinct carrying docs, canonical = min doc) — the intro/outro/
    static-card detector a video pipeline runs before paying storage or
    embedding cost per frame. Runs CORPUS-WIDE (unlike the
    MEDIA_DOC_MAX-windowed decode/feature queries — dedup is exactly the
    op you run over everything). Scale shape: frames digest to md5 IN
    the projection, so the groupBy shuffles 32-byte keys, never frame
    bytes — the same never-shuffle-payloads rule as media_dedup, one
    level down."""
    d = _docs(spark, sf_dir)
    fr = M.frame_sample(M.with_binary_payload(d), every=4, frame_size=256)
    return (
        fr.select(F.md5("frame_bytes").alias("frame_md5"), "doc_id")
        .groupBy("frame_md5")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_occurrences"),
            F.expr("CAST(count(DISTINCT doc_id) AS BIGINT)").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .where(F.col("n_occurrences") > 1)
        .orderBy("frame_md5")
    )


# --- x2_semdedup_sweep: semantic-dedup threshold calibration ---------------

SD_SWEEP = ((1, 5), (2, 5), (3, 5), (4, 5))


def x2_semdedup_sweep(spark, sf_dir):
    """SemDeDup threshold CALIBRATION sweep
    (operators/similarity.py:semdedup_threshold_sweep) — the
    embedding-space analog of x2_dedup_savings: flags-per-cosine-
    threshold from ONE assignment + within-cell pair pass, the sweep an
    explode of a literal threshold array with the same exact
    cross-multiplied integer comparison x2_semdedup uses (its 2/5
    production threshold is one arm, so the sweep row reconciles with
    the standing report). The run you do before betting a corpus on a
    similarity cutoff."""
    from diepy_spark.operators.similarity import semdedup_threshold_sweep

    cents = _cents_cached(spark, sf_dir, _sd_k(spark, sf_dir), SD_ITER, SD_SCALE)
    return semdedup_threshold_sweep(
        _vecs(spark, sf_dir), cents, SD_SWEEP, scale=SD_SCALE,
        assign_pairs=_sd_pairs_cached(spark, sf_dir),
    )


# --- x10_mix_rebalance: target-mix down-sampling plan -----------------------

# Target language shares in basis points (sums to 10000).
MIX_TARGET_BP = (
    ("de", 1500),
    ("en", 4000),
    ("es", 1500),
    ("fr", 1500),
    ("zh", 1500),
)


def x10_mix_rebalance(spark, sf_dir):
    """Target-mix DOWN-sampling plan — given desired language shares,
    the largest corpus achievable at exactly that mix without
    upsampling, and each language's keep rate: cap = min over languages
    of floor(tokens*10000 / target_bp) (the binding language sets it),
    realized_l = floor(cap * bp_l / 10000). Pure integer arithmetic, so
    the plan hash-checks; the binding flag marks the language to crawl
    more of. Complements x8_temperature_mix (power-law smoothing) and
    x10_epoch_plan (repeat planning) with the third standard mixing
    policy: exact target shares. One bounded aggregate over the corpus;
    the plan itself is languages-sized."""
    from diepy_spark.operators.dedup import tokens_expr

    d = _docs(spark, sf_dir)
    tok = (
        d.select(
            "lang",
            F.expr(f"CAST(size({tokens_expr('text')}) AS BIGINT)").alias("t"),
        )
        .groupBy("lang")
        .agg(F.expr("CAST(sum(t) AS BIGINT)").alias("tokens"))
    )
    tgt = spark.createDataFrame(
        [(lang, bp) for lang, bp in MIX_TARGET_BP],
        "lang string, target_bp bigint",
    )
    j = tok.join(F.broadcast(tgt), "lang")
    cap = j.agg(
        F.expr("CAST(min(tokens * 10000 div target_bp) AS BIGINT)").alias(
            "cap"
        )
    )
    return (
        j.crossJoin(F.broadcast(cap))
        .selectExpr(
            "lang",
            "tokens",
            "target_bp",
            "CAST(cap * target_bp div 10000 AS BIGINT) AS realized_tokens",
            "round(CAST(cap * target_bp div 10000 AS DOUBLE)"
            " / CAST(tokens AS DOUBLE), 6) AS keep_rate",
            "CAST(CASE WHEN tokens * 10000 div target_bp = cap"
            " THEN 1 ELSE 0 END AS INT) AS binding",
        )
        .orderBy("lang")
    )


# --- x3_rq_distortion: residual-quantization refinement report -------------


def x3_rq_distortion(spark, sf_dir):
    """Two-level residual quantization distortion
    (operators/similarity.py:rq_distortion) — the faiss RQ/IVFADC-R
    refinement step priced: per subspace, exact integer sse after
    level-1 PQ (identical to x3_pq_distortion's sse by construction)
    and after the level-2 residual codebook corrects it, with the
    reduction ratio. Code 0 of the residual book is the reserved zero
    vector, so refinement provably never raises the error (reduction
    >= 0, test-pinned). Storage story: 2m bytes/vector instead of m —
    this report is the number that decides whether the second byte is
    worth it. Plan: still zero shuffles before the m-row aggregate —
    level-1 code, residual, and level-2 error are all literal-forest
    projections."""
    from diepy_spark.operators.similarity import rq_distortion

    return rq_distortion(
        _vecs(spark, sf_dir),
        _books_cached(spark, sf_dir, PQ_M, PQ_CODES, KM_SCALE),
        _rq_books_cached(spark, sf_dir),
        scale=KM_SCALE,
    ).orderBy("s")


@session_cached
def _rq_books_cached(spark, sf_dir):
    """The level-2 residual codebooks over the level-1 PQ books, shared
    by x3_rq_distortion and the RQ-ADC search."""
    from diepy_spark.operators.similarity import rq_codebooks

    return rq_codebooks(
        _vecs(spark, sf_dir),
        _books_cached(spark, sf_dir, PQ_M, PQ_CODES, KM_SCALE),
        scale=KM_SCALE,
    )


# --- x3_rq_adc: two-level residual-quantized search ------------------------


def x3_rq_adc(spark, sf_dir):
    """Two-level RQ asymmetric-distance search
    (operators/similarity.py:rq_encode/rq_adc_topk) — the search
    counterpart of x3_rq_distortion, completing RQ as a full index
    (encode + search + instrument): the corpus is stored as GREEDY
    (code1, code2) pairs (m*(n1+n2) literal distances per vector — the
    asymmetry that is RQ's point), queries search by m lookups into a
    per-query LUT over every COMBINED code c1+c2 (the search side may
    afford the full product). Same queries/corpus split and level-1
    codebooks as x3_pq_adc, so the two rankings are directly
    comparable — finer reconstruction, same candidates."""
    return _rq_adc_cached(spark, sf_dir).orderBy("qid", "rk")


@session_cached
def _rq_adc_cached(spark, sf_dir):
    """The RQ-ADC ranking frame shared by x3_rq_adc and
    x3_pq_vs_rq_recall — same session-memo discipline as
    _pq_adc_cached."""
    from diepy_spark.operators.similarity import rq_adc_topk

    v = _vecs(spark, sf_dir)
    return rq_adc_topk(
        v.where(F.col("vec_id") < PQ_NQ),
        v.where(F.col("vec_id") >= PQ_NQ),
        _books_cached(spark, sf_dir, PQ_M, PQ_CODES, KM_SCALE),
        _rq_books_cached(spark, sf_dir),
        k=PQ_K,
        scale=KM_SCALE,
    ).localCheckpoint(eager=False)


# --- x3_pq_vs_rq_recall: does the second byte buy ranking quality? ---------


def x3_pq_vs_rq_recall(spark, sf_dir):
    """The RANKING payoff of the RQ refinement, measured: recall@k of
    PQ-ADC and RQ-ADC against the exact integer-L2 ranking on the same
    queries/corpus/codebooks — x3_rq_distortion prices reconstruction
    error, this prices what the search user actually feels. The
    x3_ann_recall calibration pattern applied to the quantized-index
    pair; exact baseline is brute-force integer squared-L2 (the metric
    ADC approximates), ties -> smaller cid on both sides. Honest
    reading at this fixture: with the DETERMINISTIC seed codebooks on
    near-orthogonal synthetic embeddings both paths land ~0.08 — the
    instrument exists precisely to catch that (x3_rq_distortion's 10%
    sse drop does NOT buy ranking quality here; trained codebooks
    would move both numbers, and this query is where the movement
    shows)."""
    from diepy_spark.operators.clustering import quantize_vectors
    v = _vecs(spark, sf_dir)
    qs = v.where(F.col("vec_id") < PQ_NQ)
    cs = v.where(F.col("vec_id") >= PQ_NQ)
    qz = quantize_vectors(qs).select(
        F.col("vec_id").alias("qid"), F.col("xi").alias("qxi")
    )
    cz = quantize_vectors(cs).select(
        F.col("vec_id").alias("cid"), F.col("xi").alias("cxi")
    )
    scored = cz.join(F.broadcast(qz)).withColumn(
        "d",
        F.expr(
            "aggregate(zip_with(qxi, cxi, (a, b) -> (a - b) * (a - b)),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ),
    )
    w = Window.partitionBy("qid").orderBy("d", "cid")
    exact = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= PQ_K)
        .select("qid", "cid")
        .localCheckpoint(eager=False)  # PQ_NQ*PQ_K rows, two consumers
    )
    # r13: the instrument reads the SAME memoized ranking frames its
    # subject queries (x3_pq_adc / x3_rq_adc) serve — one ADC search
    # per method per session, not a re-derivation here.
    pq = _pq_adc_cached(spark, sf_dir)
    rq = _rq_adc_cached(spark, sf_dir)

    def rec(ann, method):
        matched = exact.join(ann.select("qid", "cid"), ["qid", "cid"], "left_semi")
        return (
            exact.agg(F.expr("CAST(count(*) AS BIGINT)").alias("n_exact"))
            .crossJoin(
                matched.agg(F.expr("CAST(count(*) AS BIGINT)").alias("hits"))
            )
            .select(
                F.lit(method).alias("method"),
                "n_exact",
                "hits",
                F.expr(
                    "round(CAST(hits AS DOUBLE) / CAST(n_exact AS DOUBLE),"
                    " 4)"
                ).alias("recall"),
            )
        )

    return rec(pq, "pq_adc").unionByName(rec(rq, "rq_adc")).orderBy("method")


# --- x3_pq_trained_distortion: does TRAINING the codebooks pay? ------------


@session_cached
def _trained_books_cached(spark, sf_dir):
    """Per-subspace TRAINED PQ codebooks (the upgrade pq_codebooks'
    docstring promises): for each of the PQ_M subspaces, integer-exact
    Lloyd's over the sliced subvectors with the shared x3_kmeans
    semantics (k smallest-id seeds, argmin ties -> smaller cluster,
    floor-mean update, empty cells keep their centroid). Session-keyed;
    m driver-sized codebooks."""
    from diepy_spark.operators.clustering import kmeans_centroids_int

    v = _vecs(spark, sf_dir)
    sub = EMB_DIM // PQ_M
    return [
        kmeans_centroids_int(
            v.select(
                "vec_id",
                F.expr(f"slice(embedding, {s * sub + 1}, {sub})").alias("embedding"),
            ),
            k=PQ_CODES,
            iterations=KM_ITER,
            scale=KM_SCALE,
        )
        for s in range(PQ_M)
    ]


def x3_pq_trained_distortion(spark, sf_dir):
    """Deterministic vs TRAINED PQ codebooks, priced per subspace — the
    training-payoff instrument closing the quantization arc
    (x3_pq_distortion prices the deterministic books, x3_rq_distortion
    the residual refinement, this the Lloyd's upgrade): same corpus,
    same subspaces, sse under the seed codebooks vs sse under
    per-subspace integer k-means, with the improvement ratio. The
    trained sse must never exceed max_err-free bounds of the seed book
    by much — empirically Lloyd's cuts it hard, and THIS is the number
    that justifies a training pass at 100 TB (one extra corpus scan per
    iteration) before committing a store to m bytes/vector."""
    from diepy_spark.operators.similarity import pq_distortion

    v = _vecs(spark, sf_dir)
    det = pq_distortion(
        v, _books_cached(spark, sf_dir, PQ_M, PQ_CODES, KM_SCALE),
        scale=KM_SCALE,
    ).select("s", "n_vecs", F.col("sse").alias("sse_det"))
    tr = pq_distortion(
        v, _trained_books_cached(spark, sf_dir), scale=KM_SCALE
    ).select("s", F.col("sse").alias("sse_trained"))
    return (
        det.join(tr, "s")
        .selectExpr(
            "s",
            "n_vecs",
            "sse_det",
            "sse_trained",
            "round(1.0 - CAST(sse_trained AS DOUBLE)"
            " / CAST(sse_det AS DOUBLE), 6) AS improvement",
        )
        .orderBy("s")
    )


SA_MAX_T = 128  # suffix-array token cap: pins the round count at any sf
SA_LCP_THRESHOLDS = (8, 16, 32)


def x1_suffix_array(spark, sf_dir):
    """The THIRD span-dedup tier (operators/suffixes.py): a distributed
    SUFFIX ARRAY over the tokenized corpus by prefix doubling
    (Manber-Myers; distributed as in Flick & Aluru SC'15), then
    adjacent-suffix LCPs — Lee et al. 2022's actual dedup structure,
    where the fixed-L gram tiers (x1_span_dedup*) are the approximation.
    Answers what grams can't: the LONGEST repeated token span (max
    adjacent LCP — the suffix-array theorem) and the full repeated-span
    length distribution, the evidence for choosing the gram tiers' L.

    Scale shape: one two-pass block dense rank over 8-token windows,
    then one fused sort on 16 lead-window ranks per position
    (fixed-width integers, never suffix text) and one adjacency pass
    (the x8_sprt shape: range partition, parallel local ranks,
    partition-count-bounded offsets broadcast back — no corpus frame
    through a single task). The oracle materializes and sorts the actual
    suffix STRINGS — exactly the O(corpus^2)-bytes plan a 100 TB corpus
    cannot run, which is the point of the integer formulation.

    Output (one row): adjacent pair count, max LCP, pairs at the Lee-
    style span thresholds, and the total LCP mass (the corpus's
    internal-duplication measure: sum_lcp/ n_tokens ~ fraction of
    positions inside repeated context)."""
    from diepy_spark.operators.suffixes import adjacent_suffix_lcp

    adj = adjacent_suffix_lcp(_docs(spark, sf_dir), max_tokens=SA_MAX_T)
    t1, t2, t3 = SA_LCP_THRESHOLDS
    return adj.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.max("lcp").cast("int").alias("max_lcp"),
        F.sum((F.col("lcp") >= t1).cast("int")).cast("long").alias(f"pairs_ge_{t1}"),
        F.sum((F.col("lcp") >= t2).cast("int")).cast("long").alias(f"pairs_ge_{t2}"),
        F.sum((F.col("lcp") >= t3).cast("int")).cast("long").alias(f"pairs_ge_{t3}"),
        F.sum("lcp").cast("long").alias("sum_lcp"),
    )


KS_CRIT = 1.358  # two-sample Kolmogorov-Smirnov critical coeff, alpha=.05


def x8_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov test (the distribution-SHAPE sibling
    of x8_mwu's location test): do even- and odd-user cohorts draw event
    values from the same distribution? D = max |ECDF_a - ECDF_b|, with
    the alpha=.05 decision c(alpha)*sqrt((n_a+n_b)/(n_a*n_b)).

    Scale shape — same discipline as x8_mwu: NO global row rank; the
    ECDFs come from the per-cent-value cohort histogram, so the only
    ordered window runs over the value-DOMAIN-bounded histogram frame.
    D stays exact integers to the end: d_num = max |cum_a*n_b -
    cum_b*n_a| over a common n_a*n_b denominator (BIGINT throughout —
    cum <= 60k, n <= 60k at sf0.1 keeps the product far under 2^63);
    the sqrt layer is float-only in the final reported columns, textually
    shared with the oracle."""
    # rollup of the shared session value-frequency artifact (r14): the
    # per-cohort per-cent counts sum over the dropped event_type key
    hg = (
        _ev_vhist_cached(spark, sf_dir)
        .groupBy("cents")
        .agg(
            F.expr("sum(CASE WHEN par = 1 THEN cnt ELSE 0 END)").alias("ca"),
            F.expr("sum(CASE WHEN par = 0 THEN cnt ELSE 0 END)").alias("cb"),
        )
        # histogram-sized frame feeds the cumulative window AND the
        # totals -> cut lineage so the rollup happens exactly once
        .localCheckpoint(eager=False)
    )
    wc = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hg.select(
        F.sum("ca").over(wc).alias("cum_a"), F.sum("cb").over(wc).alias("cum_b")
    )
    tot = hg.agg(F.sum("ca").alias("n_a"), F.sum("cb").alias("n_b"))
    d = (
        cum.crossJoin(F.broadcast(tot))
        .selectExpr("abs(cum_a * n_b - cum_b * n_a) AS dn", "n_a", "n_b")
        .groupBy("n_a", "n_b")
        .agg(F.max("dn").alias("d_num"))
    )
    return d.selectExpr(
        "n_a",
        "n_b",
        "d_num",
        "round(CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS d_stat",
        "round(CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))"
        " * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)"
        "        / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))), 6) AS ks_z",
        f"CAST(CASE WHEN CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))"
        f" > {KS_CRIT} * sqrt((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))"
        f"                    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))"
        f" THEN 1 ELSE 0 END AS INT) AS reject_05",
    )


def x8_wasserstein(spark, sf_dir):
    """WASSERSTEIN-1 (earth mover's) distance between the even/odd-user
    cohort value distributions — the MAGNITUDE complement of x8_ks_test
    (KS = max ECDF gap says whether shapes differ; W1 = the integral of
    the gap says by HOW MUCH, in the value's own units): W1 =
    sum_i |F_a(v_i) - F_b(v_i)| * (v_{i+1} - v_i) over the cents
    domain.

    Exactness — the ks_test discipline extended with the domain gap:
    per domain value the term |cum_a*n_b - cum_b*n_a| * gap is an exact
    BIGINT (bounded by n_a*n_b*(v_max - v_min) ~ 3.6e14 at sf0.1, far
    under 2^63 — the gap sum telescopes, so the bound doesn't multiply
    by the domain size); one float division by n_a*n_b at render.

    Scale shape: one corpus collapse to the value-domain histogram,
    then the cumulative + lead windows run over the bounded domain
    frame."""
    # rollup of the shared session value-frequency artifact (r14)
    hg = (
        _ev_vhist_cached(spark, sf_dir)
        .groupBy("cents")
        .agg(
            F.expr("sum(CASE WHEN par = 1 THEN cnt ELSE 0 END)").alias("ca"),
            F.expr("sum(CASE WHEN par = 0 THEN cnt ELSE 0 END)").alias("cb"),
        )
        .localCheckpoint(eager=False)  # bounded: value domain
    )
    wc = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wl = Window.orderBy("cents")
    cum = hg.select(
        "cents",
        F.sum("ca").over(wc).alias("cum_a"),
        F.sum("cb").over(wc).alias("cum_b"),
        (F.lead("cents").over(wl) - F.col("cents")).alias("gap"),
    )
    tot = hg.agg(F.sum("ca").alias("n_a"), F.sum("cb").alias("n_b"))
    s = (
        cum.where(F.col("gap").isNotNull())
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "abs(cum_a * n_b - cum_b * n_a) * gap AS term", "n_a", "n_b"
        )
        .groupBy("n_a", "n_b")
        .agg(F.expr("CAST(SUM(term) AS BIGINT)").alias("w1_num"))
    )
    return s.selectExpr(
        "n_a",
        "n_b",
        "w1_num",
        "round(CAST(w1_num AS DOUBLE)"
        " / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS w1_cents",
        "round(CAST(w1_num AS DOUBLE)"
        " / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))"
        " / CAST(100 AS DOUBLE), 6) AS w1_value",
    )


HB_ITER = 3  # HyperBall rounds: N(0)..N(3)
HB_M = 64  # registers/node: the state-vs-accuracy lever (see hyperball)
HBE_SEED_MAX = 40  # error-instrument seeds: part nodes with l_partkey <= 40


def x11_hyperball(spark, sf_dir):
    """HyperBall neighborhood function
    (operators/clustering.py:hyperball — Boldi & Vigna 2013) over the
    symmetrized supply graph: N(t) = estimated (node, node-within-t)
    pairs for t=0..HB_ITER from one portable-HLL counter per node,
    register-max along edges per round. The distance-STATISTICS primitive
    the exact tools can't give at scale: x11_bfs materializes one seed
    set's ball exactly; HyperBall sketches EVERY node's ball in
    nodes x 256 integers — ball growth and coverage curves (the
    effective-diameter evidence) for the cost of 2 exchanges per round.
    Registers are exact integers (sketch.py's md5 layout); per-node
    estimates round to 4 decimals and SUM AS DECIMAL — exact,
    order-independent — collapsing to double only in the final
    projection, so the hash gate covers the whole sketch."""
    from diepy_spark.operators.clustering import hyperball

    return hyperball(
        prepared=_hb_prepared(spark, sf_dir), iterations=HB_ITER, m=HB_M
    )


@session_cached
def _hb_prepared(spark, sf_dir):
    """Session-memoized (edge frame, register tiers) for the supply
    graph — ONE HyperBall propagation per session serving both
    x11_hyperball and x11_hyperball_error (the _ph_sigs
    persisted-index discipline: the sketch index is written once and
    every distance instrument folds it)."""
    from diepy_spark.operators.clustering import hb_prepare

    return hb_prepare(
        _supply_sym(spark, sf_dir), iterations=HB_ITER, m=HB_M,
        assume_distinct=True,
    )


def x11_hyperball_error(spark, sf_dir):
    """HyperBall error sheet
    (operators/clustering.py:hyperball_exact_error): the measured price
    of x11_hyperball's m=HB_M approximation — its docstring calls m the
    accuracy-vs-shuffle lever; this instrument prices it with data
    instead of the 1.3/sqrt(m) asymptote. Same symmetrized supply graph,
    same register rounds (shared _hb_register_tiers machinery), fold
    restricted to the HBE_SEED_MAX-part seed sample, joined against the
    seeds' EXACT per-seed BFS ball sizes. Per t: n_seeds, exact_pairs,
    est_sum (DECIMAL discipline as x11_hyperball), and
    est_over_exact — the sketch's multiplicative bias at that radius.
    Exact side state is seeds x ball (bounded sample), never all-pairs."""
    from diepy_spark.operators.clustering import hyperball_exact_error

    li = load_table(spark, sf_dir, "lineitem")
    seeds = (
        li.where(F.col("l_partkey") <= HBE_SEED_MAX)
        .select((F.col("l_partkey") * 10 + 1).alias("node"))
        .distinct()
    )
    return hyperball_exact_error(
        seeds=seeds,
        prepared=_hb_prepared(spark, sf_dir),
        iterations=HB_ITER,
        m=HB_M,
    )


def x8_qte(spark, sf_dir):
    """Quantile treatment effects (the tails-aware sibling of the mean
    effect in x8_ab_test: Athey & Imbens' first diagnostic — does the
    treatment move the MEDIAN and the TAILS, not just the mean?): per
    even/odd-user cohort the exact p25/p50/p75 of event value, and their
    cohort differences, via the cents-domain histogram (the x8_mwu /
    x8_ks_test bounded-window discipline — no global row rank). The
    quartile pick rule is pure integers (4*cum >= k*n), so every output
    is an exact BIGINT in cents."""
    # rollup of the shared session value-frequency artifact (r14); the
    # artifact's CASE parity and this query's CAST(user_id % 2 = 0 AS
    # INT) coincide (user_id is NOT NULL)
    hg = (
        _ev_vhist_cached(spark, sf_dir)
        .groupBy(F.col("par").alias("grp"), "cents")
        .agg(F.sum("cnt").cast("bigint").alias("c"))
    )
    wc = Window.partitionBy("grp").orderBy("cents")
    wall = Window.partitionBy("grp")
    cum = hg.select(
        "grp",
        "cents",
        F.sum("c").over(wc).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    q = cum.groupBy("grp").agg(
        F.max("n").alias("n"),
        F.min(F.when(4 * F.col("cum") >= F.col("n"), F.col("cents"))).alias("p25"),
        F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("cents"))).alias("p50"),
        F.min(F.when(4 * F.col("cum") >= 3 * F.col("n"), F.col("cents"))).alias("p75"),
    )
    a = q.where(F.col("grp") == 1).selectExpr(
        "n AS n_a", "p25 AS p25_a", "p50 AS p50_a", "p75 AS p75_a"
    )
    b = q.where(F.col("grp") == 0).selectExpr(
        "n AS n_b", "p25 AS p25_b", "p50 AS p50_b", "p75 AS p75_b"
    )
    return a.crossJoin(b).selectExpr(
        "n_a",
        "n_b",
        "p25_a",
        "p50_a",
        "p75_a",
        "p25_b",
        "p50_b",
        "p75_b",
        "p25_a - p25_b AS qte25",
        "p50_a - p50_b AS qte50",
        "p75_a - p75_b AS qte75",
    )


HITS_ITER = 4
HITS_TOP = 8
HITS_SCALE = 10**6


def x11_hits(spark, sf_dir):
    """HITS hubs & authorities (operators/clustering.py:hits — Kleinberg
    1999) on the DIRECTED part->supplier graph: authorities = suppliers
    sourced by many strong parts, hubs = parts sourcing from many strong
    suppliers — the directed-centrality pair PageRank's single score
    can't separate. Pure integer arithmetic via max-normalization (L2's
    irrational norm would float the whole computation); the oracle
    unrolls the same HITS_ITER double half-steps. Top HITS_TOP per
    role."""
    from diepy_spark.operators.clustering import hits

    e = _supply_ps(spark, sf_dir)
    scored = hits(
        e, iterations=HITS_ITER, scale=HITS_SCALE, assume_distinct=True
    )
    topa = (
        scored.orderBy(F.col("auth").desc(), "node")
        .limit(HITS_TOP)
        .select(F.lit("auth").alias("role"), "node", "hub", "auth")
    )
    toph = (
        scored.orderBy(F.col("hub").desc(), "node")
        .limit(HITS_TOP)
        .select(F.lit("hub").alias("role"), "node", "hub", "auth")
    )
    return topa.unionByName(toph).orderBy("role", "node")


ACF_MAX_LAG = 7  # autocorrelation lags reported (1..K days)


def x8_acf(spark, sf_dir):
    """AUTOCORRELATION FUNCTION of the daily event-count series at lags
    1..ACF_MAX_LAG — the canonical time-series diagnostic next to the
    trend (x8_mann_kendall), change-point (x8_cusum) and seasonality
    (x12_seasonality) monitors: r_k = sum (x_t-mean)(x_{t+k}-mean) /
    sum (x_t-mean)^2. Days are GAP-FILLED to the min..max calendar
    spine with count 0 (a silent day is a 0-observation, and lags must
    mean calendar days, not observed-row offsets).

    Exactness: with S = sum x and n = spine length, center WITHOUT the
    rational mean by y_t = n*x_t - S (integer; x_t - mean = y_t/n, and
    the n^2 factors cancel in the ratio) — numerator and denominator
    are exact BIGINT sums, ONE shared float division at render.
    Overflow audit: |y| <= n*max_daily, den <= n^3*max_daily^2 < 2^63
    holds while max_daily < sqrt(2^63/n^3) (~13.7k events/day over a
    10-year spine); past that, swap the two sums to DECIMAL(38,0) —
    the comparison logic is unchanged.

    Scale shape: the corpus collapses to the bounded calendar frame in
    ONE map-side-combined aggregate (the mann_kendall discipline); the
    lag join, spine explode and totals all run over <= days rows. No
    window over corpus data; the only ordered output is the K-row
    result."""
    ev = load_table(spark, sf_dir, "events")
    obs = (
        ev.select(
            F.expr(f"unix_micros(cast(ts as timestamp)) div {_DAY_DIV}").alias("day")
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    spine = obs.agg(F.min("day").alias("d0"), F.max("day").alias("d1")).select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    daily = (
        spine.join(obs, "day", "left")
        .select("day", F.coalesce("c", F.lit(0)).cast("bigint").alias("x"))
        .localCheckpoint(eager=False)  # bounded: calendar days
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("x").cast("bigint").alias("s_tot"),
    )
    cen = (
        daily.crossJoin(F.broadcast(tot))
        .select(
            "day",
            "n_days",
            (F.col("n_days") * F.col("x") - F.col("s_tot")).alias("y"),
        )
        .localCheckpoint(eager=False)  # consumed by den + the lag join
    )
    den = cen.agg(F.sum(F.col("y") * F.col("y")).cast("bigint").alias("den"))
    a = cen.select(F.col("day").alias("da"), F.col("y").alias("ya"), "n_days")
    b = cen.select(F.col("day").alias("db"), F.col("y").alias("yb"))
    num = (
        a.join(
            b,
            (F.col("db") > F.col("da"))
            & (F.col("db") <= F.col("da") + ACF_MAX_LAG),
        )
        .groupBy((F.col("db") - F.col("da")).cast("int").alias("lag_k"), "n_days")
        .agg(F.sum(F.col("ya") * F.col("yb")).cast("bigint").alias("num"))
    )
    return (
        num.crossJoin(F.broadcast(den))
        .selectExpr(
            "lag_k",
            "n_days",
            "num",
            "den",
            "round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS acf",
        )
        .orderBy("lag_k")
    )


_RUNS_Z = (
    "CASE WHEN p2 > m AND m > 1 THEN"
    " (CAST(runs AS DOUBLE) - CAST(1 AS DOUBLE)"
    " - CAST(p2 AS DOUBLE) / CAST(m AS DOUBLE))"
    " / sqrt(CAST(p2 AS DOUBLE) * (CAST(p2 AS DOUBLE) - CAST(m AS DOUBLE))"
    " / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE) * (CAST(m AS DOUBLE)"
    " - CAST(1 AS DOUBLE))))"
    " ELSE CAST(0 AS DOUBLE) END"
)


def x8_runs_test(spark, sf_dir):
    """WALD-WOLFOWITZ runs test on the daily event-count series — the
    RANDOMNESS monitor completing the x8 time-series panel (trend:
    mann_kendall; change-point: cusum; shape: ks_test): too FEW runs of
    above/below-median days means clustering (regime persistence), too
    MANY means oscillation. Days equal to the median are excluded, the
    textbook treatment.

    Exactness: the median never becomes a float — med2 = 2*median is an
    integer (the x8_mwu doubling idiom: odd n takes 2*mid, even n the
    sum of the two middles), so above/below is the INTEGER test
    2*x vs med2; n1, n2 and the run count R are exact integers and the
    z statistic (mean 2*n1*n2/m + 1, the Wald-Wolfowitz variance) is
    one shared float text at the end, guarded for the degenerate
    p2 <= m case.

    Scale shape: one corpus collapse to the bounded day frame; the
    row_number (median) and lag (run boundaries) windows order <= days
    rows — bounded by the calendar, never by the corpus."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.expr(f"unix_micros(cast(ts as timestamp)) div {_DAY_DIV}").alias("day")
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .localCheckpoint(eager=False)  # bounded: observed days
    )
    n = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    ranked = daily.withColumn(
        "rn",
        F.row_number().over(Window.orderBy("x", "day")).cast("bigint"),
    )
    med = (
        ranked.crossJoin(F.broadcast(n))
        .where("rn = (n_days + 1) div 2 OR rn = (n_days + 2) div 2")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("x").alias("s"))
        .selectExpr("CASE WHEN cnt = 1 THEN 2 * s ELSE s END AS med2")
    )
    kept = (
        daily.crossJoin(F.broadcast(med))
        .where("2 * x != med2")
        .selectExpr("day", "CASE WHEN 2 * x > med2 THEN 1 ELSE 0 END AS b")
    )
    flagged = kept.withColumn("pb", F.lag("b").over(Window.orderBy("day")))
    stats = flagged.agg(
        F.expr("CAST(SUM(b) AS BIGINT)").alias("n1"),
        F.expr("CAST(SUM(1 - b) AS BIGINT)").alias("n2"),
        F.expr(
            "CAST(SUM(CASE WHEN pb IS NULL OR pb != b THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("runs"),
    )
    return stats.selectExpr(
        "n1", "n2", "runs", "2 * n1 * n2 AS p2", "n1 + n2 AS m"
    ).selectExpr("n1", "n2", "runs", "p2", "m", f"round({_RUNS_Z}, 6) AS runs_z")


# One-way ANOVA float layer — shared Spark/DuckDB texts over the exact
# integer/decimal pieces (ssq = ordered fold of s_g^2/n_g).
_ANOVA_SSB = (
    "(ssq - (CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE))"
    " / CAST(n_rows AS DOUBLE))"
)
_ANOVA_SSW = "(CAST(q_tot AS DOUBLE) - ssq)"
_ANOVA_F = (
    f"({_ANOVA_SSB} / (CAST(k_groups AS DOUBLE) - CAST(1 AS DOUBLE)))"
    f" / ({_ANOVA_SSW} / (CAST(n_rows AS DOUBLE) - CAST(k_groups AS DOUBLE)))"
)


def x8_anova(spark, sf_dir):
    """One-way ANOVA F test — does mean order value differ across the
    order-priority classes? The k-group generalization completing the
    two-cohort panel (x8_ab_test t-shape, x8_mwu ranks, x8_ks_test
    shape): F = (SSB/(k-1)) / (SSW/(n-k)) via the sum-of-squares
    identities SSB = sum_g s_g^2/n_g - S^2/n, SSW = sum x^2 -
    sum_g s_g^2/n_g.

    Exactness: every input piece is exact — per-group n_g/s_g are
    BIGINT cents sums; sum x^2 accumulates the (exact, 16-digit) BIGINT
    squares into DECIMAL(38,0) (a bigint sum would overflow ~2^63 at
    sf0.1 already); the only float layer is s_g^2/n_g per group, folded
    in group order over the k-row frame (the x12_entropy ordered-fold
    idiom), then the shared SSB/SSW/F texts. s_g < 2^42 so the
    double s_g*s_g product is one correctly-rounded op cross-engine.
    Honest caveat: the ssq - S^2/n subtraction cancels ~4 leading
    digits, so ss_between carries ~1e-13 RELATIVE float noise — still
    deterministic and hash-identical (identical expression text over
    identical exact inputs in both engines), just not exact the way the
    integer pieces are; the unit test pins a 1e-9 relative band.

    Scale shape: ONE map-side-combined groupBy over the corpus down to
    k rows; everything after runs on the k-row frame. No window, no
    second pass."""
    o = load_table(spark, sf_dir, "orders")
    g = (
        o.selectExpr(
            "CAST(o_orderpriority AS STRING) AS grp",
            "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
        )
        .selectExpr("grp", "cents", "cents * cents AS c2")
        .groupBy("grp")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_g"),
            F.expr("CAST(SUM(cents) AS BIGINT)").alias("s_g"),
            F.expr("CAST(SUM(CAST(c2 AS DECIMAL(38,0))) AS DECIMAL(38,0))").alias(
                "q_g"
            ),
        )
    )
    agg = g.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("k_groups"),
        F.expr("CAST(SUM(n_g) AS BIGINT)").alias("n_rows"),
        F.expr("CAST(SUM(s_g) AS BIGINT)").alias("s_tot"),
        F.expr("CAST(SUM(q_g) AS DECIMAL(38,0))").alias("q_tot"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(grp, s_g, n_g))),"
            " CAST(0 AS DOUBLE), (acc, x) -> acc"
            " + (CAST(x.s_g AS DOUBLE) * CAST(x.s_g AS DOUBLE))"
            " / CAST(x.n_g AS DOUBLE))"
        ).alias("ssq"),
    )
    return agg.selectExpr(
        "k_groups",
        "n_rows",
        "s_tot",
        f"round({_ANOVA_SSB}, 4) AS ss_between",
        f"round({_ANOVA_SSW}, 4) AS ss_within",
        f"round({_ANOVA_F}, 6) AS f_stat",
    )


RW_STEPS = 4


def _rw_sig_sql() -> str:
    """Order-free BIGINT signature of a (walk, node) visit — summed per
    step it pins the exact trajectory multiset under the hash gate."""
    from diepy_spark.operators.sketch import hex_int_sql

    return hex_int_sql(
        "md5(concat('rwsig|', CAST(walk AS STRING),"
        " '|', CAST(node AS STRING)))"
    )


@session_cached
def _adj_arr_cached(spark, sf_dir):
    """The CSR adjacency-array artifact over the symmetrized supply
    graph (clustering.adjacency_arrays: dst-ascending neighbor array
    per node) — the adjacency list a graph store persists once, shared
    by both walk-corpus builders (r14). Built off the keyed session
    edge frame, so the groupBy(src) rides the layout with no
    exchange."""
    from diepy_spark.operators.clustering import adjacency_arrays

    return adjacency_arrays(_supply_sym(spark, sf_dir))


@session_cached
def _rw_walks_cached(spark, sf_dir):
    """The deterministic walk corpus (t, walk, node) shared by its two
    declared consumers (x11_random_walks, x11_walk_cooccur) —
    narratively the persisted walk table an embedding pipeline writes
    once and derives every training artifact from (the _lsh_pairs
    pattern). Session-keyed with a lineage cut."""
    from diepy_spark.operators.clustering import random_walks

    return random_walks(
        _supply_sym(spark, sf_dir), steps=RW_STEPS, assume_distinct=True,
        adj=_adj_arr_cached(spark, sf_dir),
    ).localCheckpoint(eager=False)


def x11_random_walks(spark, sf_dir):
    """Deterministic random-walk corpus (operators/clustering.py:
    random_walks — the DeepWalk/node2vec sampling primitive) over the
    symmetrized part↔supplier graph: one walk per node, RW_STEPS steps,
    each step the seeded integer-modular neighbor choice — fully
    reproducible, so the walk CORPUS itself sits under the hash gate:
    per step t the output row carries the walk count, distinct visited
    nodes, and an order-free md5-integer signature summed over the
    exact (walk, node) multiset (any divergent trajectory anywhere
    flips it). The oracle replays the identical picks as RW_STEPS
    unrolled CTE joins (the pagerank/bfs pattern).

    Scale shape: adjacency indexed once (row_number partitioned by src
    — even partitioning), then per step two keyed equi-joins on the
    walk-state frame (degree by node, then (node, picked-idx) into the
    adjacency) — never a walks x neighbors expansion; state width is
    constant in t. The corpus frame is the shared _rw_walks_cached
    artifact (x11_walk_cooccur consumes the same walks)."""
    walks = _rw_walks_cached(spark, sf_dir)
    return (
        walks.groupBy("t")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_walks"),
            F.expr("CAST(count(DISTINCT node) AS BIGINT)").alias(
                "distinct_nodes"
            ),
            F.expr(f"CAST(SUM({_rw_sig_sql()}) AS BIGINT)").alias("visit_sig"),
        )
        .orderBy("t")
    )


N2V_STEPS = 3
N2V_WEIGHTS = (1, 4, 16)  # integer-scaled (1/p, 1, 1/q): p=4, q=1/4


@session_cached
def _n2v_walks_cached(spark, sf_dir):
    """The persisted biased-walk corpus (the _rw_walks_cached pattern):
    the expensive candidate-expansion chain runs once per session, every
    re-derivation reads the checkpoint."""
    from diepy_spark.operators.clustering import node2vec_walks

    wb, wc, wf = N2V_WEIGHTS
    return node2vec_walks(
        _supply_sym(spark, sf_dir), steps=N2V_STEPS, wb=wb, wc=wc, wf=wf,
        assume_distinct=True, adj=_adj_arr_cached(spark, sf_dir),
    ).localCheckpoint(eager=False)


def x11_node2vec(spark, sf_dir):
    """node2vec SECOND-ORDER biased walks (operators/clustering.py:
    node2vec_walks — Grover & Leskovec 2016) over the same graph as
    x11_random_walks: the step distribution depends on the previous
    node (return / common-neighbor / outward classes at integer weights
    N2V_WEIGHTS ~ (1/p, 1, 1/q)), the draw is the deterministic
    integer-modular md5 pick landed in cumulative-weight intervals —
    the actual DFS/BFS-interpolating sampler embedding pipelines run,
    reproducible bit-for-bit. Output adds the per-step bias-class mix
    (the p/q diagnostic: how often walks return vs triangle-close vs
    explore) to the walk-corpus signatures, all under the hash gate;
    the oracle replays every weighted draw with the same shared texts
    as unrolled window-CTE steps.

    Scale shape: per step one adjacency join (the state x out-degree
    candidate expansion — the honest cost of second-order weighting;
    see the operator docstring), one membership LEFT join on
    (prev, x), one per-walk cumulative window (thousands of small
    partitions, no global sort), one interval filter back to one row
    per walk."""
    walks = _n2v_walks_cached(spark, sf_dir)
    return (
        walks.groupBy("t")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_walks"),
            F.expr("CAST(count(DISTINCT node) AS BIGINT)").alias(
                "distinct_nodes"
            ),
            F.expr(
                "CAST(SUM(CASE WHEN cls = 'back' THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_back"),
            F.expr(
                "CAST(SUM(CASE WHEN cls = 'common' THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_common"),
            F.expr(
                "CAST(SUM(CASE WHEN cls = 'forward' THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_forward"),
            F.expr(f"CAST(SUM({_rw_sig_sql()}) AS BIGINT)").alias("visit_sig"),
        )
        .orderBy("t")
    )


WC_WINDOW = 2  # skip-gram context radius over the walk sequence
WC_TOP = 20


@session_cached
def _wc_pairs_cached(spark, sf_dir):
    """The skip-gram (center, context, cnt) pair table over the cached
    walk corpus, shared by x11_walk_cooccur and x11_walk_pmi —
    narratively the co-occurrence matrix an embedding pipeline writes
    once and derives counts and association scores from."""
    walks = _rw_walks_cached(spark, sf_dir)
    a = walks.select("walk", F.col("t").alias("ta"), F.col("node").alias("center"))
    b = walks.select("walk", F.col("t").alias("tb"), F.col("node").alias("context"))
    return (
        a.join(b, "walk")
        .where(f"ta != tb AND abs(ta - tb) <= {WC_WINDOW}")
        .groupBy("center", "context")
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("cnt"))
        .localCheckpoint(eager=False)
    )


def x11_walk_cooccur(spark, sf_dir):
    """SKIP-GRAM co-occurrence counts from the walk corpus — the actual
    word2vec-style training input DeepWalk derives from its walks
    (Perozzi et al. 2014 §4.2): every ordered (center, context) node
    pair within WC_WINDOW positions of the same walk, counted
    corpus-wide. Consumes the shared _rw_walks_cached artifact (the
    same trajectories x11_random_walks hash-pins), so the pair table is
    exactly reproducible and the top-WC_TOP rows sit under the hash
    gate with corpus totals alongside.

    Scale shape: ONE equi-join on walk id — each walk contributes
    (steps+1)^2 candidate rows, a CONSTANT per walk, so the join output
    is linear in walk count, then one map-side-combined pair count.
    Tie-breaks pinned (cnt desc, center, context)."""
    pairs = _wc_pairs_cached(spark, sf_dir)
    tot = pairs.agg(
        F.expr("CAST(SUM(cnt) AS BIGINT)").alias("total_pairs"),
        F.expr("CAST(count(*) AS BIGINT)").alias("distinct_pairs"),
    )
    top = (
        pairs.orderBy(F.col("cnt").desc(), "center", "context")
        .limit(WC_TOP)
    )
    return (
        top.crossJoin(F.broadcast(tot))
        .select("center", "context", "cnt", "total_pairs", "distinct_pairs")
        .orderBy(F.col("cnt").desc(), "center", "context")
    )


PMI_MIN_CNT = 3  # rare-pair floor: PMI of singletons is noise
PMI_TOP = 20

# PMI lift ratio #(w,c)*D / (#(w)*#(c)) — each product of exact BIGINTs
# is < 2^53 so both double operands are EXACT and the single division is
# correctly rounded: the ordering key agrees cross-engine bit-for-bit
# (ln() would not — it's only pinned at round(...,6), the entropy idiom).
_PMI_RATIO = (
    "(CAST(cnt AS DOUBLE) * CAST(dd AS DOUBLE))"
    " / (CAST(cw AS DOUBLE) * CAST(cc AS DOUBLE))"
)


def x11_walk_pmi(spark, sf_dir):
    """POINTWISE MUTUAL INFORMATION over the walk co-occurrence table —
    the association statistic SGNS embeddings implicitly factorize
    (Levy & Goldberg 2014, "Neural Word Embedding as Implicit Matrix
    Factorization"): pmi(w,c) = ln(#(w,c)*D / (#(w)*#(c))), every count
    derived from the shared pair table (#(w) = row sums, #(c) = column
    sums, D = grand total — the standard SGNS marginals). Pairs below
    PMI_MIN_CNT are floored out (singleton PMI is noise), the top
    PMI_TOP associations are ranked by the EXACT-double lift ratio
    (ties then by center, context) and rendered with ln at the shared
    6-decimal band.

    Scale shape: everything re-aggregates the bounded cached pair
    frame — two marginal aggregates, a 1-row total broadcast, two
    marginal joins, one top-k. The corpus is never rescanned."""
    pairs = _wc_pairs_cached(spark, sf_dir)
    cw = pairs.groupBy("center").agg(
        F.expr("CAST(SUM(cnt) AS BIGINT)").alias("cw")
    )
    cc = pairs.groupBy("context").agg(
        F.expr("CAST(SUM(cnt) AS BIGINT)").alias("cc")
    )
    dd = pairs.agg(F.expr("CAST(SUM(cnt) AS BIGINT)").alias("dd"))
    scored = (
        pairs.where(F.col("cnt") >= PMI_MIN_CNT)
        .join(cw, "center")
        .join(cc, "context")
        .crossJoin(F.broadcast(dd))
        .selectExpr(
            "center", "context", "cnt", "cw", "cc",
            f"{_PMI_RATIO} AS lift",
        )
    )
    return (
        scored.orderBy(F.col("lift").desc(), "center", "context")
        .limit(PMI_TOP)
        .selectExpr(
            "center", "context", "cnt", "cw", "cc",
            "round(lift, 6) AS lift",
            "round(ln(lift), 6) AS pmi",
        )
        .orderBy(F.col("lift").desc(), "center", "context")
    )


EXTENDED_QUERIES = {
    "x1_suffix_array": x1_suffix_array,
    "x8_ks_test": x8_ks_test,
    "x11_hyperball": x11_hyperball,
    "x11_hyperball_error": x11_hyperball_error,
    "x8_qte": x8_qte,
    "x11_hits": x11_hits,
    "x8_acf": x8_acf,
    "x8_runs_test": x8_runs_test,
    "x8_anova": x8_anova,
    "x11_random_walks": x11_random_walks,
    "x11_node2vec": x11_node2vec,
    "x11_walk_cooccur": x11_walk_cooccur,
    "x11_walk_pmi": x11_walk_pmi,
    "x8_wasserstein": x8_wasserstein,
    "x1_dedup_exact": x1_dedup_exact,
    "x1_fingerprint": x1_fingerprint,
    "x2_minhash_signatures": x2_minhash_signatures,
    "x2_minhash_lsh_pairs": x2_minhash_lsh_pairs,
    "x2_ngram_jaccard_pairs": x2_ngram_jaccard_pairs,
    "x2_dup_clusters": x2_dup_clusters,
    "x2_cluster_size_dist": x2_cluster_size_dist,
    "x2_dedup_apply": x2_dedup_apply,
    "x2_dedup_best": x2_dedup_best,
    "x1_incremental_dedup": x1_incremental_dedup,
    "x1_bloom_dedup": x1_bloom_dedup,
    "x2_incremental_minhash": x2_incremental_minhash,
    "x12_ref_integrity": x12_ref_integrity,
    "x8_ab_test": x8_ab_test,
    "x8_power_mde": x8_power_mde,
    "x8_cuped": x8_cuped,
    "x8_mwu": x8_mwu,
    "x8_srm": x8_srm,
    "x11_kcore": x11_kcore,
    "x9_rollup_cascade": x9_rollup_cascade,
    "x2_dedup_stats": x2_dedup_stats,
    "x2_simhash": x2_simhash,
    "x2_simhash_pairs": x2_simhash_pairs,
    "x2_embedding_near_dup": x2_embedding_near_dup,
    "x2_embedding_near_dup_lsh": x2_embedding_near_dup_lsh,
    "x3_cosine_topk": x3_cosine_topk,
    "x3_filtered_ann": x3_filtered_ann,
    "x3_mips": x3_mips,
    "x3_ann_topk_lsh": x3_ann_topk_lsh,
    "x3_ivf_topk": x3_ivf_topk,
    "x5_lang_id": x5_lang_id,
    "x5_token_stats": x5_token_stats,
    "x5_quality_score": x5_quality_score,
    "x6_media_meta": x6_media_meta,
    "x6_frame_sample": x6_frame_sample,
    "x6_features": x6_features,
    "x6_resize": x6_resize,
    "x5_winnow": x5_winnow,
    "x5_vocab": x5_vocab,
    "x5_tfidf": x5_tfidf,
    "x3_label_centroids": x3_label_centroids,
    "x8_hash_split": x8_hash_split,
    "x8_hash_sample": x8_hash_sample,
    "x8_weighted_sample": x8_weighted_sample,
    "x8_grouped_linfit": x8_grouped_linfit,
    "x9_merge_upsert": x9_merge_upsert,
    "x9_cdc_apply": x9_cdc_apply,
    "x5_repetition": x5_repetition,
    "x5_pii_redact": x5_pii_redact,
    "x2_contamination": x2_contamination,
    "x2_winnow_pairs": x2_winnow_pairs,
    "x8_hll_distinct": x8_hll_distinct,
    "x5_chunk_pack": x5_chunk_pack,
    "x3_quantize_int8": x3_quantize_int8,
    "x10_clean_corpus": x10_clean_corpus,
    "x10_training_corpus": x10_training_corpus,
    "x10_epoch_plan": x10_epoch_plan,
    "x5_lm_score": x5_lm_score,
    "x2_minhash_est": x2_minhash_est,
    "x1_norm_dedup": x1_norm_dedup,
    "x2_cross_split_contamination": x2_cross_split_contamination,
    "x5_domain_mix": x5_domain_mix,
    "x8_reservoir_sample": x8_reservoir_sample,
    "x5_ngram_profile": x5_ngram_profile,
    "x3_ann_recall": x3_ann_recall,
    "x11_pagerank": x11_pagerank,
    "x8_stratified_sample": x8_stratified_sample,
    "x3_tfidf_cosine_pairs": x3_tfidf_cosine_pairs,
    "x1_span_dedup": x1_span_dedup,
    "x1_span_dedup_sorted": x1_span_dedup_sorted,
    "x1_cms_span_dedup": x1_cms_span_dedup,
    "x5_lang_classify": x5_lang_classify,
    "x5_lang_confusion": x5_lang_confusion,
    "x1_span_strip": x1_span_strip,
    "x5_shard_pack": x5_shard_pack,
    "x8_bloom_semijoin": x8_bloom_semijoin,
    "x9_snapshot_diff": x9_snapshot_diff,
    "x11_triangle_count": x11_triangle_count,
    "x11_neighbor_jaccard": x11_neighbor_jaccard,
    "x2_fuzzy_join": x2_fuzzy_join,
    "x12_dq_profile": x12_dq_profile,
    "x8_cms_heavy_hitters": x8_cms_heavy_hitters,
    "x9_incremental_agg": x9_incremental_agg,
    "x3_knn_classify": x3_knn_classify,
    "x9_scd2": x9_scd2,
    "x12_skew_diag": x12_skew_diag,
    "x12_salted_join": x12_salted_join,
    "x12_key_discovery": x12_key_discovery,
    "x12_seasonality": x12_seasonality,
    "x12_entropy": x12_entropy,
    "x12_mutual_info": x12_mutual_info,
    "x12_volume_anomaly": x12_volume_anomaly,
    "x5_ngram_novelty": x5_ngram_novelty,
    "x5_zipf": x5_zipf,
    "x12_correlation": x12_correlation,
    "x1_cdc_chunks": x1_cdc_chunks,
    "x1_chunk_dedup_ratio": x1_chunk_dedup_ratio,
    "x5_bpe_pairs": x5_bpe_pairs,
    "x5_bpe_train": x5_bpe_train,
    "x5_bpe_apply": x5_bpe_apply,
    "x8_cms_join_size": x8_cms_join_size,
    "x12_drift": x12_drift,
    "x12_gaps": x12_gaps,
    "x12_outliers": x12_outliers,
    "x5_gopher": x5_gopher,
    "x11_label_prop": x11_label_prop,
    "x11_modularity": x11_modularity,
    "x3_cluster_purity": x3_cluster_purity,
    "x11_ppr": x11_ppr,
    "x3_kmeans_stability": x3_kmeans_stability,
    "x2_lsh_bucket_health": x2_lsh_bucket_health,
    "x8_did": x8_did,
    "x8_mann_kendall": x8_mann_kendall,
    "x8_jackknife": x8_jackknife,
    "x9_takedown": x9_takedown,
    "x5_readability": x5_readability,
    "x3_range_query": x3_range_query,
    "x10_dataset_card": x10_dataset_card,
    "x8_cusum": x8_cusum,
    "x8_sprt": x8_sprt,
    "x12_freshness": x12_freshness,
    "x12_fd_discovery": x12_fd_discovery,
    "x12_dup_keys": x12_dup_keys,
    "x3_pq_adc": x3_pq_adc,
    "x3_ivfpq": x3_ivfpq,
    "x8_temperature_mix": x8_temperature_mix,
    "x8_bootstrap_ci": x8_bootstrap_ci,
    "x3_kmeans": x3_kmeans,
    "x2_semdedup": x2_semdedup,
    "x2_semdedup_probe": x2_semdedup_probe,
    "x11_bfs": x11_bfs,
    "x5_ppl_buckets": x5_ppl_buckets,
    "x5_hash_embed": x5_hash_embed,
    "x9_scd2_lookup": x9_scd2_lookup,
    "x11_assortativity": x11_assortativity,
    "x8_perm_test": x8_perm_test,
    "x8_fdr_bh": x8_fdr_bh,
    "x8_delta_method": x8_delta_method,
    "x8_tost": x8_tost,
    "x12_psi": x12_psi,
    "x3_embedding_drift": x3_embedding_drift,
    "x2_cross_source_pairs": x2_cross_source_pairs,
    "x3_pq_distortion": x3_pq_distortion,
    "x2_dedup_savings": x2_dedup_savings,
    "x10_pipeline_funnel": x10_pipeline_funnel,
    "x6_media_pack": x6_media_pack,
    "x5_regex_tokens": x5_regex_tokens,
    "x9_retention_plan": x9_retention_plan,
    "x11_cc_twophase": x11_cc_twophase,
    "x11_degree_dist": x11_degree_dist,
    "x12_gini": x12_gini,
    "x6_frame_dedup": x6_frame_dedup,
    "x2_semdedup_sweep": x2_semdedup_sweep,
    "x10_mix_rebalance": x10_mix_rebalance,
    "x3_rq_distortion": x3_rq_distortion,
    "x3_rq_adc": x3_rq_adc,
    "x3_pq_vs_rq_recall": x3_pq_vs_rq_recall,
    "x3_pq_trained_distortion": x3_pq_trained_distortion,
    "x2_semdedup_apply": x2_semdedup_apply,
    "x8_trimmed_mean": x8_trimmed_mean,
    "x12_benford": x12_benford,
    "x3_ivf_trained": x3_ivf_trained,
    "x8_weighted_topk": x8_weighted_topk,
    "x2_containment_pairs": x2_containment_pairs,
    "x8_kmv_overlap": x8_kmv_overlap,
    "x6_media_dedup": x6_media_dedup,
    "x2_lsh_curve": x2_lsh_curve,
}


# ---------------------------------------------------------------------------
# DuckDB oracles (generated from the same constants)
# ---------------------------------------------------------------------------

_TOKS_EXPR = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

# (doc_id, shingle) pairs: word 2-grams, DISTINCT per doc — identical
# semantics to operators.dedup.shingles_col. Parameterized over the source
# relation so composed pipelines (x10_clean_corpus) can run the same graph
# over a FILTERED corpus CTE.
def _sh_ctes(table: str = "documents") -> str:
    return f"""
toks AS (
  SELECT doc_id AS d, t.tok, t.i FROM {table},
  LATERAL (SELECT unnest({_TOKS_EXPR}) AS tok,
                  generate_subscripts({_TOKS_EXPR}, 1) AS i) t
),
sh AS (
  SELECT DISTINCT d, tok || ' ' || lead(tok) OVER (PARTITION BY d ORDER BY i) AS s
  FROM toks QUALIFY s IS NOT NULL
)
"""


_SH_CTES = _sh_ctes()


def _jaccard_ctes(table: str = "documents") -> str:
    return f"""
{_sh_ctes(table)},
kept AS (
  SELECT sh.d, sh.s FROM sh
  JOIN (SELECT s FROM sh GROUP BY s HAVING count(*) <= {JACCARD_MAX_DF}) k USING (s)
),
sizes AS (SELECT d, count(*) AS n FROM kept GROUP BY d),
common AS (
  SELECT a.d AS da, b.d AS db, count(*) AS c
  FROM kept a JOIN kept b ON a.s = b.s AND a.d < b.d GROUP BY 1, 2
),
jacs AS (
  SELECT da, db, c / (sa.n + sb.n - c) AS jac
  FROM common JOIN sizes sa ON sa.d = da JOIN sizes sb ON sb.d = db
)
"""


_JACCARD_CTES = _jaccard_ctes()


def _minhash_cols(num_hashes: int) -> str:
    return ", ".join(
        f"min(md5('{h}|' || s)) AS mh{h}" for h in range(num_hashes)
    )


def _bands_union(src: str) -> str:
    """The LSH band keys (d, band, sig) of the signature relation ``src``."""
    parts = []
    for b in range(LSH_NUM_HASHES // LSH_BAND_SIZE):
        cols = " || '#' || ".join(
            f"mh{b * LSH_BAND_SIZE + j}" for j in range(LSH_BAND_SIZE)
        )
        parts.append(f"SELECT d, {b} AS band, {cols} AS sig FROM {src}")
    return " UNION ALL ".join(parts)


# The MinHash-LSH oracle chain: sig = per-doc signature over _SH_CTES'
# shingles, bands = its band keys, cand = doc pairs sharing a band key,
# p = candidates whose exact Jaccard (_JACCARD_CTES) reaches LSH_THRESHOLD.
_SIG_CTE = f"sig AS (SELECT d, {_minhash_cols(LSH_NUM_HASHES)} FROM sh GROUP BY d)"
_SIG_BANDS_CTES = f"""{_SIG_CTE},
    bands AS ({_bands_union('sig')})"""
_LSH_CAND_CTES = f"""{_JACCARD_CTES},
    {_SIG_BANDS_CTES},
    cand AS (
      SELECT DISTINCT x.d AS da, y.d AS db
      FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.d < y.d
    )"""
_LSH_PAIRS_CTES = f"""{_LSH_CAND_CTES},
    p AS (
      SELECT c.da, c.db, j.jac FROM cand c JOIN jacs j ON j.da = c.da AND j.db = c.db
      WHERE j.jac >= {LSH_THRESHOLD}
    )"""
# x2_minhash_lsh_pairs' rows, unordered: x2_cross_source_pairs and
# x2_dedup_savings read them as a derived table.
_LSH_PAIRS_SQL = f"WITH {_LSH_PAIRS_CTES} SELECT * FROM p"


def _lang_hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_PROFILES[lang])
    return (
        f"CAST(coalesce(list_sum(list_transform({_TOKS_EXPR}, "
        f"t -> CASE WHEN t IN ({words}) THEN 1 ELSE 0 END)), 0) AS INT)"
    )


def _lang_pred_sql() -> str:
    langs = list(LANG_PROFILES)
    whens = []
    for i, lang in enumerate(langs):
        conds = [f"hits_{lang} > 0"]
        for j, other in enumerate(langs):
            if other == lang:
                continue
            op = ">=" if j > i else ">"
            conds.append(f"hits_{lang} {op} hits_{other}")
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(whens) + " ELSE 'und' END"


def _simhash_sql(doc_filter: str = "", order: bool = True) -> str:
    nib = "strpos('0123456789abcdef', substr(h, {p}, 1)) - 1"
    val_cols = []
    for c in range(4):
        s = 1 + 4 * c
        val_cols.append(
            f"(({nib.format(p=s)}) * 4096 + ({nib.format(p=s+1)}) * 256 + "
            f"({nib.format(p=s+2)}) * 16 + ({nib.format(p=s+3)})) AS v{c}"
        )
    bit_cols = [
        f"SUM(CASE WHEN (v{c} >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{c}_{j}"
        for c in range(4)
        for j in range(16)
    ]
    sh_cols = []
    for c in range(4):
        terms = " + ".join(
            f"(CASE WHEN b{c}_{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16)
        )
        sh_cols.append(f"CAST({terms} AS INT) AS sh{c}")
    src = f"(SELECT * FROM documents {doc_filter}) docs" if doc_filter else "documents"
    # mirror of dedup.SIMHASH_MAX_TOKENS: oversized docs are excluded, not
    # signed with overflowed lanes
    return f"""
        WITH tok AS (
          SELECT doc_id AS d, md5(t.tok) AS h
          FROM (SELECT * FROM {src} WHERE len({_TOKS_EXPR}) <= 65535) bounded,
          LATERAL (SELECT unnest({_TOKS_EXPR}) AS tok) t
        ),
        vals AS (SELECT d, {', '.join(val_cols)} FROM tok),
        bits AS (SELECT d, {', '.join(bit_cols)} FROM vals GROUP BY d)
        SELECT d, {', '.join(sh_cols)} FROM bits {"ORDER BY d" if order else ""}
    """


_COS_CTE = """
u AS (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i
      FROM embeddings)
"""

_COS_CTE_BOUNDED = f"""
u AS (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i
      FROM embeddings WHERE vec_id < {NEAR_DUP_MAX})
"""

_QUALITY_EN = ", ".join(f"'{w}'" for w in LANG_PROFILES["en"])

EXTENDED_ORACLES: dict[str, str] = {
    "x1_dedup_exact": """
        SELECT min(doc_id) AS keep_id, count(*) AS dup_count
        FROM documents GROUP BY md5(text) ORDER BY keep_id
    """,
    "x1_fingerprint": f"""
        SELECT doc_id, md5(array_to_string({_TOKS_EXPR}, ' ')) AS fp
        FROM documents WHERE doc_id < {FP_DOC_MAX} ORDER BY doc_id
    """,
    "x2_minhash_signatures": f"""
        WITH {_SH_CTES}
        SELECT d, {_minhash_cols(SIG_NUM_HASHES)} FROM sh GROUP BY d ORDER BY d
    """,
    "x2_minhash_lsh_pairs": f"{_LSH_PAIRS_SQL} ORDER BY da, db",
    "x2_ngram_jaccard_pairs": f"""
        WITH {_JACCARD_CTES}
        SELECT da, db, jac FROM jacs WHERE jac >= {JACCARD_THRESHOLD} ORDER BY da, db
    """,
    "x2_simhash": _simhash_sql(),
    "x2_simhash_pairs": f"""
        WITH sigs AS ({_simhash_sql(f'WHERE doc_id < {MEDIA_DOC_MAX}', order=False)})
        SELECT DISTINCT x.d AS da, y.d AS db FROM sigs x JOIN sigs y
        ON x.d < y.d AND (x.sh0 = y.sh0 OR x.sh1 = y.sh1 OR x.sh2 = y.sh2 OR x.sh3 = y.sh3)
        ORDER BY da, db
    """,
    "x2_embedding_near_dup": f"""
        WITH {_COS_CTE_BOUNDED}
        SELECT a.vec_id AS va, b.vec_id AS vb,
               ROUND(SUM(a.x*b.x)/(SQRT(SUM(a.x*a.x))*SQRT(SUM(b.x*b.x))), 4) AS cos
        FROM u a JOIN u b ON a.i = b.i AND a.vec_id < b.vec_id
        GROUP BY 1, 2 HAVING ROUND(SUM(a.x*b.x)/(SQRT(SUM(a.x*a.x))*SQRT(SUM(b.x*b.x))), 4) >= {NEAR_DUP_COS}
        ORDER BY va, vb
    """,
    "x3_cosine_topk": f"""
        WITH {_COS_CTE},
        scored AS (
          SELECT q.vec_id AS qid, c.vec_id AS cid,
                 ROUND(SUM(q.x*c.x)/(SQRT(SUM(q.x*q.x))*SQRT(SUM(c.x*c.x))), 4) AS cos
          FROM u q JOIN u c ON q.i = c.i
          WHERE q.vec_id < {TOPK_QUERY_MAX} AND c.vec_id >= {TOPK_QUERY_MAX}
          GROUP BY 1, 2
        )
        SELECT qid, cid, cos, CAST(rk AS INT) AS rk FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
          FROM scored) WHERE rk <= {TOPK_K}
        ORDER BY qid, rk
    """,
    "x3_filtered_ann": f"""
        WITH {_COS_CTE},
        lab AS (SELECT vec_id, label FROM embeddings),
        scored AS (
          SELECT q.vec_id AS qid, lq.label AS ql, c.vec_id AS cid,
                 lc.label AS cl,
                 ROUND(SUM(q.x*c.x)/(SQRT(SUM(q.x*q.x))*SQRT(SUM(c.x*c.x))), 4) AS cos
          FROM u q JOIN u c ON q.i = c.i
          JOIN lab lq ON lq.vec_id = q.vec_id
          JOIN lab lc ON lc.vec_id = c.vec_id
          WHERE q.vec_id < {TOPK_QUERY_MAX} AND c.vec_id >= {TOPK_QUERY_MAX}
                AND lq.label != lc.label
          GROUP BY 1, 2, 3, 4
        )
        SELECT qid, ql, cid, cl, cos, CAST(rk AS INT) AS rk FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
          FROM scored) WHERE rk <= {TOPK_K}
        ORDER BY qid, rk
    """,
    "x3_ivf_topk": f"""
        WITH {_COS_CTE},
        cc AS (
          SELECT a.vec_id AS vid, b.vec_id AS cell,
                 ROUND(SUM(a.x*b.x)/(SQRT(SUM(a.x*a.x))*SQRT(SUM(b.x*b.x))), 4) AS ccos
          FROM u a JOIN u b ON a.i = b.i
          WHERE b.vec_id < {IVF_CENTROID_MAX} AND a.vec_id >= {IVF_CENTROID_MAX}
          GROUP BY 1, 2
        ),
        assign AS (
          SELECT vid, cell FROM (
            SELECT vid, cell,
                   ROW_NUMBER() OVER (PARTITION BY vid ORDER BY ccos DESC, cell) AS rn
            FROM cc) WHERE rn = 1
        ),
        scored AS (
          SELECT q.vec_id AS qid, c.vec_id AS cid,
                 ROUND(SUM(q.x*c.x)/(SQRT(SUM(q.x*q.x))*SQRT(SUM(c.x*c.x))), 4) AS cos
          FROM u q JOIN u c ON q.i = c.i
          JOIN assign aq ON aq.vid = q.vec_id
          JOIN assign ac ON ac.vid = c.vec_id AND ac.cell = aq.cell
          WHERE q.vec_id >= {IVF_CENTROID_MAX}
            AND q.vec_id < {IVF_CENTROID_MAX + TOPK_QUERY_MAX}
            AND c.vec_id >= {IVF_CENTROID_MAX + TOPK_QUERY_MAX}
          GROUP BY 1, 2
        )
        SELECT qid, cid, cos, CAST(rk AS INT) AS rk FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
          FROM scored) WHERE rk <= {TOPK_K}
        ORDER BY qid, rk
    """,
    "x5_lang_id": f"""
        WITH hits AS (
          SELECT doc_id,
                 {', '.join(f'{_lang_hits_sql(lang)} AS hits_{lang}' for lang in LANG_PROFILES)}
          FROM documents
        )
        SELECT doc_id, {_lang_pred_sql()} AS pred_lang,
               {', '.join(f'hits_{lang}' for lang in LANG_PROFILES)}
        FROM hits ORDER BY doc_id
    """,
    "x5_token_stats": f"""
        SELECT doc_id,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS ws_tokens,
               CAST(len({_TOKS_EXPR}) AS INT) AS word_tokens,
               CAST(len(list_distinct({_TOKS_EXPR})) AS INT) AS distinct_tokens,
               CAST(length(text) AS INT) AS chars
        FROM documents ORDER BY doc_id
    """,
    "x5_quality_score": f"""
        WITH f AS (
          SELECT doc_id,
                 CAST(len({_TOKS_EXPR}) AS INT) AS n_tokens,
                 CAST(len(list_distinct({_TOKS_EXPR})) AS INT) AS n_distinct,
                 CAST(coalesce(list_sum(list_transform({_TOKS_EXPR},
                      t -> CASE WHEN t IN ({_QUALITY_EN}) THEN 1 ELSE 0 END)), 0) AS INT) AS n_stop,
                 CAST(coalesce(list_sum(list_transform({_TOKS_EXPR},
                      t -> length(t))), 0) AS INT) AS sum_len,
                 length(text) AS n_chars
          FROM documents
        )
        SELECT doc_id, n_tokens,
               n_distinct / n_tokens AS ttr,
               n_stop / n_tokens AS stop_ratio,
               sum_len / n_tokens AS mean_tok_len,
               0.3 * least(n_chars / 500.0, 1.0)
                   + 0.3 * (n_distinct / n_tokens)
                   + 0.2 * least((n_stop / n_tokens) * 5, 1.0)
                   + 0.2 * least((sum_len / n_tokens) / 8, 1.0) AS score
        FROM f WHERE n_tokens > 0 ORDER BY doc_id
    """,
    "x6_media_meta": f"""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS INT) AS byte_len,
               CAST(ascii(substr(text, 1, 1)) AS INT) AS first_byte,
               lower(hex(encode(substr(text, 1, 4)))) AS magic,
               CAST(ascii(substr(text, 1, 1)) % 256 AS INT) AS width,
               CAST(octet_length(encode(text)) % 256 AS INT) AS height
        FROM documents WHERE doc_id < {MEDIA_DOC_MAX} ORDER BY doc_id
    """,
    # Payloads are the UTF-8 bytes of pure-ASCII text (verified: no doc has
    # octet_length != length), so char-position substr == byte slicing.
    "x6_frame_sample": f"""
        SELECT doc_id, CAST(f.i AS INT) AS frame_idx,
               md5(substr(text, CAST(f.i * 256 + 1 AS BIGINT), 256)) AS frame_md5,
               CAST(octet_length(encode(substr(text, CAST(f.i * 256 + 1 AS BIGINT), 256))) AS INT) AS frame_len
        FROM documents,
        LATERAL (SELECT unnest(list_filter(
                   range(0, CAST(ceil(length(text) / 256.0) AS BIGINT)),
                   b -> b % 4 = 0)) AS i) f
        WHERE doc_id < {MEDIA_DOC_MAX} AND length(text) > 0
        ORDER BY doc_id, frame_idx
    """,
    "x6_features": f"""
        WITH hist AS (
          SELECT doc_id, substr(text, g.i, 1) AS ch, COUNT(*) AS c
          FROM documents,
          LATERAL (SELECT unnest(generate_series(1, length(text))) AS i) g
          WHERE doc_id < {MEDIA_DOC_MAX}
          GROUP BY 1, 2
        ),
        tot AS (SELECT doc_id, SUM(c) AS n FROM hist GROUP BY 1),
        agg AS (
          SELECT h.doc_id, CAST(t.n AS INT) AS n_bytes,
                 SUM(ascii(h.ch) * h.c) / t.n AS mean_byte,
                 CAST(COUNT(*) AS INT) AS distinct_bytes,
                 -SUM((h.c * 1.0 / t.n) * log2(h.c * 1.0 / t.n)) AS entropy
          FROM hist h JOIN tot t USING (doc_id) GROUP BY h.doc_id, t.n
        )
        SELECT doc_id, n_bytes, ROUND(mean_byte, 4) AS mean_byte,
               distinct_bytes, ROUND(entropy, 4) AS entropy
        FROM agg ORDER BY doc_id
    """,
    "x6_resize": f"""
        SELECT doc_id, CAST(64 AS INT) AS width, CAST(64 AS INT) AS height,
               md5(text || '|64x64') AS resized_md5
        FROM documents WHERE doc_id < {MEDIA_DOC_MAX} ORDER BY doc_id
    """,
}


# Transitive closure of the near-dup pair graph via recursive CTE; cluster
# label = min reachable node (same unique fixpoint the Spark iteration
# converges to). Closure is quadratic per component — fine for an oracle
# (dedup clusters are tiny); the Spark side stays linear per round.
EXTENDED_ORACLES["x2_dup_clusters"] = f"""
    WITH RECURSIVE {_JACCARD_CTES},
    e AS (SELECT da, db FROM jacs WHERE jac >= {JACCARD_THRESHOLD}),
    u AS (SELECT da AS n, db AS m FROM e UNION SELECT db, da FROM e),
    reach AS (
      SELECT n, m FROM u
      UNION
      SELECT r.n, u2.m FROM reach r JOIN u u2 ON r.m = u2.n
    ),
    comp AS (SELECT n AS node, least(n, MIN(m)) AS cluster FROM reach GROUP BY n)
    SELECT node, cluster, CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_size
    FROM comp ORDER BY node
"""

# Shared closure CTE body for the dedup-consumer oracles: same pair graph,
# same min-reachable-node labels as x2_dup_clusters. Parameterized over the
# source relation for composed pipelines.
def _closure_ctes(table: str = "documents") -> str:
    return f"""
    {_jaccard_ctes(table)},
    e AS (SELECT da, db FROM jacs WHERE jac >= {JACCARD_THRESHOLD}),
    und AS (SELECT da AS n, db AS m FROM e UNION SELECT db, da FROM e),
    reach AS (
      SELECT n, m FROM und
      UNION
      SELECT r.n, u2.m FROM reach r JOIN und u2 ON r.m = u2.n
    ),
    comp AS (SELECT n AS node, least(n, MIN(m)) AS cluster FROM reach GROUP BY n)
"""


_CLOSURE_CTES = _closure_ctes()

EXTENDED_ORACLES["x2_dedup_apply"] = f"""
    WITH RECURSIVE {_CLOSURE_CTES}
    SELECT d.doc_id, d.lang, d.n_chars, c.cluster
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    WHERE c.cluster IS NULL OR d.doc_id = c.cluster
    ORDER BY d.doc_id
"""

EXTENDED_ORACLES["x1_incremental_dedup"] = f"""
    WITH b AS (SELECT doc_id, md5(text) AS fp FROM documents
               WHERE doc_id % {INC_DEDUP_MOD} = 0),
    i AS (SELECT DISTINCT md5(text) AS fp FROM documents
          WHERE doc_id % {INC_DEDUP_MOD} <> 0)
    SELECT b.doc_id,
           CASE WHEN i.fp IS NOT NULL THEN 1 ELSE 0 END AS dup_of_index,
           CASE WHEN ROW_NUMBER() OVER (PARTITION BY b.fp ORDER BY b.doc_id) > 1
                THEN 1 ELSE 0 END AS dup_in_batch
    FROM b LEFT JOIN i USING (fp) ORDER BY b.doc_id
"""

EXTENDED_ORACLES["x2_dedup_best"] = f"""
    WITH RECURSIVE {_CLOSURE_CTES},
    best AS (
      SELECT c.cluster, d.doc_id,
             ROW_NUMBER() OVER (PARTITION BY c.cluster
                                ORDER BY d.n_chars DESC, d.doc_id) AS rn
      FROM comp c JOIN documents d ON d.doc_id = c.node
    )
    SELECT d.doc_id, d.lang, d.n_chars, c.cluster
    FROM documents d
    LEFT JOIN comp c ON c.node = d.doc_id
    LEFT JOIN best b ON b.doc_id = d.doc_id
    WHERE c.cluster IS NULL OR b.rn = 1
    ORDER BY d.doc_id
"""

EXTENDED_ORACLES["x2_dedup_stats"] = f"""
    WITH RECURSIVE {_CLOSURE_CTES},
    drops AS (
      SELECT CAST(count(*) AS BIGINT) AS dups_removed
      FROM comp WHERE node <> cluster
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS docs_in FROM documents)
    SELECT docs_in, docs_in - dups_removed AS docs_out, dups_removed,
           ROUND(CAST(dups_removed AS DOUBLE) / docs_in, 4) AS dup_ratio
    FROM tot, drops
"""

# winnowing fingerprint set (d, h, i) — shared by the x5_winnow summary
# oracle and the x2_winnow_pairs detection oracle
_WINNOW_FP_CTES = f"""
    toks AS (
      SELECT doc_id AS d, {_TOKS_EXPR} AS toks FROM documents
      WHERE doc_id < {FP_DOC_MAX} AND len({_TOKS_EXPR}) >= {WINNOW_K}
    ),
    gl AS (
      SELECT d, list_transform(generate_series(1, len(toks)-{WINNOW_K}+1),
               j -> array_to_string(list_slice(toks, j, j+{WINNOW_K}-1), ' ')) AS gs
      FROM toks
    ),
    grams AS (
      SELECT d, len(gs) AS ng, t.i, md5(t.g) AS h FROM gl,
      LATERAL (SELECT unnest(gs) AS g, generate_subscripts(gs, 1) AS i) t
    ),
    wins AS (
      SELECT d, i, h, u.win FROM grams,
      LATERAL (SELECT unnest(generate_series(greatest(1, i-{WINNOW_W}+1),
                 least(i, greatest(ng-{WINNOW_W}+1, 1)))) AS win) u
    ),
    sel AS (
      SELECT d, win, h, i,
             ROW_NUMBER() OVER (PARTITION BY d, win ORDER BY h, i DESC) AS rn
      FROM wins
    ),
    fp AS (SELECT DISTINCT d, h, i FROM sel WHERE rn = 1)
"""

EXTENDED_ORACLES["x5_winnow"] = f"""
    WITH {_WINNOW_FP_CTES}
    SELECT d AS doc_id, COUNT(*) AS n_fp,
           md5(array_to_string(list_sort(list(h || ':' || CAST(i AS VARCHAR))), '|')) AS fp_sig
    FROM fp GROUP BY d ORDER BY doc_id
"""

EXTENDED_ORACLES["x2_winnow_pairs"] = f"""
    WITH {_WINNOW_FP_CTES},
    dfp AS (SELECT DISTINCT d, h FROM fp)
    SELECT a.d AS da, b.d AS db, COUNT(*) AS n_shared_fp
    FROM dfp a JOIN dfp b ON a.h = b.h AND a.d < b.d
    GROUP BY 1, 2 HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
    ORDER BY da, db
"""


def _sample_frac_sql(seed: str) -> str:
    """Same hash→fraction pipeline as operators.sampling.hash_frac, DuckDB
    spelling (VARCHAR cast); the nibble arithmetic is shared verbatim."""
    from diepy_spark.operators.sketch import hex_frac_sql

    return hex_frac_sql(f"md5(concat('{seed}:', CAST(doc_id AS VARCHAR)))")


# Split thresholds must be the SAME accumulated floats the Spark operator
# compares against (0.8 + 0.1 != 0.9 in IEEE754 — repr() keeps the exact
# value in the SQL text).
_SPLIT_CASE = (
    f"CASE WHEN {_sample_frac_sql('')} < {0.8!r} THEN 'train' "
    f"WHEN {_sample_frac_sql('')} < {0.8 + 0.1!r} THEN 'valid' "
    f"ELSE 'test' END"
)

EXTENDED_ORACLES["x8_hash_split"] = f"""
    WITH s AS (SELECT lang, n_chars, {_SPLIT_CASE} AS split FROM documents)
    SELECT split, lang, COUNT(*) AS c, CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM s GROUP BY 1, 2 ORDER BY split, lang
"""

EXTENDED_ORACLES["x8_hash_sample"] = f"""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE {_sample_frac_sql('bench')} < 0.1 ORDER BY doc_id
"""


EXTENDED_ORACLES["x5_vocab"] = f"""
    WITH tk AS (
      SELECT doc_id AS d, t.tok FROM documents,
      LATERAL (SELECT unnest({_TOKS_EXPR}) AS tok) t
    )
    SELECT tok, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT d) AS BIGINT) AS doc_freq
    FROM tk GROUP BY tok
    ORDER BY n DESC, tok LIMIT {VOCAB_TOP}
"""

# tf-idf: divisions and ln in the same order as the Spark plan
# (cnt/tot -> double, ln(n_docs/doc_freq) -> double, product, round).
EXTENDED_ORACLES["x5_tfidf"] = f"""
    WITH tk AS (
      SELECT doc_id AS d, t.tok FROM documents,
      LATERAL (SELECT unnest({_TOKS_EXPR}) AS tok) t
    ),
    tf AS (SELECT d, tok, CAST(count(*) AS BIGINT) AS cnt FROM tk GROUP BY 1, 2),
    tf2 AS (SELECT *, SUM(cnt) OVER (PARTITION BY d) AS tot FROM tf),
    dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS doc_freq FROM tf GROUP BY tok),
    nd AS (SELECT CAST(count(DISTINCT d) AS BIGINT) AS n_docs FROM tf),
    scored AS (
      SELECT d, tf2.tok,
             ROUND((CAST(cnt AS DOUBLE) / tot) * ln(CAST(n_docs AS DOUBLE) / doc_freq), 4) AS score
      FROM tf2 JOIN dfq ON dfq.tok = tf2.tok, nd
    )
    SELECT d AS doc_id, tok, score, CAST(rk AS INT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY d ORDER BY score DESC, tok) AS rk
      FROM scored) WHERE rk <= {TFIDF_K}
    ORDER BY doc_id, rk
"""

EXTENDED_ORACLES["x3_label_centroids"] = """
    SELECT label, CAST(u.i - 1 AS INT) AS i,
           ROUND(AVG(CAST(u.x AS DOUBLE)), 4) + 0.0 AS centroid_val,
           CAST(count(*) AS BIGINT) AS n
    FROM embeddings,
    LATERAL (SELECT unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i) u
    GROUP BY label, u.i ORDER BY label, i
"""

EXTENDED_ORACLES["x8_weighted_sample"] = f"""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE {_sample_frac_sql('wbench')} < n_chars / CAST({WEIGHTED_SCALE!r} AS DOUBLE)
    ORDER BY doc_id
"""

# Same closed-form normal equations as the pandas UDF: exact integer sums
# (DuckDB HUGEINT / python int), ONE double division at the end.
EXTENDED_ORACLES["x8_grouped_linfit"] = f"""
    WITH f AS (
      SELECT lang, CAST(len({_TOKS_EXPR}) AS BIGINT) AS x,
             CAST(n_chars AS BIGINT) AS y
      FROM documents
    ),
    s AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy, SUM(x*x) AS sxx
      FROM f GROUP BY lang
    )
    SELECT lang, n,
           ROUND(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS slope,
           ROUND((sy - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)) * sx) / n, 6)
             AS intercept
    FROM s ORDER BY lang
"""

EXTENDED_ORACLES["x9_merge_upsert"] = """
    WITH upd AS (
      SELECT o_orderkey, o_totalprice + 1000.0 AS price
      FROM orders WHERE o_orderkey % 97 = 0
      UNION ALL
      SELECT o_orderkey + 10000000 AS o_orderkey, o_totalprice AS price
      FROM orders WHERE o_orderkey % 31 = 0
    )
    SELECT o_orderkey, price FROM (
      SELECT o_orderkey, o_totalprice AS price FROM orders
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      UNION ALL
      SELECT o_orderkey, price FROM upd
    ) ORDER BY o_orderkey
"""


# Hyperplane-LSH oracles: bucket ids rebuilt with similarity.bucket_sql —
# same md5-derived plane constants, explicit left-associative double sum
# matching Spark's aggregate() fold — so the blocking condition (equal
# bucket) is bit-aligned across engines, and the cosine re-uses the
# proven unnest-join form from x2_embedding_near_dup.
EXTENDED_ORACLES["x2_embedding_near_dup_lsh"] = f"""
    WITH b AS (
      SELECT vec_id, {S.bucket_sql('embedding', EMB_DIM, NEAR_DUP_NUM_PLANES)} AS bucket
      FROM embeddings
    ),
    {_COS_CTE}
    SELECT a.vec_id AS va, c.vec_id AS vb,
           ROUND(SUM(a.x*c.x)/(SQRT(SUM(a.x*a.x))*SQRT(SUM(c.x*c.x))), 4) AS cos
    FROM u a JOIN u c ON a.i = c.i AND a.vec_id < c.vec_id
    JOIN b ba ON ba.vec_id = a.vec_id
    JOIN b bc ON bc.vec_id = c.vec_id AND bc.bucket = ba.bucket
    GROUP BY 1, 2
    HAVING ROUND(SUM(a.x*c.x)/(SQRT(SUM(a.x*a.x))*SQRT(SUM(c.x*c.x))), 4) >= {NEAR_DUP_COS}
    ORDER BY va, vb
"""

EXTENDED_ORACLES["x3_ann_topk_lsh"] = f"""
    WITH b AS (
      SELECT vec_id, {S.bucket_sql('embedding', EMB_DIM, ANN_NUM_PLANES)} AS bucket
      FROM embeddings
    ),
    {_COS_CTE},
    scored AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             ROUND(SUM(q.x*c.x)/(SQRT(SUM(q.x*q.x))*SQRT(SUM(c.x*c.x))), 4) AS cos
      FROM u q JOIN u c ON q.i = c.i
      JOIN b bq ON bq.vec_id = q.vec_id
      JOIN b bc ON bc.vec_id = c.vec_id AND bc.bucket = bq.bucket
      WHERE q.vec_id < {TOPK_QUERY_MAX} AND c.vec_id >= {TOPK_QUERY_MAX}
      GROUP BY 1, 2
    )
    SELECT qid, cid, cos, CAST(rk AS INT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
      FROM scored) WHERE rk <= {TOPK_K}
    ORDER BY qid, rk
"""


EXTENDED_ORACLES["x5_repetition"] = f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_EXPR} AS toks FROM documents
      WHERE len({_TOKS_EXPR}) >= 3
    ),
    g AS (
      SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
             list_transform(generate_series(1, len(toks)-1),
               j -> toks[j] || ' ' || toks[j+1]) AS g2,
             list_transform(generate_series(1, len(toks)-2),
               j -> array_to_string(list_slice(toks, j, j+2), ' ')) AS g3
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(len(g2) AS INT) AS n_grams2,
           (len(g2) - len(list_distinct(g2))) / len(g2) AS dup_frac2,
           CAST(len(g3) AS INT) AS n_grams3,
           (len(g3) - len(list_distinct(g3))) / len(g3) AS dup_frac3
    FROM g ORDER BY doc_id
"""

_PII_ORACLE_TEXT = _pii_text(lambda x: f"CAST({x} AS VARCHAR)")
_PII_E = T.PII_PATTERNS["email"]
_PII_P = T.PII_PATTERNS["phone"]
_PII_I = T.PII_PATTERNS["ip"]

# DuckDB regexp_replace needs the 'g' flag for replace-all (Spark's default)
EXTENDED_ORACLES["x5_pii_redact"] = f"""
    WITH p AS (SELECT doc_id, {_PII_ORACLE_TEXT} AS text FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_E}')) AS INT) AS n_email,
           CAST(len(regexp_extract_all(text, '{_PII_P}')) AS INT) AS n_phone,
           CAST(len(regexp_extract_all(text, '{_PII_I}')) AS INT) AS n_ip,
           regexp_replace(regexp_replace(regexp_replace(
             text, '{_PII_E}', '<email>', 'g'),
             '{_PII_P}', '<phone>', 'g'),
             '{_PII_I}', '<ip>', 'g') AS redacted
    FROM p ORDER BY doc_id
"""

_CONTAM_GRAMS = (
    f"list_distinct(list_transform(generate_series(1, len({{t}})-{CONTAM_N - 1}), "
    f"j -> array_to_string(list_slice({{t}}, j, j+{CONTAM_N - 1}), ' ')))"
)

EXTENDED_ORACLES["x2_contamination"] = f"""
    WITH s AS (
      SELECT doc_id, {_TOKS_EXPR} AS toks, {_sample_frac_sql('contam')} AS f
      FROM documents
    ),
    tg AS (
      SELECT doc_id AS d, g.gram FROM s,
      LATERAL (SELECT unnest({_CONTAM_GRAMS.format(t='toks')}) AS gram) g
      WHERE f >= {CONTAM_BENCH_FRAC}
    ),
    bg AS (
      SELECT DISTINCT g.gram FROM s,
      LATERAL (SELECT unnest({_CONTAM_GRAMS.format(t='toks')}) AS gram) g
      WHERE f < {CONTAM_BENCH_FRAC}
    )
    SELECT d AS doc_id, COUNT(*) AS n_shared_grams, MIN(gram) AS sample_gram
    FROM tg JOIN bg USING (gram)
    GROUP BY d ORDER BY doc_id
"""

from diepy_spark.operators.sketch import hll_oracle_sql as _hll_oracle_sql

EXTENDED_ORACLES["x8_hll_distinct"] = (
    _hll_oracle_sql("events", "event_type", "user_id", include_exact=True)
    + " ORDER BY event_type"
)


EXTENDED_ORACLES["x5_chunk_pack"] = f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_EXPR} AS toks FROM documents
      WHERE len({_TOKS_EXPR}) >= 1
    ),
    s AS (
      SELECT doc_id, toks, u.s, u.i FROM t,
      LATERAL (SELECT unnest(generate_series(1, len(toks), {CHUNK_STRIDE})) AS s,
                      generate_subscripts(generate_series(1, len(toks), {CHUNK_STRIDE}), 1) AS i) u
    )
    SELECT doc_id, CAST(i - 1 AS INT) AS chunk_idx,
           CAST(len(list_slice(toks, s, s + {CHUNK_SIZE - 1})) AS INT) AS n_chunk_tokens,
           md5(array_to_string(list_slice(toks, s, s + {CHUNK_SIZE - 1}), ' ')) AS chunk_md5
    FROM s ORDER BY doc_id, chunk_idx
"""

# same arithmetic ORDER as the Spark plan: (x-mn)/(mx-mn)*255, floor,
# midpoint reconstruction, per-vector error summed in INDEX order
EXTENDED_ORACLES["x3_quantize_int8"] = """
    WITH u AS (
      SELECT vec_id, t.i, CAST(t.x AS DOUBLE) AS x FROM embeddings,
      LATERAL (SELECT unnest(embedding) AS x,
                      generate_subscripts(embedding, 1) AS i) t
    ),
    st AS (SELECT i, min(x) AS mn, max(x) AS mx FROM u GROUP BY i),
    c AS (
      SELECT vec_id, u.i, x, mn, mx,
             CAST(CASE WHEN mx = mn THEN 0
                  ELSE least(255, floor((x - mn) / (mx - mn) * 255)) END AS INT) AS code
      FROM u JOIN st USING (i)
    ),
    e AS (
      SELECT vec_id, i, code,
             (x - (mn + (code + 0.5) * (mx - mn) / 255)) AS err
      FROM c
    )
    SELECT vec_id,
           md5(array_to_string(list(CAST(code AS VARCHAR) ORDER BY i), ',')) AS q_md5,
           ROUND(list_sum(list(err * err ORDER BY i)) / count(*), 6) AS recon_mse
    FROM e GROUP BY vec_id ORDER BY vec_id
"""


# The composed pipeline oracle replays every clean_corpus stage in one
# statement: quality + repetition gate, exact dedup, then the SAME
# jaccard/closure graph as x2_dedup_apply — over the filtered corpus CTE
# (the parameterized _closure_ctes makes that literal reuse possible).
EXTENDED_ORACLES["x10_clean_corpus"] = f"""
    WITH RECURSIVE
    qf AS (
      SELECT doc_id,
             CAST(len({_TOKS_EXPR}) AS INT) AS n_tokens,
             CAST(len(list_distinct({_TOKS_EXPR})) AS INT) AS n_distinct,
             CAST(coalesce(list_sum(list_transform({_TOKS_EXPR},
                  t -> CASE WHEN t IN ({_QUALITY_EN}) THEN 1 ELSE 0 END)), 0) AS INT) AS n_stop,
             CAST(coalesce(list_sum(list_transform({_TOKS_EXPR},
                  t -> length(t))), 0) AS INT) AS sum_len,
             length(text) AS n_chars
      FROM documents
    ),
    qual AS (
      SELECT doc_id, n_tokens,
             0.3 * least(n_chars / 500.0, 1.0)
               + 0.3 * (n_distinct / n_tokens)
               + 0.2 * least((n_stop / n_tokens) * 5, 1.0)
               + 0.2 * least((sum_len / n_tokens) / 8, 1.0) AS score
      FROM qf WHERE n_tokens > 0
    ),
    rep AS (
      SELECT doc_id,
             (len(g3) - len(list_distinct(g3))) / len(g3) AS dup_frac3
      FROM (
        SELECT doc_id,
               list_transform(generate_series(1, len({_TOKS_EXPR})-2),
                 j -> array_to_string(list_slice({_TOKS_EXPR}, j, j+2), ' ')) AS g3
        FROM documents WHERE len({_TOKS_EXPR}) >= 3
      )
    ),
    gate AS (
      SELECT q.doc_id, q.n_tokens, q.score
      FROM qual q JOIN rep r USING (doc_id)
      WHERE q.n_tokens >= {CLEAN_MIN_TOKENS} AND q.score >= {CLEAN_MIN_SCORE!r}
        AND r.dup_frac3 <= {CLEAN_MAX_DUP3!r}
    ),
    d1 AS (
      SELECT d.doc_id, d.text, d.lang, g.n_tokens, g.score
      FROM documents d JOIN gate g USING (doc_id)
    ),
    ex AS (SELECT min(doc_id) AS doc_id FROM d1 GROUP BY md5(text)),
    d2 AS (SELECT d1.* FROM d1 JOIN ex USING (doc_id)),
    {_closure_ctes('d2').strip().lstrip()}
    SELECT d2.doc_id, d2.lang, d2.n_tokens, d2.score, c.cluster
    FROM d2 LEFT JOIN comp c ON c.node = d2.doc_id
    WHERE c.cluster IS NULL OR d2.doc_id = c.cluster
    ORDER BY d2.doc_id
"""


# unigram LM: same two passes, per-doc log-prob sum in TOKEN order
# lm_score CTE body shared between the x5_lm_score oracle and the
# x5_ppl_buckets oracle (same discipline as _CUPED_*: one text, two
# consumers). `lmbase` ends as (doc_id, n_tokens, nll, ppl).
_LM_SCORE_CTES = f"""tk AS (
      SELECT doc_id AS d, t.i, t.tok FROM documents,
      LATERAL (SELECT unnest({_TOKS_EXPR}) AS tok,
                      generate_subscripts({_TOKS_EXPR}, 1) AS i) t
    ),
    model AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok),
    tot AS (SELECT sum(cnt) AS total FROM model),
    probs AS (SELECT tok, cnt / total AS p FROM model, tot),
    sc AS (SELECT d, i, -ln(p) AS lp FROM tk JOIN probs USING (tok)),
    g AS (SELECT d, list_sum(list(lp ORDER BY i)) AS s,
                 count(*) AS n FROM sc GROUP BY d),
    lmbase AS (
      SELECT d AS doc_id, CAST(n AS INT) AS n_tokens,
             ROUND(s / n, 6) AS nll, ROUND(exp(s / n), 4) AS ppl
      FROM g)"""

EXTENDED_ORACLES["x5_lm_score"] = f"""
    WITH {_LM_SCORE_CTES}
    SELECT doc_id, n_tokens, nll, ppl FROM lmbase ORDER BY doc_id
"""


_MH_AGREE = " + ".join(
    f"CASE WHEN sa.mh{h} = sb.mh{h} THEN 1 ELSE 0 END" for h in range(LSH_NUM_HASHES)
)

EXTENDED_ORACLES["x2_minhash_est"] = f"""
    WITH {_LSH_PAIRS_CTES}
    SELECT p.da, p.db, p.jac, ({_MH_AGREE}) / {LSH_NUM_HASHES} AS jac_est
    FROM p JOIN sig sa ON sa.d = p.da JOIN sig sb ON sb.d = p.db
    ORDER BY p.da, p.db
"""


# ---------------------------------------------------------------------------
# round-3 additions
# ---------------------------------------------------------------------------

EXTENDED_ORACLES["x1_norm_dedup"] = """
    SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS dup_count
    FROM documents
    GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
    ORDER BY keep_id
"""

# Split thresholds: the SAME accumulated IEEE floats the Spark operator
# compares against (repr keeps the exact value in the SQL text).
_XSPLIT_CASE = (
    f"CASE WHEN {_sample_frac_sql(XSPLIT_SEED)} < {0.8!r} THEN 'train' "
    f"WHEN {_sample_frac_sql(XSPLIT_SEED)} < {0.8 + 0.1!r} THEN 'valid' "
    f"ELSE 'test' END"
)

EXTENDED_ORACLES["x2_cross_split_contamination"] = f"""
    WITH s AS (
      SELECT doc_id, {_TOKS_EXPR} AS toks, {_XSPLIT_CASE} AS split
      FROM documents
    ),
    eg AS (
      SELECT s.split, s.doc_id AS d, g.gram FROM s,
      LATERAL (SELECT unnest({_CONTAM_GRAMS.format(t='toks')}) AS gram) g
      WHERE s.split <> 'train'
    ),
    tg AS (
      SELECT DISTINCT g.gram FROM s,
      LATERAL (SELECT unnest({_CONTAM_GRAMS.format(t='toks')}) AS gram) g
      WHERE s.split = 'train'
    ),
    contam AS (
      SELECT split, count(DISTINCT d) AS docs_contaminated
      FROM eg JOIN tg USING (gram) GROUP BY split
    ),
    totals AS (
      SELECT split, count(*) AS docs FROM s WHERE split <> 'train' GROUP BY split
    )
    SELECT t.split, CAST(t.docs AS BIGINT) AS docs,
           CAST(coalesce(c.docs_contaminated, 0) AS BIGINT) AS docs_contaminated,
           ROUND(CAST(coalesce(c.docs_contaminated, 0) AS DOUBLE) / t.docs, 4)
             AS contam_frac
    FROM totals t LEFT JOIN contam c USING (split)
    ORDER BY t.split
"""

EXTENDED_ORACLES["x5_domain_mix"] = f"""
    WITH g AS (
      SELECT source AS domain, lang,
             CAST(count(*) AS BIGINT) AS docs,
             CAST(SUM(len({_TOKS_EXPR})) AS BIGINT) AS tokens,
             CAST(SUM(len(text)) AS BIGINT) AS chars
      FROM documents GROUP BY 1, 2
    )
    SELECT domain, lang, docs, tokens, chars,
           ROUND(CAST(tokens AS DOUBLE) / CAST(SUM(tokens) OVER () AS DOUBLE), 6)
             AS token_share
    FROM g ORDER BY domain, lang
"""

EXTENDED_ORACLES["x8_reservoir_sample"] = f"""
    SELECT source, doc_id, CAST(rk AS INT) AS rk FROM (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY {_sample_frac_sql('resv')} ASC, doc_id)
               AS rk
      FROM documents) WHERE rk <= {RESERVOIR_K}
    ORDER BY source, rk
"""

EXTENDED_ORACLES["x5_ngram_profile"] = f"""
    WITH grams AS (
      SELECT lang, g.gram FROM documents,
      LATERAL (SELECT unnest(list_transform(
                 generate_series(1, len(text) - {NGRAM_PROFILE_N - 1}),
                 j -> substring(text, j, {NGRAM_PROFILE_N}))) AS gram) g
      WHERE len(text) >= {NGRAM_PROFILE_N}
    ),
    counts AS (
      SELECT lang, gram, CAST(count(*) AS BIGINT) AS cnt
      FROM grams GROUP BY lang, gram
    )
    SELECT lang, gram, cnt, CAST(rk AS INT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, gram) AS rk
      FROM counts) WHERE rk <= {NGRAM_PROFILE_TOP}
    ORDER BY lang, rk
"""

# Exact top-k on the IVF split (same shape as x3_cosine_topk, shifted
# bounds) — needed so each ANN method's recall is judged against the exact
# ranking over ITS OWN (query, corpus) split.
_EXACT_TOPK_IVF = f"""
    WITH {_COS_CTE},
    scored AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             ROUND(SUM(q.x*c.x)/(SQRT(SUM(q.x*q.x))*SQRT(SUM(c.x*c.x))), 4) AS cos
      FROM u q JOIN u c ON q.i = c.i
      WHERE q.vec_id >= {IVF_CENTROID_MAX}
        AND q.vec_id < {IVF_CENTROID_MAX + TOPK_QUERY_MAX}
        AND c.vec_id >= {IVF_CENTROID_MAX + TOPK_QUERY_MAX}
      GROUP BY 1, 2
    )
    SELECT qid, cid, cos, CAST(rk AS INT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
      FROM scored) WHERE rk <= {TOPK_K}
"""

# Multi-probe LSH ANN: the query side probes its bucket plus every
# Hamming-1 neighbor (xor with each plane bit). Probed buckets are
# distinct and a corpus vector has exactly one bucket, so the pair join
# multiplicity stays 1 — mirrors similarity.ann_topk_lsh(hamming=1).
_ANN_LSH_H1 = f"""
    WITH b AS (
      SELECT vec_id, {S.bucket_sql('embedding', EMB_DIM, ANN_NUM_PLANES)} AS bucket
      FROM embeddings
    ),
    pq AS (
      SELECT vec_id, unnest([bucket{''.join(f', xor(bucket, {1 << p})' for p in range(ANN_NUM_PLANES))}]) AS bucket
      FROM b WHERE vec_id < {TOPK_QUERY_MAX}
    ),
    {_COS_CTE},
    scored AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             ROUND(SUM(q.x*c.x)/(SQRT(SUM(q.x*q.x))*SQRT(SUM(c.x*c.x))), 4) AS cos
      FROM u q JOIN u c ON q.i = c.i
      JOIN pq bq ON bq.vec_id = q.vec_id
      JOIN b bc ON bc.vec_id = c.vec_id AND bc.bucket = bq.bucket
      WHERE q.vec_id < {TOPK_QUERY_MAX} AND c.vec_id >= {TOPK_QUERY_MAX}
      GROUP BY 1, 2
    )
    SELECT qid, cid, cos, CAST(rk AS INT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
      FROM scored) WHERE rk <= {TOPK_K}
"""

# IVF with nprobe=2: the QUERY assignment keeps its top-2 cells (rn <= 2);
# the corpus keeps its single storage cell — mirrors ivf_topk(nprobe=2).
_IVF_NP2 = f"""
    WITH {_COS_CTE},
    cc AS (
      SELECT a.vec_id AS vid, b.vec_id AS cell,
             ROUND(SUM(a.x*b.x)/(SQRT(SUM(a.x*a.x))*SQRT(SUM(b.x*b.x))), 4) AS ccos
      FROM u a JOIN u b ON a.i = b.i
      WHERE b.vec_id < {IVF_CENTROID_MAX} AND a.vec_id >= {IVF_CENTROID_MAX}
      GROUP BY 1, 2
    ),
    assign AS (
      SELECT vid, cell FROM (
        SELECT vid, cell,
               ROW_NUMBER() OVER (PARTITION BY vid ORDER BY ccos DESC, cell) AS rn
        FROM cc) WHERE rn = 1
    ),
    qassign AS (
      SELECT vid, cell FROM (
        SELECT vid, cell,
               ROW_NUMBER() OVER (PARTITION BY vid ORDER BY ccos DESC, cell) AS rn
        FROM cc) WHERE rn <= 2
    ),
    scored AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             ROUND(SUM(q.x*c.x)/(SQRT(SUM(q.x*q.x))*SQRT(SUM(c.x*c.x))), 4) AS cos
      FROM u q JOIN u c ON q.i = c.i
      JOIN qassign aq ON aq.vid = q.vec_id
      JOIN assign ac ON ac.vid = c.vec_id AND ac.cell = aq.cell
      WHERE q.vec_id >= {IVF_CENTROID_MAX}
        AND q.vec_id < {IVF_CENTROID_MAX + TOPK_QUERY_MAX}
        AND c.vec_id >= {IVF_CENTROID_MAX + TOPK_QUERY_MAX}
      GROUP BY 1, 2
    )
    SELECT qid, cid, cos, CAST(rk AS INT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
      FROM scored) WHERE rk <= {TOPK_K}
"""

EXTENDED_ORACLES["x3_ann_recall"] = f"""
    WITH e1 AS ({EXTENDED_ORACLES['x3_cosine_topk']}),
    a1 AS ({EXTENDED_ORACLES['x3_ann_topk_lsh']}),
    a1m AS ({_ANN_LSH_H1}),
    e2 AS ({_EXACT_TOPK_IVF}),
    a2 AS ({EXTENDED_ORACLES['x3_ivf_topk']}),
    a2p AS ({_IVF_NP2}),
    m AS (
      SELECT 'lsh' AS method,
             (SELECT count(*) FROM e1) AS n_exact,
             (SELECT count(*) FROM e1 JOIN a1 USING (qid, cid)) AS hits
      UNION ALL
      SELECT 'lsh_h1' AS method,
             (SELECT count(*) FROM e1) AS n_exact,
             (SELECT count(*) FROM e1 JOIN a1m USING (qid, cid)) AS hits
      UNION ALL
      SELECT 'ivf' AS method,
             (SELECT count(*) FROM e2) AS n_exact,
             (SELECT count(*) FROM e2 JOIN a2 USING (qid, cid)) AS hits
      UNION ALL
      SELECT 'ivf_p2' AS method,
             (SELECT count(*) FROM e2) AS n_exact,
             (SELECT count(*) FROM e2 JOIN a2p USING (qid, cid)) AS hits
    )
    SELECT method, CAST(n_exact AS BIGINT) AS n_exact, CAST(hits AS BIGINT) AS hits,
           ROUND(CAST(hits AS DOUBLE) / n_exact, 4) AS recall
    FROM m ORDER BY method
"""


def _pagerank_oracle_sql() -> str:
    """Unrolled-iteration mirror of operators.clustering.pagerank: the
    same integer floor divisions (DuckDB // == Spark div for the
    non-negative ranks here), one CTE per iteration."""
    teleport = (PR_SCALE * 15) // 100
    ctes = [
        """d0 AS (SELECT DISTINCT l_partkey * 10 + 1 AS u, l_suppkey * 10 + 2 AS v
                  FROM lineitem)""",
        "e AS (SELECT u, v FROM d0 UNION SELECT v AS u, u AS v FROM d0)",
        "deg AS (SELECT u, count(*) AS deg FROM e GROUP BY u)",
        "nodes AS (SELECT DISTINCT u AS node FROM (SELECT u FROM e UNION SELECT v FROM e))",
        f"r0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) AS r FROM nodes)",
    ]
    for i in range(PR_ITER):
        ctes.append(f"""r{i + 1} AS (
          SELECT n.node,
                 CAST({teleport} + (85 * coalesce(i.inflow, 0)) // 100 AS BIGINT) AS r
          FROM nodes n LEFT JOIN (
            SELECT e.v AS node, SUM(p.r // d.deg) AS inflow
            FROM e JOIN r{i} p ON p.node = e.u JOIN deg d ON d.u = e.u
            GROUP BY e.v
          ) i ON i.node = n.node)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, r FROM r{PR_ITER} ORDER BY r DESC, node LIMIT {PR_TOP}"
    )


EXTENDED_ORACLES["x11_pagerank"] = _pagerank_oracle_sql()


def _ppr_oracle_sql() -> str:
    """Unrolled mirror of operators.clustering.personalized_pagerank
    over the same supply graph, seeded at the PPR_SEED_MAX smallest part
    nodes; pp_ prefix keeps the chain collision-free."""
    teleport = (PR_SCALE * 15) // 100
    ctes = [
        """pp0 AS (SELECT DISTINCT l_partkey * 10 + 1 AS u, l_suppkey * 10 + 2 AS v
                  FROM lineitem)""",
        "ppe AS (SELECT u, v FROM pp0 UNION SELECT v AS u, u AS v FROM pp0)",
        "ppdeg AS (SELECT u, count(*) AS deg FROM ppe GROUP BY u)",
        f"""ppn AS (SELECT node,
                 CASE WHEN node IN (SELECT DISTINCT l_partkey * 10 + 1
                                    FROM lineitem
                                    WHERE l_partkey <= {PPR_SEED_MAX})
                      THEN 1 ELSE 0 END AS s
             FROM (SELECT DISTINCT u AS node FROM
                   (SELECT u FROM ppe UNION SELECT v FROM ppe)))""",
        f"ppr0 AS (SELECT node, CAST(s * {PR_SCALE} AS BIGINT) AS r FROM ppn)",
    ]
    for i in range(PR_ITER):
        ctes.append(f"""ppr{i + 1} AS (
          SELECT n.node,
                 CAST(n.s * {teleport}
                      + (85 * coalesce(i.inflow, 0)) // 100 AS BIGINT) AS r
          FROM ppn n LEFT JOIN (
            SELECT e.v AS node, SUM(p.r // d.deg) AS inflow
            FROM ppe e JOIN ppr{i} p ON p.node = e.u JOIN ppdeg d ON d.u = e.u
            GROUP BY e.v
          ) i ON i.node = n.node)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, r FROM ppr{PR_ITER} WHERE r > 0"
        + f" ORDER BY r DESC, node LIMIT {PR_TOP}"
    )


EXTENDED_ORACLES["x11_ppr"] = _ppr_oracle_sql()




EXTENDED_ORACLES["x2_lsh_bucket_health"] = f"""
    WITH {_SH_CTES},
    {_SIG_BANDS_CTES},
    bsz AS (SELECT band, sig, CAST(count(*) AS BIGINT) AS s
            FROM bands GROUP BY 1, 2)
    SELECT band, CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(CASE WHEN s > 1 THEN 1 ELSE 0 END) AS BIGINT) AS hot_buckets,
           CAST(max(s) AS BIGINT) AS max_bucket,
           CAST(sum(s * (s - 1)) // 2 AS BIGINT) AS pair_load
    FROM bsz GROUP BY band ORDER BY band
"""


EXTENDED_ORACLES["x8_stratified_sample"] = f"""
    WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
    m AS (SELECT min(cnt) AS min_cnt FROM c),
    fr AS (SELECT lang, CAST(min_cnt AS DOUBLE) / cnt AS frac FROM c, m)
    SELECT d.doc_id, d.lang FROM documents d JOIN fr USING (lang)
    WHERE {_sample_frac_sql(STRAT_SEED)} < fr.frac
    ORDER BY doc_id
"""

# idf quantized per TOKEN (ROUND(x, 0) — never a bare double->int cast:
# Spark truncates, DuckDB rounds), then weights are pure integer floor
# arithmetic mirroring operators.text.tfidf_cosine_pairs.
EXTENDED_ORACLES["x3_tfidf_cosine_pairs"] = f"""
    WITH tk AS (
      SELECT doc_id AS d, t.tok FROM documents,
      LATERAL (SELECT unnest({_TOKS_EXPR}) AS tok) t
    ),
    tf AS (SELECT d, tok, count(*) AS cnt FROM tk GROUP BY d, tok),
    tot AS (SELECT d, SUM(cnt) AS tot FROM tf GROUP BY d),
    dfq AS (SELECT tok, count(*) AS doc_freq FROM tf GROUP BY tok),
    nd AS (SELECT count(DISTINCT d) AS n_docs FROM tf),
    idf AS (
      SELECT tok,
             CAST(ROUND(ln(CAST(n_docs AS DOUBLE) / doc_freq) * {T.TFIDF_W_SCALE}, 0)
                  AS BIGINT) AS idf_int
      FROM dfq, nd WHERE doc_freq <= ceil({TFIDF_MAX_DF_FRAC} * n_docs)
    ),
    w AS (
      SELECT d, tok, (cnt * idf_int) // tot AS w
      FROM tf JOIN idf USING (tok) JOIN tot USING (d)
    ),
    norms AS (SELECT d, SUM(w*w) AS n2 FROM w GROUP BY d),
    dots AS (
      SELECT a.d AS da, b.d AS db, SUM(a.w * b.w) AS dot
      FROM w a JOIN w b ON a.tok = b.tok AND a.d < b.d GROUP BY 1, 2
    )
    SELECT da, db,
           ROUND(CAST(dot AS DOUBLE) / (SQRT(CAST(na.n2 AS DOUBLE)) * SQRT(CAST(nb.n2 AS DOUBLE))), 4) AS cos
    FROM dots JOIN norms na ON na.d = da JOIN norms nb ON nb.d = db
    WHERE ROUND(CAST(dot AS DOUBLE) / (SQRT(CAST(na.n2 AS DOUBLE)) * SQRT(CAST(nb.n2 AS DOUBLE))), 4) >= {TFIDF_COS_THRESHOLD}
    ORDER BY da, db
"""

# L-gram text via chained lead() — same strings as the Spark side's
# concat_ws over token slices; positions are the 1-based token index, so
# the island merge (lag gap > L starts a new span) is symbol-for-symbol
# the operator's window logic.
_SPAN_LEADS = " || ' ' || ".join(
    f"lead(tok, {j}) OVER (PARTITION BY d ORDER BY i)" for j in range(1, SPAN_L)
)

def _cms_span_oracle_sql() -> str:
    """Mirror of x1_cms_span_dedup: the span oracle's gram stream, the
    CMS build as UNION ALL + group, estimates as d joins, same report."""
    from diepy_spark.operators.sketch import cms_position_sql

    pos = lambda key, i: cms_position_sql(key, CMS_SPAN_SEED, i, CMS_SPAN_W)  # noqa: E731
    flat = " UNION ALL ".join(
        f"SELECT {i} AS r, {pos('s', i)} AS c FROM g"
        for i in range(CMS_SPAN_D)
    )
    joins = " ".join(
        f"LEFT JOIN cells c{i} ON c{i}.r = {i} AND c{i}.c = {pos('ex.s', i)}"
        for i in range(CMS_SPAN_D)
    )
    least = "least(" + ", ".join(
        f"coalesce(c{i}.cnt, 0)" for i in range(CMS_SPAN_D)
    ) + ")"
    return f"""
    WITH tk AS (
      SELECT doc_id AS d, t.i, t.tok FROM documents,
      LATERAL (SELECT unnest({_TOKS_EXPR}) AS tok,
                      generate_subscripts({_TOKS_EXPR}, 1) AS i) t
    ),
    g AS (
      SELECT tok || ' ' || {_SPAN_LEADS} AS s FROM tk
      QUALIFY lead(tok, {SPAN_L - 1}) OVER (PARTITION BY d ORDER BY i)
              IS NOT NULL
    ),
    flat AS ({flat}),
    cells AS (SELECT r, c, CAST(count(*) AS BIGINT) AS cnt
              FROM flat GROUP BY 1, 2),
    ex AS (SELECT s, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1),
    est AS (SELECT ex.s, ex.n, {least} AS cms_est FROM ex {joins}),
    rep AS (
      SELECT CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN n >= {CMS_SPAN_THR} THEN 1 ELSE 0 END) AS BIGINT)
               AS exact_dups,
             CAST(sum(CASE WHEN cms_est >= {CMS_SPAN_THR} THEN 1 ELSE 0 END)
                  AS BIGINT) AS cms_flagged,
             CAST(sum(CASE WHEN cms_est >= {CMS_SPAN_THR} AND n < {CMS_SPAN_THR}
                       THEN 1 ELSE 0 END) AS BIGINT) AS extra_stripped,
             CAST(sum(CASE WHEN n >= {CMS_SPAN_THR} AND cms_est < {CMS_SPAN_THR}
                       THEN 1 ELSE 0 END) AS BIGINT) AS missed
      FROM est
    )
    SELECT n_grams, exact_dups, cms_flagged, extra_stripped, missed,
           round(CAST(extra_stripped AS DOUBLE)
                 / CAST(n_grams - exact_dups AS DOUBLE), 6) AS slack_rate
    FROM rep
"""


EXTENDED_ORACLES["x1_cms_span_dedup"] = _cms_span_oracle_sql()


EXTENDED_ORACLES["x1_span_dedup"] = f"""
    WITH tk AS (
      SELECT doc_id AS d, t.i, t.tok FROM documents,
      LATERAL (SELECT unnest({_TOKS_EXPR}) AS tok,
                      generate_subscripts({_TOKS_EXPR}, 1) AS i) t
    ),
    g AS (
      SELECT d, i, tok || ' ' || {_SPAN_LEADS} AS s FROM tk
      QUALIFY lead(tok, {SPAN_L - 1}) OVER (PARTITION BY d ORDER BY i) IS NOT NULL
    ),
    dup AS (SELECT s FROM g GROUP BY s HAVING count(*) >= 2),
    f AS (SELECT g.d, g.i FROM g JOIN dup USING (s)),
    isl AS (
      SELECT d, i,
             SUM(CASE WHEN prev IS NULL OR i - prev > {SPAN_L} THEN 1 ELSE 0 END)
               OVER (PARTITION BY d ORDER BY i ROWS UNBOUNDED PRECEDING) AS island
      FROM (SELECT d, i, lag(i) OVER (PARTITION BY d ORDER BY i) AS prev FROM f)
    )
    SELECT d AS doc_id,
           CAST(min(i) AS INT) AS span_start,
           CAST(max(i) + {SPAN_L - 1} AS INT) AS span_end,
           CAST(max(i) + {SPAN_L - 1} - min(i) + 1 AS INT) AS span_tokens,
           CAST(count(*) AS BIGINT) AS n_grams
    FROM isl GROUP BY d, island
    ORDER BY doc_id, span_start
"""

# Same semantics, different physical strategy — identical oracle.
EXTENDED_ORACLES["x1_span_dedup_sorted"] = EXTENDED_ORACLES["x1_span_dedup"]

# Packing mirror: the same running-sum window (cum BEFORE the doc, so a
# shard overflows by at most one doc); integer floor division both sides.
EXTENDED_ORACLES["x5_shard_pack"] = f"""
    WITH t AS (
      SELECT doc_id, source, CAST(len({_TOKS_EXPR}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    p AS (
      SELECT doc_id, source, n_tokens,
             CAST((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) - n_tokens)
                  // {SHARD_BUDGET} AS INT) AS shard
      FROM t
    )
    SELECT source, shard, CAST(count(*) AS BIGINT) AS docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens,
           max(doc_id) AS max_doc_id
    FROM p GROUP BY source, shard
    ORDER BY source, shard
"""

# Keep-one-copy span removal: canonical occurrence per duplicated gram =
# (min doc, min pos) via ROW_NUMBER over the gram; a token survives when
# no covering occurrence is a non-canonical duplicate or at least one is
# canonical (max(is_canon)) — symbol-for-symbol strip_duplicated_spans.
EXTENDED_ORACLES["x1_span_strip"] = f"""
    WITH tk AS (
      SELECT doc_id AS d, t.i, t.tok FROM documents,
      LATERAL (SELECT unnest({_TOKS_EXPR}) AS tok,
                      generate_subscripts({_TOKS_EXPR}, 1) AS i) t
    ),
    g AS (
      SELECT d, i, tok || ' ' || {_SPAN_LEADS} AS s FROM tk
      QUALIFY lead(tok, {SPAN_L - 1}) OVER (PARTITION BY d ORDER BY i) IS NOT NULL
    ),
    dup AS (SELECT s FROM g GROUP BY s HAVING count(*) >= 2),
    f AS (SELECT g.d, g.i, g.s FROM g JOIN dup USING (s)),
    canon AS (
      SELECT d, i, s,
             CASE WHEN ROW_NUMBER() OVER (PARTITION BY s ORDER BY d, i) = 1
                  THEN 1 ELSE 0 END AS ic
      FROM f
    ),
    cover AS (
      SELECT canon.d, p.p, canon.ic FROM canon,
      LATERAL (SELECT unnest(generate_series(i, i + {SPAN_L - 1})) AS p) p
    ),
    cut AS (SELECT d, p FROM cover GROUP BY d, p HAVING max(ic) = 0),
    kept AS (
      SELECT tk.d, tk.i, tk.tok FROM tk
      LEFT JOIN cut ON cut.d = tk.d AND cut.p = tk.i
      WHERE cut.d IS NULL
    ),
    reb AS (
      SELECT d, string_agg(tok, ' ' ORDER BY i) AS text, count(*) AS n_kept
      FROM kept GROUP BY d
    ),
    norig AS (SELECT d, count(*) AS n_tokens FROM tk GROUP BY d)
    SELECT norig.d AS doc_id, coalesce(reb.text, '') AS text,
           CAST(norig.n_tokens AS BIGINT) AS n_tokens,
           CAST(norig.n_tokens - coalesce(reb.n_kept, 0) AS BIGINT) AS n_removed
    FROM norig LEFT JOIN reb ON reb.d = norig.d
    ORDER BY doc_id
"""

# Char-trigram extraction shared with the x5_ngram_profile oracle; every
# model weight is quantized ONCE per (lang, gram) cell — the idf_int
# pattern — after which doc scores are exact integer dot products. The
# -ln(x) spelling (not ln(1/x)) matches the Spark side operation-for-
# operation; sums of BIGINT go HUGEINT in DuckDB, so the output counts
# are CAST back.
_LANGCLF_GRAMS = f"""
  SELECT doc_id AS d, lang AS _lang, g.gram, count(*) AS cnt
  FROM d3, LATERAL (SELECT unnest(list_transform(
             generate_series(1, len(text) - {LANGCLF_N - 1}),
             j -> substring(text, j, {LANGCLF_N}))) AS gram) g
  GROUP BY 1, 2, 3
"""

# The full train->broadcast->argmax chain through the per-doc `pred`
# CTE, shared by the x5_lang_classify accuracy oracle and the
# x5_lang_confusion heuristic-vs-trained instrument.
_LANGCLF_PRED_CTES = f"""d3 AS (
      SELECT doc_id, lang, text FROM documents WHERE len(text) >= {LANGCLF_N}
    ),
    dg AS ({_LANGCLF_GRAMS}),
    lg AS (SELECT _lang, gram, SUM(cnt) AS lcnt FROM dg GROUP BY 1, 2),
    model AS (
      SELECT _lang, gram, lcnt FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY _lang
                                     ORDER BY lcnt DESC, gram) AS rk
        FROM lg) WHERE rk <= {LANGCLF_TOP}
    ),
    vocab AS (SELECT DISTINCT gram FROM model),
    vs AS (SELECT count(*) AS V FROM vocab),
    tot AS (SELECT _lang, SUM(lcnt) AS tot FROM model GROUP BY 1),
    nd AS (SELECT count(*) AS N FROM d3),
    dl AS (SELECT lang AS _lang, count(*) AS ldocs FROM d3 GROUP BY 1),
    lc AS (
      SELECT t._lang, t.tot,
             CAST(ROUND(-ln(CAST(t.tot + V AS DOUBLE)) * {T.LANGCLF_SCALE}, 0)
                  AS BIGINT) AS w_oov,
             CAST(ROUND(ln(CAST(ldocs AS DOUBLE) / N) * {T.LANGCLF_SCALE}, 0)
                  AS BIGINT) AS prior
      FROM tot t JOIN dl USING (_lang), vs, nd
    ),
    grid AS (
      SELECT lc._lang, v.gram,
             CAST(ROUND(ln((coalesce(m.lcnt, 0) + 1)
                           / CAST(lc.tot + V AS DOUBLE)) * {T.LANGCLF_SCALE}, 0)
                  AS BIGINT) AS w
      FROM lc CROSS JOIN vocab v
      LEFT JOIN model m ON m._lang = lc._lang AND m.gram = v.gram, vs
    ),
    feats AS (SELECT d, SUM(cnt) AS n_grams FROM dg GROUP BY d),
    matched AS (
      SELECT dg.d, g._lang AS cand, SUM(dg.cnt * g.w) AS mw, SUM(dg.cnt) AS nm
      FROM dg JOIN grid g USING (gram) GROUP BY 1, 2
    ),
    scored AS (
      SELECT f.d, c._lang AS cand,
             c.prior + coalesce(m.mw, 0)
               + (f.n_grams - coalesce(m.nm, 0)) * c.w_oov AS score
      FROM feats f CROSS JOIN lc c
      LEFT JOIN matched m ON m.d = f.d AND m.cand = c._lang
    ),
    pred AS (
      SELECT d, cand AS pred_lang FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY d
                                     ORDER BY score DESC, cand ASC) AS rk
        FROM scored) WHERE rk = 1
    )"""

EXTENDED_ORACLES["x5_lang_classify"] = f"""
    WITH {_LANGCLF_PRED_CTES}
    SELECT d3.lang, CAST(count(*) AS BIGINT) AS docs,
           CAST(SUM(CASE WHEN p.pred_lang = d3.lang THEN 1 ELSE 0 END)
                AS BIGINT) AS correct,
           ROUND(CAST(SUM(CASE WHEN p.pred_lang = d3.lang THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 4) AS acc
    FROM d3 JOIN pred p ON p.d = d3.doc_id
    GROUP BY 1 ORDER BY 1
"""

EXTENDED_ORACLES["x5_lang_confusion"] = f"""
    WITH {_LANGCLF_PRED_CTES},
    hits AS (
      SELECT doc_id,
             {', '.join(f'{_lang_hits_sql(lang)} AS hits_{lang}' for lang in LANG_PROFILES)}
      FROM documents
    ),
    heur AS (SELECT doc_id, {_lang_pred_sql()} AS heur FROM hits)
    SELECT h.heur, p.pred_lang AS trained, CAST(count(*) AS BIGINT) AS docs
    FROM heur h JOIN pred p ON p.d = h.doc_id
    GROUP BY 1, 2 ORDER BY 1, 2
"""



def _bloom_oracle_sql() -> str:
    """DuckDB mirror of x8_bloom_semijoin: same md5-slice positions via
    operators.bloom.bloom_position_sql (shared verbatim — Spark SQL and
    DuckDB agree on instr/substr/power), build via UNION ALL explode +
    bit_or, probe via one EXISTS per hash function."""
    from diepy_spark.operators.bloom import bloom_position_sql

    pos = lambda key, i: bloom_position_sql(key, BLOOM_SEED, i, BLOOM_M)  # noqa: E731
    flat = " UNION ALL ".join(
        f"SELECT {pos('c_custkey', i)} AS p FROM keys" for i in range(BLOOM_K)
    )
    tests = " AND ".join(
        f"""EXISTS (SELECT 1 FROM bloom b
             WHERE b.word = CAST(({pos('o.o_custkey', i)}) // 32 AS INT)
               AND (b.mask & CAST(power(2, ({pos('o.o_custkey', i)}) % 32) AS BIGINT)) != 0)"""
        for i in range(BLOOM_K)
    )
    return f"""
        WITH keys AS (SELECT c_custkey FROM customer
                      WHERE c_mktsegment = '{BLOOM_SEGMENT}'),
        flat AS ({flat}),
        bloom AS (SELECT CAST(p // 32 AS INT) AS word,
                         bit_or(CAST(power(2, p % 32) AS BIGINT)) AS mask
                  FROM flat GROUP BY 1)
        SELECT o.o_orderkey, o.o_custkey FROM orders o
        WHERE {tests} ORDER BY o.o_orderkey
    """


EXTENDED_ORACLES["x8_bloom_semijoin"] = _bloom_oracle_sql()


def _bloom_dedup_oracle_sql() -> str:
    """Mirror of x1_bloom_dedup: same md5-slice positions (set-member
    form — a bit is set iff its position appears in flat), exact truth
    from a distinct-fingerprint semi-join."""
    from diepy_spark.operators.bloom import bloom_position_sql

    pos = lambda key, i: bloom_position_sql(key, BLOOM_DD_SEED, i, BLOOM_M)  # noqa: E731
    flat = " UNION ALL ".join(
        f"SELECT {pos('fp', i)} AS p FROM idx" for i in range(BLOOM_K)
    )
    tests = " AND ".join(
        f"({pos('b.fp', i)}) IN (SELECT p FROM flat)" for i in range(BLOOM_K)
    )
    return f"""
    WITH idx AS (SELECT md5(text) AS fp FROM documents
                 WHERE doc_id % {INC_DEDUP_MOD} != 0),
    batch AS (SELECT doc_id, source, md5(text) AS fp FROM documents
              WHERE doc_id % {INC_DEDUP_MOD} = 0),
    flat AS ({flat}),
    truth AS (SELECT DISTINCT fp FROM idx),
    flagged AS (
      SELECT b.source,
             CASE WHEN {tests} THEN 1 ELSE 0 END AS h,
             CASE WHEN t.fp IS NOT NULL THEN 1 ELSE 0 END AS t
      FROM batch b LEFT JOIN truth t ON t.fp = b.fp
    )
    SELECT source, CAST(count(*) AS BIGINT) AS arrived,
           CAST(sum(h) AS BIGINT) AS bloom_pass,
           CAST(sum(t) AS BIGINT) AS exact_dup,
           CAST(sum(h) - sum(t) AS BIGINT) AS false_pos,
           round(CAST(sum(h) - sum(t) AS DOUBLE)
                 / CAST(count(*) - sum(t) AS DOUBLE), 6) AS fp_rate
    FROM flagged GROUP BY 1 ORDER BY 1
"""


EXTENDED_ORACLES["x1_bloom_dedup"] = _bloom_dedup_oracle_sql()


EXTENDED_ORACLES["x9_snapshot_diff"] = f"""
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey % {SNAP_DEL_MOD} != 0
    ),
    new AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % {SNAP_UPD_MOD} = 0
                  THEN CAST((CAST(round(o_totalprice * 100) AS BIGINT) * 11) // 10
                            AS DOUBLE) / 100
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % {SNAP_INS_MOD} != 0
    ),
    d AS (
      SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                  WHEN n.o_orderkey IS NULL THEN 'delete'
                  WHEN NOT (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
                            AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice)
                  THEN 'update' END AS change_type,
             o.o_orderstatus AS old_o_orderstatus,
             o.o_totalprice AS old_price,
             n.o_orderstatus AS new_o_orderstatus,
             n.o_totalprice AS new_price
      FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    )
    SELECT * FROM d WHERE change_type IS NOT NULL ORDER BY o_orderkey
"""


EXTENDED_ORACLES["x11_triangle_count"] = f"""
    WITH e0 AS (
      SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM (
        SELECT (o_orderkey * 37 + 11) % {TRI_N} AS a,
               (o_custkey * 101 + 7) % {TRI_N} AS b FROM orders
      ) WHERE a <> b
    ),
    deg AS (SELECT node, count(*) AS deg FROM
            (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0) GROUP BY 1),
    o AS (SELECT CASE WHEN (du.deg, e0.u) < (dv.deg, e0.v) THEN u ELSE v END AS s,
                 CASE WHEN (du.deg, e0.u) < (dv.deg, e0.v) THEN v ELSE u END AS t
          FROM e0 JOIN deg du ON du.node = e0.u JOIN deg dv ON dv.node = e0.v),
    tri AS (SELECT e1.s AS x, e1.t AS y, e2.t AS z
            FROM o e1 JOIN o e2 ON e1.s = e2.s AND e1.t <> e2.t
            JOIN o e3 ON e3.s = e1.t AND e3.t = e2.t)
    SELECT node, count(*) AS tri FROM (
      SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    ) GROUP BY 1 ORDER BY node
"""


EXTENDED_ORACLES["x2_fuzzy_join"] = f"""
    WITH names AS (SELECT p_name AS name, count(*) AS n_parts FROM part GROUP BY 1),
    b AS (SELECT name, n_parts,
                 substr(name, length(name) - {FUZZY_BLOCK_CHARS - 1},
                        {FUZZY_BLOCK_CHARS}) AS blk
          FROM names)
    SELECT a.name AS name_a, bb.name AS name_b,
           CAST(levenshtein(a.name, bb.name) AS INT) AS dist,
           a.n_parts AS n_parts_a, bb.n_parts AS n_parts_b
    FROM b a JOIN b bb ON a.blk = bb.blk AND a.name < bb.name
    WHERE levenshtein(a.name, bb.name) <= {FUZZY_MAX_DIST}
    ORDER BY name_a, name_b
"""


def _dq_oracle_sql() -> str:
    aggs = []
    sels = []
    renders = {
        "double": lambda c, a: f"CAST(CAST(round({a}({c}), 2) AS DECIMAL(18,2)) AS VARCHAR)",
        "ts": lambda c, a: f"strftime({a}({c}), '%Y-%m-%d %H:%M:%S.%f')",
        "int": lambda c, a: f"CAST({a}({c}) AS VARCHAR)",
        "str": lambda c, a: f"CAST({a}({c}) AS VARCHAR)",
    }
    for c, kind in DQ_COLS:
        r = renders[kind]
        aggs.append(
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_{c},"
            f" count(DISTINCT {c}) AS nd_{c},"
            f" {r(c, 'min')} AS min_{c}, {r(c, 'max')} AS max_{c}"
        )
        sels.append(
            f"SELECT '{c}' AS col_name, n_rows, null_{c} AS n_null,"
            f" nd_{c} AS n_distinct, min_{c} AS min_s, max_{c} AS max_s FROM a"
        )
    return (
        "WITH a AS (SELECT count(*) AS n_rows, "
        + ", ".join(aggs)
        + " FROM orders)\n"
        + "\nUNION ALL ".join(sels)
        + "\nORDER BY col_name"
    )


EXTENDED_ORACLES["x12_dq_profile"] = _dq_oracle_sql()


def _cms_oracle_sql() -> str:
    """DuckDB mirror of x8_cms_heavy_hitters — position expressions shared
    verbatim from operators.sketch.cms_position_sql."""
    from diepy_spark.operators.sketch import cms_position_sql

    pos = lambda key, i: cms_position_sql(key, CMS_SEED, i, CMS_W)  # noqa: E731
    flat = " UNION ALL ".join(
        f"SELECT {i} AS r, {pos('l_partkey', i)} AS c FROM lineitem"
        for i in range(CMS_D)
    )
    joins = " ".join(
        f"JOIN cells c{i} ON c{i}.r = {i} AND c{i}.c = {pos('ex.l_partkey', i)}"
        for i in range(CMS_D)
    )
    least = "least(" + ", ".join(f"c{i}.cnt" for i in range(CMS_D)) + ")"
    return f"""
        WITH ex AS (
          SELECT l_partkey, count(*) AS n_exact FROM lineitem GROUP BY 1
          ORDER BY n_exact DESC, l_partkey LIMIT {CMS_TOP}
        ),
        flat AS ({flat}),
        cells AS (SELECT r, c, count(*) AS cnt FROM flat GROUP BY 1, 2)
        SELECT ex.l_partkey, ex.n_exact, {least} AS cms_est,
               {least} - ex.n_exact AS err
        FROM ex {joins}
        ORDER BY ex.n_exact DESC, ex.l_partkey
    """


EXTENDED_ORACLES["x8_cms_heavy_hitters"] = _cms_oracle_sql()


EXTENDED_ORACLES["x9_incremental_agg"] = f"""
    SELECT o_orderstatus, count(*) AS cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*), 4) AS avg_price,
           min(o_orderdate) AS min_date, max(o_orderdate) AS max_date
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


EXTENDED_ORACLES["x3_knn_classify"] = f"""
    WITH {_COS_CTE},
    scored AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             ROUND(SUM(q.x*c.x)/(SQRT(SUM(q.x*q.x))*SQRT(SUM(c.x*c.x))), 4) AS cos
      FROM u q JOIN u c ON q.i = c.i
      WHERE q.vec_id < {KNN_QUERY_MAX} AND c.vec_id >= {KNN_QUERY_MAX}
      GROUP BY 1, 2
    ),
    nn AS (SELECT qid, cid FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
      FROM scored) WHERE rk <= {KNN_K}),
    votes AS (
      SELECT nn.qid, e.label AS nlabel, count(*) AS votes
      FROM nn JOIN embeddings e ON e.vec_id = nn.cid GROUP BY 1, 2
    ),
    pred AS (SELECT qid, nlabel AS pred_label, votes FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY votes DESC, nlabel) AS rn
      FROM votes) WHERE rn = 1)
    SELECT p.qid, p.pred_label, p.votes, e.label AS true_label,
           p.pred_label = e.label AS correct
    FROM pred p JOIN embeddings e ON e.vec_id = p.qid ORDER BY p.qid
"""


EXTENDED_ORACLES["x9_scd2"] = """
    WITH w1 AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             lag(o_orderpriority) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey) AS prev
      FROM orders
    ),
    ch AS (SELECT * FROM w1 WHERE prev IS NULL OR prev <> o_orderpriority)
    SELECT o_custkey, o_orderpriority AS priority, o_orderdate AS valid_from,
           lead(o_orderdate) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS valid_to,
           (lead(o_orderdate) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) IS NULL)
             AS is_current
    FROM ch ORDER BY o_custkey, valid_from, priority
"""


EXTENDED_ORACLES["x12_skew_diag"] = f"""
    WITH keys AS (SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY 1),
    s AS (SELECT l_partkey, cnt,
                 CAST(sum(cnt) OVER () AS BIGINT) AS total,
                 count(*) OVER () AS n_keys
          FROM keys)
    SELECT l_partkey, cnt, round(cnt / total, 6) AS share,
           round(cnt * n_keys / total, 4) AS skew_factor
    FROM s ORDER BY cnt DESC, l_partkey LIMIT {SKEW_TOP}
"""

EXTENDED_ORACLES["x12_salted_join"] = """
    SELECT p_brand, COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN part ON p_partkey = l_partkey
    GROUP BY p_brand ORDER BY p_brand
"""



def _cdc_oracle_sql() -> str:
    """DuckDB mirror of x1_cdc_chunks: gram-ending-at-token via lag
    concatenation, boundary via the shared md5-nibble-slice arithmetic
    (operators.sketch.hex_int_sql — verbatim in both engines)."""
    from diepy_spark.operators.sketch import hex_int_sql

    lags = " || ' ' || ".join(
        [f"lag(tok, {CDC_K - 1 - j}) OVER w" for j in range(CDC_K - 1)] + ["tok"]
    )
    return f"""
        WITH toks AS (
          SELECT doc_id, unnest({_TOKS_EXPR}) AS tok,
                 generate_subscripts({_TOKS_EXPR}, 1) AS i
          FROM documents
        ),
        flagged AS (
          SELECT doc_id, i, tok,
                 CASE WHEN i >= {CDC_K}
                      AND ({hex_int_sql(f"md5({lags})", 4)} % {CDC_DIV}) = 0
                 THEN 1 ELSE 0 END AS flag
          FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY i)
        ),
        chunked AS (
          SELECT doc_id, i, tok,
                 CAST(coalesce(sum(flag) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS chunk_idx
          FROM flagged
        ),
        per_chunk AS (
          SELECT doc_id, chunk_idx,
                 CAST(min(i) AS BIGINT) AS tok_start,
                 count(*) AS n_tokens,
                 md5(string_agg(tok, ' ' ORDER BY i)) AS chunk_hash
          FROM chunked GROUP BY 1, 2
        )
        SELECT doc_id, chunk_idx, tok_start, n_tokens, chunk_hash,
               count(*) OVER (PARTITION BY chunk_hash) > 1 AS dup
        FROM per_chunk ORDER BY doc_id, chunk_idx
    """


EXTENDED_ORACLES["x1_cdc_chunks"] = _cdc_oracle_sql()


def _cms_join_oracle_sql() -> str:
    from diepy_spark.operators.sketch import cms_position_sql

    def flat(table, key):
        pos = lambda i: cms_position_sql(key, CMS_SEED, i, CMS_W)  # noqa: E731
        return " UNION ALL ".join(
            f"SELECT {i} AS r, {pos(i)} AS c FROM {table}" for i in range(CMS_D)
        )

    return f"""
        WITH fa AS ({flat('orders', 'o_custkey')}),
        fb AS ({flat('customer', 'c_custkey')}),
        ca AS (SELECT r, c, count(*) AS cnt FROM fa GROUP BY 1, 2),
        cb AS (SELECT r, c, count(*) AS cnt FROM fb GROUP BY 1, 2),
        dot AS (SELECT ca.r, CAST(sum(ca.cnt * cb.cnt) AS BIGINT) AS dot
                FROM ca JOIN cb ON ca.r = cb.r AND ca.c = cb.c GROUP BY 1),
        est AS (SELECT min(dot) AS cms_join_size FROM dot),
        exact AS (
          SELECT CAST(sum(a.na * b.nb) AS BIGINT) AS exact_join_size FROM
          (SELECT o_custkey AS k, count(*) AS na FROM orders GROUP BY 1) a
          JOIN (SELECT c_custkey AS k, count(*) AS nb FROM customer GROUP BY 1) b
          ON a.k = b.k
        )
        SELECT exact_join_size, cms_join_size,
               round(cms_join_size / exact_join_size, 4) AS ratio
        FROM exact, est
    """


EXTENDED_ORACLES["x8_cms_join_size"] = _cms_join_oracle_sql()


EXTENDED_ORACLES["x12_drift"] = f"""
    WITH a AS (SELECT o_orderstatus, count(*) AS n_base FROM orders
               WHERE o_orderdate < TIMESTAMP '{DRIFT_SPLIT}' GROUP BY 1),
    b AS (SELECT o_orderstatus, count(*) AS n_new FROM orders
          WHERE o_orderdate >= TIMESTAMP '{DRIFT_SPLIT}' GROUP BY 1),
    j AS (SELECT coalesce(a.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
                 coalesce(n_base, 0) AS n_base, coalesce(n_new, 0) AS n_new
          FROM a FULL OUTER JOIN b ON a.o_orderstatus = b.o_orderstatus),
    t AS (SELECT *, CAST(sum(n_base) OVER () AS BIGINT) AS tb,
                 CAST(sum(n_new) OVER () AS BIGINT) AS tn FROM j),
    n AS (SELECT *, abs(n_new * tb - n_base * tn) AS num FROM t)
    SELECT o_orderstatus, n_base, n_new,
           round(n_base / tb, 6) AS share_base,
           round(n_new / tn, 6) AS share_new,
           round(n_new / tn - n_base / tb, 6) AS share_delta,
           round(CAST(sum(num) OVER () AS BIGINT) / (2.0 * tb * tn), 6) AS tvd
    FROM n ORDER BY o_orderstatus
"""


EXTENDED_ORACLES["x12_gaps"] = f"""
    WITH k AS (SELECT DISTINCT o_orderkey AS key FROM orders
               WHERE o_totalprice > {GAP_MIN_PRICE}),
    mx AS (SELECT max(key) AS mx FROM k),
    g AS (SELECT k.key + 1 AS pos, 'g' AS tag FROM k, mx
          WHERE k.key + 1 <= mx
            AND NOT EXISTS (SELECT 1 FROM k k2 WHERE k2.key = k.key + 1)),
    i AS (SELECT key AS pos, 'i' AS tag FROM k
          WHERE NOT EXISTS (SELECT 1 FROM k k2 WHERE k2.key = k.key - 1)),
    u AS (SELECT * FROM g UNION ALL SELECT * FROM i),
    p AS (SELECT pos, tag,
                 min(CASE WHEN tag = 'i' THEN pos END) OVER
                   (ORDER BY pos ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                   AS next_island
          FROM u)
    SELECT pos AS gap_start, next_island - 1 AS gap_end,
           next_island - pos AS gap_len
    FROM p WHERE tag = 'g'
    ORDER BY gap_len DESC, gap_start LIMIT {GAP_TOP}
"""


def _temperature_mix_oracle_sql() -> str:
    from diepy_spark.operators.sketch import hex_frac_sql

    frac = hex_frac_sql(f"md5(concat('{TMIX_SEED}:', CAST(doc_id AS VARCHAR)))")
    a = TMIX_ALPHA
    return f"""
        WITH s AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        t AS (SELECT list_sum(list(pow(CAST(n AS DOUBLE), {a})
                               ORDER BY source)) AS wtot,
                     sum(n) AS ntot FROM s),
        r AS (SELECT source, n,
                     pow(CAST(n AS DOUBLE), {a}) / wtot AS share,
                     least(1.0, {TMIX_FRAC} * ntot
                           * (pow(CAST(n AS DOUBLE), {a}) / wtot) / n) AS rate
              FROM s, t),
        k AS (SELECT d.source FROM documents d JOIN r USING (source)
              WHERE {frac} < r.rate)
        SELECT r.source, r.n, round(r.share, 6) AS share,
               count(*) AS kept,
               round(CAST(count(*) AS DOUBLE) / r.n, 4) AS kept_rate
        FROM k JOIN r USING (source)
        GROUP BY r.source, r.n, r.share ORDER BY r.source
    """


EXTENDED_ORACLES["x8_temperature_mix"] = _temperature_mix_oracle_sql()


# x3_pq_adc's codebook chain: u = the quantized long form, seeds/cb =
# the PQ_CODES smallest vec_ids as code rows (code j = rank, subspace s =
# (i-1)//subdim), sd = every vector's exact integer distance to every
# code of its subspace.
_PQ_SD_CTES = f"""u AS (SELECT vec_id,
                     CAST(round(CAST(x AS DOUBLE) * {KM_SCALE}) AS BIGINT) AS x, i
              FROM (SELECT vec_id, unnest(embedding) AS x,
                           generate_subscripts(embedding, 1) AS i
                    FROM embeddings)),
        seeds AS (SELECT vec_id,
                       CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j
                FROM (SELECT DISTINCT vec_id FROM embeddings
                      ORDER BY vec_id LIMIT {PQ_CODES})),
        cb AS (SELECT s.j, u.i, (u.i - 1) // {EMB_DIM // PQ_M} AS s, u.x AS c
               FROM seeds s JOIN u ON u.vec_id = s.vec_id),
        sd AS (SELECT u.vec_id, cb.s, cb.j,
                      SUM((u.x - cb.c) * (u.x - cb.c)) AS d
               FROM u JOIN cb ON cb.i = u.i
               GROUP BY 1, 2, 3)"""


def _pq_adc_oracle_sql(k: int = PQ_K) -> str:
    """Mirror of x3_pq_adc: the _PQ_SD_CTES chain, codes = corpus argmin
    per (vector, subspace), pairs = ADC sums via the (s, code) lookup join.
    k parameterized so the round-9 rerank oracle can ask for the
    wider shortlist."""
    return f"""
        WITH {_PQ_SD_CTES},
        codes AS (SELECT vec_id AS cid, s, j AS code FROM (
                    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                               ORDER BY d, j) AS rn
                    FROM sd WHERE vec_id >= {PQ_NQ}) WHERE rn = 1),
        pairs AS (SELECT q.vec_id AS qid, c.cid,
                         CAST(SUM(q.d) AS BIGINT) AS dist
                  FROM codes c JOIN sd q ON q.s = c.s AND q.j = c.code
                  WHERE q.vec_id < {PQ_NQ}
                  GROUP BY 1, 2)
        SELECT qid, cid, dist, CAST(rk AS INT) AS rk FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                     ORDER BY dist, cid) AS rk FROM pairs)
        WHERE rk <= {k} ORDER BY qid, rk
    """


EXTENDED_ORACLES["x3_pq_adc"] = _pq_adc_oracle_sql()


def _ivfpq_oracle_sql() -> str:
    """Mirror of x3_ivfpq: the shared k-means chain trains the coarse
    quantizer (c{KM_ITER}); per-vector cell ranking routes the corpus
    (rn=1) and queries (rn<=IVFPQ_NPROBE); the PQ chain (p-prefixed to
    avoid CTE collisions with the k-means chain's u/seeds) encodes the
    corpus and scores candidates by ADC lookup sums within probed
    cells."""
    sub = EMB_DIM // PQ_M
    ctes = _kmeans_ctes()
    ctes.append(f"""ivdd AS (
        SELECT u.vec_id, c.cluster, SUM((u.x - c.c) * (u.x - c.c)) AS dist
        FROM u JOIN c{KM_ITER} c ON c.i = u.i GROUP BY 1, 2)""")
    ctes.append("""ivrk AS (
        SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY dist, cluster) AS rn FROM ivdd)""")
    ctes.append(f"""ccell AS (SELECT vec_id AS cid, cluster AS cell
        FROM ivrk WHERE rn = 1 AND vec_id >= {PQ_NQ})""")
    ctes.append(f"""qcell AS (SELECT vec_id AS qid, cluster AS cell
        FROM ivrk WHERE rn <= {IVFPQ_NPROBE} AND vec_id < {PQ_NQ})""")
    ctes.append(f"""pseeds AS (SELECT vec_id,
            CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j
        FROM (SELECT DISTINCT vec_id FROM embeddings
              ORDER BY vec_id LIMIT {PQ_CODES}))""")
    ctes.append(f"""pcb AS (SELECT s.j, u.i, (u.i - 1) // {sub} AS s, u.x AS c
        FROM pseeds s JOIN u ON u.vec_id = s.vec_id)""")
    ctes.append("""psd AS (SELECT u.vec_id, pcb.s, pcb.j,
            SUM((u.x - pcb.c) * (u.x - pcb.c)) AS d
        FROM u JOIN pcb ON pcb.i = u.i GROUP BY 1, 2, 3)""")
    ctes.append(f"""pcodes AS (SELECT vec_id AS cid, s, j AS code FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                     ORDER BY d, j) AS rn
          FROM psd WHERE vec_id >= {PQ_NQ}) WHERE rn = 1)""")
    ctes.append("""cand AS (SELECT q.qid, c.cid
        FROM qcell q JOIN ccell c ON c.cell = q.cell)""")
    ctes.append("""ppairs AS (SELECT cand.qid, cand.cid,
            CAST(SUM(q.d) AS BIGINT) AS dist
        FROM cand JOIN pcodes c ON c.cid = cand.cid
        JOIN psd q ON q.vec_id = cand.qid AND q.s = c.s AND q.j = c.code
        GROUP BY 1, 2)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT qid, cid, dist, CAST(rk AS INT) AS rk FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                     ORDER BY dist, cid) AS rk FROM ppairs)
        WHERE rk <= {PQ_K} ORDER BY qid, rk"""
    )



EXTENDED_ORACLES["x9_rollup_cascade"] = """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d, event_type,
           count(*) AS c,
           round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 / 100.0, 2) AS total_value
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2 ORDER BY 1, 2
"""


def _kcore_oracle_sql() -> str:
    """Unrolled mirror of x11_kcore: the data-derived threshold (lower
    median of initial degrees), then per round a degree aggregate,
    the >= k filter, and the two-sided node restriction."""
    ctes = [
        """ps AS (SELECT DISTINCT l_partkey * 10 + 1 AS src,
                         l_suppkey * 10 + 2 AS dst FROM lineitem)""",
        "e0 AS (SELECT src, dst FROM ps UNION SELECT dst, src FROM ps)",
        """kv AS (SELECT MIN(deg) AS k FROM (
             SELECT deg, SUM(c) OVER (ORDER BY deg) AS cum,
                    SUM(c) OVER () AS n
             FROM (SELECT deg, count(*) AS c FROM (
                     SELECT src, count(*) AS deg FROM e0 GROUP BY 1)
                   GROUP BY 1))
           WHERE cum >= (n + 1) // 2)""",
    ]
    for t in range(KC_ITER):
        ctes.append(f"""k{t} AS (
            SELECT src FROM (SELECT src, count(*) AS deg FROM e{t} GROUP BY 1), kv
            WHERE deg >= kv.k)""")
        ctes.append(f"""e{t + 1} AS (
            SELECT e.src, e.dst FROM e{t} e
            JOIN k{t} a ON a.src = e.src
            JOIN k{t} b ON b.src = e.dst)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        FROM e{KC_ITER} GROUP BY 1 ORDER BY node"""
    )


EXTENDED_ORACLES["x11_kcore"] = _kcore_oracle_sql()


def _label_prop_oracle_sql() -> str:
    """Unrolled mirror of x11_label_prop: per round, votes = neighbor
    labels (via the dst join) UNION ALL the node's own label, then the
    per-node (count DESC, label ASC) top-1."""
    ctes = [
        """ps AS (SELECT DISTINCT l_partkey * 10 + 1 AS src,
                         l_suppkey * 10 + 2 AS dst FROM lineitem)""",
        "e AS (SELECT src, dst FROM ps UNION SELECT dst, src FROM ps)",
        "l0 AS (SELECT src AS node, src AS label FROM (SELECT DISTINCT src FROM e))",
    ]
    for t in range(LP_ITER):
        ctes.append(f"""v{t} AS (
            SELECT e.src, l.label FROM e JOIN l{t} l ON l.node = e.dst
            UNION ALL SELECT node AS src, label FROM l{t})""")
        ctes.append(f"""c{t} AS (
            SELECT src, label, count(*) AS c FROM v{t} GROUP BY 1, 2)""")
        ctes.append(f"""l{t + 1} AS (
            SELECT src AS node, label FROM (
              SELECT src, label, ROW_NUMBER() OVER (PARTITION BY src
                         ORDER BY c DESC, label) AS rn FROM c{t})
            WHERE rn = 1)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, label FROM l{LP_ITER} ORDER BY node"
    )


EXTENDED_ORACLES["x11_label_prop"] = _label_prop_oracle_sql()


def _gopher_oracle_sql() -> str:
    from diepy_spark.operators.text import (
        GOPHER_MAX_WORDS,
        GOPHER_MEANLEN_HI,
        GOPHER_MEANLEN_LO,
        GOPHER_MIN_STOPWORDS,
        GOPHER_MIN_WORDS,
        GOPHER_SHORT_LEN,
        GOPHER_SHORT_MAX_TENTHS,
    )

    en_list = ", ".join(f"'{w}'" for w in LANG_PROFILES["en"])
    return f"""
        WITH tf AS (
          SELECT doc_id, source, {_TOKS_EXPR} AS toks FROM documents
        ),
        f AS (
          SELECT source,
                 len(toks) AS n_tok,
                 list_sum(list_transform(toks, x -> length(x))) AS sum_len,
                 len(list_filter(toks, x -> length(x) <= {GOPHER_SHORT_LEN}))
                   AS n_short,
                 len(list_filter(list_distinct(toks),
                                 x -> x IN ({en_list}))) AS n_stop_d
          FROM tf WHERE len(toks) >= 1
        ),
        r AS (
          SELECT source,
                 CASE WHEN n_tok >= {GOPHER_MIN_WORDS}
                       AND n_tok <= {GOPHER_MAX_WORDS} THEN 1 ELSE 0 END AS r_wc,
                 CASE WHEN sum_len >= {GOPHER_MEANLEN_LO} * n_tok
                       AND sum_len <= {GOPHER_MEANLEN_HI} * n_tok
                      THEN 1 ELSE 0 END AS r_ml,
                 CASE WHEN n_stop_d >= {GOPHER_MIN_STOPWORDS}
                      THEN 1 ELSE 0 END AS r_st,
                 CASE WHEN 10 * n_short <= {GOPHER_SHORT_MAX_TENTHS} * n_tok
                      THEN 1 ELSE 0 END AS r_sh
          FROM f
        )
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(r_wc) AS BIGINT) AS n_wordcount,
               CAST(SUM(r_ml) AS BIGINT) AS n_meanlen,
               CAST(SUM(r_st) AS BIGINT) AS n_stopwords,
               CAST(SUM(r_sh) AS BIGINT) AS n_shorttok,
               CAST(SUM(r_wc * r_ml * r_st * r_sh) AS BIGINT) AS n_keep,
               round(CAST(SUM(r_wc * r_ml * r_st * r_sh) AS DOUBLE)
                     / COUNT(*), 4) AS keep_share
        FROM r GROUP BY 1 ORDER BY 1
    """


EXTENDED_ORACLES["x5_gopher"] = _gopher_oracle_sql()


EXTENDED_ORACLES["x8_ab_test"] = f"""
    WITH pu AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase' AND value > {AB_CONV_MIN}
                      THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY 1
    ),
    g AS (SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS grp, conv FROM pu),
    agg AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(conv) AS BIGINT) AS c
            FROM g GROUP BY 1),
    a AS (SELECT n AS n_a, c AS c_a FROM agg WHERE grp = 1),
    b AS (SELECT n AS n_b, c AS c_b FROM agg WHERE grp = 0)
    SELECT n_a, c_a, n_b, c_b,
           round(c_a / n_a, 6) AS rate_a,
           round(c_b / n_b, 6) AS rate_b,
           round((c_a / n_a - c_b / n_b)
                 / sqrt(((c_a + c_b) / (n_a + n_b))
                        * (1 - (c_a + c_b) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 4) AS z
    FROM a, b
"""

EXTENDED_ORACLES["x12_ref_integrity"] = """
    WITH rel AS (
      SELECT 'lineitem->orders' AS relation,
             (SELECT count(*) FROM lineitem) AS n_rows,
             (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
               AS n_orphans
      UNION ALL
      SELECT 'orders->customer',
             (SELECT count(*) FROM orders),
             (SELECT count(*) FROM orders o WHERE NOT EXISTS
                (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
      UNION ALL
      SELECT 'customer->nation',
             (SELECT count(*) FROM customer),
             (SELECT count(*) FROM customer c WHERE NOT EXISTS
                (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
      UNION ALL
      SELECT 'supplier->nation',
             (SELECT count(*) FROM supplier),
             (SELECT count(*) FROM supplier s WHERE NOT EXISTS
                (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
    )
    SELECT relation, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_orphans AS BIGINT) AS n_orphans
    FROM rel ORDER BY relation
"""

EXTENDED_ORACLES["x12_outliers"] = f"""
    WITH e AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    h AS (SELECT event_type, cents, count(*) AS c FROM e GROUP BY 1, 2),
    w AS (SELECT event_type, cents,
                 SUM(c) OVER (PARTITION BY event_type ORDER BY cents) AS cum,
                 SUM(c) OVER (PARTITION BY event_type) AS n
          FROM h),
    m AS (SELECT event_type, MIN(cents) AS med FROM w
          WHERE cum >= (n + 1) // 2 GROUP BY 1),
    d AS (SELECT e.event_type, e.cents, m.med,
                 abs(e.cents - m.med) AS dev
          FROM e JOIN m USING (event_type)),
    h2 AS (SELECT event_type, dev, count(*) AS c FROM d GROUP BY 1, 2),
    w2 AS (SELECT event_type, dev,
                  SUM(c) OVER (PARTITION BY event_type ORDER BY dev) AS cum,
                  SUM(c) OVER (PARTITION BY event_type) AS n
           FROM h2),
    m2 AS (SELECT event_type, MIN(dev) AS mad FROM w2
           WHERE cum >= (n + 1) // 2 GROUP BY 1)
    SELECT d.event_type,
           COUNT(*) AS n,
           round(MIN(d.med) / 100.0, 2) AS med_val,
           round(MIN(m2.mad) / 100.0, 2) AS mad_val,
           CAST(SUM(CASE WHEN d.dev > {OUT_K_MAD} * m2.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_out,
           round(CAST(SUM(CASE WHEN d.dev > {OUT_K_MAD} * m2.mad
                               THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4)
             AS out_share,
           round(MAX(d.dev) / 100.0, 2) AS max_dev_val
    FROM d JOIN m2 USING (event_type)
    GROUP BY 1 ORDER BY 1
"""


def _bootstrap_oracle_sql() -> str:
    from diepy_spark.operators.sampling import poisson_weight_sql
    from diepy_spark.operators.sketch import hex_frac_sql

    reps = ", ".join(f"({i})" for i in range(BOOT_B))
    u = hex_frac_sql(
        f"md5(concat('{BOOT_SEED}', CAST(r.rep AS VARCHAR), ':',"
        f" CAST(o_orderkey AS VARCHAR)))"
    )
    half = BOOT_B // 2
    return f"""
        WITH o AS (SELECT o_orderstatus, o_orderkey,
                          CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                   FROM orders),
        wtd AS (SELECT o.o_orderstatus, o.cents, r.rep,
                       {poisson_weight_sql(f'({u})')} AS w
                FROM o, (VALUES {reps}) AS r(rep)),
        rm AS (SELECT o_orderstatus, rep,
                      CAST(sum(w * cents) AS DOUBLE) / CAST(sum(w) AS BIGINT)
                        / 100.0 AS boot_mean
               FROM wtd GROUP BY 1, 2),
        band AS (SELECT o_orderstatus,
                        list(boot_mean ORDER BY boot_mean) AS ms
                 FROM rm GROUP BY 1),
        pt AS (SELECT o_orderstatus, count(*) AS n,
                      CAST(sum(cents) AS DOUBLE) / count(*) / 100.0 AS mean_price
               FROM o GROUP BY 1)
        SELECT pt.o_orderstatus, pt.n, round(pt.mean_price, 4) AS mean_price,
               round(ms[1], 4) AS boot_lo,
               round((ms[{half}] + ms[{half + 1}]) / 2.0, 4) AS boot_median,
               round(ms[{BOOT_B}], 4) AS boot_hi
        FROM pt JOIN band ON band.o_orderstatus = pt.o_orderstatus
        ORDER BY pt.o_orderstatus
    """


EXTENDED_ORACLES["x8_bootstrap_ci"] = _bootstrap_oracle_sql()


def _kmeans_ctes(k: int = KM_K, iters: int = KM_ITER, scale: int = KM_SCALE) -> list[str]:
    """The unrolled k-means CTE chain shared by the x3_kmeans and
    x3_ivf_trained oracles: u = quantized long form, c0 = seeds (k
    smallest ids), then KM_ITER rounds of assign (exact integer argmin,
    ties -> smaller cluster) and update (floor(sum/n) per dimension,
    empty clusters keep their centroid). After the chain, a{KM_ITER} is
    the final assignment and c{KM_ITER} the trained centroid table —
    same loop structure as the Spark operator, one CTE pair per round
    (the pagerank pattern)."""
    KM_K, KM_ITER, KM_SCALE = k, iters, scale  # shadow for the f-strings
    ctes = [
        f"""u AS (SELECT vec_id,
                    CAST(round(CAST(x AS DOUBLE) * {KM_SCALE}) AS BIGINT) AS x, i
             FROM (SELECT vec_id, unnest(embedding) AS x,
                          generate_subscripts(embedding, 1) AS i
                   FROM embeddings))""",
        f"""seeds AS (SELECT vec_id,
                      CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j
               FROM (SELECT DISTINCT vec_id FROM embeddings
                     ORDER BY vec_id LIMIT {KM_K}))""",
        "c0 AS (SELECT s.j AS cluster, u.i, u.x AS c FROM seeds s JOIN u ON u.vec_id = s.vec_id)",
    ]
    for t in range(KM_ITER + 1):
        ctes.append(f"""d{t} AS (
            SELECT u.vec_id, c.cluster, SUM((u.x - c.c) * (u.x - c.c)) AS dist
            FROM u JOIN c{t} c ON c.i = u.i GROUP BY 1, 2)""")
        ctes.append(f"""a{t} AS (
            SELECT vec_id, cluster, CAST(dist AS BIGINT) AS dist FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY dist, cluster) AS rn FROM d{t}) WHERE rn = 1)""")
        if t < KM_ITER:
            ctes.append(f"""c{t + 1} AS (
                SELECT a.cluster, u.i,
                       CAST(floor(CAST(sum(u.x) AS DOUBLE) / count(*)) AS BIGINT) AS c
                FROM a{t} a JOIN u ON u.vec_id = a.vec_id GROUP BY 1, 2
                UNION ALL
                SELECT * FROM c{t} WHERE cluster NOT IN
                  (SELECT DISTINCT cluster FROM a{t}))""")
    return ctes


def _kmeans_oracle_sql() -> str:
    return (
        "WITH " + ",\n".join(_kmeans_ctes())
        + f"\nSELECT vec_id, cluster, dist FROM a{KM_ITER} ORDER BY vec_id"
    )


EXTENDED_ORACLES["x3_kmeans"] = _kmeans_oracle_sql()


def _kmeans_stability_oracle_sql() -> str:
    """Consecutive-assignment movement counts off the shared unrolled
    k-means chain (a0 = seed assignment)."""
    ctes = _kmeans_ctes()
    parts = []
    for t in range(1, KM_ITER + 1):
        parts.append(f"""SELECT CAST({t} AS INT) AS iter,
      CAST(sum(CASE WHEN a.cluster <> p.cluster THEN 1 ELSE 0 END) AS BIGINT)
        AS n_changed,
      CAST(count(*) AS BIGINT) AS n_vecs,
      CAST(count(DISTINCT a.cluster) AS BIGINT) AS n_clusters
    FROM a{t} a JOIN a{t - 1} p ON p.vec_id = a.vec_id""")
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL\n".join(parts) + "\nORDER BY iter"
    )


EXTENDED_ORACLES["x3_kmeans_stability"] = _kmeans_stability_oracle_sql()


EXTENDED_ORACLES["x3_ivfpq"] = _ivfpq_oracle_sql()


def _ivf_trained_oracle_sql() -> str:
    """Mirror of x3_ivf_trained: the trained centroids c{KM_ITER} from the
    shared k-means chain, cell assignment by exact integer argmin (corpus
    rn = 1, queries rn <= nprobe), then exact integer squared L2 between
    quantized vectors within probed cells and a per-query top-k."""
    ctes = _kmeans_ctes()
    ctes.append(f"""cd AS (
        SELECT u.vec_id, c.cluster, SUM((u.x - c.c) * (u.x - c.c)) AS dist
        FROM u JOIN c{KM_ITER} c ON c.i = u.i GROUP BY 1, 2)""")
    ctes.append(f"""cellc AS (
        SELECT vec_id AS cid, cluster AS cell FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY dist, cluster) AS rn
          FROM cd WHERE vec_id >= {IVFT_NQ}) WHERE rn = 1)""")
    ctes.append(f"""cellq AS (
        SELECT vec_id AS qid, cluster AS cell FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY dist, cluster) AS rn
          FROM cd WHERE vec_id < {IVFT_NQ}) WHERE rn <= {IVFT_NPROBE})""")
    ctes.append("""pairs AS (
        SELECT q.qid, c.cid,
               CAST(SUM((uq.x - uc.x) * (uq.x - uc.x)) AS BIGINT) AS dist
        FROM cellq q JOIN cellc c ON c.cell = q.cell
        JOIN u uq ON uq.vec_id = q.qid
        JOIN u uc ON uc.vec_id = c.cid AND uc.i = uq.i
        GROUP BY 1, 2)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT qid, cid, dist, CAST(rk AS INT) AS rk FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                     ORDER BY dist, cid) AS rk FROM pairs)
        WHERE rk <= {IVFT_K} ORDER BY qid, rk"""
    )


EXTENDED_ORACLES["x3_ivf_trained"] = _ivf_trained_oracle_sql()


def _wtk_oracle_sql() -> str:
    from diepy_spark.operators.sketch import hex_frac_sql

    u = hex_frac_sql(f"md5(concat('{WTK_SEED}:', CAST(doc_id AS VARCHAR)))")
    return f"""
        WITH keyed AS (
          SELECT doc_id, lang, n_chars, ln({u}) / n_chars AS aes
          FROM documents WHERE n_chars > 0
        ),
        r AS (SELECT doc_id, lang, n_chars,
                     CAST(ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY aes DESC, doc_id) AS INT) AS rk
              FROM keyed)
        SELECT doc_id, lang, n_chars, rk FROM r WHERE rk <= {WTK_K}
        ORDER BY lang, rk
    """


EXTENDED_ORACLES["x8_weighted_topk"] = _wtk_oracle_sql()


EXTENDED_ORACLES["x2_containment_pairs"] = f"""
    WITH {_JACCARD_CTES},
    conts AS (
      SELECT da, db, c / least(sa.n, sb.n) AS cont
      FROM common JOIN sizes sa ON sa.d = da JOIN sizes sb ON sb.d = db
    )
    SELECT da, db, cont FROM conts WHERE cont >= {CONT_THRESHOLD}
    ORDER BY da, db
"""


def _kmv_overlap_oracle_sql() -> str:
    from diepy_spark.operators.sketch import hex_frac_sql

    srcs = ", ".join(f"'{s}'" for s in KMV_OV_SOURCES)
    frac = hex_frac_sql(f"md5(concat('{KMV_OV_SEED}:', v))")
    k = KMV_OV_K
    return f"""
        WITH tok AS (
          SELECT DISTINCT source AS g, v FROM (
            SELECT source, unnest({_TOKS_EXPR}) AS v FROM documents
            WHERE source IN ({srcs}))
        ),
        f AS (SELECT g, v, {frac} AS frac FROM tok),
        gs AS (SELECT DISTINCT g FROM tok),
        pairs AS (SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b ON a.g < b.g),
        u AS (
          SELECT p.ga, p.gb, f.v,
                 max(CASE WHEN f.g = p.ga THEN 1 ELSE 0 END) AS in_a,
                 max(CASE WHEN f.g = p.gb THEN 1 ELSE 0 END) AS in_b,
                 min(f.frac) AS frac
          FROM pairs p JOIN f ON f.g IN (p.ga, p.gb)
          GROUP BY 1, 2, 3
        ),
        ex AS (SELECT ga, gb, count(*) AS exact_union,
                      CAST(sum(in_a * in_b) AS BIGINT) AS exact_overlap
               FROM u GROUP BY 1, 2),
        sk AS (SELECT ga, gb, count(*) AS n, max(frac) AS theta,
                      CAST(sum(in_a * in_b) AS BIGINT) AS m
               FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY ga, gb
                              ORDER BY frac, v) AS rk FROM u)
               WHERE rk <= {k} GROUP BY 1, 2)
        SELECT ex.ga, ex.gb, ex.exact_union,
               round(CASE WHEN sk.n < {k} THEN CAST(sk.n AS DOUBLE)
                          ELSE {k - 1} / sk.theta END, 2) AS est_union,
               ex.exact_overlap,
               round(CASE WHEN sk.n < {k} THEN CAST(sk.m AS DOUBLE)
                          ELSE (sk.m * ({k - 1} / sk.theta)) / {k} END, 2)
                 AS est_overlap
        FROM ex JOIN sk ON sk.ga = ex.ga AND sk.gb = ex.gb
        ORDER BY ex.ga, ex.gb
    """


EXTENDED_ORACLES["x8_kmv_overlap"] = _kmv_overlap_oracle_sql()


EXTENDED_ORACLES["x6_media_dedup"] = """
    SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
           CAST(min(octet_length(encode(text))) AS INT) AS byte_len
    FROM documents GROUP BY md5(text) ORDER BY keep_id
"""


EXTENDED_ORACLES["x2_lsh_curve"] = f"""
    WITH {_LSH_CAND_CTES},
    j AS (
      SELECT least(CAST(floor(jacs.jac * 10) AS BIGINT), 9) AS bucket,
             CASE WHEN cand.da IS NULL THEN 0 ELSE 1 END AS is_cand
      FROM jacs LEFT JOIN cand ON cand.da = jacs.da AND cand.db = jacs.db
    ),
    agg AS (
      SELECT bucket, count(*) AS n_pairs,
             CAST(sum(is_cand) AS BIGINT) AS n_cand
      FROM j GROUP BY 1
    ),
    t AS (SELECT *, (bucket + 0.5) / 10 AS s_mid FROM agg),
    t1 AS (SELECT *, 1 - s_mid * s_mid AS v1 FROM t),
    t2 AS (SELECT *, v1 * v1 AS v2 FROM t1),
    t4 AS (SELECT *, v2 * v2 AS v4 FROM t2)
    SELECT bucket, n_pairs, n_cand,
           round(n_cand / n_pairs, 4) AS cand_rate,
           round(1 - v4 * v4, 4) AS theoretical
    FROM t4 ORDER BY bucket
"""

# CUPED oracle: identical integer layer (cents, midpoint split, per-user
# sums, cohort/global moments — DuckDB HUGEINT sums cast back to BIGINT)
# and the SAME float formula constants as the Spark plan.
_CUPED_D1 = ", ".join(
    [f"{sql} AS {name}" for name, sql in _CUPED_DERIVED]
    + [f"{_CUPED_THETA} AS theta", f"{_CUPED_PRE_ALL} AS pre_mean_all"]
)
EXTENDED_ORACLES["x8_cuped"] = f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us, {_CUPED_CENTS} AS cents FROM events
    ),
    m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
    pu AS (
      SELECT user_id,
             CAST(coalesce(sum(CASE WHEN us < mid THEN cents END), 0) AS BIGINT) AS pre_c,
             CAST(coalesce(sum(CASE WHEN us >= mid THEN cents END), 0) AS BIGINT) AS post_c
      FROM e, m GROUP BY 1
    ),
    g AS (SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS grp, pre_c, post_c
          FROM pu),
    cg AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pre_c) AS BIGINT) AS sx, CAST(sum(post_c) AS BIGINT) AS sy,
             CAST(sum(pre_c * pre_c) AS BIGINT) AS sxx,
             CAST(sum(post_c * post_c) AS BIGINT) AS syy,
             CAST(sum(pre_c * post_c) AS BIGINT) AS sxy
      FROM g GROUP BY 1
    ),
    al AS (
      SELECT CAST(count(*) AS BIGINT) AS n_all,
             CAST(sum(pre_c) AS BIGINT) AS sx_all,
             CAST(sum(post_c) AS BIGINT) AS sy_all,
             CAST(sum(pre_c * pre_c) AS BIGINT) AS sxx_all,
             CAST(sum(pre_c * post_c) AS BIGINT) AS sxy_all
      FROM g
    ),
    d1 AS (SELECT grp, n, {_CUPED_D1} FROM cg, al),
    d2 AS (
      SELECT grp, n AS n_users, mean_post,
             {_CUPED_MEAN_ADJ} AS mean_adj, var_post,
             {_CUPED_VAR_ADJ} AS var_adj, theta
      FROM d1
    )
    SELECT grp, n_users,
           round(mean_post, 6) AS mean_post, round(mean_adj, 6) AS mean_adj,
           round(var_post, 6) AS var_post, round(var_adj, 6) AS var_adj,
           round(var_adj / var_post, 6) AS var_reduction,
           round(theta, 6) AS theta
    FROM d2 ORDER BY grp
"""

# Mann-Whitney oracle: same histogram rank layer in exact integers
# (DuckDB HUGEINT sums cast back to BIGINT), same _MWU_* float formulas.
EXTENDED_ORACLES["x8_mwu"] = f"""
    WITH e AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS cents,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS grp
      FROM events WHERE value IS NOT NULL
    ),
    h AS (SELECT cents, CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY 1),
    hd AS (
      SELECT cents, cnt,
             2 * (coalesce(SUM(cnt) OVER (ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1)
               + cnt - 1 AS d
      FROM h
    ),
    hg AS (SELECT cents, grp, CAST(count(*) AS BIGINT) AS cnt_g
           FROM e GROUP BY 1, 2),
    rg AS (
      SELECT grp, CAST(sum(cnt_g * d) AS BIGINT) AS r2,
             CAST(sum(cnt_g) AS BIGINT) AS n
      FROM hg JOIN hd USING (cents) GROUP BY grp
    ),
    a AS (SELECT r2 AS r2_a, n AS n_a FROM rg WHERE grp = 1),
    b AS (SELECT r2 AS r2_b, n AS n_b FROM rg WHERE grp = 0),
    t AS (SELECT CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie FROM hd),
    j AS (SELECT r2_a, n_a, n_b, tie, n_a + n_b AS nn FROM a, b, t),
    d1 AS (
      SELECT n_a, n_b, {_MWU_U_A} AS u_a, {_MWU_MU} AS mu, {_MWU_VAR} AS var_u
      FROM j
    )
    SELECT n_a, n_b, u_a,
           CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) - u_a AS u_b,
           round((u_a - mu) / sqrt(var_u), 4) AS z
    FROM d1
"""

# SRM oracle: distinct (segment, user, cohort) then conditional counts;
# HUGEINT sums cast back; the same _SRM_* formulas.
EXTENDED_ORACLES["x8_srm"] = f"""
    WITH g AS (
      SELECT DISTINCT event_type, user_id,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS grp
      FROM events
    ),
    agg AS (
      SELECT event_type, CAST(sum(grp) AS BIGINT) AS n_a,
             CAST(sum(1 - grp) AS BIGINT) AS n_b
      FROM g GROUP BY 1
    )
    SELECT event_type, n_a, n_b,
           round({_SRM_RATIO}, 6) AS ratio_a,
           round({_SRM_CHI2}, 6) AS chi2
    FROM agg ORDER BY event_type
"""

def _semdedup_ctes() -> list:
    """The shared SemDeDup chain (through `cell` assignments and `fl`
    flagged ids) consumed by the x2_semdedup summary oracle and the
    x2_semdedup_apply corpus-consumer oracle."""
    ctes = _kmeans_ctes(k=_SD_K_SQL, iters=SD_ITER, scale=SD_SCALE)
    ctes.append(f"""cd AS (
        SELECT u.vec_id, c.cluster, SUM((u.x - c.c) * (u.x - c.c)) AS dist
        FROM u JOIN c{SD_ITER} c ON c.i = u.i GROUP BY 1, 2)""")
    ctes.append("""cell AS (
        SELECT vec_id AS cid, cluster AS cell FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY dist, cluster) AS rn FROM cd) WHERE rn = 1)""")
    ctes.append("nrm AS (SELECT vec_id, CAST(SUM(x * x) AS BIGINT) AS nn FROM u GROUP BY 1)")
    ctes.append("""p AS (
        SELECT a.cid AS da, b.cid AS db, a.cell,
               CAST(SUM(ua.x * ub.x) AS BIGINT) AS dot
        FROM cell a JOIN cell b ON b.cell = a.cell AND a.cid < b.cid
        JOIN u ua ON ua.vec_id = a.cid
        JOIN u ub ON ub.vec_id = b.cid AND ub.i = ua.i
        GROUP BY 1, 2, 3)""")
    ctes.append(f"""dup AS (
        SELECT p.db FROM p
        JOIN nrm na ON na.vec_id = p.da
        JOIN nrm nb ON nb.vec_id = p.db
        WHERE dot > 0
          AND {SD_THR_DEN * SD_THR_DEN} * dot * dot
              > {SD_THR_NUM * SD_THR_NUM} * na.nn * nb.nn)""")
    ctes.append("fl AS (SELECT DISTINCT db FROM dup)")
    return ctes


def _semdedup_oracle_sql() -> str:
    """Mirror of x2_semdedup: argmin cell assignment, within-cell integer
    cross-multiplied cosine pairs, per-cluster flag summary."""
    return (
        "WITH " + ",\n".join(_semdedup_ctes())
        + """
        SELECT cell AS cluster, CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(sum(CASE WHEN fl.db IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_flagged,
               CAST(count(*) - sum(CASE WHEN fl.db IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_kept,
               round(CAST(count(*) - sum(CASE WHEN fl.db IS NOT NULL THEN 1 ELSE 0 END)
                       AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS keep_frac
        FROM cell LEFT JOIN fl ON fl.db = cell.cid
        GROUP BY 1 ORDER BY cluster"""
    )


EXTENDED_ORACLES["x2_semdedup"] = _semdedup_oracle_sql()


def _semdedup_probe_oracle_sql() -> str:
    """Mirror of x2_semdedup_probe: the shared full-corpus k-means chain,
    per-vector (dist, cluster) ranking for primary (rn=1) and probe list
    (rn<=2), exhaustive subset pairs as ground truth, candidate sets per
    probe level, and the two recall rows."""
    ctes = _kmeans_ctes(k=_SD_K_SQL, iters=SD_ITER, scale=SD_SCALE)
    ctes.append(f"""cdp AS (
        SELECT u.vec_id, c.cluster, SUM((u.x - c.c) * (u.x - c.c)) AS dist
        FROM u JOIN c{SD_ITER} c ON c.i = u.i GROUP BY 1, 2)""")
    ctes.append("""rnk AS (
        SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY dist, cluster) AS rn FROM cdp)""")
    ctes.append(f"""pcell AS (SELECT vec_id AS cid, cluster AS cell
        FROM rnk WHERE rn = 1 AND vec_id < {SD_PROBE_MAX})""")
    ctes.append(f"""pcell2 AS (SELECT vec_id AS cid, cluster AS cell
        FROM rnk WHERE rn <= 2 AND vec_id < {SD_PROBE_MAX})""")
    ctes.append(f"""pnrm AS (SELECT vec_id, CAST(SUM(x * x) AS BIGINT) AS nn
        FROM u WHERE vec_id < {SD_PROBE_MAX} GROUP BY 1)""")
    ctes.append(f"""pdot AS (
        SELECT a.cid AS da, b.cid AS db, CAST(SUM(ua.x * ub.x) AS BIGINT) AS dot
        FROM pcell a JOIN pcell b ON a.cid < b.cid
        JOIN u ua ON ua.vec_id = a.cid
        JOIN u ub ON ub.vec_id = b.cid AND ub.i = ua.i
        GROUP BY 1, 2)""")
    ctes.append(f"""pdup AS (
        SELECT p.da, p.db FROM pdot p
        JOIN pnrm na ON na.vec_id = p.da
        JOIN pnrm nb ON nb.vec_id = p.db
        WHERE dot > 0
          AND {SD_THR_DEN * SD_THR_DEN} * dot * dot
              > {SD_THR_NUM * SD_THR_NUM} * na.nn * nb.nn)""")
    ctes.append("""cand1 AS (
        SELECT a.cid AS da, b.cid AS db
        FROM pcell a JOIN pcell b ON b.cell = a.cell AND a.cid < b.cid)""")
    ctes.append("""cand2 AS (
        SELECT DISTINCT least(p.cid, q.cid) AS da, greatest(p.cid, q.cid) AS db
        FROM pcell p JOIN pcell2 q ON q.cell = p.cell AND p.cid <> q.cid)""")
    ctes.append("""sel AS (
        SELECT 'cell1' AS method,
               (SELECT CAST(count(*) AS BIGINT) FROM pdup) AS n_exact,
               (SELECT CAST(count(*) AS BIGINT) FROM pdup d
                JOIN cand1 c ON c.da = d.da AND c.db = d.db) AS n_found
        UNION ALL
        SELECT 'probe2',
               (SELECT CAST(count(*) AS BIGINT) FROM pdup),
               (SELECT CAST(count(*) AS BIGINT) FROM pdup d
                JOIN cand2 c ON c.da = d.da AND c.db = d.db))""")
    return (
        "WITH " + ",\n".join(ctes)
        + """
        SELECT method, n_exact, n_found,
               round(CAST(n_found AS DOUBLE) / CAST(n_exact AS DOUBLE), 4)
                 AS recall
        FROM sel ORDER BY method"""
    )


EXTENDED_ORACLES["x2_semdedup_probe"] = _semdedup_probe_oracle_sql()

def _bfs_oracle_sql() -> str:
    """Mirror of x11_bfs: seeds at distance 0, then BFS_ITER unrolled
    rounds of (carry forward UNION expand one hop) -> min per node."""
    ctes = [
        f"""e AS (
          SELECT src, dst FROM (
            SELECT l_partkey * 10 + 1 AS src, l_suppkey * 10 + 2 AS dst
            FROM lineitem GROUP BY 1, 2
            UNION ALL
            SELECT l_suppkey * 10 + 2, l_partkey * 10 + 1
            FROM lineitem GROUP BY 1, 2) WHERE src <> dst)""",
        f"""d0 AS (
          SELECT DISTINCT l_partkey * 10 + 1 AS node, 0 AS d
          FROM lineitem WHERE l_partkey <= {BFS_SEED_MAX})""",
    ]
    for t in range(BFS_ITER):
        ctes.append(f"""d{t + 1} AS (
          SELECT node, CAST(min(d) AS INT) AS d FROM (
            SELECT node, d FROM d{t}
            UNION ALL
            SELECT e.dst AS node, x.d + 1 AS d
            FROM d{t} x JOIN e ON e.src = x.node) GROUP BY node)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, d FROM d{BFS_ITER} ORDER BY node"
    )


EXTENDED_ORACLES["x11_bfs"] = _bfs_oracle_sql()

# ppl-bucket oracle: the shared lm_score CTEs, then the same pure-integer
# tercile ranks over the rounded-ppl histogram.
EXTENDED_ORACLES["x5_ppl_buckets"] = f"""
    WITH {_LM_SCORE_CTES},
    h AS (SELECT ppl, CAST(count(*) AS BIGINT) AS c FROM lmbase GROUP BY 1),
    h2 AS (SELECT ppl, c, SUM(c) OVER (ORDER BY ppl
             ROWS UNBOUNDED PRECEDING) AS cum FROM h),
    ntot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h),
    b AS (SELECT min(CASE WHEN 3 * cum >= n THEN ppl END) AS b1,
                 min(CASE WHEN 3 * cum >= 2 * n THEN ppl END) AS b2
          FROM h2, ntot),
    tiered AS (
      SELECT d.lang, lmbase.n_tokens, lmbase.ppl,
             1 + (CASE WHEN lmbase.ppl > b.b1 THEN 1 ELSE 0 END)
               + (CASE WHEN lmbase.ppl > b.b2 THEN 1 ELSE 0 END) AS tier
      FROM lmbase, b JOIN documents d ON d.doc_id = lmbase.doc_id
    )
    SELECT lang, CAST(tier AS INT) AS tier, CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(n_tokens) AS BIGINT) AS tok_sum,
           min(ppl) AS ppl_min, max(ppl) AS ppl_max
    FROM tiered GROUP BY 1, 2 ORDER BY lang, tier
"""

# SCD2 lookup oracle: same change detection + same-day collapse, then a
# correlated point-in-time pick (latest valid_from <= fact date — unique
# per (key, day) after the collapse, so deterministic).
EXTENDED_ORACLES["x9_scd2_lookup"] = """
    WITH ch AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
      FROM (
        SELECT *, lag(o_orderpriority) OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS prev
        FROM orders)
      WHERE prev IS NULL OR prev <> o_orderpriority
    ),
    hist AS (
      SELECT o_custkey, o_orderdate AS ts, o_orderpriority AS active_priority
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                   ORDER BY o_orderkey DESC) AS rn
        FROM ch) WHERE rn = 1
    ),
    looked AS (
      SELECT o.o_custkey, o.o_orderpriority,
             (SELECT h.active_priority FROM hist h
              WHERE h.o_custkey = o.o_custkey AND h.ts <= o.o_orderdate
              ORDER BY h.ts DESC LIMIT 1) AS active_priority
      FROM orders o
    )
    SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN active_priority = o_orderpriority
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
    FROM looked GROUP BY 1 ORDER BY o_custkey
"""

# Assortativity oracle: same edge/degree/moment layer (HUGEINT sums cast
# back to BIGINT), same _ASSORT_R closed form.
EXTENDED_ORACLES["x11_assortativity"] = f"""
    WITH ps AS (
      SELECT l_partkey * 10 + 1 AS src, l_suppkey * 10 + 2 AS dst
      FROM lineitem GROUP BY 1, 2
    ),
    sym AS (SELECT src, dst FROM ps
            UNION ALL SELECT dst, src FROM ps),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY 1),
    mom1 AS (
      SELECT CAST(sum(deg) AS BIGINT) AS m,
             CAST(sum(deg * deg) AS BIGINT) AS s2,
             CAST(sum(deg * deg * deg) AS BIGINT) AS s3,
             CAST(count(*) AS BIGINT) AS n_nodes
      FROM deg
    ),
    snb AS (
      SELECT sym.src, CAST(sum(dd.deg) AS BIGINT) AS snb
      FROM sym JOIN deg dd ON dd.src = sym.dst GROUP BY 1
    ),
    sxyf AS (
      SELECT CAST(sum(deg.deg * snb.snb) AS BIGINT) AS sxy
      FROM snb JOIN deg ON deg.src = snb.src
    )
    SELECT m AS n_edges, n_nodes, round({_ASSORT_R}, 6) AS assortativity
    FROM mom1, sxyf
"""

def _perm_test_oracle_sql() -> str:
    """Mirror of x8_perm_test from the same generated texts."""
    bit_cols = ",\n             ".join(
        f"{_perm_bit(p)} AS b{p}" for p in range(PERM_P)
    )
    na_cols = ",\n             ".join(
        f"CAST(sum(b{p}) AS BIGINT) AS na{p}" for p in range(PERM_P)
    )
    sa_cols = ",\n             ".join(
        f"CAST(sum(b{p} * tot) AS BIGINT) AS sa{p}" for p in range(PERM_P)
    )
    diff_cols = ",\n             ".join(
        f"{_perm_mean_diff(f'na{p}', f'sa{p}')} AS diff{p}" for p in range(PERM_P)
    )
    extreme = " + ".join(
        f"(CASE WHEN abs(diff{p}) >= abs(obs_diff) THEN 1 ELSE 0 END)"
        for p in range(PERM_P)
    )
    return f"""
    WITH pu AS (
      SELECT user_id, CAST(sum({_CUPED_CENTS}) AS BIGINT) AS tot
      FROM events GROUP BY 1
    ),
    bits AS (
      SELECT tot, CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS g_obs,
             {bit_cols}
      FROM pu
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(tot) AS BIGINT) AS s,
             CAST(sum(g_obs) AS BIGINT) AS na_o,
             CAST(sum(g_obs * tot) AS BIGINT) AS sa_o,
             {na_cols},
             {sa_cols}
      FROM bits
    ),
    d1 AS (
      SELECT n, {_perm_mean_diff('na_o', 'sa_o')} AS obs_diff,
             {diff_cols}
      FROM agg
    )
    SELECT n AS n_users, round(obs_diff, 4) AS obs_diff,
           CAST({extreme} AS BIGINT) AS n_extreme,
           round(CAST({extreme} AS DOUBLE) / {PERM_P}, 4) AS p_value
    FROM d1
"""


EXTENDED_ORACLES["x8_perm_test"] = _perm_test_oracle_sql()


def _fdr_bh_oracle_sql() -> str:
    """Mirror of x8_fdr_bh: the grouped perm-test texts, then the BH
    suffix-min window over the m metric rows."""
    bit_cols = ",\n             ".join(
        f"{_perm_bit(p)} AS b{p}" for p in range(PERM_P)
    )
    na_cols = ",\n             ".join(
        f"CAST(sum(b{p}) AS BIGINT) AS na{p}" for p in range(PERM_P)
    )
    sa_cols = ",\n             ".join(
        f"CAST(sum(b{p} * tot) AS BIGINT) AS sa{p}" for p in range(PERM_P)
    )
    diff_cols = ",\n             ".join(
        f"{_perm_mean_diff(f'na{p}', f'sa{p}')} AS diff{p}" for p in range(PERM_P)
    )
    extreme = " + ".join(
        f"(CASE WHEN abs(diff{p}) >= abs(obs_diff) THEN 1 ELSE 0 END)"
        for p in range(PERM_P)
    )
    return f"""
    WITH pu AS (
      SELECT event_type, user_id, CAST(sum({_CUPED_CENTS}) AS BIGINT) AS tot
      FROM events GROUP BY 1, 2
    ),
    bits AS (
      SELECT event_type, tot,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS g_obs,
             {bit_cols}
      FROM pu
    ),
    agg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n, CAST(sum(tot) AS BIGINT) AS s,
             CAST(sum(g_obs) AS BIGINT) AS na_o,
             CAST(sum(g_obs * tot) AS BIGINT) AS sa_o,
             {na_cols},
             {sa_cols}
      FROM bits GROUP BY 1
    ),
    d1 AS (
      SELECT event_type, n, {_perm_mean_diff('na_o', 'sa_o')} AS obs_diff,
             {diff_cols}
      FROM agg
    ),
    pv AS (
      SELECT event_type, n AS n_users, round(obs_diff, 4) AS obs_diff,
             CAST({extreme} AS BIGINT) AS n_extreme
      FROM d1
    ),
    ranked AS (
      SELECT *, CAST(count(*) OVER () AS BIGINT) AS m,
             CAST(row_number() OVER (ORDER BY n_extreme, event_type)
                  AS BIGINT) AS rk
      FROM pv
    ),
    q AS (
      SELECT *, CAST(n_extreme * m AS DOUBLE)
                / CAST({PERM_P} * rk AS DOUBLE) AS q_raw
      FROM ranked
    ),
    adj AS (
      SELECT *, least(min(q_raw) OVER (ORDER BY rk ROWS BETWEEN CURRENT ROW
                      AND UNBOUNDED FOLLOWING), CAST(1 AS DOUBLE)) AS p_adj_u
      FROM q
    )
    SELECT event_type, n_users, obs_diff, n_extreme,
           round(CAST(n_extreme AS DOUBLE) / {PERM_P}, 4) AS p_value,
           CAST(rk AS INT) AS rk,
           round(p_adj_u, 4) AS p_adj,
           CAST(CASE WHEN p_adj_u <= {_FDR_Q_TXT} THEN 1 ELSE 0 END
                AS BIGINT) AS reject
    FROM adj ORDER BY rk
"""


EXTENDED_ORACLES["x8_fdr_bh"] = _fdr_bh_oracle_sql()


def _delta_method_oracle_sql() -> str:
    """Mirror of x8_delta_method from the same _dm_texts."""
    pivot = ",\n             ".join(
        f"CAST(max(CASE WHEN grp = {grp} THEN {c} END) AS BIGINT) AS {c}{sfx}"
        for grp, sfx in ((0, "_a"), (1, "_b"))
        for c in ("n", "sx", "sy", "sxx", "syy", "sxy")
    )
    a, b = _dm_texts("_a"), _dm_texts("_b")
    return f"""
    WITH pu AS (
      SELECT user_id,
             CAST(coalesce(sum({_CUPED_CENTS}), 0) AS BIGINT) AS x,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    g AS (
      SELECT user_id % 2 AS grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM pu GROUP BY 1
    ),
    one AS (SELECT {pivot} FROM g)
    SELECT n_a, n_b,
           round({a['r']}, 6) AS ratio_a, round({a['se']}, 6) AS se_a,
           round({b['r']}, 6) AS ratio_b, round({b['se']}, 6) AS se_b,
           round({a['r']} - {b['r']}, 6) AS diff,
           round(({a['r']} - {b['r']})
                 / sqrt({a['se']} * {a['se']} + {b['se']} * {b['se']}), 4)
             AS z
    FROM one
"""


EXTENDED_ORACLES["x8_delta_method"] = _delta_method_oracle_sql()

EXTENDED_ORACLES["x9_cdc_apply"] = f"""
    WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
    log AS (
      SELECT o_orderkey, o_totalprice + 1.0 AS o_totalprice,
             'U' AS op, 2 AS seq
      FROM base WHERE o_orderkey % {CDC_U_MOD} = 0
      UNION ALL
      SELECT o_orderkey, o_totalprice + 0.0, 'D', 3
      FROM base WHERE o_orderkey % {CDC_D_MOD} = 0
      UNION ALL
      SELECT o_orderkey, o_totalprice + 2.0, 'U', 1
      FROM base WHERE o_orderkey % {CDC_C_MOD} = 0
      UNION ALL
      SELECT o_orderkey, o_totalprice + 3.0, 'U', 4
      FROM base WHERE o_orderkey % {CDC_C_MOD} = 0
    ),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                     ORDER BY seq DESC) AS rk
        FROM log) WHERE rk = 1
    ),
    surv AS (
      SELECT b.o_orderkey, b.o_totalprice FROM base b
      LEFT JOIN latest l ON l.o_orderkey = b.o_orderkey
      WHERE l.o_orderkey IS NULL
    ),
    ups AS (SELECT o_orderkey, o_totalprice FROM latest WHERE op != 'D')
    SELECT o_orderkey, o_totalprice AS price
    FROM (SELECT * FROM surv UNION ALL SELECT * FROM ups)
    ORDER BY o_orderkey
"""

# semdedup-apply oracle: the shared SemDeDup chain, flags joined back to
# documents (vec_id == doc_id in this fixture), per-lang survival.
EXTENDED_ORACLES["x2_semdedup_apply"] = (
    "WITH " + ",\n".join(_semdedup_ctes())
    + """,
    flags AS (
      SELECT cell.cid AS doc_id,
             CASE WHEN fl.db IS NOT NULL THEN 1 ELSE 0 END AS is_dup
      FROM cell LEFT JOIN fl ON fl.db = cell.cid
    )
    SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN coalesce(f.is_dup, 0) = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN coalesce(f.is_dup, 0) = 0 THEN d.n_chars
                         ELSE 0 END) AS BIGINT) AS chars_kept
    FROM documents d LEFT JOIN flags f ON f.doc_id = d.doc_id
    GROUP BY 1 ORDER BY d.lang"""
)

# Trimmed-mean oracle: identical histogram + integer clamp arithmetic;
# the division-by-100 restores currency units at the very end.
EXTENDED_ORACLES["x8_trimmed_mean"] = f"""
    WITH e AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    h AS (SELECT event_type, cents, CAST(count(*) AS BIGINT) AS c
          FROM e GROUP BY 1, 2),
    h2 AS (
      SELECT event_type, cents, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(c) OVER (PARTITION BY event_type) AS n
      FROM h
    ),
    h3 AS (
      SELECT event_type, cents, n,
             greatest(least(cum, n - (n // {TRIM_DEN}))
                      - greatest(cum - c, n // {TRIM_DEN}),
                      CAST(0 AS BIGINT)) AS kept
      FROM h2
    )
    SELECT event_type, CAST(max(n) AS BIGINT) AS n,
           CAST(sum(kept) AS BIGINT) AS trimmed_n,
           round(CAST(CAST(sum(cents * kept) AS BIGINT) AS DOUBLE)
                 / CAST(CAST(sum(kept) AS BIGINT) AS DOUBLE) / 100, 4)
             AS trimmed_mean
    FROM h3 GROUP BY 1 ORDER BY event_type
"""

def _benford_oracle_sql() -> str:
    import math

    exp_case = " ".join(
        f"WHEN digit = '{k}' THEN CAST({math.log10(1 + 1 / k)!r} AS DOUBLE)"
        for k in range(1, 10)
    )
    return f"""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS STRING), 1, 1) AS VARCHAR) AS digit
      FROM orders
    ),
    counts AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d GROUP BY 1),
    tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM counts)
    SELECT digit, n_obs,
           round(CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE), 6) AS obs_frac,
           round(CASE {exp_case} END, 6) AS benford_frac,
           round((CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CASE {exp_case} END))
                 * (CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CASE {exp_case} END))
                 / (CASE {exp_case} END), 6) AS sq_dev
    FROM counts, tot ORDER BY digit
"""


EXTENDED_ORACLES["x12_benford"] = _benford_oracle_sql()

# Cluster-size distribution oracle: the shared closure CTEs; docs in no
# pair are size-1 clusters labeled by their own id.
EXTENDED_ORACLES["x2_cluster_size_dist"] = f"""
    WITH RECURSIVE {_CLOSURE_CTES},
    lab AS (
      SELECT coalesce(c.cluster, d.doc_id) AS cluster
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ),
    csizes AS (SELECT cluster, CAST(count(*) AS BIGINT) AS size
               FROM lab GROUP BY 1)
    SELECT size, CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(count(*) * size AS BIGINT) AS n_docs
    FROM csizes GROUP BY size ORDER BY size
"""

def _hash_embed_oracle_sql() -> str:
    cs = ",\n           ".join(
        f"CAST(sum(CASE WHEN b = {k} THEN 1 ELSE 0 END) AS BIGINT) AS c{k}"
        for k in range(HASH_EMBED_DIM)
    )
    norm = " + ".join(f"c{k} * c{k}" for k in range(HASH_EMBED_DIM))
    ntok = " + ".join(f"c{k}" for k in range(HASH_EMBED_DIM))
    return f"""
    WITH toks AS (
      SELECT doc_id, instr('0123456789abcdef', substr(md5(t.tok), 1, 1)) - 1 AS b
      FROM documents, LATERAL (SELECT unnest({_TOKS_EXPR}) AS tok) t
    ),
    vec AS (
      SELECT doc_id,
           {cs}
      FROM toks GROUP BY doc_id
    )
    SELECT doc_id, {", ".join(f"c{k}" for k in range(HASH_EMBED_DIM))},
           CAST({ntok} AS BIGINT) AS n_tokens,
           CAST({norm} AS BIGINT) AS norm_sq
    FROM vec ORDER BY doc_id
"""


EXTENDED_ORACLES["x5_hash_embed"] = _hash_embed_oracle_sql()


EXTENDED_ORACLES["x3_mips"] = f"""
    WITH u AS (
      SELECT vec_id,
             CAST(round(CAST(x AS DOUBLE) * {KM_SCALE}) AS BIGINT) AS x, i
      FROM (SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)
    ),
    s AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             CAST(SUM(q.x * c.x) AS BIGINT) AS dot
      FROM u q JOIN u c ON c.i = q.i
      WHERE q.vec_id < {TOPK_QUERY_MAX} AND c.vec_id >= {TOPK_QUERY_MAX}
      GROUP BY 1, 2
    )
    SELECT qid, cid, dot, CAST(rk AS INT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY dot DESC, cid) AS rk FROM s)
    WHERE rk <= {TOPK_K} ORDER BY qid, rk
"""

EXTENDED_ORACLES["x11_neighbor_jaccard"] = f"""
    WITH e AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
      WHERE l_partkey < {NJ_PART_MAX}
    ),
    deg AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
    c AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             CAST(count(*) AS BIGINT) AS common
      FROM e a JOIN e b ON b.l_suppkey = a.l_suppkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= {NJ_MIN_COMMON}
    )
    SELECT pa, pb, common, da.deg AS da, db.deg AS db,
           round(CAST(common AS DOUBLE) / (da.deg + db.deg - common), 4)
             AS jaccard
    FROM c JOIN deg da ON da.l_partkey = pa JOIN deg db ON db.l_partkey = pb
    ORDER BY jaccard DESC, pa, pb LIMIT {NJ_TOP}
"""


def _inc_minhash_oracle_sql() -> str:
    """Mirror of x2_incremental_minhash: the shared shingle/signature
    chain over the full documents table, split into index/batch by the
    same id modulus, band joins per side, and the integer agree-count
    verify (>= MH_MIN_MATCH of LSH_NUM_HASHES)."""

    return f"""
    WITH {_SH_CTES},
    {_SIG_CTE},
    sigi AS (SELECT * FROM sig WHERE d % {INC_DEDUP_MOD} != 0),
    sigb AS (SELECT * FROM sig WHERE d % {INC_DEDUP_MOD} = 0),
    bandsi AS ({_bands_union('sigi')}),
    bandsb AS ({_bands_union('sigb')}),
    candi AS (
      SELECT DISTINCT b.d AS db, i.d AS di
      FROM bandsb b JOIN bandsi i ON i.band = b.band AND i.sig = b.sig
    ),
    candb AS (
      SELECT DISTINCT x.d AS db, y.d AS di
      FROM bandsb x JOIN bandsb y
      ON y.band = x.band AND y.sig = x.sig AND y.d < x.d
    ),
    agi AS (
      SELECT c.db,
             max(CASE WHEN ({_MH_AGREE}) >= {MH_MIN_MATCH} THEN 1 ELSE 0 END) AS f
      FROM candi c JOIN sigb sa ON sa.d = c.db JOIN sigi sb ON sb.d = c.di
      GROUP BY 1
    ),
    agb AS (
      SELECT c.db,
             max(CASE WHEN ({_MH_AGREE}) >= {MH_MIN_MATCH} THEN 1 ELSE 0 END) AS f
      FROM candb c JOIN sigb sa ON sa.d = c.db JOIN sigb sb ON sb.d = c.di
      GROUP BY 1
    )
    SELECT sigb.d AS doc_id,
           CAST(coalesce(agi.f, 0) AS INT) AS dup_of_index,
           CAST(coalesce(agb.f, 0) AS INT) AS dup_in_batch
    FROM sigb LEFT JOIN agi ON agi.db = sigb.d LEFT JOIN agb ON agb.db = sigb.d
    ORDER BY doc_id
    """


EXTENDED_ORACLES["x2_incremental_minhash"] = _inc_minhash_oracle_sql()


def _training_corpus_oracle_sql() -> str:
    """Mirror of x10_training_corpus: the x10_clean_corpus chain
    (quality gate, exact dedup, n-gram closure) through its survivor
    set, the SemDeDup chain's `fl` flagged ids (shared _semdedup_ctes —
    no CTE name collisions with the closure chain by construction), then
    the pack_shards running-sum window per language."""
    clean = EXTENDED_ORACLES["x10_clean_corpus"]
    # reuse the clean-corpus oracle's WITH chain verbatim, swap its final
    # SELECT for the survivor CTE + the semantic-dedup + packing stages
    head, _, _tail = clean.partition("SELECT d2.doc_id, d2.lang")
    # the k-means chain's per-round distance CTEs d0/d1/d2 collide with
    # the clean chain's doc-stage CTEs d1/d2 — prefix them
    sd = re.sub(r"\bd(\d+)\b", r"kmd\1", ",\n".join(_semdedup_ctes()))
    return (
        head.rstrip()
        + f""",
    kc1 AS (
      SELECT d2.doc_id, d2.lang, d2.n_tokens
      FROM d2 LEFT JOIN comp c ON c.node = d2.doc_id
      WHERE c.cluster IS NULL OR d2.doc_id = c.cluster
    ),
    {sd},
    kc2 AS (
      SELECT k.doc_id, k.lang, k.n_tokens FROM kc1 k
      LEFT JOIN fl ON fl.db = k.doc_id WHERE fl.db IS NULL
    ),
    pk AS (
      SELECT doc_id, lang, n_tokens,
             CAST((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) - n_tokens)
                  // {SHARD_BUDGET} AS INT) AS shard
      FROM kc2
    )
    SELECT lang, shard, CAST(count(*) AS BIGINT) AS docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens,
           max(doc_id) AS max_doc_id
    FROM pk GROUP BY lang, shard
    ORDER BY lang, shard
    """
    )


EXTENDED_ORACLES["x10_training_corpus"] = _training_corpus_oracle_sql()


def _key_discovery_oracle_sql() -> str:
    parts = []
    for name, cols in KEY_CANDS:
        cl = ", ".join(cols)
        parts.append(f"""
        SELECT '{name}' AS candidate,
               (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_distinct,
               CAST(CASE WHEN count(*) =
                    (SELECT count(*) FROM orders) THEN 1 ELSE 0 END AS INT)
                 AS is_key,
               CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS dup_groups
        FROM (SELECT {cl}, count(*) AS c FROM orders GROUP BY {cl})""")
    return " UNION ALL ".join(parts) + " ORDER BY candidate"


EXTENDED_ORACLES["x12_key_discovery"] = _key_discovery_oracle_sql()


def _correlation_oracle_sql() -> str:
    names = [name for name, _ in CORR_VARS]
    proj = ", ".join(f"{expr} AS {name}" for name, expr in CORR_VARS)
    aggs = ["CAST(count(*) AS BIGINT) AS n"]
    for a in names:
        aggs.append(f"CAST(SUM({a}) AS BIGINT) AS s_{a}")
        aggs.append(f"CAST(SUM({a} * {a}) AS BIGINT) AS ss_{a}")
    pairs = [
        (names[i], names[j])
        for i in range(len(names))
        for j in range(i + 1, len(names))
    ]
    for a, b in pairs:
        aggs.append(f"CAST(SUM({a} * {b}) AS BIGINT) AS sp_{a}_{b}")
    sels = []
    for a, b in pairs:
        r = (
            _PEARSON_R.replace("sxy", f"sp_{a}_{b}")
            .replace("sxx", f"ss_{a}")
            .replace("syy", f"ss_{b}")
            .replace("sx", f"s_{a}")
            .replace("sy", f"s_{b}")
        )
        sels.append(
            f"SELECT '{a}' AS var_a, '{b}' AS var_b, n, round({r}, 6) AS r FROM w"
        )
    return (
        f"WITH p AS (SELECT {proj} FROM lineitem),\n"
        f"w AS (SELECT {', '.join(aggs)} FROM p)\n"
        + " UNION ALL ".join(sels)
        + " ORDER BY var_a, var_b"
    )


EXTENDED_ORACLES["x12_correlation"] = _correlation_oracle_sql()


EXTENDED_ORACLES["x8_power_mde"] = f"""
    WITH a AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sx,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)
                      * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sxx
      FROM events WHERE value IS NOT NULL GROUP BY 1
    )
    SELECT event_type, n,
           round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
                 / CAST(100 AS DOUBLE), 4) AS mean_value,
           round({_MDE_TXT}, 4) AS mde
    FROM a ORDER BY event_type
"""


EXTENDED_ORACLES["x5_ngram_novelty"] = f"""
    WITH {_SH_CTES},
    first AS (SELECT s, min(d) AS first_doc FROM sh GROUP BY s),
    pd AS (
      SELECT sh.d, CAST(count(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN f.first_doc = sh.d THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM sh JOIN first f USING (s) GROUP BY sh.d
    )
    SELECT CAST(d // {NOVELTY_BUCKET} AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(SUM(n_grams) AS BIGINT) AS grams,
           CAST(SUM(n_novel) AS BIGINT) AS novel,
           round(CAST(SUM(n_novel) AS DOUBLE) / CAST(SUM(n_grams) AS DOUBLE), 4)
             AS novelty
    FROM pd GROUP BY 1 ORDER BY bucket
"""

EXTENDED_ORACLES["x12_seasonality"] = """
    WITH h AS (
      SELECT event_type, CAST(dayofweek(ts) AS INT) AS dow,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    fh AS (
      SELECT t.event_type, d.dow, coalesce(h.c, 0) AS c
      FROM (SELECT DISTINCT event_type FROM h) t
      CROSS JOIN (SELECT CAST(unnest(range(7)) AS INT) AS dow) d
      LEFT JOIN h ON h.event_type = t.event_type AND h.dow = d.dow
    ),
    tot AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n FROM fh GROUP BY 1)
    SELECT f.event_type, max(t.n) AS n,
           round(CAST(SUM((7 * f.c - t.n) * (7 * f.c - t.n)) AS DOUBLE)
                 / (7 * CAST(max(t.n) AS DOUBLE)), 4) AS chi2
    FROM fh f JOIN tot t USING (event_type)
    GROUP BY f.event_type ORDER BY f.event_type
"""


# Chunk-store accounting rides the full x1_cdc_chunks oracle as a CTE —
# one text, two consumers (the chunk-level oracle and this ratio).
EXTENDED_ORACLES["x1_chunk_dedup_ratio"] = f"""
    WITH chunks_base AS ({EXTENDED_ORACLES["x1_cdc_chunks"]}),
    ph AS (
      SELECT d.source, b.chunk_hash,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(min(b.n_tokens) AS BIGINT) AS ntok
      FROM chunks_base b JOIN documents d USING (doc_id)
      GROUP BY 1, 2
    )
    SELECT source,
           CAST(SUM(cnt) AS BIGINT) AS chunks,
           CAST(SUM(cnt * ntok) AS BIGINT) AS tokens,
           CAST(count(*) AS BIGINT) AS uniq_chunks,
           CAST(SUM(ntok) AS BIGINT) AS stored_tokens,
           round(CAST(SUM(cnt * ntok) AS DOUBLE)
                 / CAST(SUM(ntok) AS DOUBLE), 4) AS dedup_ratio
    FROM ph GROUP BY source ORDER BY source
"""

EXTENDED_ORACLES["x5_bpe_pairs"] = f"""
    WITH toks AS (
      SELECT lang, t.tok FROM documents,
      LATERAL (SELECT unnest({_TOKS_EXPR}) AS tok) t
    ),
    pr AS (
      SELECT lang, p.pair FROM toks,
      LATERAL (SELECT unnest(list_transform(
                 generate_series(1, greatest(length(tok) - 1, 0)),
                 i -> substring(tok, i, 2))) AS pair) p
      WHERE length(p.pair) = 2
    ),
    c AS (SELECT lang, pair, CAST(count(*) AS BIGINT) AS cnt
          FROM pr GROUP BY 1, 2)
    SELECT lang, pair, cnt, CAST(rk AS INT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                 ORDER BY cnt DESC, pair) AS rk FROM c)
    WHERE rk <= {BPE_TOP} ORDER BY lang, rk
"""


def _bpe_train_ctes(prefix: str = "bt_", doc_where: str = "") -> list[str]:
    """Unrolled CTE chain, 3 CTEs per merge round (pair count, argmax,
    fused dictionary) over the shared _BPE_STEP fold text; the prefix
    keeps the chain collision-free (the tot/d1 episodes). Shared by the
    train and apply oracles (bt_) and the held-out-split compression
    oracle (bh_ with a train-split doc_where)."""
    p = prefix
    ctes = [
        f"""{p}words AS (
      SELECT tok AS w, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest({_TOKS_EXPR}) AS tok FROM documents
            {doc_where}) u
      WHERE length(tok) BETWEEN {BPE_WORD_MIN} AND {BPE_WORD_MAX}
      GROUP BY 1)""",
        f"""{p}w0 AS (
      SELECT list_transform(generate_series(1, length(w)),
             i -> substring(w, i, 1)) AS syms, n
      FROM {p}words)""",
    ]
    for i in range(1, BPE_MERGES + 1):
        ctes.append(f"""{p}p{i} AS (
      SELECT p.pr AS pr, CAST(sum(n) AS BIGINT) AS cnt
      FROM {p}w{i - 1}, LATERAL (SELECT unnest(list_transform(
           generate_series(1, len(syms) - 1),
           j -> syms[j] || ' ' || syms[j + 1])) AS pr) p
      WHERE len(syms) >= 2 GROUP BY 1)""")
        ctes.append(f"""{p}m{i} AS (
      SELECT string_split(pr, ' ')[1] AS a, string_split(pr, ' ')[2] AS b, cnt
      FROM {p}p{i} ORDER BY cnt DESC, pr LIMIT 1)""")
        ctes.append(f"""{p}w{i} AS (
      SELECT string_split(substring(list_reduce(list_prepend('', syms),
             (acc, s) -> {_BPE_STEP}), 2), ' ') AS syms, n
      FROM {p}w{i - 1}, {p}m{i})""")
    return ctes


def _bpe_train_oracle_sql() -> str:
    sel = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({i} AS INT) AS step, a, b, a || b AS merged, cnt"
        f" FROM bt_m{i}"
        for i in range(1, BPE_MERGES + 1)
    )
    return (
        "WITH " + ",\n".join(_bpe_train_ctes())
        + "\n    " + sel + "\n    ORDER BY step"
    )


def _bpe_apply_oracle_sql() -> str:
    """Training chain + per-language dictionaries carried through the
    same 8 merges via correlated folds (CROSS JOIN bt_m{i}), then the
    fertility aggregate."""
    ctes = _bpe_train_ctes()
    ctes.append(f"""ap0 AS (
      SELECT lang, w, CAST(count(*) AS BIGINT) AS n, length(w) AS chars,
             list_transform(generate_series(1, length(w)),
                            i -> substring(w, i, 1)) AS syms
      FROM (SELECT lang, tok AS w
            FROM (SELECT lang, unnest({_TOKS_EXPR}) AS tok FROM documents) u
            WHERE length(tok) BETWEEN {BPE_WORD_MIN} AND {BPE_WORD_MAX})
      GROUP BY lang, w)""")
    for i in range(1, BPE_MERGES + 1):
        ctes.append(f"""ap{i} AS (
      SELECT lang, n, chars,
             string_split(substring(list_reduce(list_prepend('', syms),
                    (acc, s) -> {_BPE_STEP}), 2), ' ') AS syms
      FROM ap{i - 1}, bt_m{i})""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
    SELECT lang, CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(sum(chars * n) AS BIGINT) AS n_chars,
           CAST(sum(len(syms) * n) AS BIGINT) AS n_pieces,
           round(CAST(sum(len(syms) * n) AS DOUBLE)
                 / CAST(sum(n) AS DOUBLE), 4) AS pieces_per_token,
           round(CAST(sum(chars * n) AS DOUBLE)
                 / CAST(sum(len(syms) * n) AS DOUBLE), 4) AS mean_piece_len
    FROM ap{BPE_MERGES} GROUP BY lang ORDER BY lang"""
    )


EXTENDED_ORACLES["x5_bpe_train"] = _bpe_train_oracle_sql()
EXTENDED_ORACLES["x5_bpe_apply"] = _bpe_apply_oracle_sql()


def _entropy_oracle_sql() -> str:
    parts = []
    for c in ENTROPY_COLS:
        term = _ENTROPY_TERM.format(c="c", n="n")
        parts.append(f"""
        SELECT '{c}' AS col_name,
               CAST(max(n) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_values,
               round(CAST(list_sum(list(({term}) ORDER BY v)) AS DOUBLE), 6)
                 AS entropy
        FROM (SELECT v, c, SUM(c) OVER () AS n FROM
              (SELECT {c} AS v, count(*) AS c FROM orders GROUP BY 1))""")
    return " UNION ALL ".join(parts) + " ORDER BY col_name"


EXTENDED_ORACLES["x12_entropy"] = _entropy_oracle_sql()


def _mutual_info_oracle_sql() -> str:
    """Mirror of x12_mutual_info: the same 3-way histogram, per-pair
    joint/marginal re-aggregation, ordered folds of the shared terms."""
    base = (
        "SELECT CAST(o_orderstatus AS STRING) AS a,"
        " CAST(o_orderpriority AS STRING) AS b,"
        " CAST(year(o_orderdate) AS STRING) AS y,"
        " CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY 1, 2, 3"
    )
    term = _MI_TERM.format(c="c", n="n", r="r", s="s")
    hterm = _ENTROPY_TERM.format(c="r", n="n")
    parts = []
    for name, cx, cy in MI_PAIRS:
        marg = (
            "(SELECT CAST(list_sum(list(({h}) ORDER BY vx)) AS DOUBLE) AS {out}"
            " FROM (SELECT vx, r, SUM(r) OVER () AS n FROM"
            " (SELECT {col} AS vx, CAST(sum(c) AS BIGINT) AS r"
            f" FROM ({base}) GROUP BY 1)))"
        )
        parts.append(f"""
        SELECT '{name}' AS pair, mi.n_rows, mi.n_cells,
               round(hx.hx_u, 6) AS hx, round(hy.hy_u, 6) AS hy,
               round(mi.mi_u, 6) AS mi,
               round(mi.mi_u / sqrt(hx.hx_u * hy.hy_u), 6) AS nmi
        FROM
         (SELECT CAST(max(n) AS BIGINT) AS n_rows,
                 CAST(count(*) AS BIGINT) AS n_cells,
                 CAST(list_sum(list(({term}) ORDER BY vx, vy)) AS DOUBLE)
                   AS mi_u
          FROM (SELECT vx, vy, c, SUM(c) OVER () AS n,
                       SUM(c) OVER (PARTITION BY vx) AS r,
                       SUM(c) OVER (PARTITION BY vy) AS s
                FROM (SELECT {cx} AS vx, {cy} AS vy,
                             CAST(sum(c) AS BIGINT) AS c
                      FROM ({base}) GROUP BY 1, 2))) mi,
         {marg.format(h=hterm, out="hx_u", col=cx)} hx,
         {marg.format(h=hterm, out="hy_u", col=cy)} hy""")
    return " UNION ALL ".join(parts) + " ORDER BY pair"


EXTENDED_ORACLES["x12_mutual_info"] = _mutual_info_oracle_sql()

EXTENDED_ORACLES["x12_volume_anomaly"] = """
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    r AS (
      SELECT day, c,
             CAST(row_number() OVER (ORDER BY day) AS INT) AS rk,
             list_sort(list(c) OVER (ORDER BY day
                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))[4] AS med7
      FROM daily
    )
    SELECT CAST(day AS STRING) AS day, c, med7,
           CAST(CASE WHEN c > 2 * med7 THEN 1 ELSE 0 END AS BIGINT)
             AS flag_high,
           CAST(CASE WHEN 2 * c < med7 THEN 1 ELSE 0 END AS BIGINT)
             AS flag_low
    FROM r WHERE rk > 7 ORDER BY day
"""

EXTENDED_ORACLES["x10_epoch_plan"] = f"""
    WITH per AS (
      SELECT source, CAST(sum(len({_TOKS_EXPR})) AS BIGINT) AS tokens
      FROM documents GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(tokens) AS BIGINT) AS total,
             CAST(list_sum(list(sqrt(CAST(tokens AS DOUBLE))
                  ORDER BY source)) AS DOUBLE) AS z
      FROM per
    ),
    j AS (SELECT source, tokens, total, {_EPOCH_W} AS w_u FROM per, tot),
    j2 AS (SELECT *,
             CAST(floor(CAST({EPOCH_BUDGET_MULT} AS DOUBLE)
                  * CAST(total AS DOUBLE) * w_u) AS BIGINT) AS desired_tokens
           FROM j),
    j3 AS (SELECT *,
             CAST(ceil(CAST(desired_tokens AS DOUBLE)
                  / CAST(tokens AS DOUBLE)) AS BIGINT) AS epochs_need
           FROM j2)
    SELECT source, tokens, round(w_u, 6) AS weight, desired_tokens,
           epochs_need,
           least(epochs_need, CAST({EPOCH_MAX} AS BIGINT)) AS epochs,
           least(desired_tokens, CAST({EPOCH_MAX} AS BIGINT) * tokens)
             AS realized_tokens,
           desired_tokens - least(desired_tokens,
             CAST({EPOCH_MAX} AS BIGINT) * tokens) AS deficit
    FROM j3 ORDER BY source
"""

# Zipf fit: same histogram, same per-lang rank window, same five ordered
# folds (ORDER BY rk == Spark's array_sort on struct(rk, n)), same
# closed-form texts.
_ZLX = "ln(CAST(rk AS DOUBLE))"
_ZLY = "ln(CAST(n AS DOUBLE))"
EXTENDED_ORACLES["x5_zipf"] = f"""
    WITH tk AS (
      SELECT lang, t.tok FROM documents,
      LATERAL (SELECT unnest({_TOKS_EXPR}) AS tok) t
    ),
    h AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS n
          FROM tk GROUP BY 1, 2),
    hv AS (SELECT lang, CAST(count(*) AS BIGINT) AS vocab,
                  CAST(sum(n) AS BIGINT) AS total_tok FROM h GROUP BY 1),
    r AS (SELECT lang, n,
                 CAST(row_number() OVER (PARTITION BY lang
                      ORDER BY n DESC, tok) AS BIGINT) AS rk FROM h),
    top AS (SELECT * FROM r WHERE rk <= {ZIPF_TOP}),
    s AS (SELECT lang, CAST(count(*) AS BIGINT) AS k,
            CAST(list_sum(list(({_ZLX}) ORDER BY rk)) AS DOUBLE) AS sx,
            CAST(list_sum(list(({_ZLY}) ORDER BY rk)) AS DOUBLE) AS sy,
            CAST(list_sum(list(({_ZLX} * {_ZLX}) ORDER BY rk)) AS DOUBLE) AS sxx,
            CAST(list_sum(list(({_ZLX} * {_ZLY}) ORDER BY rk)) AS DOUBLE) AS sxy,
            CAST(list_sum(list(({_ZLY} * {_ZLY}) ORDER BY rk)) AS DOUBLE) AS syy
          FROM top GROUP BY 1),
    sl AS (SELECT *, {_ZIPF_SLOPE} AS slope_u FROM s)
    SELECT sl.lang, vocab, total_tok, k AS k_fit,
           round(slope_u, 6) AS slope,
           round((sy - slope_u * sx) / CAST(k AS DOUBLE), 6) AS intercept,
           round({_ZIPF_R2}, 6) AS r2
    FROM sl JOIN hv ON hv.lang = sl.lang ORDER BY sl.lang
"""


def _modularity_oracle_sql() -> str:
    """The shared LPA chain through l{LP_ITER}, then the integer
    modularity identity Q = (A*sumW - sumD2) / A^2."""
    base = _label_prop_oracle_sql()
    head = base[: base.index("\nSELECT node, label")]
    return (
        head
        + f""",
    lbl AS (SELECT node, label FROM l{LP_ITER}),
    aa AS (SELECT CAST(count(*) AS BIGINT) AS a FROM e),
    sw AS (SELECT CAST(count(*) AS BIGINT) AS sw
           FROM e JOIN lbl x ON x.node = e.src
           JOIN lbl y ON y.node = e.dst WHERE x.label = y.label),
    dg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
    dc AS (SELECT x.label, CAST(SUM(dg.d) AS BIGINT) AS dcv
           FROM dg JOIN lbl x ON x.node = dg.src GROUP BY 1),
    d2 AS (SELECT CAST(SUM(dcv * dcv) AS BIGINT) AS sd2,
                  CAST(count(*) AS BIGINT) AS n_comm FROM dc)
    SELECT d2.n_comm, CAST(aa.a / 2 AS BIGINT) AS m_edges,
           round(CAST(aa.a * sw.sw - d2.sd2 AS DOUBLE)
                 / (CAST(aa.a AS DOUBLE) * CAST(aa.a AS DOUBLE)), 6)
             AS modularity
    FROM aa, sw, d2"""
    )


EXTENDED_ORACLES["x11_modularity"] = _modularity_oracle_sql()


def _cluster_purity_oracle_sql() -> str:
    """The shared k-means chain's final assignment a{KM_ITER} joined to
    the ground-truth labels; per-cluster majority share."""
    ctes = _kmeans_ctes()
    ctes.append(f"""lc AS (
        SELECT a.cluster, emb.label, CAST(count(*) AS BIGINT) AS c
        FROM a{KM_ITER} a JOIN embeddings emb ON emb.vec_id = a.vec_id
        GROUP BY 1, 2)""")
    ctes.append("""topl AS (
        SELECT cluster, label AS top_label, c AS top_cnt FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster
                     ORDER BY c DESC, label) AS rn FROM lc) WHERE rn = 1)""")
    ctes.append("""szc AS (SELECT cluster, CAST(SUM(c) AS BIGINT) AS n_vecs
        FROM lc GROUP BY 1)""")
    return (
        "WITH " + ",\n".join(ctes)
        + """
        SELECT szc.cluster, szc.n_vecs, topl.top_label, topl.top_cnt,
               round(CAST(topl.top_cnt AS DOUBLE)
                     / CAST(szc.n_vecs AS DOUBLE), 4) AS purity
        FROM szc JOIN topl USING (cluster) ORDER BY cluster"""
    )


EXTENDED_ORACLES["x3_cluster_purity"] = _cluster_purity_oracle_sql()


EXTENDED_ORACLES["x8_did"] = f"""
    WITH d AS (
      SELECT user_id % 2 AS grp,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT)
               AS day,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    lim AS (SELECT CAST((min(day) + max(day)) // 2 AS BIGINT) AS mid FROM d),
    cells AS (
      SELECT grp, CASE WHEN day > mid THEN 1 ELSE 0 END AS post,
             CAST(SUM(cents) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
      FROM d, lim GROUP BY 1, 2
    ),
    w AS (
      SELECT
        {', '.join(
            f"max(CASE WHEN grp = {g} AND post = {p} THEN {c} END)"
            f" AS {c}_{'t' if g else 'c'}{p}"
            for g in (0, 1) for p in (0, 1) for c in ('s', 'n')
        )}
      FROM cells
    )
    SELECT round({_DID_MEAN.format(s='s_c0', n='n_c0')}, 4) AS mean_c_pre,
           round({_DID_MEAN.format(s='s_c1', n='n_c1')}, 4) AS mean_c_post,
           round({_DID_MEAN.format(s='s_t0', n='n_t0')}, 4) AS mean_t_pre,
           round({_DID_MEAN.format(s='s_t1', n='n_t1')}, 4) AS mean_t_post,
           round({_DID_EXPR}, 4) AS did
    FROM w
"""


EXTENDED_ORACLES["x8_sprt"] = f"""
    WITH pu AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase' AND value > {AB_CONV_MIN}
                      THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY 1
    ),
    walk AS (
      SELECT ROW_NUMBER() OVER (ORDER BY user_id) AS n,
             SUM(conv) OVER (ORDER BY user_id ROWS UNBOUNDED PRECEDING) AS c
      FROM pu
    ),
    llrw AS (SELECT n, {_SPRT_LLR} AS llr FROM walk),
    crossed AS (SELECT * FROM llrw
                WHERE llr >= {_SPRT_A} OR llr <= {_SPRT_B}),
    first AS (SELECT CAST(min(n) AS BIGINT) AS n_dec FROM crossed),
    tot AS (SELECT CAST(max(n) AS BIGINT) AS total_n FROM llrw),
    at AS (
      SELECT f.n_dec,
             CASE WHEN l.llr >= {_SPRT_A} THEN 'accept_h1'
                  ELSE 'accept_h0' END AS decision,
             round(l.llr, 4) AS llr_at_stop
      FROM first f JOIN llrw l ON l.n = f.n_dec
    )
    SELECT coalesce(at.decision, 'continue') AS decision,
           CAST(coalesce(first.n_dec, tot.total_n) AS BIGINT) AS n_stop,
           at.llr_at_stop, tot.total_n
    FROM tot CROSS JOIN first LEFT JOIN at ON at.n_dec = first.n_dec
"""

EXTENDED_ORACLES["x12_freshness"] = """
    WITH per AS (
      SELECT event_type,
             CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS max_us
      FROM events GROUP BY 1
    ),
    g AS (SELECT CAST(max(max_us) AS BIGINT) AS gmax FROM per)
    SELECT event_type,
           CAST(max_us // 1000000 AS BIGINT) AS max_epoch_s,
           CAST((gmax - max_us) // 3600000000 AS BIGINT) AS staleness_hours
    FROM per, g ORDER BY event_type
"""

EXTENDED_ORACLES["x12_fd_discovery"] = """
    WITH fdg AS (SELECT DISTINCT l_discount, l_linestatus, l_returnflag, l_tax
                 FROM lineitem)
    SELECT 'l_discount' AS lhs, 'l_linestatus' AS rhs,
           CAST(count(DISTINCT l_discount) AS BIGINT) AS n_lhs,
           CAST(count(DISTINCT (l_discount, l_linestatus)) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT l_discount) = count(DISTINCT (l_discount, l_linestatus)) AS INT) AS holds
    FROM fdg
    UNION ALL
    SELECT 'l_discount' AS lhs, 'l_returnflag' AS rhs,
           CAST(count(DISTINCT l_discount) AS BIGINT) AS n_lhs,
           CAST(count(DISTINCT (l_discount, l_returnflag)) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT l_discount) = count(DISTINCT (l_discount, l_returnflag)) AS INT) AS holds
    FROM fdg
    UNION ALL
    SELECT 'l_discount' AS lhs, 'l_tax' AS rhs,
           CAST(count(DISTINCT l_discount) AS BIGINT) AS n_lhs,
           CAST(count(DISTINCT (l_discount, l_tax)) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT l_discount) = count(DISTINCT (l_discount, l_tax)) AS INT) AS holds
    FROM fdg
    UNION ALL
    SELECT 'l_linestatus' AS lhs, 'l_discount' AS rhs,
           CAST(count(DISTINCT l_linestatus) AS BIGINT) AS n_lhs,
           CAST(count(DISTINCT (l_linestatus, l_discount)) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT l_linestatus) = count(DISTINCT (l_linestatus, l_discount)) AS INT) AS holds
    FROM fdg
    UNION ALL
    SELECT 'l_linestatus' AS lhs, 'l_returnflag' AS rhs,
           CAST(count(DISTINCT l_linestatus) AS BIGINT) AS n_lhs,
           CAST(count(DISTINCT (l_linestatus, l_returnflag)) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT l_linestatus) = count(DISTINCT (l_linestatus, l_returnflag)) AS INT) AS holds
    FROM fdg
    UNION ALL
    SELECT 'l_linestatus' AS lhs, 'l_tax' AS rhs,
           CAST(count(DISTINCT l_linestatus) AS BIGINT) AS n_lhs,
           CAST(count(DISTINCT (l_linestatus, l_tax)) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT l_linestatus) = count(DISTINCT (l_linestatus, l_tax)) AS INT) AS holds
    FROM fdg
    UNION ALL
    SELECT 'l_returnflag' AS lhs, 'l_discount' AS rhs,
           CAST(count(DISTINCT l_returnflag) AS BIGINT) AS n_lhs,
           CAST(count(DISTINCT (l_returnflag, l_discount)) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT l_returnflag) = count(DISTINCT (l_returnflag, l_discount)) AS INT) AS holds
    FROM fdg
    UNION ALL
    SELECT 'l_returnflag' AS lhs, 'l_linestatus' AS rhs,
           CAST(count(DISTINCT l_returnflag) AS BIGINT) AS n_lhs,
           CAST(count(DISTINCT (l_returnflag, l_linestatus)) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT l_returnflag) = count(DISTINCT (l_returnflag, l_linestatus)) AS INT) AS holds
    FROM fdg
    UNION ALL
    SELECT 'l_returnflag' AS lhs, 'l_tax' AS rhs,
           CAST(count(DISTINCT l_returnflag) AS BIGINT) AS n_lhs,
           CAST(count(DISTINCT (l_returnflag, l_tax)) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT l_returnflag) = count(DISTINCT (l_returnflag, l_tax)) AS INT) AS holds
    FROM fdg
    UNION ALL
    SELECT 'l_tax' AS lhs, 'l_discount' AS rhs,
           CAST(count(DISTINCT l_tax) AS BIGINT) AS n_lhs,
           CAST(count(DISTINCT (l_tax, l_discount)) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT l_tax) = count(DISTINCT (l_tax, l_discount)) AS INT) AS holds
    FROM fdg
    UNION ALL
    SELECT 'l_tax' AS lhs, 'l_linestatus' AS rhs,
           CAST(count(DISTINCT l_tax) AS BIGINT) AS n_lhs,
           CAST(count(DISTINCT (l_tax, l_linestatus)) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT l_tax) = count(DISTINCT (l_tax, l_linestatus)) AS INT) AS holds
    FROM fdg
    UNION ALL
    SELECT 'l_tax' AS lhs, 'l_returnflag' AS rhs,
           CAST(count(DISTINCT l_tax) AS BIGINT) AS n_lhs,
           CAST(count(DISTINCT (l_tax, l_returnflag)) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT l_tax) = count(DISTINCT (l_tax, l_returnflag)) AS INT) AS holds
    FROM fdg
    ORDER BY lhs, rhs
"""

EXTENDED_ORACLES["x12_dup_keys"] = """
    WITH ek AS (SELECT CAST(count(*) AS BIGINT) AS m FROM events GROUP BY event_id),
    lk AS (SELECT CAST(count(*) AS BIGINT) AS m FROM lineitem
           GROUP BY l_orderkey, l_linenumber),
    ea AS (SELECT 'events' AS table_name, CAST(sum(m) AS BIGINT) AS n_rows,
                  CAST(count(*) AS BIGINT) AS n_keys,
                  CAST(sum(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_keys,
                  CAST(max(m) AS BIGINT) AS max_mult FROM ek),
    la AS (SELECT 'lineitem', CAST(sum(m) AS BIGINT), CAST(count(*) AS BIGINT),
                  CAST(sum(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT),
                  CAST(max(m) AS BIGINT) FROM lk)
    SELECT * FROM ea UNION ALL SELECT * FROM la ORDER BY table_name
"""

EXTENDED_ORACLES["x8_mann_kendall"] = f"""
    WITH mkd AS (
      SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT)
               AS day, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    mks AS (
      SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
               AS s_stat
      FROM mkd a JOIN mkd b ON a.day < b.day
    ),
    mkt AS (
      SELECT CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM mkd GROUP BY x)
    ),
    mkn AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM mkd),
    mkv AS (
      SELECT n_days, s_stat,
             n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS var18
      FROM mkn, mks, mkt
    )
    SELECT n_days, s_stat, var18, round({_MK_Z}, 6) AS mk_z FROM mkv
"""

EXTENDED_ORACLES["x8_cusum"] = """
    WITH csd AS (
      SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT)
               AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
      FROM events
      WHERE event_type = 'purchase' AND value IS NOT NULL
      GROUP BY 1
    ),
    cst AS (SELECT CAST(SUM(c) AS BIGINT) AS s_tot,
                   CAST(count(*) AS BIGINT) AS n_days FROM csd),
    csw AS (
      SELECT day, n_days,
             CAST(SUM(c) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               * n_days
             - CAST(COUNT(*) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               * s_tot AS dev_scaled
      FROM csd, cst
    )
    SELECT day AS change_day, n_days, dev_scaled,
           round(abs(CAST(dev_scaled AS DOUBLE)) / CAST(n_days AS DOUBLE)
                 / CAST(100 AS DOUBLE), 2) AS peak_dev
    FROM csw ORDER BY abs(dev_scaled) DESC, day LIMIT 1
"""

EXTENDED_ORACLES["x8_jackknife"] = f"""
    WITH jku AS (
      SELECT user_id, max(CASE WHEN event_type = 'purchase'
                 AND value > {AB_CONV_MIN} THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id
    ),
    jkb AS (SELECT user_id % {JK_G} AS b, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(conv) AS BIGINT) AS c
            FROM jku GROUP BY 1),
    jkt AS (SELECT CAST(sum(n) AS BIGINT) AS n_all,
                   CAST(sum(c) AS BIGINT) AS c_all,
                   CAST(count(*) AS BIGINT) AS g FROM jkb),
    jth AS (SELECT b, {_JK_THETA} AS theta, n_all, c_all, g FROM jkb, jkt),
    js AS (SELECT CAST(list_sum(list(theta ORDER BY b)) AS DOUBLE) AS s_theta
           FROM jth),
    jq AS (SELECT max(n_all) AS n_users, max(c_all) AS conv_users,
                  max(g) AS g_buckets,
                  CAST(list_sum(list(
                    ((theta) - ({_JK_TB})) * ((theta) - ({_JK_TB}))
                    ORDER BY b)) AS DOUBLE) AS ssq
           FROM jth, js)
    SELECT n_users, conv_users, g_buckets,
           round(CAST(conv_users AS DOUBLE) / CAST(n_users AS DOUBLE), 6)
             AS theta_hat,
           round(sqrt((CAST(g_buckets - 1 AS DOUBLE)
                 / CAST(g_buckets AS DOUBLE)) * ssq), 6) AS jk_se
    FROM jq
"""

EXTENDED_ORACLES["x10_dataset_card"] = f"""
    WITH cb AS (
      SELECT doc_id, lang, source, length(text) AS chars,
             len({_TOKS_EXPR}) AS ntoks, md5(text) AS h
      FROM documents
    ),
    ca AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                  CAST(sum(chars) AS BIGINT) AS total_chars,
                  CAST(sum(ntoks) AS BIGINT) AS total_tokens,
                  CAST(count(DISTINCT h) AS BIGINT) AS n_unique_texts
           FROM cb),
    cv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS distinct_tokens
           FROM (SELECT unnest({_TOKS_EXPR}) AS tok FROM documents)),
    ct AS (SELECT CAST(max(ld) AS BIGINT) AS top_lang_docs
           FROM (SELECT count(*) AS ld FROM cb GROUP BY lang))
    SELECT metric, value FROM (
      SELECT 'distinct_tokens' AS metric,
             CAST(distinct_tokens AS DOUBLE) AS value FROM cv
      UNION ALL SELECT 'exact_dup_docs',
             CAST(n_docs - n_unique_texts AS DOUBLE) FROM ca
      UNION ALL SELECT 'mean_doc_tokens',
             round(CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE), 4)
             FROM ca
      UNION ALL SELECT 'n_docs', CAST(n_docs AS DOUBLE) FROM ca
      UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM ca
      UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM ca
      UNION ALL SELECT 'pct_top_lang',
             round(CAST(top_lang_docs AS DOUBLE) / CAST(n_docs AS DOUBLE), 4)
             FROM ca, ct
      UNION ALL SELECT 'total_chars', CAST(total_chars AS DOUBLE) FROM ca
      UNION ALL SELECT 'total_tokens', CAST(total_tokens AS DOUBLE) FROM ca
    ) ORDER BY metric
"""

EXTENDED_ORACLES["x9_takedown"] = f"""
    WITH tdc AS (SELECT DISTINCT c_custkey AS k FROM customer
                 WHERE c_custkey % {TAKEDOWN_MOD} = 0),
    tdu AS (SELECT DISTINCT user_id AS k FROM events
            WHERE user_id % {TAKEDOWN_MOD} = 0),
    rows_c AS (SELECT 'customer' AS table_name,
        CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_before,
        CAST((SELECT count(*) FROM customer
              WHERE c_custkey NOT IN (SELECT k FROM tdc)) AS BIGINT) AS n_after),
    rows_e AS (SELECT 'events',
        CAST((SELECT count(*) FROM events) AS BIGINT),
        CAST((SELECT count(*) FROM events
              WHERE user_id NOT IN (SELECT k FROM tdu)) AS BIGINT)),
    rows_o AS (SELECT 'orders',
        CAST((SELECT count(*) FROM orders) AS BIGINT),
        CAST((SELECT count(*) FROM orders
              WHERE o_custkey NOT IN (SELECT k FROM tdc)) AS BIGINT))
    SELECT table_name, n_before, n_before - n_after AS n_deleted, n_after,
           CAST(0 AS BIGINT) AS residual
    FROM (SELECT * FROM rows_c UNION ALL SELECT * FROM rows_e
          UNION ALL SELECT * FROM rows_o)
    ORDER BY table_name
"""

EXTENDED_ORACLES["x5_readability"] = f"""
    WITH rc AS (
      SELECT doc_id,
             greatest(len(list_filter(string_split_regex(text, '[.!?]+'),
                      x -> length(trim(x)) > 0)), 1) AS n_sent,
             greatest(len({_TOKS_EXPR}), 1) AS n_words,
             greatest(coalesce(list_sum(list_transform({_TOKS_EXPR},
                      w -> len(list_filter(string_split_regex(w, '[^aeiouy]+'),
                               p -> p <> '')))), 0), 1) AS n_syll
      FROM documents WHERE doc_id < {READABILITY_DOC_MAX}
    )
    SELECT doc_id, CAST(n_sent AS INT) AS n_sent,
           CAST(n_words AS INT) AS n_words, CAST(n_syll AS INT) AS n_syll,
           {_FLESCH} AS flesch
    FROM rc ORDER BY doc_id
"""

EXTENDED_ORACLES["x3_range_query"] = f"""
    WITH rq AS (SELECT list_transform(embedding,
                  v -> CAST(round(CAST(v AS DOUBLE) * {KM_SCALE}) AS BIGINT))
                  AS qx
                FROM embeddings ORDER BY vec_id LIMIT 1),
    ru AS (SELECT vec_id, list_transform(embedding,
             v -> CAST(round(CAST(v AS DOUBLE) * {KM_SCALE}) AS BIGINT)) AS xi
           FROM embeddings),
    rd AS (SELECT vec_id,
             CAST(list_sum(list_transform(generate_series(1, len(xi)),
                  i -> (xi[i] - qx[i]) * (xi[i] - qx[i]))) AS BIGINT) AS dist
           FROM ru, rq)
    SELECT vec_id, dist FROM rd WHERE dist <= {RANGE_R2}
    ORDER BY dist, vec_id
"""






def _tost_oracle_sql() -> str:
    """Mirror of x8_tost: identical integer moments, identical float texts."""
    t = _tost_texts()
    pivots = ", ".join(
        f"CAST(max(CASE WHEN grp = {grp} THEN {c} END) AS BIGINT) AS {c}{sfx}"
        for grp, sfx in ((0, "_a"), (1, "_b"))
        for c in ("n", "s", "ss")
    )
    return f"""
    WITH pu AS (
      SELECT user_id, CAST(sum(cents) AS BIGINT) AS x
      FROM (SELECT user_id, {_CUPED_CENTS} AS cents
            FROM events WHERE event_type = 'purchase')
      GROUP BY 1
    ),
    g AS (SELECT user_id % 2 AS grp, x FROM pu),
    agg AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS s,
                   CAST(sum(x * x) AS BIGINT) AS ss
            FROM g GROUP BY 1),
    one AS (SELECT {pivots} FROM agg)
    SELECT n_a, n_b,
           round({t['mean_a']}, 4) AS mean_a,
           round({t['mean_b']}, 4) AS mean_b,
           round({t['diff']}, 4) AS diff,
           round({t['se']}, 4) AS se,
           round({t['z_low']}, 4) AS z_low,
           round({t['z_high']}, 4) AS z_high,
           CAST(({t['z_low']} > {_TOST_ZCRIT})
                AND ({t['z_high']} > {_TOST_ZCRIT}) AS INT) AS equivalent
    FROM one
    """


EXTENDED_ORACLES["x8_tost"] = _tost_oracle_sql()


def _psi_oracle_sql() -> str:
    """Mirror of x12_psi: same integer binning, same Laplace share texts,
    same bin-ordered fold for the headline."""
    p, q, term_row = _psi_texts("n_base", "n_new", "tb", "tn")
    return f"""
    WITH cents AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
             o_orderdate
      FROM orders
    ),
    binned AS (
      SELECT least(CAST(floor(c / {PSI_BIN_CENTS}) AS BIGINT),
                   CAST({PSI_NBINS - 1} AS BIGINT)) AS bin, o_orderdate
      FROM cents
    ),
    dim AS (SELECT CAST(range AS BIGINT) AS bin FROM range({PSI_NBINS})),
    b AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_base FROM binned
          WHERE o_orderdate < TIMESTAMP '{DRIFT_SPLIT}' GROUP BY 1),
    n AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_new FROM binned
          WHERE o_orderdate >= TIMESTAMP '{DRIFT_SPLIT}' GROUP BY 1),
    j AS (SELECT dim.bin,
                 CAST(coalesce(n_base, 0) AS BIGINT) AS n_base,
                 CAST(coalesce(n_new, 0) AS BIGINT) AS n_new
          FROM dim LEFT JOIN b USING (bin) LEFT JOIN n USING (bin)),
    j2 AS (SELECT bin, n_base, n_new,
                  CAST(sum(n_base) OVER () AS BIGINT) AS tb,
                  CAST(sum(n_new) OVER () AS BIGINT) AS tn
           FROM j),
    tot AS (SELECT round(CAST(list_sum(list(({term_row}) ORDER BY bin))
                        AS DOUBLE), 6) AS psi FROM j2)
    SELECT bin, n_base, n_new,
           round({p}, 6) AS p_smooth,
           round({q}, 6) AS q_smooth,
           round({term_row}, 6) AS psi_term,
           psi
    FROM j2, tot ORDER BY bin
    """


EXTENDED_ORACLES["x12_psi"] = _psi_oracle_sql()


EXTENDED_ORACLES["x3_embedding_drift"] = f"""
    WITH sx AS (
      SELECT vec_id, label, CAST(vec_id % 2 AS INT) AS grp,
             list_transform(embedding,
               v -> CAST(round(CAST(v AS DOUBLE) * {KM_SCALE}) AS BIGINT))
               AS xi
      FROM embeddings
    ),
    ld AS (
      SELECT label, grp, CAST(u.i - 1 AS INT) AS d, u.v AS v
      FROM sx, LATERAL (SELECT unnest(xi) AS v,
                               generate_subscripts(xi, 1) AS i) u
    ),
    sums AS (
      SELECT label, d,
             CAST(sum(CASE WHEN grp = 0 THEN v END) AS BIGINT) AS sa,
             CAST(sum(CASE WHEN grp = 1 THEN v END) AS BIGINT) AS sb
      FROM ld GROUP BY 1, 2
    ),
    counts AS (
      SELECT label,
             CAST(count(CASE WHEN grp = 0 THEN 1 END) AS BIGINT) AS n_a,
             CAST(count(CASE WHEN grp = 1 THEN 1 END) AS BIGINT) AS n_b
      FROM sx GROUP BY 1
    ),
    num AS (
      SELECT s.label,
             CAST(sum((sa * n_b - sb * n_a) * (sa * n_b - sb * n_a))
                  AS BIGINT) AS shift_num,
             CAST(max(n_a) AS BIGINT) AS n_a,
             CAST(max(n_b) AS BIGINT) AS n_b
      FROM sums s JOIN counts c ON s.label = c.label GROUP BY 1
    )
    SELECT label, n_a, n_b, shift_num,
           round({_EDRIFT_SHIFT}, 6) AS shift
    FROM num ORDER BY label
"""

EXTENDED_ORACLES["x2_cross_source_pairs"] = f"""
    SELECT least(d1.source, d2.source) AS src_a,
           greatest(d1.source, d2.source) AS src_b,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM ({_LSH_PAIRS_SQL}) p
    JOIN documents d1 ON d1.doc_id = p.da
    JOIN documents d2 ON d2.doc_id = p.db
    GROUP BY 1, 2 ORDER BY 1, 2
"""


def _pq_distortion_oracle_sql() -> str:
    """Mirror of x3_pq_distortion: the x3_pq_adc u/seeds/cb/sd chain
    (quantized long form -> codebook rows -> every vector's exact
    integer distance to every code of its subspace), then per-(vector,
    subspace) min and the m-row per-subspace aggregate."""
    return f"""
        WITH {_PQ_SD_CTES},
        best AS (SELECT vec_id, s, min(d) AS err FROM sd GROUP BY 1, 2)
        SELECT CAST(s AS INT) AS s,
               CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(sum(err) AS BIGINT) AS sse,
               CAST(max(err) AS BIGINT) AS max_err,
               round(CAST(sum(err) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     / (CAST({KM_SCALE} AS DOUBLE) * CAST({KM_SCALE} AS DOUBLE)),
                     6) AS mse
        FROM best GROUP BY s ORDER BY s
    """


EXTENDED_ORACLES["x3_pq_distortion"] = _pq_distortion_oracle_sql()

_DEDUP_CURVE_VALUES = ", ".join(
    f"(CAST({t} AS DOUBLE))" for t in DEDUP_CURVE_THRESHOLDS
)
EXTENDED_ORACLES["x2_dedup_savings"] = f"""
    WITH t(thr) AS (VALUES {_DEDUP_CURVE_VALUES}),
    e AS (SELECT t.thr, p.da, p.db
          FROM ({_LSH_PAIRS_SQL}) p JOIN t ON p.jac >= t.thr),
    np AS (SELECT thr, CAST(count(*) AS BIGINT) AS n_pairs
           FROM e GROUP BY 1),
    fd AS (SELECT DISTINCT thr, db FROM e),
    fl AS (SELECT f.thr, CAST(count(*) AS BIGINT) AS n_docs_flagged,
                  CAST(sum(d.n_chars) AS BIGINT) AS chars_flagged
           FROM fd f JOIN documents d ON d.doc_id = f.db GROUP BY 1)
    SELECT np.thr, np.n_pairs, fl.n_docs_flagged, fl.chars_flagged
    FROM np JOIN fl ON np.thr = fl.thr ORDER BY 1
"""


def _pipeline_funnel_oracle_sql() -> str:
    """Mirror of x10_pipeline_funnel: the x10_training_corpus CTE chain
    verbatim through kc2 (its every stage is already a named CTE: qual
    scored, gate, d2 exact survivors, kc1 near-dup survivors, kc2
    semantic survivors), with the packing stage swapped for one per-stage
    aggregate union."""
    tc = EXTENDED_ORACLES["x10_training_corpus"]
    head, sep, _ = tc.partition(",\n    pk AS (")
    assert sep, "x10_training_corpus oracle shape changed"
    return (
        head
        + """
    SELECT * FROM (
      SELECT CAST(0 AS INT) AS stage, 'scored' AS stage_name,
             CAST(count(*) AS BIGINT) AS docs,
             CAST(sum(n_tokens) AS BIGINT) AS tokens FROM qual
      UNION ALL SELECT 1, 'gate', CAST(count(*) AS BIGINT),
             CAST(sum(n_tokens) AS BIGINT) FROM gate
      UNION ALL SELECT 2, 'exact', CAST(count(*) AS BIGINT),
             CAST(sum(n_tokens) AS BIGINT) FROM d2
      UNION ALL SELECT 3, 'neardup', CAST(count(*) AS BIGINT),
             CAST(sum(n_tokens) AS BIGINT) FROM kc1
      UNION ALL SELECT 4, 'semdedup', CAST(count(*) AS BIGINT),
             CAST(sum(n_tokens) AS BIGINT) FROM kc2
    ) ORDER BY stage
    """
    )


EXTENDED_ORACLES["x10_pipeline_funnel"] = _pipeline_funnel_oracle_sql()

EXTENDED_ORACLES["x6_media_pack"] = f"""
    WITH b AS (
      SELECT doc_id, source, CAST(strlen(text) AS BIGINT) AS n_bytes
      FROM documents
    ),
    p AS (
      SELECT doc_id, source, n_bytes,
             CAST((SUM(n_bytes) OVER (PARTITION BY source ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) - n_bytes)
                  // {MEDIA_PACK_BUDGET} AS INT) AS shard
      FROM b
    )
    SELECT source, shard, CAST(count(*) AS BIGINT) AS files,
           CAST(SUM(n_bytes) AS BIGINT) AS bytes,
           max(doc_id) AS max_doc_id
    FROM p GROUP BY source, shard
    ORDER BY source, shard
"""


EXTENDED_ORACLES["x5_regex_tokens"] = f"""
    WITH per AS (
      SELECT source,
             CAST(len(regexp_extract_all(text, '{RE_TOK_PAT}')) AS BIGINT)
               AS re_toks,
             CAST(len({_TOKS_EXPR}) AS BIGINT) AS word_toks,
             CAST(strlen(text) AS BIGINT) AS chars
      FROM documents
    )
    SELECT source, CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(re_toks) AS BIGINT) AS re_toks,
           CAST(sum(word_toks) AS BIGINT) AS word_toks,
           CAST(sum(chars) AS BIGINT) AS chars,
           round(CAST(sum(re_toks) AS DOUBLE)
                 / CAST(sum(word_toks) AS DOUBLE), 6) AS fertility,
           round(CAST(sum(chars) AS DOUBLE)
                 / CAST(sum(re_toks) AS DOUBLE), 6) AS chars_per_tok
    FROM per GROUP BY source ORDER BY source
"""


EXTENDED_ORACLES["x9_retention_plan"] = f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events GROUP BY 1
    ),
    mx AS (SELECT max(day) AS max_day FROM daily),
    pl AS (
      SELECT d.*,
             CASE WHEN d.day > mx.max_day - {RETENTION_DAYS}
                  THEN 'keep' ELSE 'drop' END AS action
      FROM daily d, mx
    )
    SELECT CAST(day AS STRING) AS day, n_rows, n_users, action,
           CAST(sum(CASE WHEN action = 'drop' THEN n_rows ELSE 0 END)
                OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_reclaimed
    FROM pl ORDER BY day
"""


# Same pair graph, same min-id fixpoint, same rendering as
# x2_dup_clusters — the identical oracle text is the point: a hash match
# proves the two-phase tier reaches the union-find fixpoint.
EXTENDED_ORACLES["x11_cc_twophase"] = EXTENDED_ORACLES["x2_dup_clusters"]


EXTENDED_ORACLES["x11_degree_dist"] = """
    WITH ps AS (
      SELECT l_partkey * 10 + 1 AS src, l_suppkey * 10 + 2 AS dst
      FROM lineitem GROUP BY 1, 2
    ),
    sym AS (SELECT src, dst FROM ps UNION ALL SELECT dst, src FROM ps),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY 1)
    SELECT CAST(src % 10 AS INT) AS kind, deg,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY 1, 2 ORDER BY 1, 2
"""


def _gini_arm_sql(dim: str) -> str:
    return f"""
      SELECT '{dim}' AS dim, n AS n_groups, tot AS total_chars,
             round(CAST(2 * six - (n + 1) * tot AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE)), 6) AS gini
      FROM (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS tot,
               CAST(sum(i * x) AS BIGINT) AS six
        FROM (
          SELECT x, row_number() OVER (ORDER BY x, grp) AS i
          FROM (SELECT {dim} AS grp, CAST(sum(n_chars) AS BIGINT) AS x
                FROM documents GROUP BY 1)
        )
      )"""


EXTENDED_ORACLES["x12_gini"] = (
    "SELECT * FROM ("
    + _gini_arm_sql("source")
    + "\n    UNION ALL\n"
    + _gini_arm_sql("lang")
    + "\n    ) ORDER BY dim"
)


EXTENDED_ORACLES["x6_frame_dedup"] = f"""
    WITH fr AS (
      SELECT doc_id,
             md5(substr(text, CAST(f.i * 256 + 1 AS BIGINT), 256)) AS frame_md5
      FROM documents,
      LATERAL (SELECT unnest(list_filter(
                 range(0, CAST(ceil(length(text) / 256.0) AS BIGINT)),
                 b -> b % 4 = 0)) AS i) f
      WHERE length(text) > 0
    )
    SELECT frame_md5, CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           min(doc_id) AS canonical_doc
    FROM fr GROUP BY 1 HAVING count(*) > 1 ORDER BY 1
"""


def _semdedup_sweep_oracle_sql() -> str:
    """Mirror of x2_semdedup_sweep: the shared SemDeDup chain through the
    within-cell pair frame `p` and norms `nrm`, then per-threshold
    distinct flagged counts against a generated threshold dimension."""
    ctes = _semdedup_ctes()
    # keep the chain through p/nrm; drop its fixed-threshold dup/fl tail
    ctes = [c for c in ctes if not c.strip().startswith(("dup AS", "fl AS"))]
    vals = ", ".join(f"({n}, {d})" for n, d in SD_SWEEP)
    ctes.append(f"t(num, den) AS (VALUES {vals})")
    ctes.append("""hits AS (
        SELECT t.num, t.den, p.db FROM p
        JOIN nrm na ON na.vec_id = p.da
        JOIN nrm nb ON nb.vec_id = p.db
        JOIN t ON p.dot > 0
              AND t.den * t.den * dot * dot > t.num * t.num * na.nn * nb.nn)""")
    ctes.append("flt AS (SELECT DISTINCT num, den, db FROM hits)")
    ctes.append("tot AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM cell)")
    return (
        "WITH " + ",\n".join(ctes)
        + """
        SELECT CAST(t.num AS BIGINT) AS num, CAST(t.den AS BIGINT) AS den,
               tot.n_vecs,
               CAST(coalesce(f.n, 0) AS BIGINT) AS n_flagged,
               round(CAST(coalesce(f.n, 0) AS DOUBLE)
                     / CAST(tot.n_vecs AS DOUBLE), 6) AS flag_rate
        FROM t CROSS JOIN tot
        LEFT JOIN (SELECT num, den, count(*) AS n FROM flt GROUP BY 1, 2) f
               ON f.num = t.num AND f.den = t.den
        ORDER BY num, den"""
    )


EXTENDED_ORACLES["x2_semdedup_sweep"] = _semdedup_sweep_oracle_sql()

_MIX_TGT_VALUES = ", ".join(f"('{lang}', {bp})" for lang, bp in MIX_TARGET_BP)
EXTENDED_ORACLES["x10_mix_rebalance"] = f"""
    WITH tok AS (
      SELECT lang, CAST(sum(CAST(len({_TOKS_EXPR}) AS BIGINT)) AS BIGINT)
               AS tokens
      FROM documents GROUP BY 1
    ),
    tgt(lang, target_bp) AS (VALUES {_MIX_TGT_VALUES}),
    j AS (SELECT t.lang, t.tokens, CAST(g.target_bp AS BIGINT) AS target_bp
          FROM tok t JOIN tgt g ON g.lang = t.lang),
    cap AS (SELECT CAST(min(tokens * 10000 // target_bp) AS BIGINT) AS cap
            FROM j)
    SELECT lang, tokens, target_bp,
           CAST(cap * target_bp // 10000 AS BIGINT) AS realized_tokens,
           round(CAST(cap * target_bp // 10000 AS DOUBLE)
                 / CAST(tokens AS DOUBLE), 6) AS keep_rate,
           CAST(CASE WHEN tokens * 10000 // target_bp = cap
                THEN 1 ELSE 0 END AS INT) AS binding
    FROM j, cap ORDER BY lang
"""


def _rq_distortion_oracle_sql() -> str:
    """Mirror of x3_rq_distortion: the pq_distortion u/seeds/cb/sd chain,
    the per-(vector, subspace) argmin code (ties -> smaller j), the
    integer residual long form, a level-2 codebook whose code 0 is the
    generated zero vector and codes 1.. are the residuals of the vectors
    ranked just past the level-1 seeds, then the per-subspace two-level
    error aggregate."""
    sub = EMB_DIM // PQ_M
    return f"""
        WITH {_PQ_SD_CTES},
        codes AS (SELECT vec_id, s, j AS code FROM (
                    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                               ORDER BY d, j) AS rn FROM sd) WHERE rn = 1),
        best1 AS (SELECT vec_id, s, min(d) AS err1 FROM sd GROUP BY 1, 2),
        ru AS (SELECT u.vec_id, u.i, k.s, u.x - cb.c AS rx
               FROM u
               JOIN codes k ON k.vec_id = u.vec_id
                           AND k.s = (u.i - 1) // {sub}
               JOIN cb ON cb.i = u.i AND cb.j = k.code),
        s2 AS (SELECT vec_id, CAST(rn - {PQ_CODES} AS INT) AS j2 FROM (
                 SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn
                 FROM (SELECT DISTINCT vec_id FROM embeddings)
               ) WHERE rn > {PQ_CODES} AND rn <= {2 * PQ_CODES - 1}),
        cb2 AS (
          SELECT s2.j2, r.i, r.s, r.rx AS c
          FROM s2 JOIN ru r ON r.vec_id = s2.vec_id
          UNION ALL
          SELECT 0 AS j2, CAST(range + 1 AS BIGINT) AS i,
                 CAST(range // {sub} AS BIGINT) AS s, CAST(0 AS BIGINT) AS c
          FROM range({EMB_DIM})
        ),
        rd AS (SELECT r.vec_id, r.s, c2.j2,
                      SUM((r.rx - c2.c) * (r.rx - c2.c)) AS d
               FROM ru r JOIN cb2 c2 ON c2.i = r.i
               GROUP BY 1, 2, 3),
        best2 AS (SELECT vec_id, s, min(d) AS err2 FROM rd GROUP BY 1, 2)
        SELECT CAST(b1.s AS INT) AS s,
               CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(sum(b1.err1) AS BIGINT) AS sse1,
               CAST(sum(b2.err2) AS BIGINT) AS sse2,
               round(1.0 - CAST(sum(b2.err2) AS DOUBLE)
                     / CAST(sum(b1.err1) AS DOUBLE), 6) AS reduction
        FROM best1 b1
        JOIN best2 b2 ON b2.vec_id = b1.vec_id AND b2.s = b1.s
        GROUP BY b1.s ORDER BY s
    """


EXTENDED_ORACLES["x3_rq_distortion"] = _rq_distortion_oracle_sql()


def _rq_adc_oracle_sql() -> str:
    """Mirror of x3_rq_adc: the x3_rq_distortion chain supplies level-1
    codes and residuals for every vector; corpus rows take their GREEDY
    level-2 code (argmin of the residual, ties -> smaller code), the
    reconstruction c1[code1] + c2[code2] is rebuilt per dimension, and
    each (query, corpus) distance is the exact integer squared-L2 to the
    reconstruction — identical to the Spark side's combined-code LUT
    sum by algebra."""
    sub = EMB_DIM // PQ_M
    base = _rq_distortion_oracle_sql()
    head, sep, _ = base.partition("\n        best2 AS (")
    assert sep, "x3_rq_distortion oracle shape changed"
    # head already ends with the trailing comma after the rd CTE
    return (
        head
        + f"""
        code2 AS (SELECT vec_id, s, j2 AS c2code FROM (
                    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                               ORDER BY d, j2) AS rn FROM rd
                    WHERE vec_id >= {PQ_NQ}) WHERE rn = 1),
        recon AS (
          SELECT k.vec_id, cb.i, cb.c + c2b.c AS rc
          FROM codes k
          JOIN code2 k2 ON k2.vec_id = k.vec_id AND k2.s = k.s
          JOIN cb ON cb.j = k.code AND (cb.i - 1) // {sub} = k.s
          JOIN cb2 c2b ON c2b.j2 = k2.c2code AND c2b.i = cb.i
          WHERE k.vec_id >= {PQ_NQ}
        ),
        pairs AS (
          SELECT qu.vec_id AS qid, r.vec_id AS cid,
                 CAST(SUM((qu.x - r.rc) * (qu.x - r.rc)) AS BIGINT) AS dist
          FROM recon r JOIN u qu ON qu.i = r.i
          WHERE qu.vec_id < {PQ_NQ}
          GROUP BY 1, 2
        )
        SELECT qid, cid, dist, CAST(rk AS INT) AS rk FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                     ORDER BY dist, cid) AS rk FROM pairs)
        WHERE rk <= {PQ_K} ORDER BY qid, rk
    """
    )


EXTENDED_ORACLES["x3_rq_adc"] = _rq_adc_oracle_sql()


def _pq_vs_rq_recall_oracle_sql() -> str:
    """Mirror of x3_pq_vs_rq_recall: exact integer-L2 top-k on the PQ
    split, then the full x3_pq_adc / x3_rq_adc oracle texts embedded as
    parenthesized subqueries (each carries its own WITH chain) and
    semi-joined against the exact set."""
    return f"""
    WITH uq AS (SELECT vec_id,
                 CAST(round(CAST(x AS DOUBLE) * {KM_SCALE}) AS BIGINT) AS x, i
          FROM (SELECT vec_id, unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings)),
    sc AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
                  CAST(SUM((q.x - c.x) * (q.x - c.x)) AS BIGINT) AS d
           FROM uq q JOIN uq c ON c.i = q.i
           WHERE q.vec_id < {PQ_NQ} AND c.vec_id >= {PQ_NQ}
           GROUP BY 1, 2),
    ex AS (SELECT qid, cid FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                        ORDER BY d, cid) AS rn FROM sc) WHERE rn <= {PQ_K}),
    pqk AS (SELECT qid, cid FROM ({EXTENDED_ORACLES["x3_pq_adc"]}) t),
    rqk AS (SELECT qid, cid FROM ({EXTENDED_ORACLES["x3_rq_adc"]}) t),
    m AS (
      SELECT 'pq_adc' AS method,
             CAST((SELECT count(*) FROM ex) AS BIGINT) AS n_exact,
             CAST((SELECT count(*) FROM ex JOIN pqk USING (qid, cid))
                  AS BIGINT) AS hits
      UNION ALL
      SELECT 'rq_adc',
             CAST((SELECT count(*) FROM ex) AS BIGINT),
             CAST((SELECT count(*) FROM ex JOIN rqk USING (qid, cid))
                  AS BIGINT)
    )
    SELECT method, n_exact, hits,
           round(CAST(hits AS DOUBLE) / CAST(n_exact AS DOUBLE), 4) AS recall
    FROM m ORDER BY method
    """


EXTENDED_ORACLES["x3_pq_vs_rq_recall"] = _pq_vs_rq_recall_oracle_sql()


def _sub_kmeans_ctes(pfx: str, s: int) -> list:
    """Prefixed per-subspace unrolled k-means chain — the _kmeans_ctes
    structure over only subspace `s`'s dimensions (original i indices,
    filtered; no renumbering needed since assign/update operate per i).
    After the chain, {pfx}a{KM_ITER}.dist is each vector's exact
    integer distance to its nearest TRAINED code — i.e. the trained
    per-vector quantization error, no separate distortion pass
    required."""
    sub = EMB_DIM // PQ_M
    lo, hi = s * sub + 1, (s + 1) * sub
    ctes = [
        f"""{pfx}u AS (SELECT vec_id,
                CAST(round(CAST(x AS DOUBLE) * {KM_SCALE}) AS BIGINT) AS x, i
             FROM (SELECT vec_id, unnest(embedding) AS x,
                          generate_subscripts(embedding, 1) AS i
                   FROM embeddings)
             WHERE i BETWEEN {lo} AND {hi})""",
        f"""{pfx}seeds AS (SELECT vec_id,
                CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j
             FROM (SELECT DISTINCT vec_id FROM embeddings
                   ORDER BY vec_id LIMIT {PQ_CODES}))""",
        f"""{pfx}c0 AS (SELECT s.j AS cluster, u.i, u.x AS c
             FROM {pfx}seeds s JOIN {pfx}u u ON u.vec_id = s.vec_id)""",
    ]
    for t in range(KM_ITER + 1):
        ctes.append(f"""{pfx}d{t} AS (
            SELECT u.vec_id, c.cluster, SUM((u.x - c.c) * (u.x - c.c)) AS dist
            FROM {pfx}u u JOIN {pfx}c{t} c ON c.i = u.i GROUP BY 1, 2)""")
        ctes.append(f"""{pfx}a{t} AS (
            SELECT vec_id, cluster, CAST(dist AS BIGINT) AS dist FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY dist, cluster) AS rn FROM {pfx}d{t})
            WHERE rn = 1)""")
        if t < KM_ITER:
            ctes.append(f"""{pfx}c{t + 1} AS (
                SELECT a.cluster, u.i,
                       CAST(floor(CAST(sum(u.x) AS DOUBLE) / count(*))
                            AS BIGINT) AS c
                FROM {pfx}a{t} a JOIN {pfx}u u ON u.vec_id = a.vec_id
                GROUP BY 1, 2
                UNION ALL
                SELECT * FROM {pfx}c{t} WHERE cluster NOT IN
                  (SELECT DISTINCT cluster FROM {pfx}a{t}))""")
    return ctes


def _pq_trained_oracle_sql() -> str:
    """Mirror of x3_pq_trained_distortion: the deterministic sse from
    the embedded x3_pq_distortion oracle; the trained sse from PQ_M
    prefixed per-subspace unrolled k-means chains (each chain's final
    assignment distance IS the trained quantization error)."""
    ctes: list = []
    arms = []
    for s in range(PQ_M):
        pfx = f"ps{s}_"
        ctes.extend(_sub_kmeans_ctes(pfx, s))
        arms.append(
            f"SELECT CAST({s} AS INT) AS s,"
            f" CAST(sum(dist) AS BIGINT) AS sse_trained"
            f" FROM {pfx}a{KM_ITER}"
        )
    det = EXTENDED_ORACLES["x3_pq_distortion"]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
    trained AS ({" UNION ALL ".join(arms)}),
    det AS (SELECT s, n_vecs, sse AS sse_det FROM ({det}) t)
    SELECT det.s, det.n_vecs, det.sse_det, trained.sse_trained,
           round(1.0 - CAST(trained.sse_trained AS DOUBLE)
                 / CAST(det.sse_det AS DOUBLE), 6) AS improvement
    FROM det JOIN trained ON trained.s = det.s
    ORDER BY det.s
    """
    )


EXTENDED_ORACLES["x3_pq_trained_distortion"] = _pq_trained_oracle_sql()


# Suffix-array mirror: the oracle does what the Spark plan deliberately
# avoids — materializes every suffix as a STRING and sorts them (fine at
# sf0.01; the O(corpus^2)-bytes shape the integer prefix-doubling plan
# replaces at scale). Joined-with-space string order == token-sequence
# order because tokens are [a-z0-9]+ and 0x20 sorts below every token
# char; ties between identical suffixes break by (d, i) in both engines.
# NOTE duckdb 1.0 list_position returns 0 (not NULL) on no-match — the
# nullif keeps all-prefix-equal pairs from collapsing to lcp = -1.
EXTENDED_ORACLES["x1_suffix_array"] = f"""
    WITH base AS (
      SELECT doc_id AS d, list_slice({_TOKS_EXPR}, 1, {SA_MAX_T}) AS toks
      FROM documents WHERE len({_TOKS_EXPR}) >= 1
    ),
    sfx AS (
      SELECT d, t.i, list_slice(toks, t.i, len(toks)) AS lst,
             array_to_string(list_slice(toks, t.i, len(toks)), ' ') AS s
      FROM base, LATERAL (SELECT generate_subscripts(toks, 1) AS i) t
    ),
    ord2 AS (
      SELECT d, i, lst, row_number() OVER (ORDER BY s, d, i) AS rn FROM sfx
    ),
    adj AS (
      SELECT a.lst AS la, b.lst AS lb FROM ord2 a JOIN ord2 b ON b.rn = a.rn + 1
    ),
    lcps AS (
      SELECT CAST(coalesce(
               nullif(list_position(
                 list_apply(generate_series(1, least(len(la), len(lb))),
                            k -> la[k] = lb[k]), false), 0) - 1,
               least(len(la), len(lb))) AS BIGINT) AS lcp
      FROM adj
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(max(lcp) AS INT) AS max_lcp,
           CAST(sum(CASE WHEN lcp >= {SA_LCP_THRESHOLDS[0]} THEN 1 ELSE 0 END) AS BIGINT)
             AS pairs_ge_{SA_LCP_THRESHOLDS[0]},
           CAST(sum(CASE WHEN lcp >= {SA_LCP_THRESHOLDS[1]} THEN 1 ELSE 0 END) AS BIGINT)
             AS pairs_ge_{SA_LCP_THRESHOLDS[1]},
           CAST(sum(CASE WHEN lcp >= {SA_LCP_THRESHOLDS[2]} THEN 1 ELSE 0 END) AS BIGINT)
             AS pairs_ge_{SA_LCP_THRESHOLDS[2]},
           CAST(sum(lcp) AS BIGINT) AS sum_lcp
    FROM lcps
"""


# KS mirror: identical integer cross-multiplied D over the same cents
# histogram; float sqrt layer textually identical to the Spark selectExpr.
EXTENDED_ORACLES["x8_ks_test"] = f"""
    WITH hg AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    cum AS (
      SELECT sum(ca) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum_a,
             sum(cb) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum_b
      FROM hg
    ),
    tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b FROM hg),
    d AS (
      SELECT n_a, n_b, CAST(max(abs(cum_a * n_b - cum_b * n_a)) AS BIGINT) AS d_num
      FROM cum, tot GROUP BY n_a, n_b
    )
    SELECT n_a, n_b, d_num,
           round(CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS d_stat,
           round(CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                 * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                        / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))), 6) AS ks_z,
           CAST(CASE WHEN CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                > {KS_CRIT} * sqrt((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                                   / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
                THEN 1 ELSE 0 END AS INT) AS reject_05
    FROM d
"""


EXTENDED_ORACLES["x8_wasserstein"] = """
    WITH whg AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    wcum AS (
      SELECT cents,
             sum(ca) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum_a,
             sum(cb) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum_b,
             lead(cents) OVER (ORDER BY cents) - cents AS gap
      FROM whg
    ),
    wtot AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                    CAST(sum(cb) AS BIGINT) AS n_b FROM whg),
    ws AS (
      SELECT n_a, n_b,
             CAST(SUM(abs(cum_a * n_b - cum_b * n_a) * gap) AS BIGINT)
               AS w1_num
      FROM wcum, wtot WHERE gap IS NOT NULL GROUP BY n_a, n_b
    )
    SELECT n_a, n_b, w1_num,
           round(CAST(w1_num AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
             AS w1_cents,
           round(CAST(w1_num AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                 / CAST(100 AS DOUBLE), 6) AS w1_value
    FROM ws
"""


def _hb_oracle_reg_ctes() -> list[str]:
    """The e/n0/h0/r0..r{HB_ITER} register-round CTE chain shared by the
    x11_hyperball and x11_hyperball_error oracles: the symmetrized edge
    CTE (same as x11_bfs), one portable-HLL m=HB_M register set per
    node, HB_ITER unrolled register-max rounds."""
    from diepy_spark.operators.sketch import hll_bucket_sql, hll_rho_sql

    ctes = [
        """e AS (
          SELECT src, dst FROM (
            SELECT l_partkey * 10 + 1 AS src, l_suppkey * 10 + 2 AS dst
            FROM lineitem GROUP BY 1, 2
            UNION ALL
            SELECT l_suppkey * 10 + 2, l_partkey * 10 + 1
            FROM lineitem GROUP BY 1, 2) WHERE src <> dst)""",
        """n0 AS (SELECT src AS node FROM e UNION SELECT dst FROM e)""",
        """h0 AS (SELECT node, md5(CAST(node AS VARCHAR)) AS h FROM n0)""",
        f"""r0 AS (SELECT node, {hll_bucket_sql('h', HB_M)} AS bucket,
                        {hll_rho_sql('h')} AS mr FROM h0)""",
    ]
    for t in range(1, HB_ITER + 1):
        ctes.append(f"""r{t} AS (
          SELECT node, bucket, max(mr) AS mr FROM (
            SELECT node, bucket, mr FROM r{t - 1}
            UNION ALL
            SELECT e.dst AS node, x.bucket, x.mr
            FROM r{t - 1} x JOIN e ON e.src = x.node) GROUP BY 1, 2)""")
    return ctes


def _hb_oracle_node_est(t: int) -> str:
    """Per-node HLL ball estimate at round t — (node, ball DECIMAL(18,4))
    with the identical fold/linear-counting arithmetic as
    clustering._hb_tier_balls. Shared by both hyperball oracles."""
    from diepy_spark.operators.sketch import hll_alpha

    m, alpha = HB_M, hll_alpha(HB_M)
    return f"""SELECT node,
              CAST(round(CASE WHEN {alpha * m * m!r} / (s + ({m} - nb)) <= {2.5 * m!r}
                              AND ({m} - nb) > 0
                         THEN {float(m)!r} * ln({m} / ({m} - nb))
                         ELSE {alpha * m * m!r} / (s + ({m} - nb)) END, 4)
                   AS DECIMAL(18,4)) AS ball
            FROM (SELECT node, sum(power(2.0, -mr)) AS s, count(*) AS nb
                  FROM r{t} GROUP BY node)"""


def _hyperball_oracle_sql() -> str:
    """Mirror of x11_hyperball: the shared register CTE chain
    (_hb_oracle_reg_ctes), then the identical per-node fold and
    DECIMAL(18,4) sum."""
    ctes = _hb_oracle_reg_ctes()
    ests = []
    for t in range(HB_ITER + 1):
        ests.append(f"""SELECT {t} AS t, ball FROM ({_hb_oracle_node_est(t)})""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
    balls AS ({" UNION ALL ".join(ests)}),
    per_t AS (SELECT t, CAST(count(*) AS BIGINT) AS n_nodes,
                     sum(ball) AS nf_dec
              FROM balls GROUP BY t),
    lastt AS (SELECT nf_dec AS nf_last FROM per_t WHERE t = {HB_ITER})
    SELECT t, n_nodes,
           CAST(nf_dec AS DOUBLE) AS nf,
           round(CAST(nf_dec AS DOUBLE) / CAST(n_nodes AS DOUBLE), 4) AS avg_ball,
           round(CAST(nf_dec AS DOUBLE) / CAST(nf_last AS DOUBLE), 6) AS coverage
    FROM per_t, lastt
    ORDER BY t
    """
    )


EXTENDED_ORACLES["x11_hyperball"] = _hyperball_oracle_sql()


def _hyperball_error_oracle_sql() -> str:
    """Mirror of x11_hyperball_error: the shared register CTE chain,
    a seeds CTE, HB_ITER unrolled per-seed BFS rounds keyed on
    (seed, node) (min-distance, so every b{t} row has d <= t and
    count(*) over b{t} IS the exact pair count at radius t), and the
    per-node fold restricted to the seeds."""
    ctes = _hb_oracle_reg_ctes()
    ctes.append(
        f"""sds AS (SELECT DISTINCT l_partkey * 10 + 1 AS node
           FROM lineitem WHERE l_partkey <= {HBE_SEED_MAX})"""
    )
    ctes.append("""b0 AS (SELECT node AS seed, node, 0 AS d FROM sds)""")
    for t in range(1, HB_ITER + 1):
        ctes.append(f"""b{t} AS (
          SELECT seed, node, min(d) AS d FROM (
            SELECT seed, node, d FROM b{t - 1}
            UNION ALL
            SELECT x.seed, e.dst AS node, x.d + 1 AS d
            FROM b{t - 1} x JOIN e ON e.src = x.node) GROUP BY 1, 2)""")
    ests = []
    exacts = []
    for t in range(HB_ITER + 1):
        ests.append(
            f"""SELECT {t} AS t, CAST(count(*) AS BIGINT) AS n_seeds,
                   sum(ball) AS est_dec
            FROM ({_hb_oracle_node_est(t)})
            WHERE node IN (SELECT node FROM sds)"""
        )
        exacts.append(
            f"SELECT {t} AS t, CAST(count(*) AS BIGINT) AS exact_pairs FROM b{t}"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
    ests AS ({" UNION ALL ".join(ests)}),
    exacts AS ({" UNION ALL ".join(exacts)})
    SELECT s.t AS t, n_seeds, exact_pairs,
           CAST(est_dec AS DOUBLE) AS est_sum,
           round(CAST(est_dec AS DOUBLE) / CAST(exact_pairs AS DOUBLE), 6)
             AS est_over_exact
    FROM ests s JOIN exacts x ON s.t = x.t
    ORDER BY t
    """
    )


EXTENDED_ORACLES["x11_hyperball_error"] = _hyperball_error_oracle_sql()


# QTE mirror: same cents histogram, same integer quartile pick rule.
EXTENDED_ORACLES["x8_qte"] = """
    WITH hg AS (
      SELECT CAST(user_id % 2 = 0 AS INT) AS grp,
             CAST(round(value * 100) AS BIGINT) AS cents,
             count(*) AS c
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    cum AS (
      SELECT grp, cents,
             sum(c) OVER (PARTITION BY grp ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(c) OVER (PARTITION BY grp) AS n
      FROM hg
    ),
    q AS (
      SELECT grp, CAST(max(n) AS BIGINT) AS n,
             min(CASE WHEN 4 * cum >= n THEN cents END) AS p25,
             min(CASE WHEN 2 * cum >= n THEN cents END) AS p50,
             min(CASE WHEN 4 * cum >= 3 * n THEN cents END) AS p75
      FROM cum GROUP BY grp
    )
    SELECT a.n AS n_a, b.n AS n_b,
           a.p25 AS p25_a, a.p50 AS p50_a, a.p75 AS p75_a,
           b.p25 AS p25_b, b.p50 AS p50_b, b.p75 AS p75_b,
           a.p25 - b.p25 AS qte25,
           a.p50 - b.p50 AS qte50,
           a.p75 - b.p75 AS qte75
    FROM (SELECT * FROM q WHERE grp = 1) a, (SELECT * FROM q WHERE grp = 0) b
"""


def _hits_oracle_sql() -> str:
    """Mirror of x11_hits: HITS_ITER unrolled (authority, hub) half-step
    pairs, each a sum-join plus the same integer max-rescale."""
    s = HITS_SCALE
    ctes = [
        """e AS (SELECT l_partkey * 10 + 1 AS u, l_suppkey * 10 + 2 AS v
                 FROM lineitem GROUP BY 1, 2)""",
        f"""h0 AS (SELECT u, CAST({s} AS BIGINT) AS h
                   FROM (SELECT DISTINCT u FROM e))""",
    ]
    for t in range(1, HITS_ITER + 1):
        ctes.append(
            f"""a{t}r AS (SELECT v, sum(h) AS a FROM e JOIN h{t - 1} USING (u)
                       GROUP BY v)"""
        )
        ctes.append(f"a{t}m AS (SELECT max(a) AS mx FROM a{t}r)")
        ctes.append(
            f"a{t} AS (SELECT v, (a * CAST({s} AS BIGINT)) // mx AS a FROM a{t}r, a{t}m)"
        )
        ctes.append(
            f"""h{t}r AS (SELECT u, sum(a) AS h FROM e JOIN a{t} USING (v)
                       GROUP BY u)"""
        )
        ctes.append(f"h{t}m AS (SELECT max(h) AS mx FROM h{t}r)")
        ctes.append(
            f"h{t} AS (SELECT u, (h * CAST({s} AS BIGINT)) // mx AS h FROM h{t}r, h{t}m)"
        )
    t = HITS_ITER
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
    nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
    scored AS (
      SELECT node,
             CAST(coalesce(h{t}.h, 0) AS BIGINT) AS hub,
             CAST(coalesce(a{t}.a, 0) AS BIGINT) AS auth
      FROM nodes LEFT JOIN h{t} ON h{t}.u = node
                 LEFT JOIN a{t} ON a{t}.v = node
    ),
    topa AS (SELECT 'auth' AS role, node, hub, auth FROM scored
             ORDER BY auth DESC, node LIMIT {HITS_TOP}),
    toph AS (SELECT 'hub' AS role, node, hub, auth FROM scored
             ORDER BY hub DESC, node LIMIT {HITS_TOP})
    SELECT * FROM (SELECT * FROM topa UNION ALL SELECT * FROM toph)
    ORDER BY role, node
    """
    )


EXTENDED_ORACLES["x11_hits"] = _hits_oracle_sql()

EXTENDED_ORACLES["x8_acf"] = f"""
    WITH acfo AS (
      SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT)
               AS day, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    acfsp AS (
      SELECT UNNEST(generate_series((SELECT MIN(day) FROM acfo),
                                    (SELECT MAX(day) FROM acfo))) AS day
    ),
    acfd AS (
      SELECT s.day, CAST(COALESCE(o.c, 0) AS BIGINT) AS x
      FROM acfsp s LEFT JOIN acfo o USING (day)
    ),
    acft AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
                    CAST(SUM(x) AS BIGINT) AS s_tot FROM acfd),
    acfy AS (SELECT day, n_days, n_days * x - s_tot AS y FROM acfd, acft),
    acfden AS (SELECT CAST(SUM(y * y) AS BIGINT) AS den FROM acfy),
    acfnum AS (
      SELECT CAST(b.day - a.day AS INT) AS lag_k, a.n_days,
             CAST(SUM(a.y * b.y) AS BIGINT) AS num
      FROM acfy a JOIN acfy b
        ON b.day > a.day AND b.day <= a.day + {ACF_MAX_LAG}
      GROUP BY 1, 2
    )
    SELECT lag_k, n_days, num, den,
           round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS acf
    FROM acfnum, acfden ORDER BY lag_k
"""

# The indexed-adjacency CTE block shared by the walk oracles
# (x11_random_walks, x11_node2vec): the same part↔supplier graph,
# per-source dst-ordered neighbor index, degrees.
_RW_GRAPH_CTES = [
    """rwps AS (SELECT DISTINCT l_partkey * 10 + 1 AS src,
                      l_suppkey * 10 + 2 AS dst FROM lineitem)""",
    """rwe AS (SELECT DISTINCT src, dst FROM (
         SELECT src, dst FROM rwps
         UNION ALL SELECT dst AS src, src AS dst FROM rwps
       ) WHERE src != dst)""",
    """rwn AS (SELECT src, dst,
               CAST(row_number() OVER (PARTITION BY src ORDER BY dst)
                    AS BIGINT) AS idx FROM rwe)""",
    """rwd AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
               FROM rwe GROUP BY 1)""",
]


def _rw_walk_ctes() -> list[str]:
    """The unrolled walk-step CTE chain shared by the x11_random_walks
    oracle and its consumers (x11_walk_cooccur): rws0..rws{RW_STEPS},
    each applying the identical rw_pick_sql choice text."""
    from diepy_spark.operators.clustering import rw_pick_sql

    ctes = _RW_GRAPH_CTES + [
        "rws0 AS (SELECT src AS walk, src AS node FROM rwd)",
    ]
    for t in range(1, RW_STEPS + 1):
        pick = rw_pick_sql("s.walk", "s.node", t, "d.deg")
        ctes.append(
            f"""rws{t} AS (
              SELECT p.walk, n.dst AS node
              FROM (SELECT s.walk, s.node AS at_n, {pick} AS idx
                    FROM rws{t - 1} s JOIN rwd d ON d.src = s.node) p
              JOIN rwn n ON n.src = p.at_n AND n.idx = p.idx
            )"""
        )
    return ctes


def _random_walks_oracle_sql() -> str:
    """Mirror of x11_random_walks: the same indexed adjacency, then
    RW_STEPS unrolled walk-step CTEs each applying the identical
    rw_pick_sql choice text, then the same per-step signatures."""
    ctes = _rw_walk_ctes()
    sig = _rw_sig_sql()
    tiers = [
        f"""SELECT {t} AS t, CAST(count(*) AS BIGINT) AS n_walks,
               CAST(count(DISTINCT node) AS BIGINT) AS distinct_nodes,
               CAST(SUM({sig}) AS BIGINT) AS visit_sig
           FROM rws{t}"""
        for t in range(0, RW_STEPS + 1)
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT * FROM ("
        + " UNION ALL ".join(tiers)
        + ") ORDER BY t"
    )


EXTENDED_ORACLES["x11_random_walks"] = _random_walks_oracle_sql()


def _node2vec_oracle_sql() -> str:
    """Mirror of x11_node2vec: the shared graph CTEs, a uniform first
    step, then per step the candidate expansion + weighted cumulative
    window + interval filter — every text (weight, class, draw, pick)
    shared with the Spark operator."""
    from diepy_spark.operators.clustering import (
        n2v_class_sql,
        n2v_draw_sql,
        n2v_weight_sql,
        rw_pick_sql,
    )

    wb, wc, wf = N2V_WEIGHTS
    pick1 = rw_pick_sql("d.src", "d.src", 1, "d.deg", "n2v")
    ctes = _RW_GRAPH_CTES + [
        f"""n2s1 AS (
          SELECT p.walk, p.at_n AS prev, n.dst AS cur
          FROM (SELECT d.src AS walk, d.src AS at_n, {pick1} AS idx
                FROM rwd d) p
          JOIN rwn n ON n.src = p.at_n AND n.idx = p.idx
        )"""
    ]
    for t in range(2, N2V_STEPS + 1):
        w = n2v_weight_sql("n.dst", "s.prev", "m.src", wb, wc, wf)
        cls = n2v_class_sql("n.dst", "s.prev", "m.src")
        draw = n2v_draw_sql("walk", t, "prev", "cur", "n2v")
        ctes.append(
            f"""n2c{t} AS (
              SELECT s.walk, s.prev, s.cur, n.idx, n.dst AS x,
                     {w} AS w, {cls} AS cls
              FROM n2s{t - 1} s
              JOIN rwn n ON n.src = s.cur
              LEFT JOIN rwe m ON m.src = s.prev AND m.dst = n.dst
            )"""
        )
        ctes.append(
            f"""n2w{t} AS (
              SELECT walk, cur, x, cls, w,
                     SUM(w) OVER (PARTITION BY walk ORDER BY idx) AS cum,
                     SUM(w) OVER (PARTITION BY walk) AS tot,
                     {draw} AS rh
              FROM n2c{t}
            )"""
        )
        ctes.append(
            f"""n2s{t} AS (
              SELECT walk, cur AS prev, x AS cur, cls FROM n2w{t}
              WHERE cum - w <= rh % tot AND rh % tot < cum
            )"""
        )
    sig = _rw_sig_sql()

    def tier(t: int, frame: str, walk: str, node: str, cls_case: str) -> str:
        return f"""SELECT {t} AS t, CAST(count(*) AS BIGINT) AS n_walks,
            CAST(count(DISTINCT node) AS BIGINT) AS distinct_nodes,
            CAST(SUM(CASE WHEN cls = 'back' THEN 1 ELSE 0 END) AS BIGINT)
              AS n_back,
            CAST(SUM(CASE WHEN cls = 'common' THEN 1 ELSE 0 END) AS BIGINT)
              AS n_common,
            CAST(SUM(CASE WHEN cls = 'forward' THEN 1 ELSE 0 END) AS BIGINT)
              AS n_forward,
            CAST(SUM({sig}) AS BIGINT) AS visit_sig
           FROM (SELECT {walk} AS walk, {node} AS node, {cls_case} AS cls
                 FROM {frame})"""

    tiers = [
        tier(0, "rwd", "src", "src", "'start'"),
        tier(1, "n2s1", "walk", "cur", "'uniform'"),
    ]
    tiers += [
        tier(t, f"n2s{t}", "walk", "cur", "cls")
        for t in range(2, N2V_STEPS + 1)
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT * FROM ("
        + " UNION ALL ".join(tiers)
        + ") ORDER BY t"
    )


EXTENDED_ORACLES["x11_node2vec"] = _node2vec_oracle_sql()


def _walk_cooccur_oracle_sql() -> str:
    """Mirror of x11_walk_cooccur: the shared walk CTE chain, the union
    trajectory frame, the same windowed pair count and pinned top-k."""
    ctes = _rw_walk_ctes()
    ctes.append(
        "rwall AS ("
        + " UNION ALL ".join(
            f"SELECT {t} AS t, walk, node FROM rws{t}"
            for t in range(0, RW_STEPS + 1)
        )
        + ")"
    )
    ctes.append(
        f"""wcp AS (
          SELECT a.node AS center, b.node AS context,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM rwall a JOIN rwall b
            ON a.walk = b.walk AND a.t != b.t
           AND abs(a.t - b.t) <= {WC_WINDOW}
          GROUP BY 1, 2
        )"""
    )
    ctes.append(
        """wct AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_pairs,
                          CAST(count(*) AS BIGINT) AS distinct_pairs
                   FROM wcp)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT center, context, cnt, total_pairs, distinct_pairs
    FROM (SELECT * FROM wcp ORDER BY cnt DESC, center, context
          LIMIT {WC_TOP}), wct
    ORDER BY cnt DESC, center, context
    """
    )


EXTENDED_ORACLES["x11_walk_cooccur"] = _walk_cooccur_oracle_sql()


def _walk_pmi_oracle_sql() -> str:
    """Mirror of x11_walk_pmi: the shared walk + pair CTEs, SGNS
    marginals from the pair table, the shared exact-double lift ratio
    as the ranking key, ln only at the rendered 6 decimals."""
    ctes = _rw_walk_ctes()
    ctes.append(
        "rwall AS ("
        + " UNION ALL ".join(
            f"SELECT {t} AS t, walk, node FROM rws{t}"
            for t in range(0, RW_STEPS + 1)
        )
        + ")"
    )
    ctes.append(
        f"""wcp AS (
          SELECT a.node AS center, b.node AS context,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM rwall a JOIN rwall b
            ON a.walk = b.walk AND a.t != b.t
           AND abs(a.t - b.t) <= {WC_WINDOW}
          GROUP BY 1, 2
        )"""
    )
    ctes.append(
        "pmw AS (SELECT center, CAST(SUM(cnt) AS BIGINT) AS cw"
        " FROM wcp GROUP BY 1)"
    )
    ctes.append(
        "pmc AS (SELECT context, CAST(SUM(cnt) AS BIGINT) AS cc"
        " FROM wcp GROUP BY 1)"
    )
    ctes.append("pmd AS (SELECT CAST(SUM(cnt) AS BIGINT) AS dd FROM wcp)")
    ctes.append(
        f"""pms AS (
          SELECT center, context, cnt, cw, cc, {_PMI_RATIO} AS lift
          FROM wcp JOIN pmw USING (center) JOIN pmc USING (context), pmd
          WHERE cnt >= {PMI_MIN_CNT}
        )"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT center, context, cnt, cw, cc,
           round(lift, 6) AS lift, round(ln(lift), 6) AS pmi
    FROM (SELECT * FROM pms ORDER BY lift DESC, center, context
          LIMIT {PMI_TOP})
    ORDER BY lift DESC, center, context
    """
    )


EXTENDED_ORACLES["x11_walk_pmi"] = _walk_pmi_oracle_sql()

EXTENDED_ORACLES["x8_anova"] = f"""
    WITH anc AS (
      SELECT CAST(o_orderpriority AS STRING) AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    ang AS (
      SELECT grp,
             CAST(count(*) AS BIGINT) AS n_g,
             CAST(SUM(cents) AS BIGINT) AS s_g,
             CAST(SUM(CAST(cents * cents AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS q_g
      FROM anc GROUP BY 1
    ),
    ana AS (
      SELECT CAST(count(*) AS BIGINT) AS k_groups,
             CAST(SUM(n_g) AS BIGINT) AS n_rows,
             CAST(SUM(s_g) AS BIGINT) AS s_tot,
             CAST(SUM(q_g) AS DECIMAL(38,0)) AS q_tot,
             CAST(list_sum(list(
               (CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE))
                 / CAST(n_g AS DOUBLE) ORDER BY grp)) AS DOUBLE) AS ssq
      FROM ang
    )
    SELECT k_groups, n_rows, s_tot,
           round({_ANOVA_SSB}, 4) AS ss_between,
           round({_ANOVA_SSW}, 4) AS ss_within,
           round({_ANOVA_F}, 6) AS f_stat
    FROM ana
"""

EXTENDED_ORACLES["x8_runs_test"] = f"""
    WITH rtd AS (
      SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT)
               AS day, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    rtn AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM rtd),
    rtr AS (SELECT day, x,
                   CAST(row_number() OVER (ORDER BY x, day) AS BIGINT) AS rn
            FROM rtd),
    rtm AS (SELECT CASE WHEN count(*) = 1 THEN 2 * SUM(x) ELSE SUM(x) END
                     AS med2
            FROM rtr, rtn
            WHERE rn = (n_days + 1) // 2 OR rn = (n_days + 2) // 2),
    rtk AS (SELECT day, CASE WHEN 2 * x > med2 THEN 1 ELSE 0 END AS b
            FROM rtd, rtm WHERE 2 * x != med2),
    rtf AS (SELECT b, lag(b) OVER (ORDER BY day) AS pb FROM rtk),
    rts AS (SELECT CAST(SUM(b) AS BIGINT) AS n1,
                   CAST(SUM(1 - b) AS BIGINT) AS n2,
                   CAST(SUM(CASE WHEN pb IS NULL OR pb != b THEN 1 ELSE 0 END)
                        AS BIGINT) AS runs
            FROM rtf),
    rtz AS (SELECT n1, n2, runs, 2 * n1 * n2 AS p2, n1 + n2 AS m FROM rts)
    SELECT n1, n2, runs, p2, m, round({_RUNS_Z}, 6) AS runs_z FROM rtz
"""


# ============================================================
# ROUND 7 — independence testing, robust trend, vector-compression
# recall instruments, importance resampling, boilerplate removal.
# ============================================================

# Chi-square per-cell contribution (O*N - R*C)^2 / (N*R*C) with every
# operand cast to DOUBLE inside shared text (the _ENTROPY_TERM
# discipline). (O*N - R*C) is an exact BIGINT (|.| <= N^2 ~ 1e10 at
# sf0.1, far under 2^53, so the DOUBLE cast is exact); the square and
# the one division are single correctly-rounded IEEE ops, identical
# cross-engine; the fold over the bounded cell list runs in
# (rv, cv) order in both engines.
_CHISQ_TERM = (
    "(CAST({o} * {n} - {r} * {c} AS DOUBLE)"
    " * CAST({o} * {n} - {r} * {c} AS DOUBLE))"
    " / (CAST({n} AS DOUBLE) * CAST({r} AS DOUBLE) * CAST({c} AS DOUBLE))"
)

# Cramér's V = sqrt(chi2 / (N * min(nr-1, nc-1))): sqrt IS correctly
# rounded under IEEE-754 (unlike pow — the x10_epoch_plan lesson).
_CRAMERS_V = (
    "sqrt({chi2} / (CAST({n} AS DOUBLE) * CAST(least({nr} - 1, {nc} - 1)"
    " AS DOUBLE)))"
)


def x8_chisq_independence(spark, sf_dir):
    """Pearson chi-square test of independence over the event_type x
    user-cohort contingency table — the categorical sibling of the
    two-sample panel (x8_ks_test/x8_mwu test a numeric column; this
    tests whether a CATEGORICAL outcome depends on the cohort — the
    canonical guardrail check that feature usage is balanced across
    experiment arms). chi2 = sum_cells (O - E)^2/E with E = R*C/N,
    computed as (O*N - R*C)^2/(N*R*C) so every numerator stays an
    exact integer; effect size as Cramér's V.

    Scale shape: ONE corpus aggregate with map-side combine collapses
    events to the bounded contingency table (|event_type| x 3 cells);
    a second global aggregate packs the cell frame into ONE array row,
    and margins, the ordered chi2 fold and the render all run as
    higher-order functions over that bounded array — zero joins, zero
    windows (the round-7 crossJoin(broadcast(1-row)) margins produced
    two BroadcastNestedLoopJoin nodes; this shape zeroes them). NULL
    event_type/user_id rows are excluded up front so margins and cells
    stay consistent if NULLs ever appear (they would otherwise count
    into n but drop from the inner-join fold).
    """
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.where("event_type IS NOT NULL AND user_id IS NOT NULL")
        .selectExpr(
            "event_type AS rv", "CAST(user_id % 3 AS INT) AS cv"
        )
        .groupBy("rv", "cv")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    one = cells.agg(
        F.expr("array_sort(collect_list(struct(rv, cv, o)))").alias("cl")
    )
    r_expr = (
        "aggregate(filter(cl, y -> y.rv = x.rv),"
        " CAST(0 AS BIGINT), (ar, y) -> ar + y.o)"
    )
    c_expr = (
        "aggregate(filter(cl, z -> z.cv = x.cv),"
        " CAST(0 AS BIGINT), (ac, z) -> ac + z.o)"
    )
    term = _CHISQ_TERM.format(
        o="x.o", n="n", r=f"({r_expr})", c=f"({c_expr})"
    )
    base = one.selectExpr(
        "aggregate(cl, CAST(0 AS BIGINT), (a, x) -> a + x.o) AS n",
        "CAST(size(array_distinct(transform(cl, x -> x.rv))) AS BIGINT)"
        " AS nr",
        "CAST(size(array_distinct(transform(cl, x -> x.cv))) AS BIGINT)"
        " AS nc",
        "cl",
    )
    agg = base.selectExpr(
        "n",
        "nr",
        "nc",
        f"aggregate(cl, CAST(0 AS DOUBLE), (acc, x) -> acc + ({term}))"
        " AS chi2raw",
    )
    v = _CRAMERS_V.format(chi2="chi2raw", n="n", nr="nr", nc="nc")
    return agg.selectExpr(
        "n",
        "nr",
        "nc",
        "(nr - 1) * (nc - 1) AS dof",
        "round(chi2raw, 6) AS chi2",
        f"round({v}, 6) AS cramers_v",
    )


EXTENDED_QUERIES["x8_chisq_independence"] = x8_chisq_independence

EXTENDED_ORACLES["x8_chisq_independence"] = f"""
    WITH cq AS (
      SELECT event_type AS rv, CAST(user_id % 3 AS INT) AS cv,
             CAST(count(*) AS BIGINT) AS o
      FROM events
      WHERE event_type IS NOT NULL AND user_id IS NOT NULL
      GROUP BY 1, 2
    ),
    cqr AS (SELECT rv, CAST(sum(o) AS BIGINT) AS r FROM cq GROUP BY 1),
    cqc AS (SELECT cv, CAST(sum(o) AS BIGINT) AS c FROM cq GROUP BY 1),
    cqt AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                   CAST(count(DISTINCT rv) AS BIGINT) AS nr,
                   CAST(count(DISTINCT cv) AS BIGINT) AS nc FROM cq),
    cqj AS (SELECT cq.rv, cq.cv, cq.o, cqr.r, cqc.c, cqt.n, cqt.nr, cqt.nc
            FROM cq JOIN cqr USING (rv) JOIN cqc USING (cv), cqt),
    cqa AS (
      SELECT n, nr, nc,
             list_sum(list(
               ({_CHISQ_TERM.format(o="o", n="n", r="r", c="c")})
               ORDER BY rv, cv)) AS chi2raw
      FROM cqj GROUP BY 1, 2, 3
    )
    SELECT n, nr, nc, (nr - 1) * (nc - 1) AS dof,
           round(chi2raw, 6) AS chi2,
           round({_CRAMERS_V.format(chi2="chi2raw", n="n", nr="nr", nc="nc")}, 6)
             AS cramers_v
    FROM cqa
"""


def x8_theil_sen(spark, sf_dir):
    """Theil–Sen robust trend estimator per event_type: the median of
    all pairwise slopes (v_j - v_i)/(d_j - d_i) over the daily
    revenue-cents series — the robust complement of x8_grouped_linfit
    (OLS: one outlier day drags the fit; the slope median has a 29%
    breakdown point) and the MAGNITUDE sibling of x8_mann_kendall
    (same pairwise structure; MK gives the trend's sign/significance,
    Theil–Sen its size).

    Exactness: slope operands are exact BIGINTs (cents delta, day
    delta), so each slope is ONE correctly-rounded IEEE division —
    bit-identical cross-engine; the median picks rows by INTEGER rank
    over the deterministic total order (slope, d1, d2) and averages at
    most two doubles (one commutative add, one halving). Group count
    n*(n-1)/2 is exact.

    Scale shape: the corpus collapses to per-(type, day) integer sums
    in ONE map-side-combined aggregate; the O(days^2) pair join runs
    on the bounded calendar frame (~435 pairs/type for a month), never
    on events rows. At a 10-year spine, swap the all-pairs join for
    the repeated-median variant on a day-bucketed subsample — the
    estimator degrades gracefully; the corpus aggregate is unchanged."""
    daily = (
        _day_cents(spark, sf_dir)
        .groupBy("event_type", "day")
        .agg(F.sum("cents").cast("bigint").alias("v"))
        .localCheckpoint(eager=False)  # bounded: types x calendar days
    )
    a = daily.selectExpr("event_type", "day AS d1", "v AS v1")
    b = daily.selectExpr("event_type AS et2", "day AS d2", "v AS v2")
    pairs = a.join(
        b, (F.col("event_type") == F.col("et2")) & (F.col("d2") > F.col("d1"))
    ).selectExpr(
        "event_type",
        "d1",
        "d2",
        "CAST(v2 - v1 AS DOUBLE) / CAST(d2 - d1 AS DOUBLE) AS slope",
    )
    wr = Window.partitionBy("event_type").orderBy("slope", "d1", "d2")
    wn = Window.partitionBy("event_type")
    rk = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(wr).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("np"),
    )
    mid = rk.where(
        (F.col("rn") == F.expr("(np + 1) div 2"))
        | (F.col("rn") == F.expr("(np + 2) div 2"))
    )
    return (
        mid.groupBy("event_type")
        .agg(
            F.max("np").alias("n_pairs"),
            F.expr("round(sum(slope) / count(*), 6)").alias(
                "ts_slope_cents_per_day"
            ),
        )
        .orderBy("event_type")
    )


EXTENDED_QUERIES["x8_theil_sen"] = x8_theil_sen

EXTENDED_ORACLES["x8_theil_sen"] = f"""
    WITH tsd AS (
      SELECT event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) // {_DAY_DIV} AS BIGINT)
               AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    tsp AS (
      SELECT a.event_type, a.day AS d1, b.day AS d2,
             CAST(b.v - a.v AS DOUBLE) / CAST(b.day - a.day AS DOUBLE)
               AS slope
      FROM tsd a JOIN tsd b
        ON b.event_type = a.event_type AND b.day > a.day
    ),
    tsr AS (
      SELECT event_type, slope,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY slope, d1, d2) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS np
      FROM tsp
    )
    SELECT event_type, CAST(max(np) AS BIGINT) AS n_pairs,
           round(sum(slope) / count(*), 6) AS ts_slope_cents_per_day
    FROM tsr
    WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2
    GROUP BY event_type ORDER BY event_type
"""


# ============================================================
# ROUND 8 — URL / provenance arc: the one standard web-corpus stage
# the engine was missing. Real pipelines (C4, RefinedWeb §3.1,
# Dolma) run URL normalization -> registered-domain extraction ->
# per-domain rollups / URL-level dedup / domain blocklisting BEFORE
# any text operator. The documents table carries no URL column, so
# the arc derives a deterministic messy URL per doc from doc_id via
# ONE shared SQL text: URL identity lives in (doc_id % 17 host,
# doc_id % 7 path) while case, www, default port, tracking query,
# fragment and trailing slash vary on OTHER residues — so
# normalization genuinely collapses distinct raw strings (~4 raws
# per canonical URL at sf0.01+).
# ============================================================

URL_LIST_MAX = 120  # normalize listing cap: covers the full 17x7 key cycle
URL_BLOCKLIST = ["site0.co.uk", "site5.com", "site10.org", "site15.io"]

# Raw-URL synthesis, shared verbatim by Spark selectExpr and the oracle.
_URL_RAW = (
    "concat("
    "CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' WHEN doc_id % 3 = 1 THEN 'Https'"
    " ELSE 'https' END, '://',"
    "CASE WHEN doc_id % 4 = 0 THEN 'WWW.' WHEN doc_id % 4 = 1 THEN 'www.'"
    " ELSE '' END,"
    "CASE WHEN (doc_id % 17) % 3 = 0 THEN 'cdn.' ELSE '' END,"
    "CASE WHEN doc_id % 5 = 0 THEN 'Site' ELSE 'site' END,"
    "CAST(doc_id % 17 AS STRING),"
    "CASE WHEN (doc_id % 17) % 4 = 0 THEN '.co.uk'"
    " WHEN (doc_id % 17) % 4 = 1 THEN '.com'"
    " WHEN (doc_id % 17) % 4 = 2 THEN '.org' ELSE '.io' END,"
    "CASE WHEN doc_id % 6 = 0 THEN ':443' ELSE '' END,"
    "'/p/', CAST(doc_id % 7 AS STRING),"
    "CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,"
    "CASE WHEN doc_id % 5 = 2 THEN '?utm_source=feed&utm_medium=rss'"
    " ELSE '' END,"
    "CASE WHEN doc_id % 8 = 0 THEN '#frag' ELSE '' END)"
)

# Normalization steps, each a shared text over the previous column:
# strip fragment, strip query (all generated params are tracking
# params), lowercase + strip www + strip the https default port,
# strip the trailing slash. instr/substr/replace/lower behave
# identically in Spark SQL and DuckDB (probed).
_URL_CUT = (
    "CASE WHEN instr({u}, '{ch}') > 0"
    " THEN substr({u}, 1, instr({u}, '{ch}') - 1) ELSE {u} END"
)
_URL_CANON = "replace(replace(lower({u}), '://www.', '://'), ':443/', '/')"
_URL_TRAIL = (
    "CASE WHEN substr({u}, length({u})) = '/'"
    " THEN substr({u}, 1, length({u}) - 1) ELSE {u} END"
)
_URL_HOSTPATH = "substr({u}, instr({u}, '://') + 3)"
_URL_HOST = "substr({hp}, 1, instr({hp}, '/') - 1)"

# Multi-label public suffixes (inlined public-suffix-list excerpt —
# the generated TLD set only needs these): registered domain = label
# + suffix, i.e. last 3 labels under a 2-label suffix, else last 2.
_URL_SUFF2 = "('.co.uk', '.ac.uk')"


def _reg_domain_spark(host: str) -> str:
    lab = f"split({host}, '[.]')"
    return (
        f"CASE WHEN substr({host}, length({host}) - 5) IN {_URL_SUFF2}"
        f" THEN concat_ws('.', slice({lab}, size({lab}) - 2, 3))"
        f" ELSE concat_ws('.', slice({lab}, size({lab}) - 1, 2)) END"
    )


def _reg_domain_duck(host: str) -> str:
    lab = f"string_split({host}, '.')"
    return (
        f"CASE WHEN substr({host}, length({host}) - 5) IN {_URL_SUFF2}"
        f" THEN array_to_string("
        f"list_slice({lab}, len({lab}) - 2, len({lab})), '.')"
        f" ELSE array_to_string("
        f"list_slice({lab}, len({lab}) - 1, len({lab})), '.') END"
    )


def _url_frame(spark, sf_dir):
    """Per-doc URL provenance frame: doc_id, source, lang, n_chars,
    url_raw, url_norm, host, domain — all narrow string ops inside
    whole-stage codegen, zero shuffles; the corpus-scale cost is one
    projected scan."""
    d = _docs(spark, sf_dir).selectExpr(
        "doc_id", "source", "lang", "n_chars", f"{_URL_RAW} AS url_raw"
    )
    d = d.selectExpr(
        "*", _URL_CUT.format(u="url_raw", ch="#") + " AS uf"
    )
    d = d.selectExpr("*", _URL_CUT.format(u="uf", ch="?") + " AS uq")
    d = d.selectExpr("*", _URL_CANON.format(u="uq") + " AS uc")
    d = d.selectExpr("*", _URL_TRAIL.format(u="uc") + " AS url_norm")
    d = d.selectExpr("*", _URL_HOSTPATH.format(u="url_norm") + " AS hp")
    d = d.selectExpr("*", _URL_HOST.format(hp="hp") + " AS host")
    d = d.selectExpr(
        "doc_id", "source", "lang", "n_chars", "url_raw", "url_norm",
        "host", _reg_domain_spark("host") + " AS domain"
    )
    return d


def _url_cte() -> str:
    """The oracle-side mirror of _url_frame as a CTE chain (names
    url0..url7, unique repo-wide to survive composition)."""
    return f"""
    url0 AS (SELECT doc_id, source, lang, n_chars, {_URL_RAW} AS url_raw
             FROM documents),
    url1 AS (SELECT *, {_URL_CUT.format(u="url_raw", ch="#")} AS uf
             FROM url0),
    url2 AS (SELECT *, {_URL_CUT.format(u="uf", ch="?")} AS uq FROM url1),
    url3 AS (SELECT *, {_URL_CANON.format(u="uq")} AS uc FROM url2),
    url4 AS (SELECT *, {_URL_TRAIL.format(u="uc")} AS url_norm FROM url3),
    url5 AS (SELECT *, {_URL_HOSTPATH.format(u="url_norm")} AS hp
             FROM url4),
    url6 AS (SELECT *, {_URL_HOST.format(hp="hp")} AS host FROM url5),
    url7 AS (SELECT doc_id, source, lang, n_chars, url_raw, url_norm,
                    host, {_reg_domain_duck("host")} AS domain
             FROM url6)"""


def x5_url_normalize(spark, sf_dir):
    """URL normalization + registered-domain extraction listing — the
    canonical-form operator every web pipeline runs first (C4 keeps
    the cleaned URL as provenance; RefinedWeb's URL filtering needs
    the registered domain). Strips fragment and tracking query,
    lowercases, removes www and the https default port, trims the
    trailing slash, and extracts the registered domain under an
    inlined public-suffix table.

    Scale shape: pure per-row string expressions in one codegen'd
    projected scan — no shuffle, no UDF; the cap bounds the listing
    only (the downstream rollups consume the uncapped frame)."""
    u = _url_frame(spark, sf_dir)
    return (
        u.where(F.col("doc_id") < URL_LIST_MAX)
        .select("doc_id", "url_raw", "url_norm", "domain")
        .orderBy("doc_id")
    )


EXTENDED_QUERIES["x5_url_normalize"] = x5_url_normalize

EXTENDED_ORACLES["x5_url_normalize"] = f"""
    WITH {_url_cte()}
    SELECT doc_id, url_raw, url_norm, domain FROM url7
    WHERE doc_id < {URL_LIST_MAX} ORDER BY doc_id
"""


def x5_domain_rollup(spark, sf_dir):
    """Per-registered-domain provenance rollup: docs, chars, distinct
    languages/hosts and the corpus doc share — the table a curation
    team reads to decide per-domain sampling weights (the RefinedWeb
    'top domains' audit; the domain-level complement of
    x5_domain_mix's source-level view).

    Scale shape: one map-side-combined corpus aggregate collapses to
    the bounded domain frame; the share denominator comes from
    packing that frame into ONE array row and exploding back —
    zero joins, zero windows (the x8_chisq margin discipline)."""
    u = _url_frame(spark, sf_dir)
    g = u.groupBy("domain").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("host").cast("bigint").alias("n_hosts"),
    )
    packed = g.agg(
        F.expr(
            "collect_list(struct(domain, n_docs, n_chars, n_langs,"
            " n_hosts))"
        ).alias("dl"),
        F.sum("n_docs").cast("bigint").alias("tot"),
    )
    return (
        packed.select(F.explode("dl").alias("x"), "tot")
        .selectExpr(
            "x.domain AS domain",
            "x.n_docs AS n_docs",
            "x.n_chars AS n_chars",
            "x.n_langs AS n_langs",
            "x.n_hosts AS n_hosts",
            "round(CAST(x.n_docs AS DOUBLE) / CAST(tot AS DOUBLE), 6)"
            " AS doc_share",
        )
        .orderBy("domain")
    )


EXTENDED_QUERIES["x5_domain_rollup"] = x5_domain_rollup

EXTENDED_ORACLES["x5_domain_rollup"] = f"""
    WITH {_url_cte()},
    urlg AS (
      SELECT domain,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS n_chars,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
      FROM url7 GROUP BY 1
    )
    SELECT domain, n_docs, n_chars, n_langs, n_hosts,
           round(CAST(n_docs AS DOUBLE) /
                 CAST(CAST(sum(n_docs) OVER () AS BIGINT) AS DOUBLE), 6)
             AS doc_share
    FROM urlg ORDER BY domain
"""


def x2_url_dedup(spark, sf_dir):
    """URL-level exact dedup accounting per registered domain — the
    dedup stage that runs BEFORE any content hashing in a web
    pipeline (C4 §2.1 dedups on URL; the same page recrawled under
    tracking-param/case/port variants collapses under url_norm, not
    under raw-string equality). Keeper = min doc_id per canonical
    URL; reports per-domain docs, canonical URLs, duplicate docs and
    the chars the dedup saves.

    Scale shape: ONE shuffle on url_norm (row_number window over many
    small per-URL partitions — never a global window), then a
    map-side-combined rollup to the bounded domain frame."""
    u = _url_frame(spark, sf_dir)
    w = Window.partitionBy("url_norm").orderBy("doc_id")
    r = u.select(
        "domain", "n_chars",
        F.row_number().over(w).cast("int").alias("rn"),
        F.col("url_norm"),
    )
    return (
        r.groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("url_norm").cast("bigint").alias("n_urls"),
            F.sum(F.expr("CASE WHEN rn > 1 THEN 1 ELSE 0 END"))
            .cast("bigint").alias("n_dup_docs"),
            F.sum(F.expr("CASE WHEN rn > 1 THEN n_chars ELSE 0 END"))
            .cast("bigint").alias("dup_chars"),
        )
        .orderBy("domain")
    )


EXTENDED_QUERIES["x2_url_dedup"] = x2_url_dedup

EXTENDED_ORACLES["x2_url_dedup"] = f"""
    WITH {_url_cte()},
    urlr AS (
      SELECT domain, n_chars, url_norm,
             CAST(row_number() OVER (PARTITION BY url_norm
                                     ORDER BY doc_id) AS INT) AS rn
      FROM url7
    )
    SELECT domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT url_norm) AS BIGINT) AS n_urls,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_docs,
           CAST(sum(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT)
             AS dup_chars
    FROM urlr GROUP BY 1 ORDER BY domain
"""


def x5_domain_blocklist(spark, sf_dir):
    """Domain-blocklist gate: per-source kept/blocked accounting
    against a curated registered-domain blocklist — the C4/RefinedWeb
    URL-filtering step (badwords/spam domain lists), applied at the
    REGISTERED-domain level so subdomain evasion (cdn.site0.co.uk)
    still blocks.

    Scale shape: the blocklist is a tiny literal dim broadcast to
    every executor — a broadcast hash join against the corpus-sized
    probe side (never a shuffle), then one map-side-combined rollup
    per source."""
    u = _url_frame(spark, sf_dir)
    bl = spark.createDataFrame(
        [(d,) for d in URL_BLOCKLIST], "bdomain string"
    )
    j = u.join(F.broadcast(bl), u.domain == bl.bdomain, "left")
    return (
        j.groupBy("source")
        .agg(
            F.sum(F.expr("CASE WHEN bdomain IS NULL THEN 1 ELSE 0 END"))
            .cast("bigint").alias("n_kept"),
            F.sum(F.expr("CASE WHEN bdomain IS NOT NULL THEN 1 ELSE 0 END"))
            .cast("bigint").alias("n_blocked"),
            F.sum(F.expr("CASE WHEN bdomain IS NULL THEN n_chars"
                         " ELSE 0 END"))
            .cast("bigint").alias("chars_kept"),
        )
        .orderBy("source")
    )


EXTENDED_QUERIES["x5_domain_blocklist"] = x5_domain_blocklist

_URL_BL_VALUES = ", ".join(f"('{d}')" for d in URL_BLOCKLIST)

EXTENDED_ORACLES["x5_domain_blocklist"] = f"""
    WITH {_url_cte()}
    SELECT source,
           CAST(sum(CASE WHEN bl.bdomain IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN bl.bdomain IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_blocked,
           CAST(sum(CASE WHEN bl.bdomain IS NULL THEN n_chars ELSE 0 END)
                AS BIGINT) AS chars_kept
    FROM url7 LEFT JOIN (VALUES {_URL_BL_VALUES}) AS bl(bdomain)
      ON url7.domain = bl.bdomain
    GROUP BY 1 ORDER BY source
"""


# --- BPE held-out compression evaluation (the tokenizer-arc closer:
# x5_bpe_train learns the vocabulary, x5_bpe_apply reports training-set
# fertility, this evaluates GENERALIZATION on a split the trainer never
# saw — the number a tokenizer team actually ships on).
BPE_EVAL_MOD = 5
BPE_EVAL_HOLD = 4  # doc_id % 5 == 4 -> held-out (~20% of docs)


@session_cached
def _bpe_split_merges_cached(spark, sf_dir) -> list[tuple[str, str]]:
    """Merge table trained on the TRAIN split only (doc_id % MOD !=
    HOLD) — memoized like _bpe_merges_cached; the held-out evaluator
    must never see evaluation text at training time."""
    d = _docs(spark, sf_dir).where(f"doc_id % {BPE_EVAL_MOD} != {BPE_EVAL_HOLD}")
    words = (
        d.select(F.explode(F.expr(D.tokens_expr("text"))).alias("w"))
        .where(f"length(w) BETWEEN {BPE_WORD_MIN} AND {BPE_WORD_MAX}")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tbl = T.bpe_merge_table(words, BPE_MERGES)
    return [(r["a"], r["b"]) for r in tbl.collect()]


def x5_bpe_compression(spark, sf_dir):
    """Held-out BPE compression + OOV evaluation (operators/text.py:
    bpe_oov_report): train the merge table on 80% of docs (doc_id %
    5 != 4), encode the held-out 20%'s word dictionary with it, and
    report per language the token/char/piece volumes, chars-per-piece
    (the compression factor over the character baseline, which is 1.0
    by definition) and the OOV-piece rate against the trained symbol
    vocabulary (training alphabet + merged pieces) — the held-out
    generalization numbers behind a tokenizer launch decision. On this
    corpus every language shares the training alphabet, so oov_rate is
    honestly 0 (the unit test injects an unseen char to pin the OOV
    path actually firing).

    Scale shape: both splits collapse to word-TYPE dictionaries first
    (the x5_bpe_train discipline); the vocabulary frame is
    alphabet+merges-sized and broadcast; the encoded held-out
    dictionary is localCheckpointed once and feeds the two bounded
    aggregates. No corpus-sized shuffle beyond the two dictionary
    groupBys."""
    d = _docs(spark, sf_dir)
    merges = _bpe_split_merges_cached(spark, sf_dir)
    train = d.where(f"doc_id % {BPE_EVAL_MOD} != {BPE_EVAL_HOLD}")
    alpha = (
        train.select(F.explode(F.expr(D.tokens_expr("text"))).alias("w"))
        .where(f"length(w) BETWEEN {BPE_WORD_MIN} AND {BPE_WORD_MAX}")
        .selectExpr(
            "explode(transform(sequence(1, length(w)),"
            " i -> substring(w, i, 1))) AS v"
        )
        .distinct()
    )
    vocab = (
        alpha.unionByName(
            spark.createDataFrame([(a + b,) for a, b in merges], "v string")
        )
        .distinct()
        .localCheckpoint(eager=False)  # bounded: alphabet + merges
    )
    held = (
        d.where(f"doc_id % {BPE_EVAL_MOD} = {BPE_EVAL_HOLD}")
        .select("lang", F.explode(F.expr(D.tokens_expr("text"))).alias("w"))
        .where(f"length(w) BETWEEN {BPE_WORD_MIN} AND {BPE_WORD_MAX}")
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("n"))
        .selectExpr(
            "lang",
            "n",
            "length(w) AS chars",
            "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
            " AS syms",
        )
    )
    enc = T.bpe_encode(held, merges).localCheckpoint(
        eager=False
    )  # dictionary-sized; feeds both report aggregates
    return T.bpe_oov_report(enc, vocab).orderBy("lang")


EXTENDED_QUERIES["x5_bpe_compression"] = x5_bpe_compression


def _bpe_compression_oracle_sql() -> str:
    """Train-split chain (bh_ prefix) + vocabulary CTE + held-out
    dictionary carried through the same merges, then the piece/OOV
    aggregate joined to the word/char aggregate."""
    ctes = _bpe_train_ctes(
        "bh_", f"WHERE doc_id % {BPE_EVAL_MOD} != {BPE_EVAL_HOLD}"
    )
    merged_sel = "\n      UNION\n      ".join(
        f"SELECT a || b AS v FROM bh_m{i}"
        for i in range(1, BPE_MERGES + 1)
    )
    ctes.append(f"""bhv AS (
      SELECT DISTINCT s AS v FROM
        (SELECT unnest(list_transform(generate_series(1, length(w)),
                i -> substring(w, i, 1))) AS s FROM bh_words)
      UNION
      {merged_sel})""")
    ctes.append(f"""hc0 AS (
      SELECT lang, w, CAST(count(*) AS BIGINT) AS n, length(w) AS chars,
             list_transform(generate_series(1, length(w)),
                            i -> substring(w, i, 1)) AS syms
      FROM (SELECT lang, tok AS w
            FROM (SELECT lang, unnest({_TOKS_EXPR}) AS tok FROM documents
                  WHERE doc_id % {BPE_EVAL_MOD} = {BPE_EVAL_HOLD}) u
            WHERE length(tok) BETWEEN {BPE_WORD_MIN} AND {BPE_WORD_MAX})
      GROUP BY lang, w)""")
    for i in range(1, BPE_MERGES + 1):
        ctes.append(f"""hc{i} AS (
      SELECT lang, n, chars,
             string_split(substring(list_reduce(list_prepend('', syms),
                    (acc, s) -> {_BPE_STEP}), 2), ' ') AS syms
      FROM hc{i - 1}, bh_m{i})""")
    ctes.append(f"""hcp AS (
      SELECT hp.lang, hp.n, bhv.v
      FROM (SELECT lang, n, unnest(syms) AS piece FROM hc{BPE_MERGES}) hp
      LEFT JOIN bhv ON hp.piece = bhv.v)""")
    ctes.append("""hca AS (
      SELECT lang, CAST(sum(n) AS BIGINT) AS n_pieces,
             CAST(sum(CASE WHEN v IS NULL THEN n ELSE 0 END) AS BIGINT)
               AS oov_pieces
      FROM hcp GROUP BY 1)""")
    ctes.append(f"""hcw AS (
      SELECT lang, CAST(sum(n) AS BIGINT) AS n_tokens,
             CAST(sum(chars * n) AS BIGINT) AS n_chars
      FROM hc{BPE_MERGES} GROUP BY 1)""")
    return (
        "WITH " + ",\n".join(ctes)
        + """
    SELECT lang, n_tokens, n_chars, n_pieces, oov_pieces,
           round(CAST(n_chars AS DOUBLE) / CAST(n_pieces AS DOUBLE), 4)
             AS chars_per_piece,
           round(CAST(oov_pieces AS DOUBLE) / CAST(n_pieces AS DOUBLE), 6)
             AS oov_rate
    FROM hcw JOIN hca USING (lang) ORDER BY lang"""
    )


EXTENDED_ORACLES["x5_bpe_compression"] = _bpe_compression_oracle_sql()


# --- Round-8 nonparametric stats closers: the k-sample extension of
# x8_mwu and the rank/concordance correlation siblings of x8_theil_sen
# / x8_mann_kendall. All exact-integer inputs, shared float texts.

# Kruskal-Wallis H from doubled tie-averaged ranks: S = sum_j R_j^2/n_j
# with R_j = r2_j/2 exact (r2_j <= 2*N*n_j < 2^53 at any tested SF, so
# the DOUBLE cast is exact); H and the tie correction are the only
# float layer.
_KW_S_TERM = (
    "(CAST({r2} AS DOUBLE) * CAST({r2} AS DOUBLE))"
    " / (CAST(4 AS DOUBLE) * CAST({n} AS DOUBLE))"
)
_KW_H = (
    "(CAST(12 AS DOUBLE) / (CAST({n} AS DOUBLE)"
    " * (CAST({n} AS DOUBLE) + 1))) * {s}"
    " - CAST(3 AS DOUBLE) * (CAST({n} AS DOUBLE) + 1)"
)
_KW_CORRECTED = (
    "({h}) / (CAST(1 AS DOUBLE) - CAST({tie} AS DOUBLE)"
    " / (CAST({n} AS DOUBLE) * CAST({n} AS DOUBLE) * CAST({n} AS DOUBLE)"
    " - CAST({n} AS DOUBLE)))"
)


def x8_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis H test: do the k event types draw their values
    from the same distribution? The k-sample generalization of x8_mwu
    (same doubled tie-averaged rank machinery, same tie correction) —
    the omnibus check a team runs before pairwise rank tests.

    Scale shape — NO global row rank: ranks come from the value-
    frequency histogram (bounded by the cent DOMAIN, not the row
    count), so the only ordered window runs over the histogram frame
    (the x8_mwu argument). The per-value tie term rides the first
    group of each value (row_number over the per-cents partition), so
    group sums, N and the tie sum all come out of ONE aggregation
    chain — no 1-row crossJoins (the x8_chisq margin discipline)."""
    # rollup of the shared session value-frequency artifact (r14):
    # per-(cents, type) counts sum over the dropped parity key
    hg0 = (
        _ev_vhist_cached(spark, sf_dir)
        .groupBy("cents", F.col("event_type").alias("grp"))
        .agg(F.sum("cnt").cast("bigint").alias("cnt_g"))
        .localCheckpoint(eager=False)  # histogram-sized: cents x k
    )
    h = hg0.groupBy("cents").agg(F.sum("cnt_g").cast("bigint").alias("cnt"))
    wc = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    # the ordered cumulative window runs over the HISTOGRAM frame only
    # (bounded by the cent domain — the x8_mwu argument; for an
    # unbounded value domain swap in x8_sprt's two-pass block cumsum);
    # checkpointed like x8_mwu's hd so downstream lineage stays flat.
    hd = (
        h.select(
            "cents",
            "cnt",
            F.coalesce(F.sum("cnt").over(wc), F.lit(0)).alias("before"),
        )
        .selectExpr("cents", "cnt", "2 * (before + 1) + cnt - 1 AS d")
        .localCheckpoint(eager=False)
    )
    wg = Window.partitionBy("cents").orderBy("grp")
    j0 = hg0.join(F.broadcast(hd), "cents").withColumn(
        "rn", F.row_number().over(wg)
    )
    rg = j0.groupBy("grp").agg(
        F.expr("sum(cnt_g * d)").cast("bigint").alias("r2"),
        F.sum("cnt_g").cast("bigint").alias("n"),
        F.expr(
            "sum(CASE WHEN rn = 1 THEN cnt * cnt * cnt - cnt ELSE 0 END)"
        ).cast("bigint").alias("tie_g"),
    )
    s_term = _KW_S_TERM.format(r2="x.r2", n="x.n")
    packed = rg.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(grp, r2, n))),"
            f" CAST(0 AS DOUBLE), (acc, x) -> acc + ({s_term}))"
        ).alias("s"),
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("tie_g").cast("bigint").alias("tie"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    h_expr = _KW_H.format(n="nn", s="s")
    return packed.selectExpr(
        "k",
        "nn AS n",
        "tie",
        "k - 1 AS dof",
        f"round({h_expr}, 6) AS h",
        f"round({_KW_CORRECTED.format(h=h_expr, n='nn', tie='tie')}, 6)"
        " AS h_corrected",
    )


EXTENDED_QUERIES["x8_kruskal_wallis"] = x8_kruskal_wallis

EXTENDED_ORACLES["x8_kruskal_wallis"] = f"""
    WITH kw0 AS (
      SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    kwg AS (SELECT cents, grp, CAST(count(*) AS BIGINT) AS cnt_g
            FROM kw0 GROUP BY 1, 2),
    kwh AS (SELECT cents, CAST(sum(cnt_g) AS BIGINT) AS cnt
            FROM kwg GROUP BY 1),
    kwd AS (SELECT cents, cnt,
                   COALESCE(CAST(sum(cnt) OVER (ORDER BY cents
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS BIGINT), 0) AS before
            FROM kwh),
    kwd2 AS (SELECT cents, cnt, 2 * (before + 1) + cnt - 1 AS d FROM kwd),
    kwj AS (SELECT g.grp, g.cnt_g, d.cnt, d.d,
                   CAST(row_number() OVER (PARTITION BY g.cents
                                           ORDER BY g.grp) AS INT) AS rn
            FROM kwg g JOIN kwd2 d USING (cents)),
    kwr AS (SELECT grp, CAST(sum(cnt_g * d) AS BIGINT) AS r2,
                   CAST(sum(cnt_g) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN rn = 1 THEN cnt * cnt * cnt - cnt
                            ELSE 0 END) AS BIGINT) AS tie_g
            FROM kwj GROUP BY 1),
    kwp AS (SELECT list_sum(list(
                     ({_KW_S_TERM.format(r2="r2", n="n")}) ORDER BY grp))
                     AS s,
                   CAST(sum(n) AS BIGINT) AS nn,
                   CAST(sum(tie_g) AS BIGINT) AS tie,
                   CAST(count(*) AS BIGINT) AS k
            FROM kwr)
    SELECT k, nn AS n, tie, k - 1 AS dof,
           round({_KW_H.format(n="nn", s="s")}, 6) AS h,
           round({_KW_CORRECTED.format(
               h=_KW_H.format(n="nn", s="s"), n="nn", tie="tie")}, 6)
             AS h_corrected
    FROM kwp
"""


def _daily_cv(spark, sf_dir):
    """Per-(event_type, day) volume/revenue frame shared by the
    Spearman and Kendall queries — bounded by types x calendar days."""
    return (
        _day_cents(spark, sf_dir)
        .groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            F.sum("cents").cast("bigint").alias("v"),
        )
        .localCheckpoint(eager=False)  # bounded: types x calendar days
    )


_DAILY_CV_SQL = f"""(
      SELECT event_type, day, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(cents) AS BIGINT) AS v
      FROM (SELECT event_type,
                   CAST(epoch_us(CAST(ts AS TIMESTAMP)) // {_DAY_DIV}
                        AS BIGINT) AS day,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events WHERE value IS NOT NULL)
      GROUP BY 1, 2)"""


def x8_spearman(spark, sf_dir):
    """Spearman rank correlation per event_type between daily volume
    and daily revenue — "do high-traffic days also earn more?" asked
    robustly (Pearson on tie-averaged ranks: monotone association,
    immune to heavy-tailed revenue days). Rank sibling of
    x8_kendall_tau (same question via concordance) and the bivariate
    complement of x8_mann_kendall.

    Exactness: DOUBLED tie-averaged ranks (2*minrank + ties - 1, the
    x8_mwu idiom) keep every moment sum an exact BIGINT; rho is the
    shared _PEARSON_R text over those sums — one float formula at the
    end. Scale shape: one corpus aggregate collapses to the bounded
    daily frame; all windows partition by event_type within it."""
    d = _daily_cv(spark, sf_dir)
    wc = Window.partitionBy("event_type").orderBy("c")
    wtc = Window.partitionBy("event_type", "c")
    wv = Window.partitionBy("event_type").orderBy("v")
    wtv = Window.partitionBy("event_type", "v")
    r = d.select(
        "event_type",
        (
            2 * F.rank().over(wc).cast("bigint")
            + F.count(F.lit(1)).over(wtc).cast("bigint")
            - 1
        ).alias("dx"),
        (
            2 * F.rank().over(wv).cast("bigint")
            + F.count(F.lit(1)).over(wtv).cast("bigint")
            - 1
        ).alias("dy"),
    )
    m = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum("dy").cast("bigint").alias("sy"),
        F.expr("sum(dx * dx)").cast("bigint").alias("sxx"),
        F.expr("sum(dy * dy)").cast("bigint").alias("syy"),
        F.expr("sum(dx * dy)").cast("bigint").alias("sxy"),
    )
    return m.selectExpr(
        "event_type",
        "n AS n_days",
        f"round({_PEARSON_R}, 6) AS rho",
    ).orderBy("event_type")


EXTENDED_QUERIES["x8_spearman"] = x8_spearman

EXTENDED_ORACLES["x8_spearman"] = f"""
    WITH spd AS {_DAILY_CV_SQL},
    spr AS (
      SELECT event_type,
             2 * CAST(rank() OVER (PARTITION BY event_type ORDER BY c)
                      AS BIGINT)
               + CAST(count(*) OVER (PARTITION BY event_type, c) AS BIGINT)
               - 1 AS dx,
             2 * CAST(rank() OVER (PARTITION BY event_type ORDER BY v)
                      AS BIGINT)
               + CAST(count(*) OVER (PARTITION BY event_type, v) AS BIGINT)
               - 1 AS dy
      FROM spd
    ),
    spm AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
             CAST(sum(dx * dx) AS BIGINT) AS sxx,
             CAST(sum(dy * dy) AS BIGINT) AS syy,
             CAST(sum(dx * dy) AS BIGINT) AS sxy
      FROM spr GROUP BY 1
    )
    SELECT event_type, n AS n_days, round({_PEARSON_R}, 6) AS rho
    FROM spm ORDER BY event_type
"""


# tau-b = (C - D) / (sqrt(n0 - tx) * sqrt(n0 - ty)): every operand an
# exact pair count; the split-sqrt form is the shared text (sqrt IS
# correctly rounded — the x10_epoch_plan lesson).
_TAU_B = (
    "(CAST({c} AS DOUBLE) - CAST({d} AS DOUBLE))"
    " / (sqrt(CAST({n0} - {tx} AS DOUBLE))"
    " * sqrt(CAST({n0} - {ty} AS DOUBLE)))"
)


def x8_kendall_tau(spark, sf_dir):
    """Kendall tau-b per event_type between daily volume and daily
    revenue — the concordance twin of x8_spearman (same monotone-
    association question; tau's pairwise form is what x8_mann_kendall
    already computes against TIME, generalized here to two measured
    series, with the tau-b tie normalization).

    Exactness: concordant/discordant/tied are exact pair counts off
    the same bounded all-pairs join x8_theil_sen uses (O(days^2) on
    the calendar frame, never on events rows); tau-b is one shared
    float formula. Scale shape: corpus -> daily frame in one map-side-
    combined aggregate; the pair join runs on the bounded frame."""
    d = _daily_cv(spark, sf_dir)
    a = d.selectExpr("event_type", "day AS d1", "c AS c1", "v AS v1")
    b = d.selectExpr("event_type AS et2", "day AS d2", "c AS c2", "v AS v2")
    pairs = a.join(
        b, (F.col("event_type") == F.col("et2")) & (F.col("d2") > F.col("d1"))
    )
    g = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n0"),
        F.expr(
            "sum(CASE WHEN (c2 - c1) * (v2 - v1) > 0 THEN 1 ELSE 0 END)"
        ).cast("bigint").alias("conc"),
        F.expr(
            "sum(CASE WHEN (c2 - c1) * (v2 - v1) < 0 THEN 1 ELSE 0 END)"
        ).cast("bigint").alias("disc"),
        F.expr("sum(CASE WHEN c2 = c1 THEN 1 ELSE 0 END)")
        .cast("bigint").alias("tx"),
        F.expr("sum(CASE WHEN v2 = v1 THEN 1 ELSE 0 END)")
        .cast("bigint").alias("ty"),
    )
    tau = _TAU_B.format(c="conc", d="disc", n0="n0", tx="tx", ty="ty")
    return g.selectExpr(
        "event_type",
        "n0 AS n_pairs",
        "conc",
        "disc",
        "tx",
        "ty",
        f"round({tau}, 6) AS tau_b",
    ).orderBy("event_type")


EXTENDED_QUERIES["x8_kendall_tau"] = x8_kendall_tau

EXTENDED_ORACLES["x8_kendall_tau"] = f"""
    WITH ktd AS {_DAILY_CV_SQL},
    ktp AS (
      SELECT a.event_type,
             CAST(count(*) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN (b.c - a.c) * (b.v - a.v) > 0 THEN 1
                      ELSE 0 END) AS BIGINT) AS conc,
             CAST(sum(CASE WHEN (b.c - a.c) * (b.v - a.v) < 0 THEN 1
                      ELSE 0 END) AS BIGINT) AS disc,
             CAST(sum(CASE WHEN b.c = a.c THEN 1 ELSE 0 END) AS BIGINT)
               AS tx,
             CAST(sum(CASE WHEN b.v = a.v THEN 1 ELSE 0 END) AS BIGINT)
               AS ty
      FROM ktd a JOIN ktd b
        ON b.event_type = a.event_type AND b.day > a.day
      GROUP BY 1
    )
    SELECT event_type, n0 AS n_pairs, conc, disc, tx, ty,
           round({_TAU_B.format(
               c="conc", d="disc", n0="n0", tx="tx", ty="ty")}, 6) AS tau_b
    FROM ktp ORDER BY event_type
"""


# --- Unigram-LM tokenizer (SentencePiece-style, Kudo 2018 "Subword
# Regularization" — the public algorithm), the second trainer next to
# BPE. Three layers:
#  (1) x5_unigram_train: the SEED vocabulary (substring frequencies,
#      all single chars + top multi-char pieces, probs/ln-probs) —
#      fully distributed and hash-checked against the SQL mirror;
#  (2) x5_unigram_encode: DISTRIBUTED Viterbi segmentation of the
#      word dictionary under integer LADDER-quantized log-probs
#      derived from that same hash-verified frequency table IN BOTH
#      ENGINES (operators/text.py:UNI_LADDER — exact rational-rung
#      comparisons, no ln/pow inside either engine; the one float
#      pow lives in the ladder literals both engines share). Viterbi
#      state packs (score_sum, piece_count) into one BIGINT
#      c = s*64 - np, making max(c) the exact lexicographic argmax
#      and the whole DP integer arithmetic;
#  (3) x5_unigram_em (round 9) — the hard-EM (Viterbi-EM) refinement,
#      now DECLARED and hash-checked: the backtrace that used to keep
#      it pytest-only is mirrored in SQL by retaining the FULL forward
#      DP array and re-deriving the smallest-k argmax per step (see
#      the round-9 block at the end of this file); the driver-side
#      operators/text.py:unigram_train_em remains the library API and
#      is pinned EQUAL to the distributed query by
#      tests/test_round9_operators.py.
UNI_DICT_MAX = 2000  # word types collected for driver-side EM
UNI_EM_ITERS = 2


def _unigram_words(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return (
        d.select("lang", F.explode(F.expr(D.tokens_expr("text"))).alias("w"))
        .where(f"length(w) BETWEEN {BPE_WORD_MIN} AND {BPE_WORD_MAX}")
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


_UNI_SUBS = (
    "explode(flatten(transform(sequence(1, length(w)),"
    " i0 -> transform(sequence(1, least({mp}, length(w) - i0 + 1)),"
    " k -> substring(w, i0, k)))))"
)


def x5_unigram_train(spark, sf_dir):
    """Unigram-LM SEED vocabulary (the distributed, hash-checked layer
    of the second tokenizer trainer): every substring of length
    1..UNI_MAX_PIECE of the word-type dictionary with occurrence-
    weighted frequency; all single chars kept (character coverage)
    plus the top UNI_VOCAB multi-char pieces by (freq desc, piece);
    probabilities and ln-probs over the selected vocabulary (ln at
    round-6 — the entropy idiom; the ENCODE path never touches these
    floats, it uses the integer ladder).

    Scale shape: corpus -> word-type dictionary in one shuffle (the
    BPE discipline), substring explode bounded by dict size x L x
    UNI_MAX_PIECE; the rank window partitions by the length class
    (never a SinglePartition exchange); the normalizer comes from the
    pack-array/explode shape — zero joins."""
    wd = (
        _unigram_words(spark, sf_dir)
        .groupBy("w")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )
    subs = wd.selectExpr(
        "n", _UNI_SUBS.format(mp=T.UNI_MAX_PIECE) + " AS piece"
    )
    pf = subs.groupBy("piece").agg(F.sum("n").cast("bigint").alias("freq"))
    wr = Window.partitionBy("is_multi").orderBy(F.col("freq").desc(), "piece")
    sel = (
        pf.withColumn("is_multi", F.expr("length(piece) > 1"))
        .withColumn("rk", F.row_number().over(wr))
        .where(f"NOT is_multi OR rk <= {T.UNI_VOCAB}")
    )
    packed = sel.agg(
        F.expr("collect_list(struct(piece, freq))").alias("pl"),
        F.sum("freq").cast("bigint").alias("tot"),
    )
    return (
        packed.select(F.explode("pl").alias("x"), "tot")
        .selectExpr(
            "x.piece AS piece",
            "CAST(length(x.piece) AS INT) AS plen",
            "x.freq AS freq",
            "round(CAST(x.freq AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS prob",
            "round(ln(CAST(x.freq AS DOUBLE) / CAST(tot AS DOUBLE)), 6)"
            " AS ln_p",
        )
        .orderBy(F.col("freq").desc(), "piece")
    )


EXTENDED_QUERIES["x5_unigram_train"] = x5_unigram_train

# The seed-vocabulary CTE chain (word dict -> substring freqs -> class-
# ranked selection -> normalizer), shared by the train and encode
# oracles. ug prefix, collision-free.
_UNI_SEED_CTES = f"""ug0 AS (
      SELECT tok AS w, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest({{toks}}) AS tok FROM documents) u
      WHERE length(tok) BETWEEN {BPE_WORD_MIN} AND {BPE_WORD_MAX}
      GROUP BY 1
    ),
    ugs AS (
      SELECT p.piece AS piece, CAST(sum(n) AS BIGINT) AS freq
      FROM ug0, LATERAL (SELECT unnest(flatten(list_transform(
           generate_series(1, length(w)),
           i0 -> list_transform(
                 generate_series(1, least({T.UNI_MAX_PIECE},
                                          length(w) - i0 + 1)),
                 k -> substring(w, i0, k))))) AS piece) p
      GROUP BY 1
    ),
    ugr AS (
      SELECT piece, freq,
             CAST(row_number() OVER (PARTITION BY length(piece) > 1
                  ORDER BY freq DESC, piece) AS INT) AS rk
      FROM ugs
    ),
    ugsel AS (SELECT piece, freq FROM ugr
              WHERE length(piece) = 1 OR rk <= {T.UNI_VOCAB}),
    ugt AS (SELECT CAST(sum(freq) AS BIGINT) AS tot FROM ugsel)"""


def _uni_seed_ctes() -> str:
    return _UNI_SEED_CTES.format(toks=_TOKS_EXPR)


EXTENDED_ORACLES["x5_unigram_train"] = f"""
    WITH {_uni_seed_ctes()}
    SELECT piece, CAST(length(piece) AS INT) AS plen, freq,
           round(CAST(freq AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS prob,
           round(ln(CAST(freq AS DOUBLE) / CAST(tot AS DOUBLE)), 6) AS ln_p
    FROM ugsel, ugt ORDER BY freq DESC, piece
"""


def _uni_score_sql(array_open: str, array_close: str, size_fn: str,
                   filter_fn: str, div_op: str) -> str:
    """The ladder score as an engine expression over columns (freq,
    tot): -#rungs passed. The rung literals are the ONE shared model
    constant (operators/text.py:UNI_LADDER)."""
    items = ", ".join(str(r) for r in T.UNI_LADDER)
    return (
        f"-{size_fn}({filter_fn}({array_open}{items}{array_close},"
        f" r -> freq <= (tot * {T.UNI_SHIFT}) {div_op} r))"
    )


@session_cached
def _uni_scored_cached(spark, sf_dir):
    """(piece, sc): the seed vocabulary with its integer ladder scores —
    the persisted tokenizer artifact x5_unigram_encode segments with."""
    wd = _unigram_words(spark, sf_dir).groupBy("w").agg(
        F.sum("n").cast("bigint").alias("n")
    )
    subs = wd.selectExpr("n", _UNI_SUBS.format(mp=T.UNI_MAX_PIECE) + " AS piece")
    pf = subs.groupBy("piece").agg(F.sum("n").cast("bigint").alias("freq"))
    wr = Window.partitionBy("is_multi").orderBy(F.col("freq").desc(), "piece")
    sel = (
        pf.withColumn("is_multi", F.expr("length(piece) > 1"))
        .withColumn("rk", F.row_number().over(wr))
        .where(f"NOT is_multi OR rk <= {T.UNI_VOCAB}")
    )
    packed = sel.agg(
        F.expr("collect_list(struct(piece, freq))").alias("pl"),
        F.sum("freq").cast("bigint").alias("tot"),
    )
    sc_expr = _uni_score_sql("array(", ")", "size", "filter", "div")
    return (
        packed.select(F.explode("pl").alias("x"), "tot")
        .selectExpr("x.piece AS piece", "x.freq AS freq", "tot")
        .selectExpr("piece", f"CAST({sc_expr} AS BIGINT) AS sc")
        .localCheckpoint(eager=False)
    )


def x5_unigram_encode(spark, sf_dir):
    """Distributed Viterbi segmentation of the full word-type
    dictionary under the seed unigram-LM — the per-language
    fertility/likelihood report of the second tokenizer (the unigram
    sibling of x5_bpe_apply): tokens, chars, pieces, pieces-per-token,
    mean piece length and mean bits per piece.

    Exactness: piece scores are integer ladder quantizations of
    log2(prob) derived from the hash-verified seed frequencies by
    exact rational-rung comparisons (no ln/pow in either engine); the
    DP packs (score_sum, piece_count) into one BIGINT (c = s*64 - np,
    np <= 16 < 64) so best-path selection is plain integer max, and
    decode is portable mod/div arithmetic. Ladder bound: tot *
    UNI_SHIFT < 2^63 holds to ~8.6e9 piece occurrences; past that,
    lower UNI_SHIFT (rungs stay exact at any scale).

    Scale shape: the scored vocabulary is vocabulary-sized,
    checkpointed (THE persisted tokenizer artifact) and broadcast
    into the grid join; the score grid is one explode bounded by
    dict x 16 x UNI_MAX_PIECE cells; the DP is a zero-shuffle per-row
    fold; the final report is one map-side-combined aggregate."""
    wl = _unigram_words(spark, sf_dir)
    scored = _uni_scored_cached(spark, sf_dir)
    wd2 = wl.select("w").distinct()
    grid = wd2.selectExpr(
        "w",
        "explode(flatten(transform(sequence(1, length(w)),"
        f" i0 -> transform(sequence(1, {T.UNI_MAX_PIECE}),"
        " k -> named_struct('i0', i0, 'k', k))))) AS cell",
    ).selectExpr(
        "w",
        "cell.i0 AS i0",
        "cell.k AS k",
        "CASE WHEN cell.i0 + cell.k - 1 <= length(w)"
        " THEN substring(w, cell.i0, cell.k) END AS piece",
    )
    g2 = grid.join(F.broadcast(scored), "piece", "left").selectExpr(
        "w", "i0", "k", f"CAST(coalesce(sc, {T.UNI_MISS}) AS BIGINT) AS sc"
    )
    sarr = g2.groupBy("w").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(i0, k, sc))),"
            " x -> x.sc)"
        ).alias("sc")
    )
    pk = T.UNI_PACK
    mp = T.UNI_MAX_PIECE
    cands = ", ".join(
        f"CASE WHEN {k} <= i THEN element_at(acc, i - {k} + 1)"
        f" + element_at(sc, (i - {k}) * {mp} + {k}) * {pk} - 1"
        " ELSE NULL END"
        for k in range(1, mp + 1)
    )
    dp = (
        "aggregate(sequence(1, length(w)), array(CAST(0 AS BIGINT)),"
        f" (acc, i) -> concat(acc, array(greatest({cands}))),"
        " acc -> element_at(acc, length(w) + 1))"
    )
    dec = sarr.selectExpr("w", f"{dp} AS c").selectExpr(
        "w",
        f"CAST(((-c) % {pk} + {pk}) % {pk} AS BIGINT) AS np",
        f"CAST((c + ((-c) % {pk} + {pk}) % {pk}) div {pk} AS BIGINT) AS s",
    )
    out = (
        wl.join(dec, "w")
        .groupBy("lang")
        .agg(
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.expr("sum(length(w) * n)").cast("bigint").alias("n_chars"),
            F.expr("sum(np * n)").cast("bigint").alias("n_pieces"),
            F.expr("sum(s * n)").cast("bigint").alias("score_sum"),
        )
    )
    return out.selectExpr(
        "lang",
        "n_tokens",
        "n_chars",
        "n_pieces",
        "round(CAST(n_pieces AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4)"
        " AS pieces_per_token",
        "round(CAST(n_chars AS DOUBLE) / CAST(n_pieces AS DOUBLE), 4)"
        " AS mean_piece_len",
        "round(CAST(-score_sum AS DOUBLE) / CAST(n_pieces AS DOUBLE)"
        f" / {T.UNI_MU}, 6) AS bits_per_piece",
    ).orderBy("lang")


EXTENDED_QUERIES["x5_unigram_encode"] = x5_unigram_encode


def _uni_dpfull_duck() -> str:
    """DuckDB form of the packed-integer forward DP, keeping the WHOLE
    score array (list_reduce over [i]-singleton lists so the
    accumulator type matches the element type).

    DuckDB 1.0.0's list_reduce mis-assigns results across rows when
    per-row iteration counts differ within a vector chunk (variable-
    length lambda vectorization hazard — the x5_unigram_em sf0.001
    defect, judge-root-caused round 9). Every word here is
    <= BPE_WORD_MAX chars (the word-dict filter), so the fold runs a
    UNIFORM BPE_WORD_MAX iterations and no-ops the padding steps
    (i > length(w) keeps acc unchanged) — dparr is bit-identical to
    the variable-length fold. Pinned by tests/test_fold_stability.py."""
    pk, mp = T.UNI_PACK, T.UNI_MAX_PIECE
    cands = ", ".join(
        f"CASE WHEN {k} <= x[1] THEN acc[x[1] - {k} + 1]"
        f" + sc[(x[1] - {k}) * {mp} + {k}] * {pk} - 1"
        " ELSE NULL END"
        for k in range(1, mp + 1)
    )
    return (
        "list_reduce(list_prepend([CAST(0 AS BIGINT)],"
        f" list_transform(generate_series(1, {BPE_WORD_MAX}),"
        " i -> [CAST(i AS BIGINT)])),"
        " (acc, x) -> CASE WHEN x[1] > length(w) THEN acc"
        f" ELSE list_append(acc, greatest({cands})) END)"
    )


def _unigram_encode_oracle_sql() -> str:
    """Seed CTE chain + ladder scores + the uniform-iteration DuckDB
    DP (shared with x5_unigram_em via _uni_dpfull_duck)."""
    pk, mp = T.UNI_PACK, T.UNI_MAX_PIECE
    sc_expr = _uni_score_sql("[", "]", "len", "list_filter", "//")
    dp = _uni_dpfull_duck() + "[length(w) + 1]"
    return f"""
    WITH {_uni_seed_ctes()},
    ugsc AS (SELECT piece, CAST({sc_expr} AS BIGINT) AS sc
             FROM ugsel, ugt),
    ue0 AS (
      SELECT lang, tok AS w, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT lang, unnest({_TOKS_EXPR}) AS tok FROM documents) u
      WHERE length(tok) BETWEEN {BPE_WORD_MIN} AND {BPE_WORD_MAX}
      GROUP BY 1, 2
    ),
    uew AS (SELECT DISTINCT w FROM ue0),
    ueg0 AS (
      SELECT w, ((p.j - 1) // {mp}) + 1 AS i0, ((p.j - 1) % {mp}) + 1 AS k
      FROM uew, LATERAL (SELECT unnest(generate_series(1,
           length(w) * {mp})) AS j) p
    ),
    ueg AS (
      SELECT w, i0, k,
             CASE WHEN i0 + k - 1 <= length(w)
                  THEN substring(w, i0, k) END AS piece
      FROM ueg0
    ),
    ues AS (
      SELECT g.w, g.i0, g.k,
             CAST(coalesce(ugsc.sc, {T.UNI_MISS}) AS BIGINT) AS sc
      FROM ueg g LEFT JOIN ugsc ON g.piece = ugsc.piece
    ),
    uea AS (SELECT w, list(sc ORDER BY i0, k) AS sc FROM ues GROUP BY 1),
    ued AS (SELECT w, {dp} AS c FROM uea),
    uedec AS (
      SELECT w,
             CAST(((-c) % {pk} + {pk}) % {pk} AS BIGINT) AS np,
             CAST((c + ((-c) % {pk} + {pk}) % {pk}) // {pk} AS BIGINT) AS s
      FROM ued
    ),
    ueout AS (
      SELECT lang, CAST(sum(n) AS BIGINT) AS n_tokens,
             CAST(sum(length(w) * n) AS BIGINT) AS n_chars,
             CAST(sum(np * n) AS BIGINT) AS n_pieces,
             CAST(sum(s * n) AS BIGINT) AS score_sum
      FROM ue0 JOIN uedec USING (w) GROUP BY 1
    )
    SELECT lang, n_tokens, n_chars, n_pieces,
           round(CAST(n_pieces AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4)
             AS pieces_per_token,
           round(CAST(n_chars AS DOUBLE) / CAST(n_pieces AS DOUBLE), 4)
             AS mean_piece_len,
           round(CAST(-score_sum AS DOUBLE) / CAST(n_pieces AS DOUBLE)
                 / {T.UNI_MU}, 6) AS bits_per_piece
    FROM ueout ORDER BY lang
"""


EXTENDED_ORACLES["x5_unigram_encode"] = _unigram_encode_oracle_sql()


# --- Round-8 closers: bounded-horizon closeness centrality and Holt
# linear-trend forecasting.


def x11_closeness(spark, sf_dir):
    """Closeness centrality (operators/clustering.py:
    closeness_centrality) for the BFS_SEED_MAX smallest part nodes
    over the symmetrized part<->supplier supply graph: per-source BFS
    to the BFS_ITER-hop horizon, closeness = (reached-1)/sum(dist) —
    the centrality complement of x11_bfs (which merges seeds into one
    frontier and loses attribution). Exact integer hop counts and
    sums; one float division at render; the oracle unrolls the same
    rounds as chained CTEs (the pagerank pattern). The seed set is
    the priced compute lever — sampled-seed closeness is exactly how
    centrality is estimated on graphs too big for all-pairs."""
    from diepy_spark.operators.clustering import closeness_centrality

    li = load_table(spark, sf_dir, "lineitem")
    sym = _supply_sym(spark, sf_dir)
    seeds = (
        li.where(F.col("l_partkey") <= BFS_SEED_MAX)
        .select((F.col("l_partkey") * 10 + 1).alias("node"))
        .distinct()
    )
    return closeness_centrality(
        sym, seeds, iterations=BFS_ITER, assume_distinct=True
    ).orderBy("node")


EXTENDED_QUERIES["x11_closeness"] = x11_closeness


def _closeness_oracle_sql() -> str:
    ctes = [
        """cle AS (
      SELECT DISTINCT src, dst FROM (
        SELECT l_partkey * 10 + 1 AS src, l_suppkey * 10 + 2 AS dst
        FROM lineitem
        UNION ALL
        SELECT l_suppkey * 10 + 2 AS src, l_partkey * 10 + 1 AS dst
        FROM lineitem) u
      WHERE src != dst)""",
        f"""cls AS (
      SELECT DISTINCT l_partkey * 10 + 1 AS s FROM lineitem
      WHERE l_partkey <= {BFS_SEED_MAX})""",
        "cl0 AS (SELECT s, s AS node, CAST(0 AS INT) AS d FROM cls)",
    ]
    for i in range(1, BFS_ITER + 1):
        ctes.append(f"""cl{i} AS (
      SELECT s, node, CAST(min(d) AS INT) AS d FROM (
        SELECT s, node, d FROM cl{i - 1}
        UNION ALL
        SELECT p.s, e.dst AS node, p.d + 1 AS d
        FROM cl{i - 1} p JOIN cle e ON e.src = p.node) u
      GROUP BY 1, 2)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
    SELECT s AS node,
           CAST(count(*) - 1 AS BIGINT) AS n_reached,
           CAST(sum(d) AS BIGINT) AS sum_dist,
           CASE WHEN sum(d) = 0 THEN CAST(0 AS DOUBLE)
                ELSE round(CAST(count(*) - 1 AS DOUBLE)
                           / CAST(sum(d) AS DOUBLE), 6) END AS closeness
    FROM cl{BFS_ITER} GROUP BY 1 ORDER BY node"""
    )


EXTENDED_ORACLES["x11_closeness"] = _closeness_oracle_sql()


# Holt double-exponential smoothing (additive level+trend), dyadic
# coefficients (alpha=0.5, beta=0.25 — exact halving/quartering) so
# every step is the identical IEEE op sequence in both engines; the
# state rides an array<double> [level, trend, sum_abs_err] through an
# ordered fold (the EWMA list_reduce idiom, extended to 2-state).
_HW_STEP = (
    "CAST(0.5 AS DOUBLE) * {x} + CAST(0.5 AS DOUBLE) * ({l} + {b})"
)
_HW_TREND = (
    "CAST(0.25 AS DOUBLE) * (({nl}) - {l}) + CAST(0.75 AS DOUBLE) * {b}"
)
_HW_SAE = "{sae} + abs({x} - ({l} + {b}))"


def x8_holt_linear(spark, sf_dir):
    """Holt linear-trend forecast per event_type over the daily
    revenue series — the FORECASTING closer of the time-series panel
    (x8_acf measures structure, x8_mann_kendall/theil_sen test and
    size the trend, r52_ewma smooths the level; this extrapolates):
    level/trend recurrence l_t = a*x_t + (1-a)(l+b), b_t = g*(l_t-l)
    + (1-g)*b with dyadic a=0.5, g=0.25, one-step-ahead MAE as the
    backtest metric, and the next-day forecast l+b.

    Exactness: the fold body is ONE shared expression text evaluated
    in array order (day order) in both engines — the r52_ewma
    IEEE-identity argument extended to two-state; inputs are exact
    cents-as-double. Scale shape: corpus collapses to the bounded
    (type x day) frame in one map-side-combined aggregate; the
    recurrence is a zero-shuffle per-group fold."""
    d = _daily_cv(spark, sf_dir)
    g = d.groupBy("event_type").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, v))),"
            " p -> CAST(p.v AS DOUBLE))"
        ).alias("vals")
    ).where("size(vals) >= 3")
    step = _HW_STEP.format(
        x="x", l="element_at(acc, 1)", b="element_at(acc, 2)"
    )
    trend = _HW_TREND.format(
        nl=step, l="element_at(acc, 1)", b="element_at(acc, 2)"
    )
    sae = _HW_SAE.format(
        x="x", l="element_at(acc, 1)", b="element_at(acc, 2)",
        sae="element_at(acc, 3)",
    )
    dp = (
        "aggregate(slice(vals, 3, size(vals) - 2),"
        " array(element_at(vals, 2),"
        " element_at(vals, 2) - element_at(vals, 1),"
        " CAST(0 AS DOUBLE)),"
        f" (acc, x) -> array({step}, {trend}, {sae}))"
    )
    out = g.selectExpr(
        "event_type",
        "CAST(size(vals) AS BIGINT) AS n_days",
        f"{dp} AS st",
    )
    return out.selectExpr(
        "event_type",
        "n_days",
        "round(element_at(st, 1), 6) AS level",
        "round(element_at(st, 2), 6) AS trend",
        "round(element_at(st, 1) + element_at(st, 2), 6) AS forecast",
        "round(element_at(st, 3) / CAST(n_days - 2 AS DOUBLE), 6) AS mae",
    ).orderBy("event_type")


EXTENDED_QUERIES["x8_holt_linear"] = x8_holt_linear


def _holt_oracle_sql() -> str:
    step = _HW_STEP.format(x="x[1]", l="acc[1]", b="acc[2]")
    trend = _HW_TREND.format(nl=step, l="acc[1]", b="acc[2]")
    sae = _HW_SAE.format(x="x[1]", l="acc[1]", b="acc[2]", sae="acc[3]")
    dp = (
        "list_reduce(list_prepend("
        "[vals[2], vals[2] - vals[1], CAST(0 AS DOUBLE)],"
        " list_transform(vals[3:], v -> [v])),"
        f" (acc, x) -> [{step}, {trend}, {sae}])"
    )
    return f"""
    WITH hld AS {_DAILY_CV_SQL},
    hlg AS (
      SELECT event_type,
             list_transform(list(v ORDER BY day),
                            vv -> CAST(vv AS DOUBLE)) AS vals
      FROM hld GROUP BY 1
    ),
    hls AS (
      SELECT event_type, CAST(len(vals) AS BIGINT) AS n_days,
             {dp} AS st
      FROM hlg WHERE len(vals) >= 3
    )
    SELECT event_type, n_days,
           round(st[1], 6) AS level,
           round(st[2], 6) AS trend,
           round(st[1] + st[2], 6) AS forecast,
           round(st[3] / CAST(n_days - 2 AS DOUBLE), 6) AS mae
    FROM hls ORDER BY event_type
"""


EXTENDED_ORACLES["x8_holt_linear"] = _holt_oracle_sql()


def x8_cohens_kappa(spark, sf_dir):
    """Cohen's kappa between the heuristic language detector
    (operators/text.py:lang_id) and the gold `lang` column — chance-
    corrected agreement, the standard instrument for "is my cheap
    labeler actually agreeing with the annotations, or just matching
    the majority class?" (raw accuracy x5_lang_classify can't tell).
    kappa = (po - pe)/(1 - pe); with integer counts it reduces to
    (n*agree - S)/(n*n - S) where S = sum_k row_k * col_k — numerator
    and denominator EXACT BIGINTs, one IEEE division at the end.

    Scale shape: ONE corpus pass, ONE aggregate — the gold label rides
    the detector's id column as a (doc_id, lang) struct so no second
    documents scan / join is needed to pair prediction with truth; the
    corpus collapses to the bounded (pred, gold) confusion frame
    (<= (|langs|+1)^2 cells), a second global aggregate packs it into
    one array row, and the margins product S comes from nested
    higher-order functions over that array (the x8_chisq_independence
    margin discipline — zero joins, zero windows, zero
    BroadcastNestedLoopJoin)."""
    d = _docs(spark, sf_dir)
    dd = d.select(F.struct("doc_id", "lang").alias("dk"), "text")
    heur = T.lang_id(dd, id_col="dk").select(
        F.col("pred_lang").alias("ra"), F.col("dk.lang").alias("rb")
    )
    cells = heur.groupBy("ra", "rb").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    one = cells.agg(
        F.expr("array_sort(collect_list(struct(ra, rb, o)))").alias("cl")
    )
    s_expr = (
        "aggregate("
        "array_sort(array_distinct(concat("
        "transform(cl, x -> x.ra), transform(cl, x -> x.rb)))),"
        " CAST(0 AS BIGINT), (acc, k) -> acc"
        " + aggregate(filter(cl, y -> y.ra = k), CAST(0 AS BIGINT),"
        "             (a2, y2) -> a2 + y2.o)"
        " * aggregate(filter(cl, z -> z.rb = k), CAST(0 AS BIGINT),"
        "             (a3, z2) -> a3 + z2.o))"
    )
    base = one.selectExpr(
        "aggregate(cl, CAST(0 AS BIGINT), (a, x) -> a + x.o) AS n",
        "aggregate(filter(cl, x -> x.ra = x.rb), CAST(0 AS BIGINT),"
        " (a, x) -> a + x.o) AS agree",
        "CAST(size(array_distinct(concat(transform(cl, x -> x.ra),"
        " transform(cl, x -> x.rb)))) AS BIGINT) AS n_labels",
        f"{s_expr} AS s",
    )
    return base.selectExpr(
        "n",
        "n_labels",
        "agree",
        "round(CAST(agree AS DOUBLE) / n, 6) AS po",
        "round(CAST(s AS DOUBLE) / (n * n), 6) AS pe",
        "round(CAST(n * agree - s AS DOUBLE) / (n * n - s), 6) AS kappa",
    )


EXTENDED_QUERIES["x8_cohens_kappa"] = x8_cohens_kappa

EXTENDED_ORACLES["x8_cohens_kappa"] = f"""
    WITH ckh AS (
      SELECT doc_id,
             {', '.join(f'{_lang_hits_sql(lang)} AS hits_{lang}' for lang in LANG_PROFILES)}
      FROM documents
    ),
    ckp AS (SELECT doc_id, {_lang_pred_sql()} AS ra FROM ckh),
    ckc AS (
      SELECT p.ra, d.lang AS rb, CAST(count(*) AS BIGINT) AS o
      FROM ckp p JOIN documents d USING (doc_id)
      GROUP BY 1, 2
    ),
    ckl AS (SELECT ra AS k FROM ckc UNION SELECT rb FROM ckc),
    ckm AS (
      SELECT l.k,
             CAST(coalesce((SELECT sum(o) FROM ckc WHERE ra = l.k), 0)
                  AS BIGINT) AS rk,
             CAST(coalesce((SELECT sum(o) FROM ckc WHERE rb = l.k), 0)
                  AS BIGINT) AS ck
      FROM ckl l
    ),
    cka AS (
      SELECT CAST((SELECT sum(o) FROM ckc) AS BIGINT) AS n,
             CAST((SELECT count(*) FROM ckl) AS BIGINT) AS n_labels,
             CAST((SELECT coalesce(sum(o), 0) FROM ckc WHERE ra = rb)
                  AS BIGINT) AS agree,
             CAST((SELECT sum(rk * ck) FROM ckm) AS BIGINT) AS s
    )
    SELECT n, n_labels, agree,
           round(CAST(agree AS DOUBLE) / n, 6) AS po,
           round(CAST(s AS DOUBLE) / (n * n), 6) AS pe,
           round(CAST(n * agree - s AS DOUBLE) / (n * n - s), 6) AS kappa
    FROM cka
"""


def x8_mcnemar(spark, sf_dir):
    """McNemar's paired test: do the HEURISTIC detector (x5_lang_id)
    and the TRAINED NB classifier (x5_lang_classify) have different
    error rates on the SAME documents? The confusion matrix
    (x5_lang_confusion) shows where they disagree; this tests whether
    the disagreement is one-sided — the decision instrument for
    swapping detectors. Only the discordant counts matter: b = heur
    right / trained wrong, c = the reverse; chi2 = (b-c)^2/(b+c), and
    the continuity-corrected (|b-c|-1)^2/(b+c). Both numerators are
    exact integers; one IEEE division each.

    Scale shape: both predictors are broadcast-model corpus passes
    (shared via _langclf_cached — the trained pred frame is computed
    once per session); the pair frame collapses in ONE aggregate with
    map-side combine to four integers. The frame is the trained
    model's domain (docs with len(text) >= LANGCLF_N, the
    x5_lang_confusion membership)."""
    d = _docs(spark, sf_dir)
    heur = T.lang_id(d).select("doc_id", F.col("pred_lang").alias("heur"))
    trained = _langclf_cached(spark, sf_dir).select(
        "doc_id", F.col("lang").alias("gold"), F.col("pred_lang").alias("trained")
    )
    base = trained.join(heur, "doc_id").selectExpr(
        "CAST(heur = gold AS INT) AS ha", "CAST(trained = gold AS INT) AS ta"
    )
    agg = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("CAST(ha = 1 AND ta = 1 AS INT)")).cast("bigint").alias("both_correct"),
        F.sum(F.expr("CAST(ha = 1 AND ta = 0 AS INT)")).cast("bigint").alias("heur_only"),
        F.sum(F.expr("CAST(ha = 0 AND ta = 1 AS INT)")).cast("bigint").alias("trained_only"),
        F.sum(F.expr("CAST(ha = 0 AND ta = 0 AS INT)")).cast("bigint").alias("both_wrong"),
    )
    return agg.selectExpr(
        "n",
        "both_correct",
        "heur_only",
        "trained_only",
        "both_wrong",
        "CASE WHEN heur_only + trained_only > 0 THEN"
        " round(CAST((heur_only - trained_only) * (heur_only - trained_only)"
        " AS DOUBLE) / (heur_only + trained_only), 6)"
        " ELSE CAST(0 AS DOUBLE) END AS chi2",
        "CASE WHEN heur_only + trained_only > 0 THEN"
        " round(CAST((abs(heur_only - trained_only) - 1)"
        " * (abs(heur_only - trained_only) - 1)"
        " AS DOUBLE) / (heur_only + trained_only), 6)"
        " ELSE CAST(0 AS DOUBLE) END AS chi2_cc",
    )


EXTENDED_QUERIES["x8_mcnemar"] = x8_mcnemar

EXTENDED_ORACLES["x8_mcnemar"] = f"""
    WITH {_LANGCLF_PRED_CTES},
    mnh AS (
      SELECT doc_id,
             {', '.join(f'{_lang_hits_sql(lang)} AS hits_{lang}' for lang in LANG_PROFILES)}
      FROM documents
    ),
    mnp AS (SELECT doc_id, {_lang_pred_sql()} AS heur FROM mnh),
    mnb AS (
      SELECT CAST(h.heur = d3.lang AS INT) AS ha,
             CAST(p.pred_lang = d3.lang AS INT) AS ta
      FROM d3 JOIN pred p ON p.d = d3.doc_id
      JOIN mnp h ON h.doc_id = d3.doc_id
    ),
    mna AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(ha = 1 AND ta = 1 AS INT)) AS BIGINT)
               AS both_correct,
             CAST(sum(CAST(ha = 1 AND ta = 0 AS INT)) AS BIGINT)
               AS heur_only,
             CAST(sum(CAST(ha = 0 AND ta = 1 AS INT)) AS BIGINT)
               AS trained_only,
             CAST(sum(CAST(ha = 0 AND ta = 0 AS INT)) AS BIGINT)
               AS both_wrong
      FROM mnb
    )
    SELECT n, both_correct, heur_only, trained_only, both_wrong,
           CASE WHEN heur_only + trained_only > 0 THEN
             round(CAST((heur_only - trained_only) * (heur_only - trained_only)
                   AS DOUBLE) / (heur_only + trained_only), 6)
           ELSE CAST(0 AS DOUBLE) END AS chi2,
           CASE WHEN heur_only + trained_only > 0 THEN
             round(CAST((abs(heur_only - trained_only) - 1)
                   * (abs(heur_only - trained_only) - 1)
                   AS DOUBLE) / (heur_only + trained_only), 6)
           ELSE CAST(0 AS DOUBLE) END AS chi2_cc
    FROM mna
"""


KMSURV_EVENT = "purchase"  # the terminal event the curve waits for


def x8_survival_km(spark, sf_dir):
    """Kaplan–Meier time-to-conversion curves per experiment arm:
    for each user, days from first contact to first KMSURV_EVENT;
    users who never convert are right-censored at their last observed
    day. S(t) = prod_{t_i <= t} (1 - d_i/n_i) — the estimator every
    retention/conversion dashboard draws, and the correct way to
    aggregate durations when some are censored (a plain mean of
    converted users is survivorship-biased).

    Exactness: risk sets and event counts are exact integers from the
    duration histogram; each KM factor enters as ln(n-d)-ln(n) of
    INTEGER operands rounded to 9 decimals and summed as
    DECIMAL(18,9) over the ordered window (exact, order-independent —
    the x11_hyperball decimal-sum idiom), with one exp() at render.
    A risk set that fully converts sets a cumulative dead flag and
    pins survival to exactly 0 thereafter (no ln(0)).

    Scale shape: ONE corpus aggregate collapses events to per-user
    (first day, last day, first conversion day) with map-side combine;
    a second collapses users to the (arm x duration) histogram —
    bounded by 3 x the calendar span — and every window below runs
    partitioned BY ARM over that bounded frame (no single-partition
    funnel anywhere)."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.where("user_id IS NOT NULL").selectExpr(
        "user_id",
        "event_type",
        f"unix_micros(cast(ts as timestamp)) div {_DAY_DIV} AS day",
    )
    u = e.groupBy("user_id").agg(
        F.expr("min(day)").alias("d0"),
        F.expr("max(day)").alias("d1"),
        F.expr(
            f"min(CASE WHEN event_type = '{KMSURV_EVENT}' THEN day END)"
        ).alias("dp"),
    )
    hist = (
        u.selectExpr(
            "CAST(user_id % 3 AS INT) AS cohort",
            "coalesce(dp, d1) - d0 AS t",
            "CAST(dp IS NOT NULL AS INT) AS obs",
        )
        .groupBy("cohort", "t")
        .agg(
            F.sum("obs").cast("bigint").alias("converted"),
            F.sum(F.expr("1 - obs")).cast("bigint").alias("censored"),
        )
        .localCheckpoint(eager=False)  # bounded: arms x calendar span
    )
    w_all = Window.partitionBy("cohort")
    w_ord = Window.partitionBy("cohort").orderBy("t")
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    cur = (
        hist.withColumn(
            "n_risk",
            F.sum(F.expr("converted + censored")).over(w_all)
            - F.coalesce(
                F.sum(F.expr("converted + censored")).over(w_prev), F.lit(0)
            ),
        )
        .withColumn(
            "term",
            F.expr(
                "CASE WHEN converted < n_risk THEN"
                " CAST(round(ln(n_risk - converted) - ln(n_risk), 9)"
                "      AS DECIMAL(18,9)) END"
            ),
        )
        .withColumn("dead", F.max(F.expr("CAST(converted >= n_risk AS INT)")).over(w_cum))
        .withColumn("lns", F.sum("term").over(w_cum))
    )
    return cur.selectExpr(
        "cohort",
        "t",
        "n_risk",
        "converted",
        "censored",
        "CASE WHEN dead = 1 THEN CAST(0 AS DOUBLE)"
        " ELSE round(exp(CAST(lns AS DOUBLE)), 6) END AS survival",
    ).orderBy("cohort", "t")


EXTENDED_QUERIES["x8_survival_km"] = x8_survival_km

EXTENDED_ORACLES["x8_survival_km"] = f"""
    WITH kme AS (
      SELECT user_id, event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) // {_DAY_DIV} AS BIGINT)
               AS day
      FROM events WHERE user_id IS NOT NULL
    ),
    kmu AS (
      SELECT user_id, min(day) AS d0, max(day) AS d1,
             min(CASE WHEN event_type = '{KMSURV_EVENT}' THEN day END) AS dp
      FROM kme GROUP BY 1
    ),
    kmh AS (
      SELECT CAST(user_id % 3 AS INT) AS cohort,
             coalesce(dp, d1) - d0 AS t,
             CAST(sum(CAST(dp IS NOT NULL AS INT)) AS BIGINT) AS converted,
             CAST(sum(CAST(dp IS NULL AS INT)) AS BIGINT) AS censored
      FROM kmu GROUP BY 1, 2
    ),
    kmr AS (
      SELECT cohort, t, converted, censored,
             CAST(sum(converted + censored) OVER (PARTITION BY cohort)
                  - coalesce(sum(converted + censored) OVER (
                      PARTITION BY cohort ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_risk
      FROM kmh
    ),
    kmc AS (
      SELECT cohort, t, n_risk, converted, censored,
             max(CASE WHEN converted >= n_risk THEN 1 ELSE 0 END)
               OVER (PARTITION BY cohort ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS dead,
             sum(CASE WHEN converted < n_risk THEN
                   CAST(round(ln(n_risk - converted) - ln(n_risk), 9)
                        AS DECIMAL(18,9)) END)
               OVER (PARTITION BY cohort ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS lns
      FROM kmr
    )
    SELECT cohort, t, n_risk, converted, censored,
           CASE WHEN dead = 1 THEN CAST(0 AS DOUBLE)
           ELSE round(exp(CAST(lns AS DOUBLE)), 6) END AS survival
    FROM kmc ORDER BY cohort, t
"""


# Adamic–Adar / resource-allocation per-neighbor terms — shared text so
# Spark and the oracle round the SAME IEEE doubles (ln of an integer,
# one correctly-rounded division) before the exact DECIMAL sum.
_AA_TERM = "CAST(round(1 / ln(CAST({d} AS DOUBLE)), 6) AS DECIMAL(18,6))"
_RA_TERM = "CAST(round(1 / CAST({d} AS DOUBLE), 6) AS DECIMAL(18,6))"


def x11_adamic_adar(spark, sf_dir):
    """Adamic–Adar and resource-allocation link-prediction scores on
    the part–supplier bipartite graph — the frequency-weighted upgrade
    of x11_neighbor_jaccard: a shared supplier contributes 1/ln(deg)
    (AA) / 1/deg (RA), so promiscuous hub neighbors count less than
    exclusive ones (Adamic & Adar 2003; Zhou et al. 2009 for RA).

    Exactness: each per-neighbor term is ln of an INTEGER degree and
    one correctly-rounded division, rounded to 6 decimals and summed
    as DECIMAL(18,6) — exact and order-independent (the x11_hyperball
    decimal-sum idiom), so the DESC ranking has no float-order risk.

    Scale shape — the x11_neighbor_jaccard wedge contract: candidates
    come from the shared-supplier self-join (never part x part), the
    probe side is id-bounded (NJ_PART_MAX), the supplier-degree dim is
    broadcast, and pairs below NJ_MIN_COMMON never leave the wedge
    aggregate. One distinct pass (shared + checkpointed via
    _nj_edges_cached), one wedge shuffle."""
    e = _nj_edges_cached(spark, sf_dir)
    sdeg = e.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("sdeg")
    )
    a = e.select(F.col("l_partkey").alias("pa"), "l_suppkey")
    b = e.select(F.col("l_partkey").alias("pb"), "l_suppkey")
    return (
        a.join(b, "l_suppkey")
        .where(F.col("pa") < F.col("pb"))
        .join(F.broadcast(sdeg), "l_suppkey")
        .groupBy("pa", "pb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common"),
            F.expr(f"sum({_AA_TERM.format(d='sdeg')})").alias("aa_d"),
            F.expr(f"sum({_RA_TERM.format(d='sdeg')})").alias("ra_d"),
        )
        .where(F.col("common") >= NJ_MIN_COMMON)
        .selectExpr(
            "pa",
            "pb",
            "common",
            "CAST(aa_d AS DOUBLE) AS aa",
            "CAST(ra_d AS DOUBLE) AS ra",
        )
        .orderBy(F.col("aa").desc(), "pa", "pb")
        .limit(NJ_TOP)
    )


EXTENDED_QUERIES["x11_adamic_adar"] = x11_adamic_adar

EXTENDED_ORACLES["x11_adamic_adar"] = f"""
    WITH aae AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
      WHERE l_partkey < {NJ_PART_MAX}
    ),
    aad AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS sdeg
            FROM aae GROUP BY 1),
    aap AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             CAST(count(*) AS BIGINT) AS common,
             sum({_AA_TERM.format(d='d.sdeg')}) AS aa_d,
             sum({_RA_TERM.format(d='d.sdeg')}) AS ra_d
      FROM aae a
      JOIN aae b ON b.l_suppkey = a.l_suppkey AND a.l_partkey < b.l_partkey
      JOIN aad d ON d.l_suppkey = a.l_suppkey
      GROUP BY 1, 2 HAVING count(*) >= {NJ_MIN_COMMON}
    )
    SELECT pa, pb, common,
           CAST(aa_d AS DOUBLE) AS aa,
           CAST(ra_d AS DOUBLE) AS ra
    FROM aap ORDER BY aa DESC, pa, pb LIMIT {NJ_TOP}
"""


BP_N = 2  # boilerplate phrase length (word grams)
BP_PCT = 20  # doc-frequency threshold: gram in >= 20% of a source's docs
# df desc / gram asc packed into one min() key.  10^12 (13-digit pad):
# df is a per-source DOC count, so even at 100 TB (~10^11 docs total) a
# single source stays < 10^12 and the packed key never goes negative
# (ADVICE r8 — at the old 10^8 a df >= 1e8 would sort before all
# valid keys and decode garbage).
_BP_KEYPAD = 1_000_000_000_000
_BP_PADW = 13  # len(str(_BP_KEYPAD)) — lpad width; gram starts at +2


def x5_source_boilerplate(spark, sf_dir):
    """Per-SOURCE boilerplate-phrase census — the RefinedWeb/C4
    filtering stage that precedes text dedup: phrases (word BP_N-grams)
    occurring in >= BP_PCT% of a *single source's* documents are
    navigation chrome / legal footers, not content, and should be
    stripped before training. Distinct from the corpus-global
    occurrence-count tiers (x1_span_dedup / x1_cms_span_dedup): the
    key here is per-domain DOC-frequency — a phrase every src7 page
    carries is boilerplate even if globally rare.

    Report per source: docs, distinct grams, boilerplate grams, docs
    affected, total boilerplate occurrences, and the top offending
    phrase (highest df, ties lexicographic — packed into one integer-
    padded min() key so the pick is engine-order-free).

    Scale shape: ONE tokenize+explode pass collapses straight into the
    per-(source, doc, gram) count frame (map-side combine), which then
    serves as occurrence ledger, doc-frequency ledger AND the distinct
    frame the affected-docs pass probes — checkpointed once, never
    re-exploded; the source dimension and the flagged boiler set are
    bounded and BROADCAST back."""
    from diepy_spark.operators.dedup import _grams_over

    d = _docs(spark, sf_dir)
    tk = d.select(
        "doc_id", "source", F.expr(D.tokens_expr("text")).alias("toks")
    )
    g = tk.select(
        "doc_id", "source",
        F.explode(F.expr(_grams_over("toks", BP_N))).alias("s"),
    )
    # ONE explode, ONE corpus aggregate: the per-(source, doc, gram)
    # count frame is simultaneously the occurrence ledger (sum c), the
    # doc-frequency ledger (count rows) and the distinct (doc, gram)
    # frame the affected-docs pass probes — checkpointed once instead
    # of re-deriving the explode per consumer.
    gcnt = (
        g.groupBy("source", "doc_id", "s")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )
    dfocc = gcnt.groupBy("source", "s").agg(
        F.sum("c").cast("bigint").alias("occ"),
        F.count(F.lit(1)).cast("bigint").alias("df"),
    )
    sd = (
        gcnt.select("source", "doc_id")
        .distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("docs"))
        .localCheckpoint(eager=False)  # bounded: one row per source
    )
    grams = dfocc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("grams")
    )
    bo = (
        dfocc.join(F.broadcast(sd), "source")
        .where(F.expr(f"df * 100 >= {BP_PCT} * docs"))
        .localCheckpoint(eager=False)  # bounded: the flagged boiler set
    )
    bsum = bo.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("boiler_grams"),
        F.sum("occ").cast("bigint").alias("boiler_occ"),
        F.min(
            F.expr(
                f"lpad(CAST({_BP_KEYPAD} - df AS STRING), {_BP_PADW}, '0')"
                " || ':' || s"
            )
        ).alias("topkey"),
    )
    aff = (
        gcnt.join(F.broadcast(bo.select("source", "s")), ["source", "s"])
        .select("source", "doc_id")
        .distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("affected_docs"))
    )
    return (
        sd.join(grams, "source", "left")
        .join(bsum, "source", "left")
        .join(aff, "source", "left")
        .selectExpr(
            "source",
            "docs",
            "coalesce(grams, CAST(0 AS BIGINT)) AS grams",
            "coalesce(boiler_grams, CAST(0 AS BIGINT)) AS boiler_grams",
            "coalesce(affected_docs, CAST(0 AS BIGINT)) AS affected_docs",
            "coalesce(boiler_occ, CAST(0 AS BIGINT)) AS boiler_occ",
            f"coalesce(substr(topkey, {_BP_PADW + 2}), '') AS top_gram",
            f"CASE WHEN topkey IS NULL THEN CAST(0 AS BIGINT)"
            f" ELSE {_BP_KEYPAD}"
            f" - CAST(substr(topkey, 1, {_BP_PADW}) AS BIGINT)"
            f" END AS top_df",
        )
        .orderBy("source")
    )


EXTENDED_QUERIES["x5_source_boilerplate"] = x5_source_boilerplate

EXTENDED_ORACLES["x5_source_boilerplate"] = f"""
    WITH bptk AS (
      SELECT doc_id AS d, source, t.i, t.tok FROM documents,
      LATERAL (SELECT unnest({{toks}}) AS tok,
                      generate_subscripts({{toks}}, 1) AS i) t
    ),
    bpg AS (
      SELECT d, source, tok || ' ' || lead(tok, 1)
               OVER (PARTITION BY d ORDER BY i) AS s
      FROM bptk
      QUALIFY lead(tok, 1) OVER (PARTITION BY d ORDER BY i) IS NOT NULL
    ),
    bpgd AS (SELECT DISTINCT d, source, s FROM bpg),
    bpdf AS (
      SELECT source, s, CAST(count(*) AS BIGINT) AS occ,
             CAST(count(DISTINCT d) AS BIGINT) AS df
      FROM bpg GROUP BY 1, 2
    ),
    bpsd AS (
      SELECT source, CAST(count(DISTINCT d) AS BIGINT) AS docs
      FROM bpgd GROUP BY 1
    ),
    bpgr AS (SELECT source, CAST(count(*) AS BIGINT) AS grams
             FROM bpdf GROUP BY 1),
    bpbo AS (
      SELECT f.source, f.s, f.occ, f.df
      FROM bpdf f JOIN bpsd sd USING (source)
      WHERE f.df * 100 >= {BP_PCT} * sd.docs
    ),
    bpbs AS (
      SELECT source, CAST(count(*) AS BIGINT) AS boiler_grams,
             CAST(sum(occ) AS BIGINT) AS boiler_occ,
             min(lpad(CAST({_BP_KEYPAD} - df AS STRING), {_BP_PADW}, '0')
                 || ':' || s) AS topkey
      FROM bpbo GROUP BY 1
    ),
    bpaf AS (
      SELECT g.source, CAST(count(DISTINCT g.d) AS BIGINT) AS affected_docs
      FROM bpgd g JOIN bpbo b ON b.source = g.source AND b.s = g.s
      GROUP BY 1
    )
    SELECT sd.source, sd.docs,
           coalesce(gr.grams, 0) AS grams,
           coalesce(bs.boiler_grams, 0) AS boiler_grams,
           coalesce(af.affected_docs, 0) AS affected_docs,
           coalesce(bs.boiler_occ, 0) AS boiler_occ,
           coalesce(bs.topkey[{_BP_PADW + 2}:], '') AS top_gram,
           CASE WHEN bs.topkey IS NULL THEN CAST(0 AS BIGINT)
           ELSE {_BP_KEYPAD} - CAST(bs.topkey[1:{_BP_PADW}] AS BIGINT)
           END AS top_df
    FROM bpsd sd
    LEFT JOIN bpgr gr USING (source)
    LEFT JOIN bpbs bs USING (source)
    LEFT JOIN bpaf af USING (source)
    ORDER BY sd.source
""".replace("{toks}", _TOKS_EXPR)


# Friedman formulas — shared TEXT so both engines round the same IEEE
# doubles. sr2 = sum over treatments of (doubled rank-sum)^2, so the
# 12/(n k (k+1)) classic coefficient becomes 3/(n k (k+1)) (R = R'/2).
_FRIED_CHI = (
    "(CAST(3 AS DOUBLE) * CAST({sr2} AS DOUBLE))"
    " / (CAST({n} AS DOUBLE) * CAST({k} AS DOUBLE)"
    " * (CAST({k} AS DOUBLE) + 1))"
    " - CAST(3 AS DOUBLE) * CAST({n} AS DOUBLE)"
    " * (CAST({k} AS DOUBLE) + 1)"
)
_FRIED_CORR = (
    "CASE WHEN {tie} = 0 THEN ({chi}) ELSE ({chi})"
    " / (CAST(1 AS DOUBLE) - CAST({tie} AS DOUBLE)"
    " / (CAST({n} AS DOUBLE) * CAST({k} AS DOUBLE)"
    " * (CAST({k} AS DOUBLE) * CAST({k} AS DOUBLE) - 1))) END"
)
_FRIED_W = (
    "({chi}) / (CAST({n} AS DOUBLE) * (CAST({k} AS DOUBLE) - 1))"
)


def x8_friedman(spark, sf_dir):
    """Friedman test over day-blocks: do the k event types differ in
    daily revenue when each DAY is its own block? The repeated-
    measures complement of x8_kruskal_wallis — KW pools all days (a
    busy Monday inflates every type), Friedman ranks types WITHIN each
    day so day-level volume shifts cancel; Kendall's W reports the
    effect size (rank concordance across days).

    Exactness: tie-averaged ranks stay integer by DOUBLING (the x8_mwu
    2r+c-1 trick, here 2*before + c_eq + 1 per day-partition); the
    rank-sum squares, block count and tie term are exact BIGINTs
    folded through the shared formula text. Incomplete blocks (days
    missing a type) are dropped against the MAX per-day treatment
    count, so no global-scalar join is needed.

    Scale shape: the corpus collapses to the bounded (type x day)
    daily frame in one map-side-combined aggregate (shared
    _daily_cv); every window below runs PARTITIONED BY DAY over that
    bounded frame except the max-treatment-count pick (histogram-sized
    — the documented bounded single-partition class); the one-row
    attribution flags (row_number = 1) fold day count and tie term
    into the same per-type aggregation chain — no joins, no
    crossJoins (the x8_kruskal_wallis packing discipline)."""
    dv = _daily_cv(spark, sf_dir).select("event_type", "day", "v")
    w_day = Window.partitionBy("day")
    cnts = dv.withColumn("k_day", F.count(F.lit(1)).over(w_day))
    maxk = cnts.withColumn(
        "k", F.max("k_day").over(Window.partitionBy())
    )
    kept = maxk.where(F.col("k_day") == F.col("k")).localCheckpoint(
        eager=False
    )  # bounded: complete (type x day) blocks only
    w_eq = Window.partitionBy("day", "v")
    w_rng = (
        Window.partitionBy("day")
        .orderBy("v")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_rn = Window.partitionBy("day", "v").orderBy("event_type")
    w_first = Window.partitionBy("day").orderBy("v", "event_type")
    ranked = kept.select(
        "event_type",
        "day",
        "k",
        (
            F.lit(2) * F.coalesce(F.count(F.lit(1)).over(w_rng), F.lit(0))
            + F.count(F.lit(1)).over(w_eq)
            + F.lit(1)
        ).cast("bigint").alias("d2"),
        F.count(F.lit(1)).over(w_eq).cast("bigint").alias("c_eq"),
        F.row_number().over(w_rn).alias("rn_eq"),
        F.row_number().over(w_first).alias("rn_day"),
    )
    rg = ranked.groupBy("event_type").agg(
        F.sum("d2").cast("bigint").alias("r2s"),
        F.sum(F.expr("CASE WHEN rn_day = 1 THEN 1 ELSE 0 END"))
        .cast("bigint").alias("n_g"),
        F.sum(
            F.expr(
                "CASE WHEN rn_eq = 1 THEN c_eq * c_eq * c_eq - c_eq"
                " ELSE 0 END"
            )
        ).cast("bigint").alias("tie_g"),
        F.max("k").cast("bigint").alias("k"),
    )
    packed = rg.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(event_type, r2s))),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x.r2s * x.r2s)"
        ).alias("sr2"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("tie_g").cast("bigint").alias("tie"),
        F.max("k").cast("bigint").alias("k"),
    )
    chi = _FRIED_CHI.format(sr2="sr2", n="n", k="k")
    return packed.selectExpr(
        "n AS n_days",
        "k",
        "tie",
        "k - 1 AS dof",
        f"round({chi}, 6) AS chi2",
        f"round({_FRIED_CORR.format(chi=chi, n='n', k='k', tie='tie')}, 6)"
        " AS chi2_corrected",
        f"round({_FRIED_W.format(chi=chi, n='n', k='k')}, 6) AS kendalls_w",
    )


EXTENDED_QUERIES["x8_friedman"] = x8_friedman


def _friedman_oracle_sql() -> str:
    chi = _FRIED_CHI.format(sr2="sr2", n="n", k="k")
    return f"""
    WITH frd AS (SELECT event_type, day, v FROM {_DAILY_CV_SQL} dcv),
    frc AS (SELECT *, CAST(count(*) OVER (PARTITION BY day) AS BIGINT)
                        AS k_day
            FROM frd),
    frk AS (SELECT *, CAST(max(k_day) OVER () AS BIGINT) AS k FROM frc),
    fr0 AS (SELECT event_type, day, v, k FROM frk WHERE k_day = k),
    frr AS (
      SELECT event_type, day, k,
             CAST(2 * coalesce(count(*) OVER (PARTITION BY day ORDER BY v
                     RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + count(*) OVER (PARTITION BY day, v) + 1 AS BIGINT) AS d2,
             CAST(count(*) OVER (PARTITION BY day, v) AS BIGINT) AS c_eq,
             CAST(row_number() OVER (PARTITION BY day, v
                                     ORDER BY event_type) AS INT) AS rn_eq,
             CAST(row_number() OVER (PARTITION BY day
                                     ORDER BY v, event_type) AS INT) AS rn_day
      FROM fr0
    ),
    frg AS (
      SELECT event_type, CAST(sum(d2) AS BIGINT) AS r2s,
             CAST(sum(CASE WHEN rn_day = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_g,
             CAST(sum(CASE WHEN rn_eq = 1 THEN c_eq * c_eq * c_eq - c_eq
                      ELSE 0 END) AS BIGINT) AS tie_g,
             CAST(max(k) AS BIGINT) AS k
      FROM frr GROUP BY 1
    ),
    frp AS (
      SELECT CAST(list_sum(list(r2s * r2s ORDER BY event_type)) AS BIGINT)
               AS sr2,
             CAST(sum(n_g) AS BIGINT) AS n,
             CAST(sum(tie_g) AS BIGINT) AS tie,
             CAST(max(k) AS BIGINT) AS k
      FROM frg
    )
    SELECT n AS n_days, k, tie, k - 1 AS dof,
           round({chi}, 6) AS chi2,
           round({_FRIED_CORR.format(chi=chi, n="n", k="k", tie="tie")}, 6)
             AS chi2_corrected,
           round({_FRIED_W.format(chi=chi, n="n", k="k")}, 6) AS kendalls_w
    FROM frp
"""


EXTENDED_ORACLES["x8_friedman"] = _friedman_oracle_sql()


# Chapman / Lincoln-Petersen capture-recapture — shared formula text.
_CRC_LP = (
    "CASE WHEN {r} = 0 THEN CAST(0 AS DOUBLE)"
    " ELSE CAST({m} AS DOUBLE) * CAST({c} AS DOUBLE)"
    " / CAST({r} AS DOUBLE) END"
)
_CRC_CHAP = (
    "(CAST({m} + 1 AS DOUBLE) * CAST({c} + 1 AS DOUBLE)"
    " / CAST({r} + 1 AS DOUBLE)) - 1"
)
_CRC_SE = (
    "sqrt((CAST({m} + 1 AS DOUBLE) * CAST({c} + 1 AS DOUBLE)"
    " * CAST({m} - {r} AS DOUBLE) * CAST({c} - {r} AS DOUBLE))"
    " / (CAST({r} + 1 AS DOUBLE) * CAST({r} + 1 AS DOUBLE)"
    " * CAST({r} + 2 AS DOUBLE)))"
)


def x8_capture_recapture(spark, sf_dir):
    """Chapman capture-recapture estimate of the distinct-user
    population from two temporal capture windows (first vs second half
    of the event calendar) — the mark-recapture arithmetic a pipeline
    uses to estimate what it CANNOT enumerate (true dedup cluster
    count, total distinct entities behind a sampled crawl) from two
    overlapping samples. Here the truth IS observable, so the report
    carries the estimator's error against it — the same honest-
    instrument pattern as x3_ann_recall (validate the estimator where
    you can afford exhaustive truth, deploy it where you can't).

    Exactness: capture counts M, C, R and the true population are
    exact BIGINTs off the per-user day-range histogram; Chapman,
    Lincoln-Petersen, the Chapman SE and the 1.96-sigma CI come from
    the shared formula text (sqrt IS correctly rounded under IEEE —
    the x10_epoch_plan pow() lesson).

    Scale shape: ONE corpus aggregate collapses events to per-user
    (first day, last day) with map-side combine; users collapse to the
    bounded (d0 x d1) day-range histogram, which packs into a single
    array row — the calendar midpoint and all four counts come from
    higher-order functions over it (the x8_chisq_independence
    discipline: zero joins, zero windows, no scalar crossJoin)."""
    ev = load_table(spark, sf_dir, "events")
    u = (
        ev.where("user_id IS NOT NULL")
        .selectExpr(
            "user_id",
            f"unix_micros(cast(ts as timestamp)) div {_DAY_DIV} AS day",
        )
        .groupBy("user_id")
        .agg(
            F.expr("min(day)").alias("d0"),
            F.expr("max(day)").alias("d1"),
        )
    )
    hist = u.groupBy("d0", "d1").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    one = hist.agg(
        F.expr("array_sort(collect_list(struct(d0, d1, cnt)))").alias("cl")
    ).localCheckpoint(eager=False)  # one array row: the packed histogram
    base = one.selectExpr(
        "cl",
        "(array_min(transform(cl, x -> x.d0))"
        " + array_max(transform(cl, x -> x.d1))) div 2 AS mid",
    )
    counts = base.selectExpr(
        "aggregate(cl, CAST(0 AS BIGINT), (a, x) -> a + x.cnt) AS n_users",
        "aggregate(filter(cl, x -> x.d0 <= mid), CAST(0 AS BIGINT),"
        " (a, y) -> a + y.cnt) AS m",
        "aggregate(filter(cl, x -> x.d1 > mid), CAST(0 AS BIGINT),"
        " (a, z) -> a + z.cnt) AS c",
        "aggregate(filter(cl, x -> x.d0 <= mid AND x.d1 > mid),"
        " CAST(0 AS BIGINT), (a, w) -> a + w.cnt) AS r",
    )
    chap = _CRC_CHAP.format(m="m", c="c", r="r")
    return counts.selectExpr(
        "n_users",
        "m",
        "c",
        "r",
        f"round({chap}, 6) AS chapman",
        f"round({_CRC_LP.format(m='m', c='c', r='r')}, 6) AS lincoln",
        f"round({_CRC_SE.format(m='m', c='c', r='r')}, 6) AS se",
        f"round(({chap}) - CAST(1.96 AS DOUBLE)"
        f" * {_CRC_SE.format(m='m', c='c', r='r')}, 6) AS ci_low",
        f"round(({chap}) + CAST(1.96 AS DOUBLE)"
        f" * {_CRC_SE.format(m='m', c='c', r='r')}, 6) AS ci_high",
        f"round(({chap}) - CAST(n_users AS DOUBLE), 6) AS err",
    )


EXTENDED_QUERIES["x8_capture_recapture"] = x8_capture_recapture


def _crc_oracle_sql() -> str:
    chap = _CRC_CHAP.format(m="m", c="c", r="r")
    se = _CRC_SE.format(m="m", c="c", r="r")
    return f"""
    WITH cru AS (
      SELECT user_id,
             min(CAST(epoch_us(CAST(ts AS TIMESTAMP)) // {_DAY_DIV}
                 AS BIGINT)) AS d0,
             max(CAST(epoch_us(CAST(ts AS TIMESTAMP)) // {_DAY_DIV}
                 AS BIGINT)) AS d1
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    ),
    crm AS (SELECT (min(d0) + max(d1)) // 2 AS mid FROM cru),
    crc AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(CASE WHEN d0 <= mid THEN 1 ELSE 0 END) AS BIGINT) AS m,
             CAST(sum(CASE WHEN d1 > mid THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(sum(CASE WHEN d0 <= mid AND d1 > mid THEN 1 ELSE 0 END)
                  AS BIGINT) AS r
      FROM cru, crm
    )
    SELECT n_users, m, c, r,
           round({chap}, 6) AS chapman,
           round({_CRC_LP.format(m='m', c='c', r='r')}, 6) AS lincoln,
           round({se}, 6) AS se,
           round(({chap}) - CAST(1.96 AS DOUBLE) * {se}, 6) AS ci_low,
           round(({chap}) + CAST(1.96 AS DOUBLE) * {se}, 6) AS ci_high,
           round(({chap}) - CAST(n_users AS DOUBLE), 6) AS err
    FROM crc
"""


EXTENDED_ORACLES["x8_capture_recapture"] = _crc_oracle_sql()


KATZ_ITER = 4
KATZ_ALPHA_DEN = 1024  # alpha = 1/1024 > 1/dmax at every tested sf


def x11_katz(spark, sf_dir):
    """Katz centrality (operators/clustering.py:katz_centrality) over
    the symmetrized part↔supplier supply graph — the walk-counting
    influence score that completes the centrality family: PageRank
    (degree-normalized flow), HITS (mutual reinforcement), closeness
    (distance), HyperBall (neighborhood mass), Katz (damped walk
    counts — a node touching one hub ranks high even with one edge,
    which PageRank's out-degree split suppresses). Pure integer
    arithmetic, alpha = 1/KATZ_ALPHA_DEN (convergent: alpha*dmax < 1
    on this graph at every sf); the oracle unrolls the same KATZ_ITER
    rounds as chained CTEs. Top PR_TOP nodes by score."""
    from diepy_spark.operators.clustering import katz_centrality

    sym = _supply_sym(spark, sf_dir)
    scores = katz_centrality(
        sym, iterations=KATZ_ITER, scale=PR_SCALE,
        alpha_den=KATZ_ALPHA_DEN, assume_distinct=True,
    )
    return scores.orderBy(F.col("x").desc(), "node").limit(PR_TOP)


EXTENDED_QUERIES["x11_katz"] = x11_katz


def _katz_oracle_sql() -> str:
    """Unrolled mirror of operators.clustering.katz_centrality over the
    supply graph — same integer floor divisions, one CTE per round;
    kz_ prefix keeps the chain collision-free."""
    ctes = [
        """kz0 AS (SELECT DISTINCT l_partkey * 10 + 1 AS u,
                          l_suppkey * 10 + 2 AS v FROM lineitem)""",
        "kze AS (SELECT u, v FROM kz0 UNION SELECT v AS u, u AS v FROM kz0)",
        "kzn AS (SELECT DISTINCT u AS node FROM"
        " (SELECT u FROM kze UNION SELECT v FROM kze))",
        f"kzx0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) AS x FROM kzn)",
    ]
    for i in range(KATZ_ITER):
        ctes.append(f"""kzx{i + 1} AS (
          SELECT n.node,
                 CAST({PR_SCALE} + (1 * coalesce(i.inflow, 0))
                      // {KATZ_ALPHA_DEN} AS BIGINT) AS x
          FROM kzn n LEFT JOIN (
            SELECT kze.v AS node, SUM(p.x) AS inflow
            FROM kze JOIN kzx{i} p ON p.node = kze.u
            GROUP BY kze.v
          ) i ON i.node = n.node)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, x FROM kzx{KATZ_ITER}"
        f" ORDER BY x DESC, node LIMIT {PR_TOP}"
    )


EXTENDED_ORACLES["x11_katz"] = _katz_oracle_sql()


# Per-token JSD contribution — shared TEXT. p = in-source unigram prob,
# q = rest-of-corpus prob, m = (p+q)/2; absent-token mass is folded in
# analytically as ln(2)*(1 - sum_present q), so no (source x vocab)
# grid is ever built.
_JSD_P = "(CAST({a} AS DOUBLE) / CAST({na} AS DOUBLE))"
_JSD_Q = "(CAST({g} - {a} AS DOUBLE) / CAST({ng} - {na} AS DOUBLE))"
_JSD_TERM = (
    "CAST(round("
    f"{_JSD_P} * ln({_JSD_P} / (({_JSD_P} + {_JSD_Q}) / 2))"
    f" + CASE WHEN {{g}} > {{a}} THEN"
    f" {_JSD_Q} * ln({_JSD_Q} / (({_JSD_P} + {_JSD_Q}) / 2))"
    " ELSE CAST(0 AS DOUBLE) END"
    ", 9) AS DECIMAL(18,9))"
)
_JSD_QDEC = f"CAST(round({_JSD_Q}, 9) AS DECIMAL(18,9))"


def x5_source_divergence(spark, sf_dir):
    """Jensen–Shannon divergence of each SOURCE's unigram distribution
    against the REST of the corpus — the domain-mix drift instrument a
    training pipeline runs before reweighting (x5_domain_mix says how
    much of each source is present; this says how DIFFERENT each
    source's language is — the two inputs to DoReMi-style mixture
    tuning). jsd_norm = JSD/ln2 in [0,1] for cross-source comparison.

    Exactness: p, q are single divisions of exact BIGINT counts; each
    token's contribution (and its q mass) is rounded to 9 decimals and
    summed as DECIMAL(18,9) — exact, order-independent (the
    x11_hyperball idiom); tokens ABSENT from a source contribute
    analytically as ln(2)*(1 - sum_present q), so the term frame is
    only the tokens a source actually HAS (never |sources| x |vocab|).

    Scale shape: ONE tokenize+explode pass collapses to the
    (source, token) count frame (map-side combine, checkpointed); the
    corpus-wide token dimension aggregates FROM that frame (never
    re-tokenizes); source totals are a bounded broadcast and the
    global total rides them via a window over the |sources|-row frame."""
    d = _docs(spark, sf_dir)
    tokc = (
        d.select("source", F.explode(F.expr(D.tokens_expr("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("a"))
        .localCheckpoint(eager=False)
    )
    na_f = (
        tokc.groupBy("source")
        .agg(F.sum("a").cast("bigint").alias("na"))
        .withColumn(
            "ng", F.sum("na").over(Window.partitionBy()).cast("bigint")
        )
        .localCheckpoint(eager=False)  # bounded: one row per source
    )
    g_f = tokc.groupBy("tok").agg(F.sum("a").cast("bigint").alias("g"))
    terms = tokc.join(g_f, "tok").join(F.broadcast(na_f), "source")
    t = _JSD_TERM.format(a="a", g="g", na="na", ng="ng")
    qd = _JSD_QDEC.format(a="a", g="g", na="na", ng="ng")
    agg = terms.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.max("na").alias("n_tokens"),
        F.expr(f"sum({t})").alias("s1"),
        F.expr(f"sum({qd})").alias("qp"),
    )
    jsd = (
        "(CAST(s1 AS DOUBLE)"
        " + ln(CAST(2 AS DOUBLE)) * (1 - CAST(qp AS DOUBLE))) / 2"
    )
    return agg.selectExpr(
        "source",
        "n_tokens",
        "vocab",
        f"round({jsd}, 6) AS jsd",
        f"round(({jsd}) / ln(CAST(2 AS DOUBLE)), 6) AS jsd_norm",
    ).orderBy("source")


EXTENDED_QUERIES["x5_source_divergence"] = x5_source_divergence


def _jsd_oracle_sql() -> str:
    t = _JSD_TERM.format(a="a", g="g", na="na", ng="ng")
    qd = _JSD_QDEC.format(a="a", g="g", na="na", ng="ng")
    jsd = (
        "(CAST(s1 AS DOUBLE)"
        " + ln(CAST(2 AS DOUBLE)) * (1 - CAST(qp AS DOUBLE))) / 2"
    )
    return f"""
    WITH jsc AS (
      SELECT source, t.tok, CAST(count(*) AS BIGINT) AS a
      FROM documents, LATERAL (SELECT unnest({_TOKS_EXPR}) AS tok) t
      GROUP BY 1, 2
    ),
    jsn AS (SELECT source, CAST(sum(a) AS BIGINT) AS na FROM jsc GROUP BY 1),
    jsng AS (SELECT source, na, CAST(sum(na) OVER () AS BIGINT) AS ng
             FROM jsn),
    jsg AS (SELECT tok, CAST(sum(a) AS BIGINT) AS g FROM jsc GROUP BY 1),
    jst AS (
      SELECT c.source, c.a, g.g, n.na, n.ng
      FROM jsc c JOIN jsg g USING (tok) JOIN jsng n USING (source)
    ),
    jsa AS (
      SELECT source, CAST(count(*) AS BIGINT) AS vocab,
             CAST(max(na) AS BIGINT) AS n_tokens,
             sum({t}) AS s1, sum({qd}) AS qp
      FROM jst GROUP BY 1
    )
    SELECT source, n_tokens, vocab,
           round({jsd}, 6) AS jsd,
           round(({jsd}) / ln(CAST(2 AS DOUBLE)), 6) AS jsd_norm
    FROM jsa ORDER BY source
"""


EXTENDED_ORACLES["x5_source_divergence"] = _jsd_oracle_sql()


MMR_POOL = 10  # relevance pool per query fed to the greedy re-rank
MMR_K = 5  # diversified results returned per query
MMR_LAM_NUM = 7  # lambda = 0.7, scaled x10: score = 7*rel - 3*maxsim
MMR_COMP = 3


def x3_mmr(spark, sf_dir):
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) — the diversity stage of a retrieval pipeline: from each
    query's top-MMR_POOL relevance pool, greedily select MMR_K items
    maximizing lambda*rel(c) - (1-lambda)*max_{s in S} sim(c, s), so
    near-duplicate hits don't crowd the result list (the RAG-context
    assembly step plain top-k can't express).

    Exactness: relevance and pairwise similarity are exact integer
    dot products on the quantized grid (the x3_mips contract), and
    lambda = 0.7 enters x10-scaled as 7*rel - 3*maxsim — the greedy
    argmax compares only BIGINTs (ties break on cid), so selection is
    bit-identical cross-engine; the oracle unrolls the same MMR_K
    greedy rounds as chained CTEs.

    Scale shape: queries broadcast, ONE corpus pass scores relevance
    (no shuffle of the corpus side); everything after the per-query
    top-MMR_POOL window runs on BOUNDED frames (pool, its pairwise sim
    matrix, the k unrolled argmax rounds — each a qid-partitioned
    window over <= queries x pool rows, checkpointed per round)."""
    from diepy_spark.operators.clustering import quantize_vectors

    v = _vecs(spark, sf_dir)
    q = quantize_vectors(
        v.where(F.col("vec_id") < TOPK_QUERY_MAX), "vec_id", "embedding",
        KM_SCALE,
    ).select(F.col("vec_id").alias("qid"), F.col("xi").alias("qxi"))
    c = quantize_vectors(
        v.where(F.col("vec_id") >= TOPK_QUERY_MAX), "vec_id", "embedding",
        KM_SCALE,
    ).select(F.col("vec_id").alias("cid"), F.col("xi").alias("cxi"))
    rel = F.expr(
        "aggregate(zip_with(qxi, cxi, (a, b) -> a * b),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    w_pool = Window.partitionBy("qid").orderBy(F.col("rel").desc(), "cid")
    pool = (
        c.join(F.broadcast(q))
        .withColumn("rel", rel)
        .withColumn("prk", F.row_number().over(w_pool))
        .where(F.col("prk") <= MMR_POOL)
        .select("qid", "cid", "rel", "cxi")
        .localCheckpoint(eager=False)  # bounded: queries x pool
    )
    pa = pool.select(
        "qid", F.col("cid").alias("ca"), F.col("cxi").alias("xa")
    )
    pb = pool.select(
        "qid", F.col("cid").alias("cb"), F.col("cxi").alias("xb")
    )
    simm = (
        pa.join(pb, "qid")
        .where(F.col("ca") != F.col("cb"))
        .select(
            "qid", "ca", "cb",
            F.expr(
                "aggregate(zip_with(xa, xb, (a, b) -> a * b),"
                " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
            ).alias("sim"),
        )
        .localCheckpoint(eager=False)  # bounded: queries x pool^2
    )
    poolr = pool.select("qid", "cid", "rel")
    w_pick = Window.partitionBy("qid").orderBy(F.col("score").desc(), "cid")
    sel = (
        poolr.withColumn("maxsim", F.lit(0).cast("bigint"))
        .withColumn("score", F.expr(f"CAST({MMR_LAM_NUM} * rel AS BIGINT)"))
        .withColumn("rk", F.row_number().over(w_pick))
        .where(F.col("rk") == 1)
        .select(
            "qid", "cid", "rel", "maxsim", "score",
            F.lit(1).cast("int").alias("pick"),
        )
    )
    for i in range(2, MMR_K + 1):
        picked = sel.select("qid", "cid")
        cands = poolr.join(picked, ["qid", "cid"], "left_anti")
        ms = (
            simm.join(
                picked.select("qid", F.col("cid").alias("cb")), ["qid", "cb"]
            )
            .groupBy("qid", F.col("ca").alias("cid"))
            .agg(F.max("sim").alias("maxsim"))
        )
        pick = (
            cands.join(ms, ["qid", "cid"], "left")
            .withColumn(
                "maxsim", F.coalesce(F.col("maxsim"), F.lit(0)).cast("bigint")
            )
            .withColumn(
                "score",
                F.expr(
                    f"CAST({MMR_LAM_NUM} * rel - {MMR_COMP} * maxsim"
                    " AS BIGINT)"
                ),
            )
            .withColumn("rk", F.row_number().over(w_pick))
            .where(F.col("rk") == 1)
            .select(
                "qid", "cid", "rel", "maxsim", "score",
                F.lit(i).cast("int").alias("pick"),
            )
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=False)
    return sel.orderBy("qid", "pick")


EXTENDED_QUERIES["x3_mmr"] = x3_mmr


def _mmr_oracle_sql() -> str:
    """Unrolled mirror of x3_mmr: same integer dots, same 7*rel -
    3*maxsim greedy, one CTE pair per selection round."""
    ctes = [
        f"""mmru AS (
      SELECT vec_id,
             CAST(round(CAST(x AS DOUBLE) * {KM_SCALE}) AS BIGINT) AS x, i
      FROM (SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings))""",
        f"""mmrs AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             CAST(SUM(q.x * c.x) AS BIGINT) AS rel
      FROM mmru q JOIN mmru c ON c.i = q.i
      WHERE q.vec_id < {TOPK_QUERY_MAX} AND c.vec_id >= {TOPK_QUERY_MAX}
      GROUP BY 1, 2)""",
        f"""mmrp AS (
      SELECT qid, cid, rel FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY rel DESC, cid) AS prk FROM mmrs)
      WHERE prk <= {MMR_POOL})""",
        """mmrm AS (
      SELECT p1.qid, p1.cid AS ca, p2.cid AS cb,
             CAST(SUM(a.x * b.x) AS BIGINT) AS sim
      FROM mmrp p1 JOIN mmrp p2 ON p2.qid = p1.qid AND p2.cid <> p1.cid
      JOIN mmru a ON a.vec_id = p1.cid
      JOIN mmru b ON b.vec_id = p2.cid AND b.i = a.i
      GROUP BY 1, 2, 3)""",
        f"""msel1 AS (
      SELECT qid, cid, rel, CAST(0 AS BIGINT) AS maxsim,
             CAST({MMR_LAM_NUM} * rel AS BIGINT) AS score, 1 AS pick
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY {MMR_LAM_NUM} * rel DESC, cid) AS rk FROM mmrp)
      WHERE rk = 1)""",
    ]
    prev_union = "SELECT qid, cid FROM msel1"
    for i in range(2, MMR_K + 1):
        ctes.append(f"""msel{i} AS (
      SELECT qid, cid, rel, maxsim,
             CAST({MMR_LAM_NUM} * rel - {MMR_COMP} * maxsim AS BIGINT)
               AS score, {i} AS pick
      FROM (
        SELECT p.qid, p.cid, p.rel,
               coalesce(ms.maxsim, 0) AS maxsim,
               ROW_NUMBER() OVER (PARTITION BY p.qid
                 ORDER BY {MMR_LAM_NUM} * p.rel
                          - {MMR_COMP} * coalesce(ms.maxsim, 0) DESC,
                          p.cid) AS rk
        FROM mmrp p
        LEFT JOIN (
          SELECT m.qid, m.ca AS cid, CAST(max(m.sim) AS BIGINT) AS maxsim
          FROM mmrm m JOIN ({prev_union}) s
            ON s.qid = m.qid AND s.cid = m.cb
          GROUP BY 1, 2) ms
          ON ms.qid = p.qid AND ms.cid = p.cid
        WHERE NOT EXISTS (SELECT 1 FROM ({prev_union}) s2
                          WHERE s2.qid = p.qid AND s2.cid = p.cid))
      WHERE rk = 1)""")
        prev_union += f" UNION ALL SELECT qid, cid FROM msel{i}"
    sel_union = " UNION ALL ".join(
        f"SELECT qid, cid, rel, maxsim, score, pick FROM msel{i}"
        for i in range(1, MMR_K + 1)
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT qid, cid, rel, maxsim, score, CAST(pick AS INT) AS pick"
        f" FROM ({sel_union}) ORDER BY qid, pick"
    )


EXTENDED_ORACLES["x3_mmr"] = _mmr_oracle_sql()


CUR_TIERS = 4  # quality tiers / curriculum phases


def x10_curriculum(spark, sf_dir):
    """Quality-curriculum schedule: bucket the corpus into CUR_TIERS
    quality tiers (the x5_quality_score composite) and emit the
    cumulative phase plan a curriculum-learning run follows — phase 1
    trains on the top tier only, each later phase ADDS the next tier
    down (clean-first ordering; the complement of x10_epoch_plan's
    repetition budgeting: epoch_plan says how often to repeat each
    source, this says WHEN each quality band enters training).

    Exactness: the composite score is the shared bit-stable double
    (ratios of exact integers — the quality_exprs contract), so
    floor(score * CUR_TIERS) buckets identically cross-engine; docs
    and token counts are exact BIGINTs; the only rounding is the
    rendered cumulative fraction.

    Scale shape: ONE corpus pass (no shuffle before the tier
    aggregate, which map-side combines into CUR_TIERS rows); the
    cumulative windows run over that tier-bounded frame (the
    documented bounded single-partition class)."""
    d = _docs(spark, sf_dir)
    qs = T.quality_score(d).select("doc_id", "n_tokens", "score")
    tiers = (
        qs.selectExpr(
            f"least(CAST(floor(score * {CUR_TIERS}) AS INT),"
            f" {CUR_TIERS - 1}) AS tier",
            "n_tokens",
        )
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs"),
            F.sum("n_tokens").cast("bigint").alias("tokens"),
        )
    )
    w_cum = Window.orderBy(F.col("tier").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    return (
        tiers.withColumn("cum_docs", F.sum("docs").over(w_cum).cast("bigint"))
        .withColumn("cum_tokens", F.sum("tokens").over(w_cum).cast("bigint"))
        .withColumn("total_tokens", F.sum("tokens").over(w_all).cast("bigint"))
        .selectExpr(
            f"{CUR_TIERS} - tier AS phase",
            "tier",
            "docs",
            "tokens",
            "cum_docs",
            "cum_tokens",
            "round(CAST(cum_tokens AS DOUBLE)"
            " / CAST(total_tokens AS DOUBLE), 6) AS cum_frac",
        )
        .orderBy("phase")
    )


EXTENDED_QUERIES["x10_curriculum"] = x10_curriculum

EXTENDED_ORACLES["x10_curriculum"] = f"""
    WITH curq AS (
      SELECT doc_id,
             CAST(len({_TOKS_EXPR}) AS INT) AS n_tokens,
             CAST(len(list_distinct({_TOKS_EXPR})) AS INT) AS n_distinct,
             CAST(coalesce(list_sum(list_transform({_TOKS_EXPR},
                  t -> CASE WHEN t IN ({_QUALITY_EN}) THEN 1 ELSE 0 END)),
                  0) AS INT) AS n_stop,
             CAST(coalesce(list_sum(list_transform({_TOKS_EXPR},
                  t -> length(t))), 0) AS INT) AS sum_len,
             length(text) AS n_chars
      FROM documents
    ),
    curs AS (
      SELECT n_tokens,
             0.3 * least(n_chars / 500.0, 1.0)
               + 0.3 * (n_distinct / n_tokens)
               + 0.2 * least((n_stop / n_tokens) * 5, 1.0)
               + 0.2 * least((sum_len / n_tokens) / 8, 1.0) AS score
      FROM curq WHERE n_tokens > 0
    ),
    curt AS (
      SELECT least(CAST(floor(score * {CUR_TIERS}) AS INT),
                   {CUR_TIERS - 1}) AS tier,
             CAST(count(*) AS BIGINT) AS docs,
             CAST(sum(n_tokens) AS BIGINT) AS tokens
      FROM curs GROUP BY 1
    ),
    curc AS (
      SELECT tier, docs, tokens,
             CAST(sum(docs) OVER (ORDER BY tier DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_docs,
             CAST(sum(tokens) OVER (ORDER BY tier DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_tokens,
             CAST(sum(tokens) OVER () AS BIGINT) AS total_tokens
      FROM curt
    )
    SELECT {CUR_TIERS} - tier AS phase, tier, docs, tokens,
           cum_docs, cum_tokens,
           round(CAST(cum_tokens AS DOUBLE)
                 / CAST(total_tokens AS DOUBLE), 6) AS cum_frac
    FROM curc ORDER BY phase
"""


# Brown–Forsythe shared texts. The sum-of-squares terms s_g^2/n_g are
# decomposed EXACTLY as integer quotient + remainder (s^2 = n*q + r),
# so the big parts stay BIGINT and only the sub-1.0 fractional
# remainders ever touch floats (ordered fold over the k-row frame).
# SSB/SSW are then rendered as RAW doubles — identical op sequences
# over identical exact inputs in both engines, with NO rounding and
# therefore no .xxxx5 round-boundary risk (which bit this query twice:
# sf0.001 on the render round, sf0.1 on a per-term round).
# {d} = the engine's integer-division operator ('div' Spark, '//' DuckDB).
_LEV_SSB = (
    "(CAST(sq - (s_tot * s_tot) {d} n_rows AS DOUBLE)"
    " + (fr - CAST((s_tot * s_tot) % n_rows AS DOUBLE)"
    " / CAST(n_rows AS DOUBLE)))"
)
_LEV_SSW = "(CAST(q_tot - sq AS DOUBLE) - fr)"
_LEV_F = (
    f"({_LEV_SSB} / (CAST(k_groups AS DOUBLE) - 1))"
    f" / ({_LEV_SSW}"
    " / (CAST(n_rows AS DOUBLE) - CAST(k_groups AS DOUBLE)))"
)


def x8_levene(spark, sf_dir):
    """Brown–Forsythe test (Levene's test with group MEDIANS): do the
    event types have equal variance in `value`? The assumption check
    behind x8_anova — ANOVA's F assumes homoscedasticity; this IS the
    ANOVA machinery re-run on absolute deviations z = |x - median_g|,
    robust to non-normality because the center is the median (Brown &
    Forsythe 1974).

    Exactness: group medians come from the value-frequency histogram
    with INTEGER rank tests and stay integer by DOUBLING (z2 =
    |2*cents - med2| — the r28b/x8_mwu discipline), so per-group sums
    and squared sums are exact BIGINT/DECIMAL(38,0). Unlike x8_anova's
    rounded raw-double fold, the s_g^2/n_g terms decompose EXACTLY as
    integer quotient + remainder, so the big parts never leave BIGINT
    and only sub-1.0 remainder fractions touch floats; ss_between /
    ss_within render as RAW doubles with NO rounding — two drafts of
    this query landed rounded values on .xxxx5 boundaries (where Spark
    rounds the binary value and DuckDB the decimal rendering, one step
    apart); the round-free decomposition removes the boundary class.

    Scale shape: ONE corpus aggregate collapses events to the bounded
    (type x cents) histogram; median ranks, the deviation frame and
    the ANOVA fold all run on it — the cumulative window partitions BY
    GROUP, the median dimension broadcasts back, no second corpus
    pass."""
    # rollup of the shared session value-frequency artifact (r14)
    hist = (
        _ev_vhist_cached(spark, sf_dir)
        .groupBy(F.col("event_type").alias("grp"), "cents")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)  # bounded: types x cents domain
    )
    w_cum = (
        Window.partitionBy("grp")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("grp")
    ranked = hist.select(
        "grp",
        "cents",
        "cnt",
        F.sum("cnt").over(w_cum).cast("bigint").alias("cum"),
        F.sum("cnt").over(w_all).cast("bigint").alias("n_g"),
    )
    med = ranked.groupBy("grp").agg(
        F.expr(
            "CAST(sum(CASE WHEN cum - cnt + 1 <= (n_g + 1) div 2"
            " AND (n_g + 1) div 2 <= cum THEN cents ELSE 0 END)"
            " + sum(CASE WHEN cum - cnt + 1 <= n_g div 2 + 1"
            " AND n_g div 2 + 1 <= cum THEN cents ELSE 0 END) AS BIGINT)"
        ).alias("med2")
    )
    z = hist.join(F.broadcast(med), "grp").selectExpr(
        "grp", "cnt", "abs(2 * cents - med2) AS z2"
    )
    g = z.groupBy("grp").agg(
        F.expr("CAST(SUM(cnt) AS BIGINT)").alias("n_g"),
        F.expr("CAST(SUM(cnt * z2) AS BIGINT)").alias("s_g"),
        F.expr(
            "CAST(SUM(CAST(cnt AS DECIMAL(38,0)) * z2 * z2)"
            " AS DECIMAL(38,0))"
        ).alias("q_g"),
    )
    base = g.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("k_groups"),
        F.expr("CAST(SUM(n_g) AS BIGINT)").alias("n_rows"),
        F.expr("CAST(SUM(s_g) AS BIGINT)").alias("s_tot"),
        F.expr("CAST(SUM(q_g) AS DECIMAL(38,0))").alias("q_tot"),
        F.expr("CAST(SUM((s_g * s_g) div n_g) AS BIGINT)").alias("sq"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(grp, s_g, n_g))),"
            " CAST(0 AS DOUBLE), (acc, x) -> acc"
            " + CAST((x.s_g * x.s_g) % x.n_g AS DOUBLE)"
            " / CAST(x.n_g AS DOUBLE))"
        ).alias("fr"),
    )
    return base.selectExpr(
        "k_groups",
        "n_rows",
        "s_tot",
        f"{_LEV_SSB.format(d='div')} AS ss_between",
        f"{_LEV_SSW} AS ss_within",
        f"round({_LEV_F.format(d='div')}, 6) AS f_stat",
    )


EXTENDED_QUERIES["x8_levene"] = x8_levene

EXTENDED_ORACLES["x8_levene"] = f"""
    WITH lvh AS (
      SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    lvr AS (
      SELECT grp, cents, cnt,
             CAST(sum(cnt) OVER (PARTITION BY grp ORDER BY cents
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum,
             CAST(sum(cnt) OVER (PARTITION BY grp) AS BIGINT) AS n_g
      FROM lvh
    ),
    lvm AS (
      SELECT grp,
             CAST(sum(CASE WHEN cum - cnt + 1 <= (n_g + 1) // 2
                  AND (n_g + 1) // 2 <= cum THEN cents ELSE 0 END)
                  + sum(CASE WHEN cum - cnt + 1 <= n_g // 2 + 1
                  AND n_g // 2 + 1 <= cum THEN cents ELSE 0 END)
                  AS BIGINT) AS med2
      FROM lvr GROUP BY 1
    ),
    lvz AS (
      SELECT h.grp, h.cnt, abs(2 * h.cents - m.med2) AS z2
      FROM lvh h JOIN lvm m USING (grp)
    ),
    lvg AS (
      SELECT grp, CAST(sum(cnt) AS BIGINT) AS n_g,
             CAST(sum(cnt * z2) AS BIGINT) AS s_g,
             CAST(sum(CAST(cnt AS DECIMAL(38,0)) * z2 * z2)
                  AS DECIMAL(38,0)) AS q_g
      FROM lvz GROUP BY 1
    ),
    lva AS (
      SELECT CAST(count(*) AS BIGINT) AS k_groups,
             CAST(sum(n_g) AS BIGINT) AS n_rows,
             CAST(sum(s_g) AS BIGINT) AS s_tot,
             CAST(sum(q_g) AS DECIMAL(38,0)) AS q_tot,
             CAST(sum((s_g * s_g) // n_g) AS BIGINT) AS sq,
             list_sum(list(
               CAST((s_g * s_g) % n_g AS DOUBLE) / CAST(n_g AS DOUBLE)
               ORDER BY grp)) AS fr
      FROM lvg
    )
    SELECT k_groups, n_rows, s_tot,
           {_LEV_SSB.format(d="//")} AS ss_between,
           {_LEV_SSW} AS ss_within,
           round({_LEV_F.format(d="//")}, 6) AS f_stat
    FROM lva
"""


_WEEK_DIV = _DAY_DIV * 7  # microseconds per 7-day bucket


def x8_cohort_retention(spark, sf_dir):
    """Cohort retention triangle — THE product-analytics table: users
    bucketed by first-activity week (cohort), each later week of
    activity counted at its age offset; retention = share of the
    cohort still active at age a. The longitudinal complement of
    x8_survival_km (KM: time to ONE terminal event with censoring;
    this: repeated-activity decay, every cohort its own row).

    Exactness: pure integer counts off the distinct (user, week)
    activity frame; retention is one division of exact BIGINTs,
    rounded for rendering.

    Scale shape: one corpus aggregate to per-user first-week (map-side
    combine), one to the distinct activity frame; both meet on the
    user key (same-key shuffle). The triangle itself is bounded
    (weeks x weeks), and the cohort-size denominator rides a window
    PARTITIONED BY COHORT over it — no single-partition funnel."""
    ev = load_table(spark, sf_dir, "events")
    uw = (
        ev.where("user_id IS NOT NULL")
        .selectExpr(
            "user_id",
            f"unix_micros(cast(ts as timestamp)) div {_WEEK_DIV} AS week",
        )
        .distinct()
    )
    first = uw.groupBy("user_id").agg(F.expr("min(week)").alias("cohort_w"))
    tri = (
        uw.join(first, "user_id")
        .selectExpr("cohort_w", "week - cohort_w AS age")
        .groupBy("cohort_w", "age")
        .agg(F.count(F.lit(1)).cast("bigint").alias("users"))
    )
    w_c = Window.partitionBy("cohort_w")
    return (
        tri.withColumn(
            "cohort_size",
            F.sum(F.expr("CASE WHEN age = 0 THEN users ELSE 0 END"))
            .over(w_c)
            .cast("bigint"),
        )
        .selectExpr(
            "cohort_w",
            "age",
            "users",
            "cohort_size",
            "round(CAST(users AS DOUBLE) / CAST(cohort_size AS DOUBLE), 6)"
            " AS retention",
        )
        .orderBy("cohort_w", "age")
    )


EXTENDED_QUERIES["x8_cohort_retention"] = x8_cohort_retention

EXTENDED_ORACLES["x8_cohort_retention"] = f"""
    WITH cruw AS (
      SELECT DISTINCT user_id,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) // {_WEEK_DIV} AS BIGINT)
               AS week
      FROM events WHERE user_id IS NOT NULL
    ),
    crfw AS (SELECT user_id, min(week) AS cohort_w FROM cruw GROUP BY 1),
    crtr AS (
      SELECT f.cohort_w, u.week - f.cohort_w AS age,
             CAST(count(*) AS BIGINT) AS users
      FROM cruw u JOIN crfw f USING (user_id)
      GROUP BY 1, 2
    )
    SELECT cohort_w, age, users,
           CAST(sum(CASE WHEN age = 0 THEN users ELSE 0 END)
                OVER (PARTITION BY cohort_w) AS BIGINT) AS cohort_size,
           round(CAST(users AS DOUBLE)
                 / CAST(sum(CASE WHEN age = 0 THEN users ELSE 0 END)
                        OVER (PARTITION BY cohort_w) AS DOUBLE), 6)
             AS retention
    FROM crtr ORDER BY cohort_w, age
"""


KEY_TOP = 5  # distinctive terms reported per source

# Haldane–Anscombe-smoothed log-odds-ratio z-score (Monroe, Colaresi &
# Quinn 2008 "Fightin' Words", the +1 variant): shared TEXT.
_KEY_DELTA = (
    "(ln(CAST({a} + 1 AS DOUBLE) / CAST({na} - {a} + 1 AS DOUBLE))"
    " - ln(CAST({b} + 1 AS DOUBLE) / CAST({nb} - {b} + 1 AS DOUBLE)))"
)
_KEY_VAR = (
    "(1 / CAST({a} + 1 AS DOUBLE) + 1 / CAST({b} + 1 AS DOUBLE)"
    " + 1 / CAST({na} - {a} + 1 AS DOUBLE)"
    " + 1 / CAST({nb} - {b} + 1 AS DOUBLE))"
)


def x5_keyness(spark, sf_dir):
    """Distinctive vocabulary per source — the log-odds-ratio z-score
    keyness of Monroe et al. 2008: which words does each source use
    significantly MORE than the rest of the corpus? The term-level
    drill-down of x5_source_divergence's scalar distance (JSD says the
    distributions differ; this names the words responsible) and the
    statistically-grounded alternative to raw tf-idf keyword lists
    (rare words don't dominate: the variance term widens for small
    counts). Top KEY_TOP terms per source by z.

    Exactness: counts are exact BIGINTs; delta and variance are ln /
    divisions of exact integer operands (bit-identical cross-engine),
    z is rounded to 6 BEFORE ranking (ties break on the token), so the
    per-source top-k is engine-order-free.

    Scale shape: the same single tokenize-pass (source, token) count
    frame as x5_source_divergence; the corpus token dimension
    aggregates from it; source totals broadcast; the per-source rank
    is a window partitioned BY SOURCE over the vocab-bounded frame."""
    d = _docs(spark, sf_dir)
    tokc = (
        d.select(
            "source", F.explode(F.expr(D.tokens_expr("text"))).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("a"))
        .localCheckpoint(eager=False)
    )
    na_f = (
        tokc.groupBy("source")
        .agg(F.sum("a").cast("bigint").alias("na"))
        .withColumn(
            "ng", F.sum("na").over(Window.partitionBy()).cast("bigint")
        )
        .localCheckpoint(eager=False)  # bounded: one row per source
    )
    g_f = tokc.groupBy("tok").agg(F.sum("a").cast("bigint").alias("g"))
    terms = (
        tokc.join(g_f, "tok")
        .join(F.broadcast(na_f), "source")
        .selectExpr("source", "tok", "a", "g", "g - a AS b", "na",
                    "ng - na AS nb")
    )
    delta = _KEY_DELTA.format(a="a", b="b", na="na", nb="nb")
    var = _KEY_VAR.format(a="a", b="b", na="na", nb="nb")
    scored = terms.selectExpr(
        "source", "tok", "a", "g",
        f"round({delta} / sqrt({var}), 6) AS z",
    )
    w = Window.partitionBy("source").orderBy(F.col("z").desc(), "tok")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= KEY_TOP)
        .select("source", "rk", "tok", "a", "g", "z")
        .orderBy("source", "rk")
    )


EXTENDED_QUERIES["x5_keyness"] = x5_keyness


def _keyness_oracle_sql() -> str:
    delta = _KEY_DELTA.format(a="a", b="b", na="na", nb="nb")
    var = _KEY_VAR.format(a="a", b="b", na="na", nb="nb")
    return f"""
    WITH kyc AS (
      SELECT source, t.tok, CAST(count(*) AS BIGINT) AS a
      FROM documents, LATERAL (SELECT unnest({_TOKS_EXPR}) AS tok) t
      GROUP BY 1, 2
    ),
    kyn AS (SELECT source, CAST(sum(a) AS BIGINT) AS na FROM kyc GROUP BY 1),
    kyng AS (SELECT source, na, CAST(sum(na) OVER () AS BIGINT) AS ng
             FROM kyn),
    kyg AS (SELECT tok, CAST(sum(a) AS BIGINT) AS g FROM kyc GROUP BY 1),
    kyt AS (
      SELECT c.source, c.tok, c.a, g.g, g.g - c.a AS b,
             n.na, n.ng - n.na AS nb
      FROM kyc c JOIN kyg g USING (tok) JOIN kyng n USING (source)
    ),
    kys AS (
      SELECT source, tok, a, g,
             round({delta} / sqrt({var}), 6) AS z
      FROM kyt
    )
    SELECT source, CAST(rk AS INT) AS rk, tok, a, g, z FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY z DESC, tok) AS rk FROM kys)
    WHERE rk <= {KEY_TOP} ORDER BY source, rk
"""


EXTENDED_ORACLES["x5_keyness"] = _keyness_oracle_sql()


# NDCG per-position term: graded relevance over log2 position discount,
# rounded to 9 decimals into an exact DECIMAL sum — shared TEXT.
_NDCG_TERM = (
    "CAST(round(CAST({rel} AS DOUBLE)"
    " / log2(CAST({pos} + 1 AS DOUBLE)), 9) AS DECIMAL(18,9))"
)


def x3_ndcg(spark, sf_dir):
    """NDCG@k of the approximate LSH retrieval paths against the exact
    cosine ranking — the ORDER-aware companion of x3_ann_recall:
    recall counts how many true neighbors the ANN path returns, NDCG
    scores WHERE it puts them (graded relevance rel = k+1-exact_rank,
    discounted by log2 position). An ANN path can hold recall while
    quietly inverting the head of the list — this is the instrument
    that catches it. One row per (method, query).

    Exactness: relevance grades and positions are exact integers off
    the two deterministic rankings (both tie-break on rounded cos then
    id); each DCG term rounds to 9 decimals into a DECIMAL(18,9) sum
    (exact, order-independent), and NDCG is one division of the two
    decimal-cast doubles.

    Scale shape: reuses the declared exact/LSH operators (queries
    broadcast, bucket equi-join — no corpus shuffle); everything after
    the rankings is arithmetic over queries x k bounded frames."""
    v = _vecs(spark, sf_dir)
    q1 = v.where(F.col("vec_id") < TOPK_QUERY_MAX)
    c1 = v.where(F.col("vec_id") >= TOPK_QUERY_MAX)
    exact = S.cosine_topk(q1, c1, k=TOPK_K).select("qid", "cid", "rk")
    gt = exact.selectExpr("qid", "cid", f"{TOPK_K} + 1 - rk AS rel")
    idcg = exact.groupBy("qid").agg(
        F.expr(
            f"sum({_NDCG_TERM.format(rel=f'{TOPK_K} + 1 - rk', pos='rk')})"
        ).alias("idcg_d")
    )
    outs = []
    for method, ann in (
        (
            "lsh",
            S.ann_topk_lsh(
                q1, c1, k=TOPK_K, num_planes=ANN_NUM_PLANES, dim=EMB_DIM
            ),
        ),
        (
            "lsh_h1",
            S.ann_topk_lsh(
                q1, c1, k=TOPK_K, num_planes=ANN_NUM_PLANES, dim=EMB_DIM,
                hamming=1,
            ),
        ),
    ):
        j = (
            ann.select("qid", "cid", "rk")
            .join(gt, ["qid", "cid"], "left")
            .selectExpr("qid", "rk", "coalesce(rel, 0) AS rel0")
        )
        outs.append(
            j.groupBy("qid").agg(
                F.expr("CAST(sum(CASE WHEN rel0 > 0 THEN 1 ELSE 0 END)"
                       " AS BIGINT)").alias("hits"),
                F.expr(
                    f"sum({_NDCG_TERM.format(rel='rel0', pos='rk')})"
                ).alias("dcg_d"),
            ).selectExpr(f"'{method}' AS method", "qid", "hits", "dcg_d")
        )
    allm = outs[0].unionByName(outs[1])
    return (
        allm.join(F.broadcast(idcg), "qid")
        .selectExpr(
            "method",
            "qid",
            "hits",
            "round(CAST(dcg_d AS DOUBLE), 6) AS dcg",
            "round(CAST(idcg_d AS DOUBLE), 6) AS idcg",
            "round(CAST(dcg_d AS DOUBLE) / CAST(idcg_d AS DOUBLE), 6)"
            " AS ndcg",
        )
        .orderBy("method", "qid")
    )


EXTENDED_QUERIES["x3_ndcg"] = x3_ndcg


def _ndcg_oracle_sql() -> str:
    t_ideal = _NDCG_TERM.format(rel=f"{TOPK_K} + 1 - rk", pos="rk")
    t_hit = _NDCG_TERM.format(rel="coalesce(g.rel, 0)", pos="a.rk")
    branch = """
      SELECT '{m}' AS method, a.qid,
             CAST(sum(CASE WHEN g.rel IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits,
             sum({t}) AS dcg_d
      FROM {src} a LEFT JOIN ndgt g ON g.qid = a.qid AND g.cid = a.cid
      GROUP BY 1, 2"""
    return f"""
    WITH nde AS ({EXTENDED_ORACLES['x3_cosine_topk']}),
    nda AS ({EXTENDED_ORACLES['x3_ann_topk_lsh']}),
    ndam AS ({_ANN_LSH_H1}),
    ndgt AS (SELECT qid, cid, {TOPK_K} + 1 - rk AS rel FROM nde),
    ndi AS (SELECT qid, sum({t_ideal}) AS idcg_d FROM nde GROUP BY 1),
    ndd AS ({branch.format(m="lsh", src="nda", t=t_hit)}
      UNION ALL {branch.format(m="lsh_h1", src="ndam", t=t_hit)})
    SELECT d.method, d.qid, d.hits,
           round(CAST(d.dcg_d AS DOUBLE), 6) AS dcg,
           round(CAST(i.idcg_d AS DOUBLE), 6) AS idcg,
           round(CAST(d.dcg_d AS DOUBLE) / CAST(i.idcg_d AS DOUBLE), 6)
             AS ndcg
    FROM ndd d JOIN ndi i ON i.qid = d.qid
    ORDER BY d.method, d.qid
"""


EXTENDED_ORACLES["x3_ndcg"] = _ndcg_oracle_sql()


def x2_dedup_venn(spark, sf_dir):
    """Method-agreement Venn over the three doc-pair dedup detectors —
    exact n-gram Jaccard (the truth at small scale), MinHash-LSH
    (the sketch path), SimHash candidates (the Hamming path) — on the
    common doc_id < MEDIA_DOC_MAX domain: every Venn cell in ONE row.
    The instrument a pipeline reads before choosing its scale path:
    LSH∩Jaccard over |Jaccard| is LSH's recall of true pairs, the
    SimHash-only mass is its candidate-verification workload.

    Scale shape: the three pair frames come from the declared
    operators (the LSH frame via the shared _lsh_pairs_cached
    persisted-pair-table pattern); tagged pairs union into one
    (da, db) aggregate with method flags, and the Venn cells are
    flag-product sums in a single global aggregate — no pairwise
    joins, no 1-row crossJoins."""
    d = _docs(spark, sf_dir)
    dom = (F.col("da") < MEDIA_DOC_MAX) & (F.col("db") < MEDIA_DOC_MAX)
    a = (
        D.ngram_jaccard_pairs(
            d, threshold=JACCARD_THRESHOLD, max_df=JACCARD_MAX_DF
        )
        .where(dom)
        .selectExpr("da", "db", "'jac' AS m")
    )
    b = (
        _lsh_pairs_cached(spark, sf_dir)
        .where(dom)
        .selectExpr("da", "db", "'lsh' AS m")
    )
    c = D.simhash_candidate_pairs(
        d.where(F.col("doc_id") < MEDIA_DOC_MAX)
    ).selectExpr("da", "db", "'sim' AS m")
    tagged = a.unionByName(b).unionByName(c)
    flags = tagged.groupBy("da", "db").agg(
        F.expr("max(CASE WHEN m = 'jac' THEN 1 ELSE 0 END)").alias("fj"),
        F.expr("max(CASE WHEN m = 'lsh' THEN 1 ELSE 0 END)").alias("fl"),
        F.expr("max(CASE WHEN m = 'sim' THEN 1 ELSE 0 END)").alias("fs"),
    )
    return flags.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("any_method"),
        F.expr("CAST(sum(fj) AS BIGINT)").alias("n_jaccard"),
        F.expr("CAST(sum(fl) AS BIGINT)").alias("n_lsh"),
        F.expr("CAST(sum(fs) AS BIGINT)").alias("n_simhash"),
        F.expr("CAST(sum(fj * fl) AS BIGINT)").alias("jaccard_lsh"),
        F.expr("CAST(sum(fj * fs) AS BIGINT)").alias("jaccard_simhash"),
        F.expr("CAST(sum(fl * fs) AS BIGINT)").alias("lsh_simhash"),
        F.expr("CAST(sum(fj * fl * fs) AS BIGINT)").alias("all_three"),
    )


EXTENDED_QUERIES["x2_dedup_venn"] = x2_dedup_venn

EXTENDED_ORACLES["x2_dedup_venn"] = f"""
    WITH vna AS ({EXTENDED_ORACLES['x2_ngram_jaccard_pairs']}),
    vnb AS ({EXTENDED_ORACLES['x2_minhash_lsh_pairs']}),
    vnc AS ({EXTENDED_ORACLES['x2_simhash_pairs']}),
    vnt AS (
      SELECT da, db, 'jac' AS m FROM vna
        WHERE da < {MEDIA_DOC_MAX} AND db < {MEDIA_DOC_MAX}
      UNION ALL
      SELECT da, db, 'lsh' AS m FROM vnb
        WHERE da < {MEDIA_DOC_MAX} AND db < {MEDIA_DOC_MAX}
      UNION ALL
      SELECT da, db, 'sim' AS m FROM vnc
    ),
    vnf AS (
      SELECT da, db,
             max(CASE WHEN m = 'jac' THEN 1 ELSE 0 END) AS fj,
             max(CASE WHEN m = 'lsh' THEN 1 ELSE 0 END) AS fl,
             max(CASE WHEN m = 'sim' THEN 1 ELSE 0 END) AS fs
      FROM vnt GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS any_method,
           CAST(sum(fj) AS BIGINT) AS n_jaccard,
           CAST(sum(fl) AS BIGINT) AS n_lsh,
           CAST(sum(fs) AS BIGINT) AS n_simhash,
           CAST(sum(fj * fl) AS BIGINT) AS jaccard_lsh,
           CAST(sum(fj * fs) AS BIGINT) AS jaccard_simhash,
           CAST(sum(fl * fs) AS BIGINT) AS lsh_simhash,
           CAST(sum(fj * fl * fs) AS BIGINT) AS all_three
    FROM vnf
"""


def x8_mood_median(spark, sf_dir):
    """Mood's median test: do the k event types sit on the same median
    `value`? Counts above/below the GRAND median per type and runs the
    Pearson chi-square on the 2 x k table — the blunter but
    assumption-free sibling of x8_kruskal_wallis (only the sign of
    each observation relative to one global median matters; ties AT
    the median are excluded, the classic convention). Completes the
    nonparametric k-sample panel: KW (ranks), Friedman (blocked
    ranks), Levene/Brown-Forsythe (spread), Mood (location).

    Exactness: the grand median stays integer by DOUBLING (med2 — the
    r28b rank-test idiom, marker flags + a bounded window sum instead
    of a scalar join); cell counts are exact BIGINTs and the chi2 fold
    reuses the x8_chisq_independence integer-numerator term verbatim.

    Scale shape: ONE corpus aggregate to the bounded (type x cents)
    histogram; the global cents histogram aggregates FROM it; the
    median attaches back by an equi-join on cents against the
    BROADCAST bounded frame (no 1-row crossJoin, no BNLJ); the packed
    chi2 runs as higher-order functions over the 2k-cell array."""
    # rollup of the shared session value-frequency artifact (r14)
    hist = (
        _ev_vhist_cached(spark, sf_dir)
        .groupBy(F.col("event_type").alias("grp"), "cents")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)  # bounded: types x cents domain
    )
    gh = hist.groupBy("cents").agg(F.sum("cnt").cast("bigint").alias("c"))
    w_cum = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    gh2 = (
        gh.withColumn("cum", F.sum("c").over(w_cum).cast("bigint"))
        .withColumn("n", F.sum("c").over(w_all).cast("bigint"))
        .withColumn(
            "mark",
            F.expr(
                "CASE WHEN cum - c + 1 <= (n + 1) div 2"
                " AND (n + 1) div 2 <= cum THEN cents ELSE 0 END"
                " + CASE WHEN cum - c + 1 <= n div 2 + 1"
                " AND n div 2 + 1 <= cum THEN cents ELSE 0 END"
            ),
        )
        .withColumn("med2", F.sum("mark").over(w_all).cast("bigint"))
    )
    cells = (
        hist.join(F.broadcast(gh2.select("cents", "med2")), "cents")
        .where("2 * cents != med2")
        .selectExpr(
            "grp AS rv",
            "CAST(2 * cents > med2 AS INT) AS cv",
            "cnt",
        )
        .groupBy("rv", "cv")
        .agg(F.sum("cnt").cast("bigint").alias("o"))
    )
    one = cells.agg(
        F.expr("array_sort(collect_list(struct(rv, cv, o)))").alias("cl")
    )
    r_expr = (
        "aggregate(filter(cl, y -> y.rv = x.rv),"
        " CAST(0 AS BIGINT), (ar, y) -> ar + y.o)"
    )
    c_expr = (
        "aggregate(filter(cl, z -> z.cv = x.cv),"
        " CAST(0 AS BIGINT), (ac, z) -> ac + z.o)"
    )
    term = _CHISQ_TERM.format(
        o="x.o", n="n", r=f"({r_expr})", c=f"({c_expr})"
    )
    base = one.selectExpr(
        "aggregate(cl, CAST(0 AS BIGINT), (a, x) -> a + x.o) AS n",
        "CAST(size(array_distinct(transform(cl, x -> x.rv))) AS BIGINT)"
        " AS k",
        "cl",
    )
    agg = base.selectExpr(
        "n",
        "k",
        f"aggregate(cl, CAST(0 AS DOUBLE), (acc, x) -> acc + ({term}))"
        " AS chi2raw",
    )
    return agg.selectExpr(
        "n",
        "k",
        "k - 1 AS dof",
        "round(chi2raw, 6) AS chi2",
    )


EXTENDED_QUERIES["x8_mood_median"] = x8_mood_median

EXTENDED_ORACLES["x8_mood_median"] = f"""
    WITH mmh AS (
      SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    mmg AS (SELECT cents, CAST(sum(cnt) AS BIGINT) AS c
            FROM mmh GROUP BY 1),
    mmc AS (
      SELECT cents, c,
             CAST(sum(c) OVER (ORDER BY cents
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum,
             CAST(sum(c) OVER () AS BIGINT) AS n
      FROM mmg
    ),
    mmm AS (
      SELECT CAST(sum(
               CASE WHEN cum - c + 1 <= (n + 1) // 2
                 AND (n + 1) // 2 <= cum THEN cents ELSE 0 END
               + CASE WHEN cum - c + 1 <= n // 2 + 1
                 AND n // 2 + 1 <= cum THEN cents ELSE 0 END)
               AS BIGINT) AS med2
      FROM mmc
    ),
    mmce AS (
      SELECT h.grp AS rv, CAST(2 * h.cents > m.med2 AS INT) AS cv,
             CAST(sum(h.cnt) AS BIGINT) AS o
      FROM mmh h JOIN mmm m ON 2 * h.cents <> m.med2
      GROUP BY 1, 2
    ),
    mmr AS (SELECT rv, CAST(sum(o) AS BIGINT) AS r FROM mmce GROUP BY 1),
    mmcv AS (SELECT cv, CAST(sum(o) AS BIGINT) AS c FROM mmce GROUP BY 1),
    mmt AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                   CAST(count(DISTINCT rv) AS BIGINT) AS k FROM mmce),
    mmj AS (SELECT e.rv, e.cv, e.o, r.r, c.c, t.n, t.k
            FROM mmce e JOIN mmr r USING (rv) JOIN mmcv c USING (cv), mmt t),
    mma AS (
      SELECT n, k,
             list_sum(list(
               ({_CHISQ_TERM.format(o="o", n="n", r="r", c="c")})
               ORDER BY rv, cv)) AS chi2raw
      FROM mmj GROUP BY 1, 2
    )
    SELECT n, k, k - 1 AS dof, round(chi2raw, 6) AS chi2
    FROM mma
"""


RICH_KS = (2, 4, 8, 16)  # degree thresholds for the rich-club ladder


def x11_rich_club(spark, sf_dir):
    """Rich-club coefficient ladder (Zhou & Mondragon 2004): for each
    degree threshold k, the density among nodes of degree > k —
    phi(k) = 2*E_k / (n_k * (n_k - 1)). Rising phi with k means hubs
    preferentially interconnect (the "rich club"); the structural
    summary that complements x11_degree_dist (how many hubs) and
    x11_assortativity (one global mixing number) with WHERE the hubs
    sit. Exact integer edge/node counts off the symmetrized supply
    graph; one division per rung at render.

    Scale shape: degrees come from one aggregate over the deduped
    edge frame; the degree dimension broadcasts back onto the edges;
    each rung is a conditional sum in the SAME single aggregate —
    the ladder never rescans the graph."""
    ps = _supply_ps(spark, sf_dir).selectExpr("src AS u", "dst AS v")
    deg = (
        ps.selectExpr("u AS node")
        .unionByName(ps.selectExpr("v AS node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .localCheckpoint(eager=False)
    )
    e = (
        ps.join(F.broadcast(deg.selectExpr("node AS u", "deg AS du")), "u")
        .join(F.broadcast(deg.selectExpr("node AS v", "deg AS dv")), "v")
    )
    edge_sums = e.agg(
        *[
            F.expr(
                f"CAST(sum(CASE WHEN du > {k} AND dv > {k} THEN 1"
                " ELSE 0 END) AS BIGINT)"
            ).alias(f"e_{k}")
            for k in RICH_KS
        ]
    )
    node_sums = deg.agg(
        *[
            F.expr(
                f"CAST(sum(CASE WHEN deg > {k} THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias(f"n_{k}")
            for k in RICH_KS
        ]
    )
    stack = ", ".join(
        f"{k}, n_{k}, e_{k}" for k in RICH_KS
    )
    rungs = edge_sums.crossJoin(node_sums).selectExpr(
        f"stack({len(RICH_KS)}, {stack}) AS (k, nodes, edges)"
    )
    return rungs.selectExpr(
        "k",
        "nodes",
        "edges",
        "CASE WHEN nodes >= 2 THEN"
        " round(CAST(2 * edges AS DOUBLE)"
        " / (CAST(nodes AS DOUBLE) * (CAST(nodes AS DOUBLE) - 1)), 6)"
        " ELSE CAST(0 AS DOUBLE) END AS phi",
    ).orderBy("k")


EXTENDED_QUERIES["x11_rich_club"] = x11_rich_club


def _rich_club_oracle_sql() -> str:
    rungs = " UNION ALL ".join(
        f"""SELECT {k} AS k,
             (SELECT CAST(count(*) AS BIGINT) FROM rcd WHERE deg > {k})
               AS nodes,
             (SELECT CAST(coalesce(sum(CASE WHEN du.deg > {k}
                  AND dv.deg > {k} THEN 1 ELSE 0 END), 0) AS BIGINT)
              FROM rce e JOIN rcd du ON du.node = e.u
              JOIN rcd dv ON dv.node = e.v) AS edges"""
        for k in RICH_KS
    )
    return f"""
    WITH rce AS (SELECT DISTINCT l_partkey * 10 + 1 AS u,
                        l_suppkey * 10 + 2 AS v FROM lineitem),
    rcd AS (
      SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        SELECT u AS node FROM rce UNION ALL SELECT v FROM rce)
      GROUP BY 1
    ),
    rcr AS ({rungs})
    SELECT k, nodes, edges,
           CASE WHEN nodes >= 2 THEN
             round(CAST(2 * edges AS DOUBLE)
                   / (CAST(nodes AS DOUBLE) * (CAST(nodes AS DOUBLE) - 1)), 6)
           ELSE CAST(0 AS DOUBLE) END AS phi
    FROM rcr ORDER BY k
"""


EXTENDED_ORACLES["x11_rich_club"] = _rich_club_oracle_sql()


# 2x2 effect measures — shared TEXT. Haldane–Anscombe +0.5 applied via
# DOUBLED integer cells (1/(x+0.5) = 2/(2x+1)), so zero cells never
# divide by zero and every operand stays an exact BIGINT.
_OR_EXPR = (
    "(CAST(2 * {a} + 1 AS DOUBLE) * CAST(2 * {d} + 1 AS DOUBLE))"
    " / (CAST(2 * {b} + 1 AS DOUBLE) * CAST(2 * {c} + 1 AS DOUBLE))"
)
_OR_SE = (
    "sqrt(2 / CAST(2 * {a} + 1 AS DOUBLE) + 2 / CAST(2 * {b} + 1 AS DOUBLE)"
    " + 2 / CAST(2 * {c} + 1 AS DOUBLE) + 2 / CAST(2 * {d} + 1 AS DOUBLE))"
)
_RR_EXPR = (
    "(CAST(2 * {a} + 1 AS DOUBLE) / CAST(2 * ({a} + {b}) + 1 AS DOUBLE))"
    " / (CAST(2 * {c} + 1 AS DOUBLE) / CAST(2 * ({c} + {d}) + 1 AS DOUBLE))"
)


def x8_odds_ratio(spark, sf_dir):
    """Odds ratio and relative risk of conversion by experiment arm —
    the 2x2 effect-size panel every A/B readout quotes next to the
    p-value (x8_ab_test says whether arms differ; this says by HOW
    MUCH, with the Woolf log-normal 95% CI under the Haldane-
    Anscombe +0.5 correction — applied as DOUBLED integer cells so a
    zero cell, which this dense fixture produces, never divides by
    zero). Exposure = user arm (user_id % 2), outcome = converted
    (ever emits KMSURV_EVENT).

    Exactness: the four cells are exact BIGINTs off one per-user
    aggregate; OR/RR are single-expression doubles over the shared
    text; the CI is exp(ln(OR) +/- 1.96*se) — ln/sqrt/exp of identical
    doubles, rounded only at render.

    Scale shape: one map-side-combined corpus aggregate to per-user
    (arm, converted), one global aggregate with four conditional sums
    — no joins, no windows, nothing bounded by anything but 2x2."""
    ev = load_table(spark, sf_dir, "events")
    u = (
        ev.where("user_id IS NOT NULL")
        .groupBy("user_id")
        .agg(
            F.expr(
                f"max(CASE WHEN event_type = '{KMSURV_EVENT}'"
                " THEN 1 ELSE 0 END)"
            ).alias("conv")
        )
        .selectExpr("CAST(user_id % 2 AS INT) AS arm", "conv")
    )
    cells = u.agg(
        F.expr("CAST(sum(CASE WHEN arm = 1 AND conv = 1 THEN 1 ELSE 0 END)"
               " AS BIGINT)").alias("a"),
        F.expr("CAST(sum(CASE WHEN arm = 1 AND conv = 0 THEN 1 ELSE 0 END)"
               " AS BIGINT)").alias("b"),
        F.expr("CAST(sum(CASE WHEN arm = 0 AND conv = 1 THEN 1 ELSE 0 END)"
               " AS BIGINT)").alias("c"),
        F.expr("CAST(sum(CASE WHEN arm = 0 AND conv = 0 THEN 1 ELSE 0 END)"
               " AS BIGINT)").alias("d"),
    )
    orx = _OR_EXPR.format(a="a", b="b", c="c", d="d")
    se = _OR_SE.format(a="a", b="b", c="c", d="d")
    rr = _RR_EXPR.format(a="a", b="b", c="c", d="d")
    return cells.selectExpr(
        "a", "b", "c", "d",
        f"round({orx}, 6) AS odds_ratio",
        f"round({rr}, 6) AS relative_risk",
        f"round({se}, 6) AS ln_or_se",
        f"round(exp(ln({orx}) - CAST(1.96 AS DOUBLE) * {se}), 6)"
        " AS or_ci_low",
        f"round(exp(ln({orx}) + CAST(1.96 AS DOUBLE) * {se}), 6)"
        " AS or_ci_high",
    )


EXTENDED_QUERIES["x8_odds_ratio"] = x8_odds_ratio


def _odds_ratio_oracle_sql() -> str:
    orx = _OR_EXPR.format(a="a", b="b", c="c", d="d")
    se = _OR_SE.format(a="a", b="b", c="c", d="d")
    rr = _RR_EXPR.format(a="a", b="b", c="c", d="d")
    return f"""
    WITH oru AS (
      SELECT CAST(user_id % 2 AS INT) AS arm,
             max(CASE WHEN event_type = '{KMSURV_EVENT}' THEN 1 ELSE 0 END)
               AS conv
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    orc AS (
      SELECT
        CAST(sum(CASE WHEN arm = 1 AND conv = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS a,
        CAST(sum(CASE WHEN arm = 1 AND conv = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS b,
        CAST(sum(CASE WHEN arm = 0 AND conv = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS c,
        CAST(sum(CASE WHEN arm = 0 AND conv = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS d
      FROM oru
    )
    SELECT a, b, c, d,
           round({orx}, 6) AS odds_ratio,
           round({rr}, 6) AS relative_risk,
           round({se}, 6) AS ln_or_se,
           round(exp(ln({orx}) - CAST(1.96 AS DOUBLE) * {se}), 6)
             AS or_ci_low,
           round(exp(ln({orx}) + CAST(1.96 AS DOUBLE) * {se}), 6)
             AS or_ci_high
    FROM orc
"""


EXTENDED_ORACLES["x8_odds_ratio"] = _odds_ratio_oracle_sql()


CCF_MAX_LAG = 3
CCF_X = "click"  # the hypothesized LEADING series
CCF_Y = "purchase"  # the outcome series


def x8_ccf(spark, sf_dir):
    """Lagged CROSS-correlation function between the daily click and
    purchase series, lags -CCF_MAX_LAG..+CCF_MAX_LAG — the lead-lag
    instrument next to x8_acf's self-correlation: a peak at negative
    lag means clicks LEAD purchases by that many days (the cheap
    pre-Granger screen every funnel analysis starts with). Both series
    ride the same gap-filled calendar spine (a silent day is a
    0-observation).

    Exactness: the x8_acf integer-centering trick on both series
    (u = n*x - Sx, v = n*y - Sy — the n^2 factors cancel in the
    ratio); lag products and the two sum-of-squares are exact BIGINTs;
    the denominator multiplies the two sqrt's as doubles (the raw
    product would overflow 2^63), one division at render.

    Scale shape: the corpus collapses to two bounded calendar series
    in ONE aggregate; the lag join and totals run over <= days rows."""
    ev = load_table(spark, sf_dir, "events")
    obs = (
        ev.where(F.col("event_type").isin(CCF_X, CCF_Y))
        .selectExpr(
            "event_type AS et",
            f"unix_micros(cast(ts as timestamp)) div {_DAY_DIV} AS day",
        )
        .groupBy("et", "day")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    spine = obs.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).select(F.explode(F.sequence("d0", "d1")).alias("day"))

    def centered(et):
        d = (
            spine.join(
                obs.where(F.col("et") == et).select("day", "c"), "day", "left"
            )
            .select(
                "day", F.coalesce("c", F.lit(0)).cast("bigint").alias("x")
            )
        )
        t = d.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("s"),
        )
        return (
            d.crossJoin(F.broadcast(t))
            .select("day", (F.col("n") * F.col("x") - F.col("s")).alias("u"))
            .localCheckpoint(eager=False)  # bounded: calendar days
        )

    cx = centered(CCF_X)
    cy = centered(CCF_Y)
    dx = cx.agg(F.sum(F.expr("u * u")).cast("bigint").alias("dx"))
    dy = cy.agg(F.sum(F.expr("u * u")).cast("bigint").alias("dy"))
    a = cx.select(F.col("day").alias("da"), F.col("u").alias("ux"))
    b = cy.select(F.col("day").alias("db"), F.col("u").alias("uy"))
    lags = spark.range(-CCF_MAX_LAG, CCF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.col("da") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.expr("ux * uy")).cast("bigint").alias("num"),
        )
    )
    return (
        pairs.crossJoin(F.broadcast(dx))
        .crossJoin(F.broadcast(dy))
        .selectExpr(
            "lag",
            "n_pairs",
            "round(CAST(num AS DOUBLE)"
            " / (sqrt(CAST(dx AS DOUBLE)) * sqrt(CAST(dy AS DOUBLE))), 6)"
            " AS r",
        )
        .orderBy("lag")
    )


EXTENDED_QUERIES["x8_ccf"] = x8_ccf

EXTENDED_ORACLES["x8_ccf"] = f"""
    WITH cfo AS (
      SELECT event_type AS et,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) // {_DAY_DIV} AS BIGINT)
               AS day,
             CAST(count(*) AS BIGINT) AS c
      FROM events WHERE event_type IN ('{CCF_X}', '{CCF_Y}')
      GROUP BY 1, 2
    ),
    cfs AS (
      SELECT unnest(generate_series(min(day), max(day))) AS day FROM cfo
    ),
    cfx AS (
      SELECT s.day, coalesce(o.c, 0) AS x
      FROM cfs s LEFT JOIN (SELECT day, c FROM cfo WHERE et = '{CCF_X}') o
        USING (day)
    ),
    cfy AS (
      SELECT s.day, coalesce(o.c, 0) AS x
      FROM cfs s LEFT JOIN (SELECT day, c FROM cfo WHERE et = '{CCF_Y}') o
        USING (day)
    ),
    cfcx AS (
      SELECT day, CAST((SELECT count(*) FROM cfx) * x
                       - (SELECT sum(x) FROM cfx) AS BIGINT) AS u
      FROM cfx
    ),
    cfcy AS (
      SELECT day, CAST((SELECT count(*) FROM cfy) * x
                       - (SELECT sum(x) FROM cfy) AS BIGINT) AS u
      FROM cfy
    ),
    cfd AS (
      SELECT (SELECT CAST(sum(u * u) AS BIGINT) FROM cfcx) AS dx,
             (SELECT CAST(sum(u * u) AS BIGINT) FROM cfcy) AS dy
    ),
    cfl AS (
      SELECT unnest(generate_series(-{CCF_MAX_LAG}, {CCF_MAX_LAG})) AS lag
    ),
    cfp AS (
      SELECT l.lag, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(a.u * b.u) AS BIGINT) AS num
      FROM cfl l
      JOIN cfcx a ON TRUE
      JOIN cfcy b ON b.day = a.day + l.lag
      GROUP BY 1
    )
    SELECT CAST(p.lag AS INT) AS lag, p.n_pairs,
           round(CAST(p.num AS DOUBLE)
                 / (sqrt(CAST(d.dx AS DOUBLE)) * sqrt(CAST(d.dy AS DOUBLE))),
                 6) AS r
    FROM cfp p, cfd d ORDER BY lag
"""


def x6_payload_entropy(spark, sf_dir):
    """Byte-level Shannon entropy of each media payload (doc_id <
    MEDIA_DOC_MAX — the X6 media slice): the codec-FREE integrity
    screen a multimodal pipeline runs before decode — near-8-bit
    entropy says compressed/encrypted (or corrupt-random) bytes,
    near-0 says padding/stuck bytes; max_byte_frac catches the
    single-value fills. Payloads are the UTF-8 bytes of pure-ASCII
    text here (the x6_media_meta contract), so char positions ==
    byte offsets in both engines.

    Exactness: entropy = ln(n) - sum(c*ln c)/n over the byte
    histogram — c*ln(c) terms are ln of exact integers rounded to 9
    decimals into a DECIMAL(18,9) sum (exact, order-independent), two
    correctly-rounded ops at render.

    Scale shape: one explode to (doc, byte) counts with map-side
    combine; per-doc totals ride the same aggregate chain; nothing
    leaves the media slice."""
    d = _docs(spark, sf_dir).where(
        (F.col("doc_id") < MEDIA_DOC_MAX) & (F.length("text") > 0)
    )
    ch = d.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, length(text)),"
                   " i -> substr(text, i, 1))")
        ).alias("ch"),
    )
    hist = ch.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    per = hist.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_bytes"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_bytes"),
        F.expr(
            "sum(CAST(round(c * ln(CAST(c AS DOUBLE)), 9)"
            " AS DECIMAL(18,9)))"
        ).alias("slc"),
        F.max("c").cast("bigint").alias("cmax"),
    )
    return per.selectExpr(
        "doc_id",
        "n_bytes",
        "distinct_bytes",
        "round(ln(CAST(n_bytes AS DOUBLE))"
        " - CAST(slc AS DOUBLE) / CAST(n_bytes AS DOUBLE), 6) AS entropy",
        "round(CAST(cmax AS DOUBLE) / CAST(n_bytes AS DOUBLE), 6)"
        " AS max_byte_frac",
    ).orderBy("doc_id")


EXTENDED_QUERIES["x6_payload_entropy"] = x6_payload_entropy

EXTENDED_ORACLES["x6_payload_entropy"] = f"""
    WITH pech AS (
      SELECT doc_id, substr(text, t.i, 1) AS ch
      FROM documents,
      LATERAL (SELECT unnest(generate_series(1, length(text))) AS i) t
      WHERE doc_id < {MEDIA_DOC_MAX} AND length(text) > 0
    ),
    peh AS (
      SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
      FROM pech GROUP BY 1, 2
    ),
    pep AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_bytes,
             CAST(count(*) AS BIGINT) AS distinct_bytes,
             sum(CAST(round(c * ln(CAST(c AS DOUBLE)), 9)
                 AS DECIMAL(18,9))) AS slc,
             CAST(max(c) AS BIGINT) AS cmax
      FROM peh GROUP BY 1
    )
    SELECT doc_id, n_bytes, distinct_bytes,
           round(ln(CAST(n_bytes AS DOUBLE))
                 - CAST(slc AS DOUBLE) / CAST(n_bytes AS DOUBLE), 6)
             AS entropy,
           round(CAST(cmax AS DOUBLE) / CAST(n_bytes AS DOUBLE), 6)
             AS max_byte_frac
    FROM pep ORDER BY doc_id
"""


def x10_loo_ablation(spark, sf_dir):
    """Leave-one-source-out ablation manifest: for every source, the
    corpus statistics a training run would see WITHOUT it — the
    planning table behind mixture ablations (pair each row with the
    x10_epoch_plan/x10_mix_rebalance weights to cost an ablation grid
    before launching it). Reports removed mass and the remaining
    corpus's aggregate ratios.

    Exactness: every statistic is a single division of exact BIGINT
    sums (aggregate ratios, NOT means of per-doc floats — no per-doc
    rounding anywhere, so no round-boundary class at any corpus
    size); subtraction of per-source sums from the window total is
    integer-exact.

    Scale shape: ONE corpus pass (tokenize + stopword fold per row,
    no shuffle before the per-source aggregate); the global totals
    ride a window over the |sources|-row bounded frame."""
    en_list = ", ".join(f"'{w}'" for w in LANG_PROFILES["en"])
    d = _docs(spark, sf_dir)
    per = (
        d.selectExpr(
            "source",
            f"size({D.tokens_expr('text')}) AS n_tok",
            f"aggregate(transform({D.tokens_expr('text')},"
            f" x -> if(x in ({en_list}), 1, 0)), 0, (a, v) -> a + v)"
            " AS n_stop",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs_s"),
            F.sum("n_tok").cast("bigint").alias("tok_s"),
            F.sum("n_stop").cast("bigint").alias("stop_s"),
        )
    )
    w = Window.partitionBy()
    tot = (
        per.withColumn("docs_t", F.sum("docs_s").over(w).cast("bigint"))
        .withColumn("tok_t", F.sum("tok_s").over(w).cast("bigint"))
        .withColumn("stop_t", F.sum("stop_s").over(w).cast("bigint"))
    )
    return tot.selectExpr(
        "source",
        "docs_s AS docs_removed",
        "tok_s AS tokens_removed",
        "docs_t - docs_s AS docs_loo",
        "tok_t - tok_s AS tokens_loo",
        "round(CAST(tok_s AS DOUBLE) / CAST(tok_t AS DOUBLE), 6)"
        " AS token_share_removed",
        "round(CAST(tok_t - tok_s AS DOUBLE)"
        " / CAST(docs_t - docs_s AS DOUBLE), 6) AS mean_doc_tokens_loo",
        "round(CAST(stop_t - stop_s AS DOUBLE)"
        " / CAST(tok_t - tok_s AS DOUBLE), 6) AS stop_ratio_loo",
    ).orderBy("source")


EXTENDED_QUERIES["x10_loo_ablation"] = x10_loo_ablation

EXTENDED_ORACLES["x10_loo_ablation"] = f"""
    WITH looq AS (
      SELECT source,
             CAST(len({_TOKS_EXPR}) AS BIGINT) AS n_tok,
             CAST(coalesce(list_sum(list_transform({_TOKS_EXPR},
                  t -> CASE WHEN t IN ({_QUALITY_EN}) THEN 1 ELSE 0 END)),
                  0) AS BIGINT) AS n_stop
      FROM documents
    ),
    loop_ AS (
      SELECT source, CAST(count(*) AS BIGINT) AS docs_s,
             CAST(sum(n_tok) AS BIGINT) AS tok_s,
             CAST(sum(n_stop) AS BIGINT) AS stop_s
      FROM looq GROUP BY 1
    ),
    loot AS (
      SELECT *,
             CAST(sum(docs_s) OVER () AS BIGINT) AS docs_t,
             CAST(sum(tok_s) OVER () AS BIGINT) AS tok_t,
             CAST(sum(stop_s) OVER () AS BIGINT) AS stop_t
      FROM loop_
    )
    SELECT source,
           docs_s AS docs_removed,
           tok_s AS tokens_removed,
           docs_t - docs_s AS docs_loo,
           tok_t - tok_s AS tokens_loo,
           round(CAST(tok_s AS DOUBLE) / CAST(tok_t AS DOUBLE), 6)
             AS token_share_removed,
           round(CAST(tok_t - tok_s AS DOUBLE)
                 / CAST(docs_t - docs_s AS DOUBLE), 6)
             AS mean_doc_tokens_loo,
           round(CAST(stop_t - stop_s AS DOUBLE)
                 / CAST(tok_t - tok_s AS DOUBLE), 6) AS stop_ratio_loo
    FROM loot ORDER BY source
"""


# Cochran–Armitage z — shared TEXT over exact integer sums. The raw
# variance product overflows 2^63, so the sqrt factors split:
# z = (N*Sxs - S*Sxn) * sqrt(N)
#     / (sqrt(S * (N - S)) * sqrt(N * Snxx - Sxn * Sxn))
_CA_Z = (
    "(CAST({N} * {Sxs} - {S} * {Sxn} AS DOUBLE) * sqrt(CAST({N} AS DOUBLE)))"
    " / (sqrt(CAST({S} AS DOUBLE) * CAST({N} - {S} AS DOUBLE))"
    " * sqrt(CAST({N} AS DOUBLE) * CAST({Snxx} AS DOUBLE)"
    " - CAST({Sxn} AS DOUBLE) * CAST({Sxn} AS DOUBLE)))"
)


def x8_trend_proportions(spark, sf_dir):
    """Cochran–Armitage trend test: is the daily PURCHASE SHARE of
    events drifting monotonically across the calendar? The categorical
    sibling of x8_mann_kendall (MK: monotone trend in a numeric
    series; this: monotone trend in a PROPORTION with the correct
    binomial variance — the funnel-health monitor that catches slow
    conversion rot a day-over-day diff test can't see).

    Exactness: day scores are 0-based integer offsets; every sum
    (successes, trials, score-weighted cross terms) is an exact
    BIGINT, and the z numerator N*Sxs - S*Sxn is integer-exact; only
    the variance sqrt factors are doubles (split so no product
    overflows 2^63), one division at render.

    Scale shape: ONE corpus aggregate to the bounded per-day
    (trials, successes) frame; the five scalar sums fold that frame
    in a single aggregate — no joins, no windows."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where("event_type IS NOT NULL")
        .selectExpr(
            f"unix_micros(cast(ts as timestamp)) div {_DAY_DIV} AS day",
            f"CAST(event_type = '{KMSURV_EVENT}' AS INT) AS succ",
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_i"),
            F.sum("succ").cast("bigint").alias("s_i"),
        )
    )
    packed = daily.agg(
        F.expr("array_sort(collect_list(struct(day, n_i, s_i)))").alias("cl")
    )
    base = packed.selectExpr(
        "CAST(size(cl) AS BIGINT) AS n_days",
        "aggregate(cl, CAST(0 AS BIGINT), (a, x) -> a + x.n_i) AS n",
        "aggregate(cl, CAST(0 AS BIGINT), (a, x) -> a + x.s_i) AS s",
        "cl[0].day AS d0",
        "cl",
    )
    sums = base.selectExpr(
        "n_days",
        "n",
        "s",
        "aggregate(cl, CAST(0 AS BIGINT),"
        " (a, x) -> a + (x.day - d0) * x.s_i) AS sxs",
        "aggregate(cl, CAST(0 AS BIGINT),"
        " (a, x) -> a + (x.day - d0) * x.n_i) AS sxn",
        "aggregate(cl, CAST(0 AS BIGINT),"
        " (a, x) -> a + (x.day - d0) * (x.day - d0) * x.n_i) AS snxx",
    )
    z = _CA_Z.format(N="n", S="s", Sxs="sxs", Sxn="sxn", Snxx="snxx")
    return sums.selectExpr(
        "n_days",
        "n",
        "s",
        "round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_overall",
        f"round({z}, 6) AS z",
        f"CAST(CASE WHEN ({z}) > 0 THEN 1 WHEN ({z}) < 0 THEN -1"
        " ELSE 0 END AS INT) AS direction",
    )


EXTENDED_QUERIES["x8_trend_proportions"] = x8_trend_proportions


def _ca_oracle_sql() -> str:
    z = _CA_Z.format(N="n", S="s", Sxs="sxs", Sxn="sxn", Snxx="snxx")
    return f"""
    WITH cad AS (
      SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) // {_DAY_DIV} AS BIGINT)
               AS day,
             CAST(count(*) AS BIGINT) AS n_i,
             CAST(sum(CAST(event_type = '{KMSURV_EVENT}' AS INT))
                  AS BIGINT) AS s_i
      FROM events WHERE event_type IS NOT NULL
      GROUP BY 1
    ),
    cax AS (SELECT day - (SELECT min(day) FROM cad) AS x, n_i, s_i FROM cad),
    cas AS (
      SELECT CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(n_i) AS BIGINT) AS n,
             CAST(sum(s_i) AS BIGINT) AS s,
             CAST(sum(x * s_i) AS BIGINT) AS sxs,
             CAST(sum(x * n_i) AS BIGINT) AS sxn,
             CAST(sum(x * x * n_i) AS BIGINT) AS snxx
      FROM cax
    )
    SELECT n_days, n, s,
           round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_overall,
           round({z}, 6) AS z,
           CAST(CASE WHEN ({z}) > 0 THEN 1 WHEN ({z}) < 0 THEN -1
                ELSE 0 END AS INT) AS direction
    FROM cas
"""


EXTENDED_ORACLES["x8_trend_proportions"] = _ca_oracle_sql()


KT_K = 3  # truss order: keep edges in >= KT_K - 2 triangles
KT_ROUNDS = 2  # fixed pruning rounds (the BFS_ITER bounded contract)
# ktruss node space: DATA-DERIVED (round-9, VERDICT r8 #2).  The old
# fixed KT_N=1000 divided make_sf1's powers-of-10 key strides, so every
# sf1 replica aliased onto the SAME 1000-node edge set and the scale
# ladder measured a void 1.00x.  kt_n = 2*(|orders| div KT_DENOM) + 1
# is odd and coprime to 10^k, grows linearly with data (constant avg
# degree ~2*KT_DENOM, so wedge work 4E^2/N stays edge-linear), and at
# sf0.1 lands on 1001 ~ the old profile.  Derived as a scalar aggregate
# in BOTH engines — oracle SQL is static, so the modulus must come from
# the data, not from a python constant the oracle can't see.
# The modulus must ALSO avoid the hash multipliers' factors: at sf0.01
# the raw formula lands on 101 = the o_custkey multiplier, collapsing b
# to a constant (star graph, zero triangles).  Three chained +2 bumps
# clear {5, 37, 101}: no prime > 3 can divide two of x, x+2, x+4, x+6,
# so at most 3 of the 4 candidates can be flagged.
KT_DENOM = 300
_KT_BUMP = (
    "kt_n + CASE WHEN kt_n % 37 = 0 OR kt_n % 101 = 0"
    " OR kt_n % 5 = 0 THEN 2 ELSE 0 END AS kt_n"
)


def x11_ktruss(spark, sf_dir):
    """k-truss pruning (Cohen 2008): iteratively drop edges supported
    by fewer than KT_K - 2 triangles — the EDGE analog of x11_kcore
    (core: node degrees; truss: edge embeddedness in triangles — the
    standard cohesive-subgraph refinement between cores and cliques).
    KT_ROUNDS fixed pruning rounds (support recomputed on survivors
    each round — the bounded-iteration contract of x11_bfs; a
    fixpoint needs data-dependent rounds). Output: the support
    histogram of the surviving edge set.

    Exactness: pure integer support counts; the oracle unrolls the
    same rounds as chained CTEs over the same canonical (u < v)
    deduped edges of the x11_triangle_count synthetic graph.

    Scale shape: per round ONE oriented triangle enumeration
    (operators/clustering.py:triangle_edge_support — each triangle
    found exactly once, wedge join bounded at |E|^1.5 by the
    degree-orientation last-reducer fix; the naive symmetric-adjacency
    wedge count measured 21-30 s at sf0.1, this shape ~7 s) and one
    filter; survivors checkpoint each round so lineage stays flat.
    The histogram render is bounded by max support."""
    from diepy_spark.operators.clustering import (
        _triangle_list_canon,
        triangle_incidence,
    )

    orders = load_table(spark, sf_dir, "orders")
    ktn = orders.agg(
        F.expr(f"2 * (count(*) div {KT_DENOM}) + 1").alias("kt_n")
    )
    for _ in range(3):
        ktn = ktn.selectExpr(_KT_BUMP)
    raw = orders.crossJoin(F.broadcast(ktn)).select(
        ((F.col("o_orderkey") * 37 + 11) % F.col("kt_n")).alias("a"),
        ((F.col("o_custkey") * 101 + 7) % F.col("kt_n")).alias("b"),
    )
    e = (
        raw.where(F.col("a") != F.col("b"))
        .selectExpr("least(a, b) AS u", "greatest(a, b) AS v")
        .distinct()
        .localCheckpoint(eager=False)
    )
    min_sup = KT_K - 2
    # r13 optimization: enumerate the triangle list ONCE (the |E|^1.5
    # wedge join) and re-VALIDATE it each peeling round — pruning only
    # removes edges, so round r's support is exactly the count of listed
    # triangles whose three edges all survive (Wang–Cheng truss shape).
    # Replaces KT_ROUNDS+1 wedge enumerations with one enumeration plus
    # per-round joins on the (shrinking) triangle incidence. Support
    # values and the final histogram are identical by construction.
    assert min_sup >= 1, "sup>=min_sup prune below drops support-0 edges"
    # checkpoint the 3-column triangle LIST (|T| rows); the 3x-wider
    # edge incidence re-derives from it per consumer as a narrow explode
    # over cached blocks
    tri = _triangle_list_canon(e).localCheckpoint(eager=False)
    te = triangle_incidence(tri)
    # Peeling is MONOTONE: e_{r+1} ⊆ e_r, and if a round prunes nothing
    # (|e_new| = |e| with e_new ⊆ e ⇒ e_new = e) every remaining round
    # recomputes the identical support over the identical edge set — so
    # the loop may exit at the fixpoint with final_sup = this round's
    # sup, bit-identical to running all KT_ROUNDS rounds (the standard
    # peel-to-convergence short-circuit; one count() per round on an
    # already-checkpointed edge frame is the entire price).
    n_e = e.count()
    final_sup = None
    for _ in range(KT_ROUNDS):
        sup = te.groupBy("u", "v").agg(
            F.count(F.lit(1)).cast("bigint").alias("sup")
        )
        # survivors = edges meeting the support bar; triangle-free edges
        # are absent from sup (support 0 < min_sup), matching the old
        # left-join + coalesce(0) filter exactly
        e = (
            sup.where(F.col("sup") >= min_sup)
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
        n_new = e.count()
        if n_new == n_e:
            final_sup = sup  # fixpoint: support frame already final
            break
        n_e = n_new
        # a listed triangle stays alive iff all 3 of its edges survived.
        # r13: revalidate via groupBy (map-side-combinable aggregate, |T|
        # output rows of 3 ints) instead of a count window (which sorted
        # and re-emitted all 3|T| x 5-col incidence rows through the same
        # two exchanges); the surviving incidence re-derives as a narrow
        # explode over the checkpointed triangle LIST — identical rows by
        # the incidence definition.
        tri = (
            te.join(e, ["u", "v"])
            .groupBy("x", "y", "z")
            .agg(F.count(F.lit(1)).alias("k"))
            .where(F.col("k") == 3)
            .select("x", "y", "z")
            .localCheckpoint(eager=False)
        )
        te = triangle_incidence(tri)
    if final_sup is None:
        final_sup = te.groupBy("u", "v").agg(
            F.count(F.lit(1)).cast("bigint").alias("sup")
        )
    hist = (
        e.join(final_sup, ["u", "v"], "left")
        .selectExpr("coalesce(sup, CAST(0 AS BIGINT)) AS support")
        .groupBy("support")
        .agg(F.count(F.lit(1)).cast("bigint").alias("edges"))
    )
    return hist.orderBy("support")


EXTENDED_QUERIES["x11_ktruss"] = x11_ktruss


def _ktruss_oracle_sql() -> str:
    min_sup = KT_K - 2
    ctes = [
        f"""ktn0 AS (
      SELECT 2 * (count(*) // {KT_DENOM}) + 1 AS kt_n FROM orders)""",
    ]
    for i in range(3):
        ctes.append(f"ktn{i + 1} AS (SELECT {_KT_BUMP} FROM ktn{i})")
    ctes += [
        """kte0 AS (
      SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM (
        SELECT (o_orderkey * 37 + 11) % kt_n AS a,
               (o_custkey * 101 + 7) % kt_n AS b FROM orders, ktn3)
      WHERE a <> b)""",
    ]
    cur = "kte0"
    for i in range(KT_ROUNDS):
        ctes.append(f"""kta{i} AS (
      SELECT u AS p, v AS q FROM {cur}
      UNION ALL SELECT v AS p, u AS q FROM {cur})""")
        ctes.append(f"""kts{i} AS (
      SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS sup
      FROM {cur} e
      JOIN kta{i} a ON a.p = e.u
      JOIN kta{i} b ON b.p = e.v AND b.q = a.q
      GROUP BY 1, 2)""")
        ctes.append(f"""kte{i + 1} AS (
      SELECT e.u, e.v FROM {cur} e
      LEFT JOIN kts{i} s ON s.u = e.u AND s.v = e.v
      WHERE coalesce(s.sup, 0) >= {min_sup})""")
        cur = f"kte{i + 1}"
    ctes.append(f"""ktaf AS (
      SELECT u AS p, v AS q FROM {cur}
      UNION ALL SELECT v AS p, u AS q FROM {cur})""")
    ctes.append(f"""ktsf AS (
      SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS sup
      FROM {cur} e
      JOIN ktaf a ON a.p = e.u
      JOIN ktaf b ON b.p = e.v AND b.q = a.q
      GROUP BY 1, 2)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
    SELECT coalesce(s.sup, 0) AS support,
           CAST(count(*) AS BIGINT) AS edges
    FROM {cur} e LEFT JOIN ktsf s ON s.u = e.u AND s.v = e.v
    GROUP BY 1 ORDER BY 1"""
    )


EXTENDED_ORACLES["x11_ktruss"] = _ktruss_oracle_sql()


SIGN_LAG_DAYS = 7  # week-over-week pairing


def x8_sign_test(spark, sf_dir):
    """EXACT binomial sign test, week-over-week: pair each day's
    revenue with the same weekday one week later; under H0 the sign of
    the change is a fair coin. The first EXACT p-value in the suite —
    no normal approximation anywhere: with m non-tied pairs, p =
    min(1, 2*min(P(X<=s), P(X>=s))) for X ~ Bin(m, 1/2), and the
    binomial CDF numerator is an exact BIGINT built by the running
    identity C(m,k+1) = C(m,k)*(m-k)/(k+1) (every intermediate stays
    integer; at a 30-day spine the largest term is C(23,11) ~ 1.4e6).
    The assumption-free companion of x8_mwu/x8_perm_test for paired
    calendar data.

    Scale shape: ONE corpus aggregate to the bounded daily frame; the
    7-day self-join, sign counts and the CDF fold all run on it (the
    fold is a higher-order function over a <=m-element sequence).
    P(X>=s) folds as P(X<=m-s) by symmetry."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("value").isNotNull())
        .selectExpr(
            f"unix_micros(cast(ts as timestamp)) div {_DAY_DIV} AS day",
            "CAST(round(value * 100) AS BIGINT) AS cents",
        )
        .groupBy("day")
        .agg(F.sum("cents").cast("bigint").alias("v"))
        .localCheckpoint(eager=False)  # bounded: calendar days
    )
    a = daily.selectExpr("day", "v AS v0")
    b = daily.selectExpr(f"day - {SIGN_LAG_DAYS} AS day", "v AS v1")
    pairs = a.join(b, "day").selectExpr(
        "CAST(v1 > v0 AS INT) AS pos", "CAST(v1 = v0 AS INT) AS tie"
    )
    counts = pairs.agg(
        F.expr("CAST(sum(1 - tie) AS BIGINT)").alias("m"),
        F.expr("CAST(sum(tie) AS BIGINT)").alias("ties"),
        F.expr("CAST(sum(pos) AS BIGINT)").alias("s_pos"),
    )

    def cdf_num(s):
        # sum_{k<=s} C(m,k) as an exact BIGINT running fold.  m = 0
        # guard (ADVICE r8): Spark's sequence(1, 0) is the DESCENDING
        # [1, 0] (k = 0 would hit `div 0`), so build from
        # sequence(1, greatest(m, 1)) and re-filter k <= m — empty when
        # m = 0, matching DuckDB's empty range(1, m + 1) exactly
        # (fold returns init, p renders as 1).
        step = (
            "named_struct("
            "'c', ac.c * (m - k + 1) div k,"
            " 'a', ac.a + ac.c * (m - k + 1) div k)"
        )
        return (
            "aggregate(filter(sequence(1, greatest(m, 1)),"
            f" k -> k <= m AND k <= {s}),"
            " named_struct('c', CAST(1 AS BIGINT), 'a', CAST(1 AS BIGINT)),"
            f" (ac, k) -> {step}).a"
        )

    denom = (
        "aggregate(filter(sequence(1, greatest(m, 1)), k2 -> k2 <= m),"
        " CAST(1 AS BIGINT), (ad, k2) -> ad * 2)"
    )
    base = counts.selectExpr(
        "m",
        "ties",
        "s_pos",
        f"{cdf_num('s_pos')} AS num_le",
        f"{cdf_num('m - s_pos')} AS num_ge",
        f"{denom} AS denom",
    )
    return base.selectExpr(
        "m AS n_pairs",
        "ties",
        "s_pos",
        "num_le",
        "num_ge",
        "round(least(CAST(1 AS DOUBLE),"
        " 2 * least(CAST(num_le AS DOUBLE) / CAST(denom AS DOUBLE),"
        " CAST(num_ge AS DOUBLE) / CAST(denom AS DOUBLE))), 6)"
        " AS p_two_sided",
    )


EXTENDED_QUERIES["x8_sign_test"] = x8_sign_test


def _sign_test_oracle_sql() -> str:
    def cdf_num(s):
        # [c, a] running pair; x = [k]
        return (
            "list_reduce(list_prepend([CAST(1 AS BIGINT), CAST(1 AS BIGINT)],"
            f" list_transform(list_filter(range(1, m + 1), k -> k <= {s}),"
            " k -> [CAST(k AS BIGINT), CAST(k AS BIGINT)])),"
            " (ac, x) -> [ac[1] * (m - x[1] + 1) // x[1],"
            " ac[2] + ac[1] * (m - x[1] + 1) // x[1]])[2]"
        )

    denom = (
        "list_reduce(list_prepend([CAST(1 AS BIGINT)],"
        " list_transform(range(1, m + 1), k -> [CAST(k AS BIGINT)])),"
        " (ad, x2) -> [ad[1] * 2])[1]"
    )
    return f"""
    WITH sgd AS (
      SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) // {_DAY_DIV} AS BIGINT)
               AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    sgp AS (
      SELECT CAST(b.v > a.v AS INT) AS pos, CAST(b.v = a.v AS INT) AS tie
      FROM sgd a JOIN sgd b ON b.day = a.day + {SIGN_LAG_DAYS}
    ),
    sgc AS (
      SELECT CAST(sum(1 - tie) AS BIGINT) AS m,
             CAST(sum(tie) AS BIGINT) AS ties,
             CAST(sum(pos) AS BIGINT) AS s_pos
      FROM sgp
    ),
    sgb AS (
      SELECT m, ties, s_pos,
             {cdf_num('s_pos')} AS num_le,
             {cdf_num('m - s_pos')} AS num_ge,
             {denom} AS denom
      FROM sgc
    )
    SELECT m AS n_pairs, ties, s_pos, num_le, num_ge,
           round(least(CAST(1 AS DOUBLE),
             2 * least(CAST(num_le AS DOUBLE) / CAST(denom AS DOUBLE),
             CAST(num_ge AS DOUBLE) / CAST(denom AS DOUBLE))), 6)
             AS p_two_sided
    FROM sgb
"""


EXTENDED_ORACLES["x8_sign_test"] = _sign_test_oracle_sql()


# Rate ratio (two-sample Poisson) — shared TEXT over exact BIGINTs.
_RATE_RR = (
    "(CAST({k1} AS DOUBLE) / CAST({t1} AS DOUBLE))"
    " / (CAST({k2} AS DOUBLE) / CAST({t2} AS DOUBLE))"
)
_RATE_SE = "sqrt(1 / CAST({k1} AS DOUBLE) + 1 / CAST({k2} AS DOUBLE))"


def x8_rate_ratio(spark, sf_dir):
    """Two-sample Poisson rate comparison: events per user-day of
    follow-up, arm 1 vs arm 0 — the EXPOSURE-adjusted sibling of
    x8_odds_ratio (odds ratio: did the user ever convert; rate ratio:
    how OFTEN does the arm emit events per observed day, the right
    statistic when follow-up time differs between arms). Wald
    log-normal 95% CI on ln(RR) with se = sqrt(1/k1 + 1/k2).

    Exactness: event counts and user-day exposures (per-user last -
    first day + 1, summed) are exact BIGINTs off one per-user
    aggregate; RR/CI are shared-text ln/sqrt/exp over those integers.

    Scale shape: one map-side-combined corpus aggregate to per-user
    (arm, events, exposure), one global aggregate with four
    conditional sums — no joins, no windows."""
    ev = load_table(spark, sf_dir, "events")
    u = (
        ev.where("user_id IS NOT NULL")
        .selectExpr(
            "user_id",
            f"unix_micros(cast(ts as timestamp)) div {_DAY_DIV} AS day",
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.expr("max(day) - min(day) + 1").cast("bigint").alias("t"),
        )
        .selectExpr("CAST(user_id % 2 AS INT) AS arm", "k", "t")
    )
    cells = u.agg(
        F.expr("CAST(sum(CASE WHEN arm = 1 THEN k ELSE 0 END) AS BIGINT)")
        .alias("k1"),
        F.expr("CAST(sum(CASE WHEN arm = 1 THEN t ELSE 0 END) AS BIGINT)")
        .alias("t1"),
        F.expr("CAST(sum(CASE WHEN arm = 0 THEN k ELSE 0 END) AS BIGINT)")
        .alias("k2"),
        F.expr("CAST(sum(CASE WHEN arm = 0 THEN t ELSE 0 END) AS BIGINT)")
        .alias("t2"),
    )
    rr = _RATE_RR.format(k1="k1", t1="t1", k2="k2", t2="t2")
    se = _RATE_SE.format(k1="k1", k2="k2")
    return cells.selectExpr(
        "k1", "t1", "k2", "t2",
        f"round({rr}, 6) AS rate_ratio",
        f"round({se}, 6) AS ln_rr_se",
        f"round(exp(ln({rr}) - CAST(1.96 AS DOUBLE) * {se}), 6)"
        " AS rr_ci_low",
        f"round(exp(ln({rr}) + CAST(1.96 AS DOUBLE) * {se}), 6)"
        " AS rr_ci_high",
    )


EXTENDED_QUERIES["x8_rate_ratio"] = x8_rate_ratio


def _rate_ratio_oracle_sql() -> str:
    rr = _RATE_RR.format(k1="k1", t1="t1", k2="k2", t2="t2")
    se = _RATE_SE.format(k1="k1", k2="k2")
    return f"""
    WITH rru AS (
      SELECT CAST(user_id % 2 AS INT) AS arm,
             CAST(count(*) AS BIGINT) AS k,
             CAST(max(CAST(epoch_us(CAST(ts AS TIMESTAMP)) // {_DAY_DIV}
                  AS BIGINT))
                  - min(CAST(epoch_us(CAST(ts AS TIMESTAMP)) // {_DAY_DIV}
                  AS BIGINT)) + 1 AS BIGINT) AS t
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    rrc AS (
      SELECT
        CAST(sum(CASE WHEN arm = 1 THEN k ELSE 0 END) AS BIGINT) AS k1,
        CAST(sum(CASE WHEN arm = 1 THEN t ELSE 0 END) AS BIGINT) AS t1,
        CAST(sum(CASE WHEN arm = 0 THEN k ELSE 0 END) AS BIGINT) AS k2,
        CAST(sum(CASE WHEN arm = 0 THEN t ELSE 0 END) AS BIGINT) AS t2
      FROM rru
    )
    SELECT k1, t1, k2, t2,
           round({rr}, 6) AS rate_ratio,
           round({se}, 6) AS ln_rr_se,
           round(exp(ln({rr}) - CAST(1.96 AS DOUBLE) * {se}), 6)
             AS rr_ci_low,
           round(exp(ln({rr}) + CAST(1.96 AS DOUBLE) * {se}), 6)
             AS rr_ci_high
    FROM rrc
"""


EXTENDED_ORACLES["x8_rate_ratio"] = _rate_ratio_oracle_sql()


DISP_TOP = 20  # terms profiled (by corpus frequency)


def x5_term_dispersion(spark, sf_dir):
    """Gries' DP dispersion for the top DISP_TOP corpus terms: how
    evenly is each term spread across sources, against the sources'
    token-share expectation? DP = 0.5 * sum_s |v_s/f - share_s| — 0 =
    perfectly proportional, ->1 = concentrated in one source. The
    per-TERM companion of x5_source_divergence (JSD: how different is
    a SOURCE; DP: how source-bound is a TERM) — frequency alone can't
    tell a universal function word from a single-domain artifact of
    equal count, which is exactly what a mixture-weighting pipeline
    must not confuse.

    Exactness: DP reduces to ONE division of exact BIGINTs — the
    common-denominator form sum_s |v_s*T - n_s*f| / (2*f*T), with
    absent (term, source) cells folded in analytically as
    f*(T - sum_present n_s) (the x5_source_divergence trick; no
    |terms| x |sources| grid).

    Scale shape: the same single tokenize-pass (source, token) count
    frame; the top-K term dimension is a vocab-frame rank broadcast
    back; per-term aggregation carries the bounded source dimension."""
    d = _docs(spark, sf_dir)
    tokc = (
        d.select(
            "source", F.explode(F.expr(D.tokens_expr("text"))).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("v"))
        .localCheckpoint(eager=False)
    )
    na_f = (
        tokc.groupBy("source")
        .agg(F.sum("v").cast("bigint").alias("n_s"))
        .withColumn(
            "t_tot", F.sum("n_s").over(Window.partitionBy()).cast("bigint")
        )
        .localCheckpoint(eager=False)  # bounded: one row per source
    )
    g_f = tokc.groupBy("tok").agg(F.sum("v").cast("bigint").alias("f"))
    w = Window.orderBy(F.col("f").desc(), "tok")
    top = (
        g_f.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= DISP_TOP)
        .localCheckpoint(eager=False)  # bounded: DISP_TOP rows
    )
    terms = tokc.join(F.broadcast(top), "tok").join(
        F.broadcast(na_f), "source"
    )
    agg = terms.groupBy("tok", "rk", "f").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
        F.expr("CAST(sum(abs(v * t_tot - n_s * f)) AS BIGINT)")
        .alias("present_num"),
        F.expr("CAST(sum(n_s) AS BIGINT)").alias("present_ns"),
        F.max("t_tot").cast("bigint").alias("t_tot"),
    )
    return agg.selectExpr(
        "CAST(rk AS INT) AS rk",
        "tok",
        "f",
        "n_sources",
        "round(CAST(present_num + f * (t_tot - present_ns) AS DOUBLE)"
        " / (2 * CAST(f AS DOUBLE) * CAST(t_tot AS DOUBLE)), 6) AS dp",
    ).orderBy("rk")


EXTENDED_QUERIES["x5_term_dispersion"] = x5_term_dispersion

EXTENDED_ORACLES["x5_term_dispersion"] = f"""
    WITH tdc AS (
      SELECT source, t.tok, CAST(count(*) AS BIGINT) AS v
      FROM documents, LATERAL (SELECT unnest({_TOKS_EXPR}) AS tok) t
      GROUP BY 1, 2
    ),
    tdn AS (SELECT source, CAST(sum(v) AS BIGINT) AS n_s
            FROM tdc GROUP BY 1),
    tdt AS (SELECT source, n_s, CAST(sum(n_s) OVER () AS BIGINT) AS t_tot
            FROM tdn),
    tdg AS (SELECT tok, CAST(sum(v) AS BIGINT) AS f FROM tdc GROUP BY 1),
    tdk AS (
      SELECT tok, f, CAST(rk AS INT) AS rk FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS rk FROM tdg)
      WHERE rk <= {DISP_TOP}
    ),
    tda AS (
      SELECT c.tok, k.rk, k.f,
             CAST(count(*) AS BIGINT) AS n_sources,
             CAST(sum(abs(c.v * n.t_tot - n.n_s * k.f)) AS BIGINT)
               AS present_num,
             CAST(sum(n.n_s) AS BIGINT) AS present_ns,
             CAST(max(n.t_tot) AS BIGINT) AS t_tot
      FROM tdc c JOIN tdk k USING (tok) JOIN tdt n USING (source)
      GROUP BY 1, 2, 3
    )
    SELECT rk, tok, f, n_sources,
           round(CAST(present_num + f * (t_tot - present_ns) AS DOUBLE)
                 / (2 * CAST(f AS DOUBLE) * CAST(t_tot AS DOUBLE)), 6)
             AS dp
    FROM tda ORDER BY rk
"""


def x3_cluster_quality(spark, sf_dir):
    """External clustering-quality report: PURITY and NMI of the
    integer k-means partition (x3_kmeans) against the ground-truth
    `label` column — the eval every unsupervised pipeline runs when
    labels exist for a slice (IVF cell quality, SemDeDup cell
    coherence). Purity = sum of per-cluster majority-label counts / n;
    NMI = MI / sqrt(Hx*Hy) over the bounded (cluster x label)
    contingency — reusing the x12_mutual_info shared term texts.

    Exactness: the partition itself is the bit-identical integer
    k-means (the x3_kmeans contract); contingency cells and purity
    numerators are exact BIGINTs; MI/entropy terms fold in cell order
    via the shared _MI_TERM/_ENTROPY_TERM texts, rounded at render.

    Scale shape: assignment is the argmin projection over the
    quantized corpus (zero extra shuffles beyond x3_kmeans); the
    label join is id-keyed; everything after the contingency
    aggregate runs on k x |labels| cells (the windows partition the
    bounded cell frame; the final combine is 1-row crossJoins — the
    x12_mutual_info precedent)."""
    from diepy_spark.operators.clustering import (
        assign_to_centroids,
        quantize_vectors,
    )
    v = _vecs(spark, sf_dir)
    # r13: same _cents_cached reuse as x3_kmeans — the partition being
    # evaluated IS x3_kmeans' assignment, so derive it from the shared
    # trained centroids instead of re-running the training loop.
    cents = _cents_cached(spark, sf_dir, KM_K, KM_ITER, KM_SCALE)
    asg = assign_to_centroids(
        quantize_vectors(v, scale=KM_SCALE), cents
    ).select("vec_id", "cluster")
    joint = (
        asg.join(v.select("vec_id", "label"), "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)  # bounded: k x |labels| cells
    )
    wall = Window.partitionBy()
    j2 = (
        joint.withColumn("n", F.sum("c").over(wall).cast("bigint"))
        .withColumn(
            "r", F.sum("c").over(Window.partitionBy("cluster")).cast("bigint")
        )
        .withColumn(
            "s", F.sum("c").over(Window.partitionBy("label")).cast("bigint")
        )
    )
    term = _MI_TERM.format(c="x.c", n="x.n", r="x.r", s="x.s")
    mi_row = j2.agg(
        F.expr("CAST(max(n) AS BIGINT)").alias("n"),
        F.expr(
            "CAST(size(array_distinct(collect_list(cluster))) AS BIGINT)"
        ).alias("k_clusters"),
        F.expr(
            "CAST(size(array_distinct(collect_list(label))) AS BIGINT)"
        ).alias("n_labels"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(cluster, label, c, n, r, s))),"
            f" CAST(0 AS DOUBLE), (acc, x) -> acc + ({term}))"
        ).alias("mi_u"),
    )
    pur = (
        joint.groupBy("cluster")
        .agg(F.max("c").cast("bigint").alias("mx"))
        .agg(F.expr("CAST(sum(mx) AS BIGINT)").alias("pur_num"))
    )
    hterm = _ENTROPY_TERM.format(c="x.r", n="x.n")
    margs = []
    for vcol in ("cluster", "label"):
        m = (
            joint.groupBy(F.col(vcol).alias("vx"))
            .agg(F.expr("CAST(sum(c) AS BIGINT)").alias("r"))
            .withColumn("n", F.sum("r").over(wall))
        )
        margs.append(
            m.agg(
                F.expr(
                    "aggregate(array_sort(collect_list(struct(vx, r, n))),"
                    f" CAST(0 AS DOUBLE), (acc, x) -> acc + ({hterm}))"
                ).alias(f"h_{vcol}")
            )
        )
    return (
        mi_row.crossJoin(pur)
        .crossJoin(margs[0])
        .crossJoin(margs[1])
        .selectExpr(
            "n",
            "k_clusters",
            "n_labels",
            "round(CAST(pur_num AS DOUBLE) / CAST(n AS DOUBLE), 6)"
            " AS purity",
            "round(h_cluster, 6) AS h_cluster",
            "round(h_label, 6) AS h_label",
            "round(mi_u, 6) AS mi",
            "round(mi_u / sqrt(h_cluster * h_label), 6) AS nmi",
        )
    )


EXTENDED_QUERIES["x3_cluster_quality"] = x3_cluster_quality


def _cluster_quality_oracle_sql() -> str:
    term = _MI_TERM.format(c="c", n="n", r="r", s="s")
    hterm_c = _ENTROPY_TERM.format(c="r", n="n")
    ctes = _kmeans_ctes()
    return (
        "WITH " + ",\n".join(ctes) + f""",
    cqj AS (
      SELECT a.cluster, e.label, CAST(count(*) AS BIGINT) AS c
      FROM a{KM_ITER} a JOIN embeddings e USING (vec_id)
      GROUP BY 1, 2
    ),
    cqm AS (
      SELECT cluster, label, c,
             CAST(sum(c) OVER () AS BIGINT) AS n,
             CAST(sum(c) OVER (PARTITION BY cluster) AS BIGINT) AS r,
             CAST(sum(c) OVER (PARTITION BY label) AS BIGINT) AS s
      FROM cqj
    ),
    cqmi AS (
      SELECT CAST(max(n) AS BIGINT) AS n,
             CAST(count(DISTINCT cluster) AS BIGINT) AS k_clusters,
             CAST(count(DISTINCT label) AS BIGINT) AS n_labels,
             list_sum(list(({term}) ORDER BY cluster, label)) AS mi_u
      FROM cqm
    ),
    cqp AS (
      SELECT CAST(sum(mx) AS BIGINT) AS pur_num FROM (
        SELECT cluster, max(c) AS mx FROM cqj GROUP BY 1)
    ),
    cqhc AS (
      SELECT list_sum(list(({hterm_c}) ORDER BY vx)) AS h_cluster FROM (
        SELECT cluster AS vx, CAST(sum(c) AS BIGINT) AS r,
               CAST(sum(sum(c)) OVER () AS BIGINT) AS n
        FROM cqj GROUP BY 1)
    ),
    cqhl AS (
      SELECT list_sum(list(({hterm_c}) ORDER BY vx)) AS h_label FROM (
        SELECT label AS vx, CAST(sum(c) AS BIGINT) AS r,
               CAST(sum(sum(c)) OVER () AS BIGINT) AS n
        FROM cqj GROUP BY 1)
    )
    SELECT n, k_clusters, n_labels,
           round(CAST(pur_num AS DOUBLE) / CAST(n AS DOUBLE), 6) AS purity,
           round(h_cluster, 6) AS h_cluster,
           round(h_label, 6) AS h_label,
           round(mi_u, 6) AS mi,
           round(mi_u / sqrt(h_cluster * h_label), 6) AS nmi
    FROM cqmi, cqp, cqhc, cqhl
"""
    )


EXTENDED_ORACLES["x3_cluster_quality"] = _cluster_quality_oracle_sql()


# ---------------------------------------------------------------------------
# Round 9: BM25 ranked retrieval + hybrid reciprocal-rank fusion
# (VERDICT r8 #4 — the one standard text-retrieval operator the surface
# lacked; Robertson & Zaragoza 2009, Cormack/Clarke/Buettcher 2009 RRF)
# ---------------------------------------------------------------------------

BM_NQ = 8       # probe queries: smallest doc ids with >= BM_MINLEN tokens
BM_QTERMS = 12  # rarest distinct probe tokens (df asc, tok asc)
BM_K = 10       # results per query
BM_MINLEN = 20  # min probe length (tokens)
RRF_K = 60      # the standard RRF dampening constant
RRF_SCALE = 1_000_000_000
# round-half-up of RRF_SCALE/(RRF_K + rk) as one exact BIGINT expr
_RRF_T = (
    f"(2 * {RRF_SCALE} + ({RRF_K} + {{rk}})) {{d}} (2 * ({RRF_K} + {{rk}}))"
)


@session_cached
def _bm25_topk_cached(spark, sf_dir):
    """The BM25 ranked list at the standard constants, shared by its
    declared report (x3_bm25_topk) and the hybrid fusion consumer
    (x3_hybrid_rank) — narratively the lexical retrieval run a hybrid
    pipeline executes once. Session-keyed + lineage-cut (the
    tokenize/postings subtree is the expensive part)."""
    return T.bm25_topk(
        _docs(spark, sf_dir),
        n_queries=BM_NQ, n_qterms=BM_QTERMS, k=BM_K, min_len=BM_MINLEN,
    ).localCheckpoint(eager=False)


def x3_bm25_topk(spark, sf_dir):
    """BM25 more-like-this retrieval (operators/text.py:bm25_topk):
    exact-integer BM25 (k1=1.2, b=0.75 folded into BIGINT formula
    texts, idf at scale 1e6) over the token inverted index; top BM_K
    docs per probe query. See the operator docstring for the
    Lucene-shaped scale story (postings checkpoint, broadcast query
    side, candidates bounded by rare-term df)."""
    return _bm25_topk_cached(spark, sf_dir).orderBy("query_id", "rk")


EXTENDED_QUERIES["x3_bm25_topk"] = x3_bm25_topk


def x3_hybrid_rank(spark, sf_dir):
    """Hybrid lexical+dense retrieval via reciprocal-rank fusion: the
    BM25 top-BM_K list and the exact dense-cosine top-BM_K list (same
    probe docs; vec_id is 1:1 with doc_id in this fixture) fused by
    RRF score = sum over lists of 1/(60 + rank), integer-quantized at
    scale 1e9 (round-half-up per term, exact BIGINT sum — the
    tie-free, order-free fusion every hybrid-search stack runs).
    Missing-from-list ranks render as 0, not NULL (a NULL INT column
    round-trips as float64 through fetchdf and breaks the dtype hash).

    Scale shape: both input lists are top-k-bounded (n_queries x k
    rows), so fusion is arithmetic on bounded frames; the dense side
    broadcasts the probe vectors and never shuffles the corpus (the
    cosine_topk shape); the lexical side reuses the cached BM25 run."""
    lex = _bm25_topk_cached(spark, sf_dir)
    d = _docs(spark, sf_dir)
    probes = (
        d.select(
            F.col("doc_id").alias("q"),
            F.expr(f"size({T.tokens_expr('text')})").alias("ntok"),
        )
        .where(F.col("ntok") >= BM_MINLEN)
        .orderBy("q")
        .limit(BM_NQ)
        .select("q")
    )
    v = _vecs(spark, sf_dir)
    qv = v.join(
        F.broadcast(probes), v["vec_id"] == F.col("q")
    ).select("q", F.col("embedding").alias("qe"))
    c = v.repartition(
        spark.sparkContext.defaultParallelism, F.col("vec_id")
    ).select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"))
    dense = S.topk_by_cosine(
        c, qv, vecs=("ce", "qe"), on=F.col("cid") != F.col("q"),
        per="q", tie="cid", k=BM_K,
    ).select("q", F.col("cid").alias("d"), "rk")
    u = lex.selectExpr(
        "query_id AS q", "doc_id AS d", "rk", "'lex' AS src"
    ).unionByName(dense.selectExpr("q", "d", "rk", "'dense' AS src"))
    fused = u.groupBy("q", "d").agg(
        F.expr(
            "CAST(coalesce(max(CASE WHEN src = 'lex' THEN rk END), 0)"
            " AS INT)"
        ).alias("lex_rk"),
        F.expr(
            "CAST(coalesce(max(CASE WHEN src = 'dense' THEN rk END), 0)"
            " AS INT)"
        ).alias("dense_rk"),
        F.expr(
            f"CAST(sum({_RRF_T.format(rk='rk', d='div')}) AS BIGINT)"
        ).alias("rrf_x1e9"),
    )
    wf = Window.partitionBy("q").orderBy(F.col("rrf_x1e9").desc(), F.col("d"))
    return (
        fused.withColumn("rk", F.row_number().over(wf))
        .where(F.col("rk") <= BM_K)
        .select(
            F.col("q").alias("query_id"),
            F.col("d").alias("doc_id"),
            "lex_rk",
            "dense_rk",
            "rrf_x1e9",
            "rk",
        )
        .orderBy("query_id", "rk")
    )


EXTENDED_QUERIES["x3_hybrid_rank"] = x3_hybrid_rank


def _bm25_oracle_ctes() -> str:
    """The BM25 CTE chain shared by the x3_bm25_topk oracle and the
    x3_hybrid_rank oracle (formula texts imported from operators/text —
    the same strings the Spark plan selectExprs, with {d} -> '//')."""
    from diepy_spark.operators.text import (
        _BM_AVG_MILLI, _BM_IDF, _BM_KD, _BM_SCORE_T, BM25_IDF_SCALE,
    )

    return f"""
    bmtk AS (SELECT doc_id AS d, unnest({_TOKS_EXPR}) AS tok
             FROM documents),
    bmtf AS (SELECT d, tok, CAST(count(*) AS BIGINT) AS cnt
             FROM bmtk GROUP BY 1, 2),
    bmdl AS (SELECT d, CAST(sum(cnt) AS BIGINT) AS dl
             FROM bmtf GROUP BY 1),
    bmn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(dl) AS BIGINT) AS t_toks FROM bmdl),
    bmavg AS (SELECT {_BM_AVG_MILLI.format(d='//')} AS avg_milli
              FROM bmn),
    bmdf AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
             FROM bmtf GROUP BY 1),
    bmidf AS (SELECT tok, df,
                     {_BM_IDF.format(scale=BM25_IDF_SCALE)} AS idf_int
              FROM bmdf, bmn),
    bmq AS (SELECT d AS q FROM bmdl WHERE dl >= {BM_MINLEN}
            ORDER BY d LIMIT {BM_NQ}),
    bmqt AS (SELECT q, tok, idf_int FROM (
        SELECT b.q, f.tok, i.idf_int,
               row_number() OVER (PARTITION BY b.q
                                  ORDER BY i.df, f.tok) AS rn
        FROM bmq b JOIN bmtf f ON f.d = b.q
        JOIN bmidf i ON i.tok = f.tok)
      WHERE rn <= {BM_QTERMS}),
    bmkd AS (SELECT d, {_BM_KD.format(d='//')} AS kd FROM bmdl, bmavg),
    bmsc AS (SELECT t.q, f.d,
        CAST(sum({_BM_SCORE_T.format(d='//')}) AS BIGINT) AS score_x1e6
      FROM bmqt t JOIN bmtf f ON f.tok = t.tok
      JOIN bmkd k ON k.d = f.d
      WHERE f.d <> t.q GROUP BY 1, 2),
    bmrk AS (SELECT q AS query_id, d AS doc_id, score_x1e6,
        CAST(row_number() OVER (PARTITION BY q
             ORDER BY score_x1e6 DESC, d) AS INT) AS rk
      FROM bmsc)"""


EXTENDED_ORACLES["x3_bm25_topk"] = f"""
    WITH {_bm25_oracle_ctes()}
    SELECT query_id, rk, doc_id, score_x1e6 FROM bmrk
    WHERE rk <= {BM_K} ORDER BY query_id, rk
"""

EXTENDED_ORACLES["x3_hybrid_rank"] = f"""
    WITH {_bm25_oracle_ctes()},
    {_COS_CTE.strip().rstrip()},
    hds AS (
      SELECT qv.vec_id AS q, c.vec_id AS d,
             ROUND(SUM(qv.x*c.x)
                   / (SQRT(SUM(qv.x*qv.x))*SQRT(SUM(c.x*c.x))), 4) AS cos
      FROM u qv JOIN u c ON qv.i = c.i
      JOIN bmq p ON p.q = qv.vec_id
      WHERE c.vec_id <> qv.vec_id
      GROUP BY 1, 2
    ),
    hdr AS (
      SELECT q, d, CAST(row_number() OVER (PARTITION BY q
               ORDER BY cos DESC, d) AS INT) AS rk
      FROM hds
    ),
    hu AS (
      SELECT query_id AS q, doc_id AS d, rk, 'lex' AS src FROM bmrk
      WHERE rk <= {BM_K}
      UNION ALL
      SELECT q, d, rk, 'dense' AS src FROM hdr WHERE rk <= {BM_K}
    ),
    hf AS (
      SELECT q, d,
        CAST(coalesce(max(CASE WHEN src = 'lex' THEN rk END), 0)
             AS INT) AS lex_rk,
        CAST(coalesce(max(CASE WHEN src = 'dense' THEN rk END), 0)
             AS INT) AS dense_rk,
        CAST(sum({_RRF_T.format(rk='rk', d='//')}) AS BIGINT) AS rrf_x1e9
      FROM hu GROUP BY 1, 2
    )
    SELECT query_id, doc_id, lex_rk, dense_rk, rrf_x1e9, rk FROM (
      SELECT q AS query_id, d AS doc_id, lex_rk, dense_rk, rrf_x1e9,
             CAST(row_number() OVER (PARTITION BY q
                  ORDER BY rrf_x1e9 DESC, d) AS INT) AS rk
      FROM hf)
    WHERE rk <= {BM_K} ORDER BY query_id, rk
"""


# ---------------------------------------------------------------------------
# Round 9: the unigram hard-EM layer as a DECLARED hash-checked query
# (VERDICT r8 #5 — previously pytest-only).  The missing piece was a
# SQL mirror of the Viterbi BACKTRACE: both engines already replay the
# packed-integer forward DP (x5_unigram_encode); keeping the FULL
# forward array lets the backtrace walk from position L picking the
# SMALLEST k whose transition acc[i-k+1] + sc[(i-k)*mp+k]*pk - 1
# reproduces acc[i+1] — exactly unigram_viterbi's first-max tie-break,
# recomputed instead of recorded.  The EM rounds unroll as chained
# CTEs (the x3_kmeans precedent); the trainer runs on the top
# UNI_DICT_MAX word types (SentencePiece's capped-sample discipline),
# so every frame in the chain is model-sized, not corpus-sized.
# ---------------------------------------------------------------------------


def _uni_dpfull_spark() -> str:
    """Forward DP keeping the WHOLE packed-score array (encode's fold
    minus the finish lambda)."""
    pk, mp = T.UNI_PACK, T.UNI_MAX_PIECE
    cands = ", ".join(
        f"CASE WHEN {k} <= i THEN element_at(acc, i - {k} + 1)"
        f" + element_at(sc, (i - {k}) * {mp} + {k}) * {pk} - 1"
        " ELSE NULL END"
        for k in range(1, mp + 1)
    )
    return (
        "aggregate(sequence(1, length(w)), array(CAST(0 AS BIGINT)),"
        f" (acc, i) -> concat(acc, array(greatest({cands}))))"
    )


def _uni_bt_spark() -> str:
    """Backtrace over (w, sc, dparr): accumulator (i, pieces); each
    step appends the piece whose transition reproduces dparr[i+1],
    smallest k first (the Python tie-break)."""
    pk, mp = T.UNI_PACK, T.UNI_MAX_PIECE

    def cond(k: int) -> str:
        return (
            f"({k} <= st.i AND"
            f" element_at(dparr, CAST(st.i - {k} + 1 AS INT))"
            f" + element_at(sc, CAST((st.i - {k}) * {mp} + {k} AS INT))"
            f" * {pk} - 1"
            " = element_at(dparr, CAST(st.i + 1 AS INT)))"
        )

    kx = (
        "CASE "
        + " ".join(f"WHEN {cond(k)} THEN {k}" for k in range(1, mp + 1))
        + " END"
    )
    step = (
        "CASE WHEN st.i <= 0 THEN st ELSE named_struct("
        f"'i', st.i - ({kx}),"
        " 'ps', concat(st.ps, array(substring(w,"
        f" CAST(st.i - ({kx}) + 1 AS INT), CAST(({kx}) AS INT)))))"
        " END"
    )
    return (
        "aggregate(sequence(1, length(w)),"
        " named_struct('i', CAST(length(w) AS BIGINT),"
        " 'ps', CAST(array() AS ARRAY<STRING>)),"
        f" (st, stp) -> {step},"
        " st -> st.ps)"
    )


def _uni_bt_duck() -> str:
    """DuckDB backtrace: VARCHAR-list accumulator [i_str, pieces...]
    (list_reduce's accumulator must match the element type — the
    sign-test 2-elem-list idiom, mixed payload carried as strings).

    Padded to a UNIFORM BPE_WORD_MAX iterations (same list_reduce
    cross-row contamination hazard as _uni_dpfull_duck; the existing
    b <= 0 -> acc guard already no-ops the padding steps — each real
    step consumes >= 1 char, so length(w) <= BPE_WORD_MAX steps always
    reach b = 0)."""
    pk, mp = T.UNI_PACK, T.UNI_MAX_PIECE
    b = "CAST(acc[1] AS BIGINT)"

    def cond(k: int) -> str:
        return (
            f"({k} <= {b} AND dparr[CAST({b} - {k} + 1 AS INT)]"
            f" + sc[CAST(({b} - {k}) * {mp} + {k} AS INT)] * {pk} - 1"
            f" = dparr[CAST({b} + 1 AS INT)])"
        )

    kx = (
        "CASE "
        + " ".join(f"WHEN {cond(k)} THEN {k}" for k in range(1, mp + 1))
        + " END"
    )
    step = (
        f"CASE WHEN {b} <= 0 THEN acc"
        f" ELSE list_prepend(CAST({b} - ({kx}) AS VARCHAR),"
        f" list_append(acc[2:], substring(w,"
        f" CAST({b} - ({kx}) + 1 AS INT), CAST(({kx}) AS INT)))) END"
    )
    return (
        "list_reduce(list_prepend([CAST(length(w) AS VARCHAR)],"
        f" list_transform(generate_series(1, {BPE_WORD_MAX}),"
        " i2 -> [CAST(i2 AS VARCHAR)])),"
        f" (acc, x2) -> {step})[2:]"
    )


def x5_unigram_em(spark, sf_dir):
    """Hard-EM (Viterbi-EM) unigram-LM trainer, DISTRIBUTED and
    hash-checked (the declared form of operators/text.py:
    unigram_train_em, previously pytest-only): seed vocabulary over
    the top-UNI_DICT_MAX word types, then UNI_EM_ITERS rounds of
    {ladder-quantize scores -> Viterbi-segment every word type ->
    re-count pieces from the segmentations (type-frequency weighted)
    -> prune zero-count multi-char pieces, floor alphabet chars at 1}.
    Output: the final (piece, freq, score) table, score desc.

    Exactness: scores are the integer rung ladder (no ln/pow in either
    engine); the DP is the packed-BIGINT rule of x5_unigram_encode,
    kept as the FULL forward array so the backtrace can re-derive the
    argmax segmentation with the smallest-k tie-break — every M-step
    count is an exact integer, so the whole EM chain is bit-free of
    floats.  Kudo 2018 (unigram LM) via hard-EM; SentencePiece trains
    on a capped sample exactly like the UNI_DICT_MAX cap here.

    Scale shape: ONE corpus pass builds the word-type dictionary; the
    cap makes everything after it model-sized (grid <= dict x L x mp
    cells; per-iter piece tables vocabulary-sized, checkpointed and
    broadcast into the next round's grid join — zero corpus-sized
    shuffles after the first aggregate)."""
    wd = (
        _unigram_words(spark, sf_dir)
        .groupBy("w")
        .agg(F.sum("n").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "w")
        .limit(UNI_DICT_MAX)
        .localCheckpoint(eager=False)  # the capped training sample
    )
    # seed: substring freqs over the capped dict, all single chars +
    # top UNI_VOCAB multi-char pieces (x5_unigram_train's selection)
    subs = wd.selectExpr(
        "n", _UNI_SUBS.format(mp=T.UNI_MAX_PIECE) + " AS piece"
    )
    pf = subs.groupBy("piece").agg(F.sum("n").cast("bigint").alias("cnt"))
    wr = Window.partitionBy("is_multi").orderBy(F.col("cnt").desc(), "piece")
    pieces = (
        pf.withColumn("is_multi", F.expr("length(piece) > 1"))
        .withColumn("rk", F.row_number().over(wr))
        .where(f"NOT is_multi OR rk <= {T.UNI_VOCAB}")
        .select("piece", "cnt")
        .localCheckpoint(eager=False)
    )
    alpha = pieces.where("length(piece) = 1").select("piece")
    mp = T.UNI_MAX_PIECE
    grid = (
        wd.select("w")
        .selectExpr(
            "w",
            "explode(flatten(transform(sequence(1, length(w)),"
            f" i0 -> transform(sequence(1, {mp}),"
            " k -> named_struct('i0', i0, 'k', k))))) AS cell",
        )
        .selectExpr(
            "w",
            "cell.i0 AS i0",
            "cell.k AS k",
            "CASE WHEN cell.i0 + cell.k - 1 <= length(w)"
            " THEN substring(w, cell.i0, cell.k) END AS piece",
        )
        .localCheckpoint(eager=False)  # dict x L x mp cells, reused per iter
    )
    sc_expr = _uni_score_sql("array(", ")", "size", "filter", "div")
    for _ in range(UNI_EM_ITERS):
        tot = pieces.agg(F.sum("cnt").cast("bigint").alias("tot"))
        scores = (
            pieces.crossJoin(F.broadcast(tot))
            .selectExpr("piece", "cnt AS freq", "tot")
            .selectExpr("piece", f"CAST({sc_expr} AS BIGINT) AS sc")
        )
        g2 = grid.join(F.broadcast(scores), "piece", "left").selectExpr(
            "w", "i0", "k",
            f"CAST(coalesce(sc, {T.UNI_MISS}) AS BIGINT) AS sc",
        )
        sarr = g2.groupBy("w").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(i0, k, sc))),"
                " x -> x.sc)"
            ).alias("sc")
        )
        segs = (
            sarr.selectExpr("w", "sc", _uni_dpfull_spark() + " AS dparr")
            .selectExpr("w", _uni_bt_spark() + " AS ps")
            .select("w", F.explode("ps").alias("piece"))
        )
        counts = (
            segs.join(F.broadcast(wd), "w")
            .groupBy("piece")
            .agg(F.sum("n").cast("bigint").alias("cnt"))
        )
        pieces = (
            counts.join(alpha, "piece", "full")
            .selectExpr("piece", "CAST(coalesce(cnt, 1) AS BIGINT) AS cnt")
            .localCheckpoint(eager=False)  # vocabulary-sized
        )
    tot = pieces.agg(F.sum("cnt").cast("bigint").alias("tot"))
    return (
        pieces.crossJoin(F.broadcast(tot))
        .selectExpr("piece", "cnt AS freq", "tot")
        .selectExpr(
            "piece", "freq", f"CAST({sc_expr} AS BIGINT) AS score"
        )
        .orderBy(F.col("score").desc(), "piece")
    )


EXTENDED_QUERIES["x5_unigram_em"] = x5_unigram_em


def _unigram_em_oracle_sql() -> str:
    mp = T.UNI_MAX_PIECE
    sc_expr = _uni_score_sql("[", "]", "len", "list_filter", "//")
    ctes = [
        f"""umf AS (
      SELECT tok AS w, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest({_TOKS_EXPR}) AS tok FROM documents) u
      WHERE length(tok) BETWEEN {BPE_WORD_MIN} AND {BPE_WORD_MAX}
      GROUP BY 1)""",
        f"""umd AS (SELECT w, n FROM umf ORDER BY n DESC, w
      LIMIT {UNI_DICT_MAX})""",
        f"""ums AS (
      SELECT p.piece AS piece, CAST(sum(n) AS BIGINT) AS cnt
      FROM umd, LATERAL (SELECT unnest(flatten(list_transform(
           generate_series(1, length(w)),
           i0 -> list_transform(
                 generate_series(1, least({mp}, length(w) - i0 + 1)),
                 k -> substring(w, i0, k))))) AS piece) p
      GROUP BY 1)""",
        f"""umr AS (
      SELECT piece, cnt,
             CAST(row_number() OVER (PARTITION BY length(piece) > 1
                  ORDER BY cnt DESC, piece) AS INT) AS rk
      FROM ums)""",
        f"""emp0 AS (SELECT piece, cnt FROM umr
      WHERE length(piece) = 1 OR rk <= {T.UNI_VOCAB})""",
        """umalpha AS (SELECT piece FROM emp0 WHERE length(piece) = 1)""",
        f"""umgrid AS (
      SELECT w, i0, k,
             CASE WHEN i0 + k - 1 <= length(w)
                  THEN substring(w, i0, k) END AS piece
      FROM (
        SELECT w, ((p.j - 1) // {mp}) + 1 AS i0,
               ((p.j - 1) % {mp}) + 1 AS k
        FROM (SELECT w FROM umd) uw,
        LATERAL (SELECT unnest(generate_series(1,
             length(w) * {mp})) AS j) p))""",
    ]
    for i in range(1, UNI_EM_ITERS + 1):
        prev = f"emp{i - 1}"
        ctes += [
            f"""emt{i} AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot
      FROM {prev})""",
            f"""emsc{i} AS (
      SELECT piece, CAST({sc_expr} AS BIGINT) AS sc
      FROM (SELECT piece, cnt AS freq FROM {prev}), emt{i})""",
            f"""emg{i} AS (
      SELECT g.w, g.i0, g.k,
             CAST(coalesce(s.sc, {T.UNI_MISS}) AS BIGINT) AS sc
      FROM umgrid g LEFT JOIN emsc{i} s ON s.piece = g.piece)""",
            f"""ema{i} AS (SELECT w, list(sc ORDER BY i0, k) AS sc
      FROM emg{i} GROUP BY 1)""",
            f"""emd{i} AS (SELECT w, sc, {_uni_dpfull_duck()} AS dparr
      FROM ema{i})""",
            f"""emb{i} AS (SELECT w, {_uni_bt_duck()} AS ps
      FROM emd{i})""",
            f"""emc{i} AS (
      SELECT p.piece, CAST(sum(d.n) AS BIGINT) AS cnt
      FROM emb{i} b JOIN umd d ON d.w = b.w,
      LATERAL (SELECT unnest(b.ps) AS piece) p
      GROUP BY 1)""",
            f"""emp{i} AS (
      SELECT coalesce(c.piece, a.piece) AS piece,
             CAST(coalesce(c.cnt, 1) AS BIGINT) AS cnt
      FROM emc{i} c FULL JOIN umalpha a ON a.piece = c.piece)""",
        ]
    last = f"emp{UNI_EM_ITERS}"
    return (
        "WITH " + ",\n    ".join(ctes)
        + f""",
    emtf AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM {last})
    SELECT piece, freq, CAST({sc_expr} AS BIGINT) AS score
    FROM (SELECT piece, cnt AS freq FROM {last}), emtf
    ORDER BY score DESC, piece
"""
    )


EXTENDED_ORACLES["x5_unigram_em"] = _unigram_em_oracle_sql()


# ---------------------------------------------------------------------------
# Round 9: hard-negative mining + tokenizer comparison (training-
# pipeline closers on top of the BM25 / tokenizer arcs)
# ---------------------------------------------------------------------------

HN_COS_MAX = 0.0  # lexically-similar pair counts as a HARD negative
#                   when its dense cosine is at or below this


def x3_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive retrieval training (the
    standard DPR/sentence-transformers recipe: candidates that a
    LEXICAL retriever ranks high but the DENSE space says are
    unrelated make the strongest negatives). Takes the cached BM25
    top-k lists, attaches each pair's embedding cosine (vec_id 1:1
    with doc_id in this fixture), and flags is_hard = cos <=
    HN_COS_MAX. All k rows per query are kept with the flag (the
    mining report), ordered (query_id, lex_rk).

    Scale shape: the pair set is top-k-bounded (n_queries x k rows),
    so the cosine pass is arithmetic on a bounded frame — the probe
    and candidate vectors are fetched by broadcast-joining the
    BOUNDED pair list against the embeddings table (two hash probes
    of the corpus, no corpus-side shuffle, no all-pairs term). Each
    vector meets O(1) partners here, so the per-pair S.cosine is the
    right scorer: norm columns would add a norm pass over the whole
    embeddings table."""
    lex = _bm25_topk_cached(spark, sf_dir)
    v = _vecs(spark, sf_dir)
    qe = v.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    ce = v.select(F.col("vec_id").alias("doc_id"), F.col("embedding").alias("ce"))
    paired = (
        qe.join(F.broadcast(lex), "query_id")
        .join(ce, "doc_id")
        .withColumn("cos", F.round(S.cosine("qe", "ce"), 4))
    )
    return paired.selectExpr(
        "query_id",
        "doc_id",
        "rk AS lex_rk",
        "score_x1e6",
        "cos",
        f"CAST(cos <= {HN_COS_MAX} AS INT) AS is_hard",
    ).orderBy("query_id", "lex_rk")


EXTENDED_QUERIES["x3_hard_negatives"] = x3_hard_negatives

EXTENDED_ORACLES["x3_hard_negatives"] = f"""
    WITH {_bm25_oracle_ctes()},
    {_COS_CTE.strip()},
    hnp AS (
      SELECT b.query_id, b.doc_id, b.rk AS lex_rk, b.score_x1e6,
             ROUND(SUM(q.x*d.x)
                   / (SQRT(SUM(q.x*q.x))*SQRT(SUM(d.x*d.x))), 4) AS cos
      FROM bmrk b
      JOIN u q ON q.vec_id = b.query_id
      JOIN u d ON d.vec_id = b.doc_id AND d.i = q.i
      WHERE b.rk <= {BM_K}
      GROUP BY 1, 2, 3, 4
    )
    SELECT query_id, doc_id, lex_rk, score_x1e6, cos,
           CAST(cos <= {HN_COS_MAX} AS INT) AS is_hard
    FROM hnp ORDER BY query_id, lex_rk
"""


def x5_tokenizer_compare(spark, sf_dir):
    """Side-by-side fertility report of the suite's TWO tokenizer
    trainers — BPE (x5_bpe_apply: merge-table replay) vs unigram-LM
    (x5_unigram_encode: ladder-scored Viterbi) — per language:
    pieces-per-token and mean piece length from each, and which
    tokenizer wins on fertility (fewer pieces per token). The
    model-selection table a tokenizer team actually reads; pure
    composition of two hash-checked queries, joined on language.
    The winner flag compares the two already-rounded doubles (exact
    same IEEE values in both engines); no re-rounded arithmetic."""
    b = x5_bpe_apply(spark, sf_dir).selectExpr(
        "lang",
        "n_tokens",
        "pieces_per_token AS bpe_ppt",
        "mean_piece_len AS bpe_mpl",
    )
    ug = x5_unigram_encode(spark, sf_dir).selectExpr(
        "lang",
        "pieces_per_token AS uni_ppt",
        "mean_piece_len AS uni_mpl",
        "bits_per_piece AS uni_bits",
    )
    return (
        b.join(ug, "lang")
        .selectExpr(
            "lang",
            "n_tokens",
            "bpe_ppt",
            "uni_ppt",
            "bpe_mpl",
            "uni_mpl",
            "uni_bits",
            "CASE WHEN bpe_ppt < uni_ppt THEN 'bpe'"
            " WHEN uni_ppt < bpe_ppt THEN 'unigram'"
            " ELSE 'tie' END AS fertility_winner",
        )
        .orderBy("lang")
    )


EXTENDED_QUERIES["x5_tokenizer_compare"] = x5_tokenizer_compare


def _tokenizer_compare_oracle_sql() -> str:
    return f"""
    WITH tcb AS ({EXTENDED_ORACLES["x5_bpe_apply"]}),
    tcu AS ({EXTENDED_ORACLES["x5_unigram_encode"]})
    SELECT b.lang, b.n_tokens,
           b.pieces_per_token AS bpe_ppt,
           u.pieces_per_token AS uni_ppt,
           b.mean_piece_len AS bpe_mpl,
           u.mean_piece_len AS uni_mpl,
           u.bits_per_piece AS uni_bits,
           CASE WHEN b.pieces_per_token < u.pieces_per_token THEN 'bpe'
                WHEN u.pieces_per_token < b.pieces_per_token THEN 'unigram'
                ELSE 'tie' END AS fertility_winner
    FROM tcb b JOIN tcu u ON u.lang = b.lang
    ORDER BY b.lang
"""


EXTENDED_ORACLES["x5_tokenizer_compare"] = _tokenizer_compare_oracle_sql()


# ---------------------------------------------------------------------------
# Round 9: DSIR-style data selection (importance resampling)
# ---------------------------------------------------------------------------

DSIR_N = 100          # manifest size: top-N docs by importance
DSIR_TARGET_LANG = "en"  # the target-domain slice the selector steers toward
# OOV floor: a word absent from a model scores the ladder's saturation
# value (min-prob floor) — exactly what the rung count converges to
_DSIR_FLOOR = -(T.UNI_MU * T.UNI_OCTAVES)


def x10_dsir_select(spark, sf_dir):
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    by the log-likelihood RATIO between a target-domain unigram LM
    (docs with lang = DSIR_TARGET_LANG) and the raw-corpus unigram LM,
    then keep the top DSIR_N docs — the deterministic top-weight
    variant of DSIR's weighted sampling. Both LMs use the integer rung
    ladder (operators/text.py:UNI_LADDER — 1/64-bit log2 resolution,
    exact rational-rung comparisons, no ln/pow in either engine), so a
    doc's importance is an exact BIGINT sum over its token
    occurrences: imp_x64 = sum_t c_t * (sc_target(w_t) - sc_raw(w_t)),
    OOV words flooring at the ladder's saturation value.
    log2_ratio = imp_x64 / 64.0 is an EXACT binary division.

    Scale shape: one corpus aggregate to (doc, word, count); the two
    LM frequency tables are vocabulary-sized and BROADCAST back (at
    real scale DSIR hashes the vocabulary into fixed buckets — same
    plan, bucketed key); per-doc importance is one map-side-combined
    sum, and the manifest is a distributed TakeOrdered top-N, never a
    single-partition global sort."""
    d = _docs(spark, sf_dir)
    dw = (
        d.select(
            "doc_id", "lang", "source",
            F.explode(F.expr(D.tokens_expr("text"))).alias("w"),
        )
        .groupBy("doc_id", "lang", "source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)  # reused by both model builds
    )
    raw = dw.groupBy("w").agg(F.sum("c").cast("bigint").alias("freq"))
    tgt = (
        dw.where(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("w")
        .agg(F.sum("c").cast("bigint").alias("freq"))
    )
    sc_expr = _uni_score_sql("array(", ")", "size", "filter", "div")

    def model(mdf, name):
        tot = mdf.agg(F.sum("freq").cast("bigint").alias("tot"))
        return (
            mdf.crossJoin(F.broadcast(tot))
            .selectExpr("w", f"CAST({sc_expr} AS BIGINT) AS {name}")
            .localCheckpoint(eager=False)  # the persisted LM table
        )

    m_raw = model(raw, "sc_raw")
    m_tgt = model(tgt, "sc_tgt")
    scored = (
        dw.join(F.broadcast(m_raw), "w", "left")
        .join(F.broadcast(m_tgt), "w", "left")
        .selectExpr(
            "doc_id", "lang", "source", "c",
            f"coalesce(sc_tgt, {_DSIR_FLOOR}) AS st",
            f"coalesce(sc_raw, {_DSIR_FLOOR}) AS sr",
        )
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.sum("c").cast("bigint").alias("n_toks"),
            F.expr("CAST(sum(c * (st - sr)) AS BIGINT)").alias("imp_x64"),
        )
    )
    return (
        scored.orderBy(F.col("imp_x64").desc(), "doc_id")
        .limit(DSIR_N)
        .selectExpr(
            "doc_id", "lang", "source", "n_toks", "imp_x64",
            f"CAST(imp_x64 AS DOUBLE) / {T.UNI_MU} AS log2_ratio",
        )
    )


EXTENDED_QUERIES["x10_dsir_select"] = x10_dsir_select


def _dsir_oracle_sql() -> str:
    sc_expr = _uni_score_sql("[", "]", "len", "list_filter", "//")
    return f"""
    WITH dsw AS (
      SELECT doc_id, lang, source, tok AS w, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT doc_id, lang, source, unnest({_TOKS_EXPR}) AS tok
            FROM documents) u
      GROUP BY 1, 2, 3, 4
    ),
    dsr AS (SELECT w, CAST(sum(c) AS BIGINT) AS freq FROM dsw GROUP BY 1),
    dsrt AS (SELECT CAST(sum(freq) AS BIGINT) AS tot FROM dsr),
    dsrm AS (SELECT w, CAST({sc_expr} AS BIGINT) AS sc_raw
             FROM dsr, dsrt),
    dst AS (SELECT w, CAST(sum(c) AS BIGINT) AS freq FROM dsw
            WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY 1),
    dstt AS (SELECT CAST(sum(freq) AS BIGINT) AS tot FROM dst),
    dstm AS (SELECT w, CAST({sc_expr} AS BIGINT) AS sc_tgt
             FROM dst, dstt),
    dssc AS (
      SELECT d.doc_id, d.lang, d.source,
             CAST(sum(d.c) AS BIGINT) AS n_toks,
             CAST(sum(d.c * (coalesce(t.sc_tgt, {_DSIR_FLOOR})
                  - coalesce(r.sc_raw, {_DSIR_FLOOR}))) AS BIGINT)
               AS imp_x64
      FROM dsw d
      LEFT JOIN dsrm r ON r.w = d.w
      LEFT JOIN dstm t ON t.w = d.w
      GROUP BY 1, 2, 3
    )
    SELECT doc_id, lang, source, n_toks, imp_x64,
           CAST(imp_x64 AS DOUBLE) / {T.UNI_MU} AS log2_ratio
    FROM dssc ORDER BY imp_x64 DESC, doc_id LIMIT {DSIR_N}
"""


EXTENDED_ORACLES["x10_dsir_select"] = _dsir_oracle_sql()


# ---------------------------------------------------------------------------
# Round 9: exact set-similarity record linkage (PPJoin prefix filter)
# ---------------------------------------------------------------------------

RL_NUM = 4  # Jaccard threshold 4/5 = 0.8 as an exact rational
RL_DEN = 5


def x2_record_linkage(spark, sf_dir):
    """Cross-relation record linkage (operators/dedup.py:
    ppjoin_best_match): odd-doc_id documents matched against even-
    doc_id documents by token-set Jaccard >= RL_NUM/RL_DEN with the
    LOSSLESS PPJoin prefix+positional+length filters — the exact
    counterpart of the banded-LSH (probabilistic) and max_df-capped
    (heuristic) near-dup paths; the entity-resolution primitive a
    catalog/identity pipeline runs between two feeds. Output: best
    match per left record (jac desc, db asc) plus the qualifying
    match count."""
    d = _docs(spark, sf_dir)
    return D.ppjoin_best_match(
        d.where(F.col("doc_id") % 2 == 1),
        d.where(F.col("doc_id") % 2 == 0),
        t_num=RL_NUM,
        t_den=RL_DEN,
    ).orderBy("da")


EXTENDED_QUERIES["x2_record_linkage"] = x2_record_linkage

EXTENDED_ORACLES["x2_record_linkage"] = f"""
    WITH rltk AS (
      SELECT DISTINCT CAST(doc_id % 2 = 0 AS INT) AS side,
             doc_id AS d, tok
      FROM (SELECT doc_id, unnest({_TOKS_EXPR}) AS tok FROM documents) u
    ),
    rldf AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
             FROM rltk GROUP BY 1),
    rlsz AS (SELECT side, d, CAST(count(*) AS BIGINT) AS sz
             FROM rltk GROUP BY 1, 2),
    rlord AS (
      SELECT t.side, t.d, t.tok,
             CAST(row_number() OVER (PARTITION BY t.side, t.d
                  ORDER BY f.df, t.tok) AS BIGINT) AS rn,
             s.sz
      FROM rltk t JOIN rldf f ON f.tok = t.tok
      JOIN rlsz s ON s.side = t.side AND s.d = t.d
    ),
    rlpref AS (
      SELECT side, d, tok, rn, sz FROM rlord
      WHERE rn <= sz - ((sz * {RL_NUM} + {RL_DEN} - 1) // {RL_DEN}) + 1
    ),
    rlcand AS (
      SELECT DISTINCT a.d AS da, b.d AS db
      FROM rlpref a JOIN rlpref b ON a.tok = b.tok
      WHERE a.side = 0 AND b.side = 1
        AND a.sz * {RL_DEN} >= b.sz * {RL_NUM}
        AND b.sz * {RL_DEN} >= a.sz * {RL_NUM}
        AND (least(a.sz - a.rn, b.sz - b.rn) + 1) * ({RL_NUM} + {RL_DEN})
            >= {RL_NUM} * (a.sz + b.sz)
    ),
    rlint AS (
      SELECT c.da, c.db, CAST(count(*) AS BIGINT) AS inter
      FROM rlcand c
      JOIN rltk x ON x.side = 0 AND x.d = c.da
      JOIN rltk y ON y.side = 1 AND y.d = c.db AND y.tok = x.tok
      GROUP BY 1, 2
    ),
    rlres AS (
      SELECT i.da, i.db,
             round(CAST(i.inter AS DOUBLE)
                   / CAST(sa.sz + sb.sz - i.inter AS DOUBLE), 4) AS jac
      FROM rlint i
      JOIN rlsz sa ON sa.side = 0 AND sa.d = i.da
      JOIN rlsz sb ON sb.side = 1 AND sb.d = i.db
      WHERE i.inter * {RL_DEN} >= {RL_NUM} * (sa.sz + sb.sz - i.inter)
    )
    SELECT da, db, jac, n_matches FROM (
      SELECT da, db, jac,
             row_number() OVER (PARTITION BY da
                  ORDER BY jac DESC, db) AS rk,
             CAST(count(*) OVER (PARTITION BY da) AS BIGINT) AS n_matches
      FROM rlres)
    WHERE rk = 1 ORDER BY da
"""


# ---------------------------------------------------------------------------
# Round 9: two-stage retrieval (ADC shortlist -> exact re-rank) and
# A/B power analysis
# ---------------------------------------------------------------------------

RR_MULT = 4  # shortlist width multiplier: re-rank PQ_K*RR_MULT candidates


def x3_adc_rerank(spark, sf_dir):
    """Two-stage ANN retrieval — the production pattern every
    billion-vector store runs (FAISS "search then refine"): a WIDE
    ADC shortlist (PQ_K * RR_MULT candidates from the compressed
    index) re-ranked by EXACT integer squared-L2 on the original
    vectors, keeping top PQ_K. Reports per query how many exact
    top-k hits each stage holds: adc_hits (pure ADC top-k),
    shortlist_hits (the re-rank ceiling — hits present anywhere in
    the shortlist) and rerank_hits (what refine actually recovers;
    equals shortlist_hits by construction since exact re-rank sorts
    perfectly within the shortlist — the gap adc->shortlist is the
    value of refine, the gap shortlist->k is what only a wider probe
    can buy).

    Scale shape: the shortlist is top-k'-bounded per query, so the
    refine stage fetches PQ_NQ x k' full vectors — the only stage
    touching raw vectors, exactly why the pattern scales; the exact
    baseline here is the same brute-force instrument frame
    x3_pq_vs_rq_recall pins."""
    from diepy_spark.operators.clustering import quantize_vectors
    from diepy_spark.operators.similarity import pq_adc_topk

    v = _vecs(spark, sf_dir)
    books = _books_cached(spark, sf_dir, PQ_M, PQ_CODES, KM_SCALE)
    short = pq_adc_topk(
        v.where(F.col("vec_id") < PQ_NQ),
        v.where(F.col("vec_id") >= PQ_NQ),
        books,
        k=PQ_K * RR_MULT,
        scale=KM_SCALE,
    ).localCheckpoint(eager=False)  # bounded: NQ x k' rows
    qz = quantize_vectors(v.where(F.col("vec_id") < PQ_NQ)).select(
        F.col("vec_id").alias("qid"), F.col("xi").alias("qxi")
    )
    cz = quantize_vectors(v.where(F.col("vec_id") >= PQ_NQ)).select(
        F.col("vec_id").alias("cid"), F.col("xi").alias("cxi")
    )
    l2 = F.expr(
        "aggregate(zip_with(qxi, cxi, (a, b) -> (a - b) * (a - b)),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    exact_all = cz.join(F.broadcast(qz)).withColumn("d", l2)
    we = Window.partitionBy("qid").orderBy("d", "cid")
    exact = (
        exact_all.withColumn("rk", F.row_number().over(we))
        .where(F.col("rk") <= PQ_K)
        .select("qid", "cid")
        .localCheckpoint(eager=False)  # NQ x k rows, three consumers
    )
    refined = short.join(
        exact_all.select("qid", "cid", "d"), ["qid", "cid"]
    )
    wr = Window.partitionBy("qid").orderBy("d", "cid")
    rr = (
        refined.withColumn("rrk", F.row_number().over(wr))
        .where(F.col("rrk") <= PQ_K)
        .select("qid", "cid")
    )

    def hits(df, name):
        return (
            df.join(exact, ["qid", "cid"])
            .groupBy("qid")
            .agg(F.count(F.lit(1)).cast("bigint").alias(name))
        )

    base = exact.select("qid").distinct()
    out = (
        base.join(hits(short.where(F.col("rk") <= PQ_K), "adc_hits"), "qid", "left")
        .join(hits(short, "shortlist_hits"), "qid", "left")
        .join(hits(rr, "rerank_hits"), "qid", "left")
        .selectExpr(
            "qid",
            "CAST(coalesce(adc_hits, 0) AS BIGINT) AS adc_hits",
            "CAST(coalesce(shortlist_hits, 0) AS BIGINT) AS shortlist_hits",
            "CAST(coalesce(rerank_hits, 0) AS BIGINT) AS rerank_hits",
            f"CAST({PQ_K} AS BIGINT) AS k",
        )
    )
    return out.orderBy("qid")


EXTENDED_QUERIES["x3_adc_rerank"] = x3_adc_rerank


def _adc_rerank_oracle_sql() -> str:
    return f"""
    WITH rrs AS ({_pq_adc_oracle_sql(k=PQ_K * RR_MULT)}),
    rru AS (SELECT vec_id,
                 CAST(round(CAST(x AS DOUBLE) * {KM_SCALE}) AS BIGINT) AS x,
                 i
          FROM (SELECT vec_id, unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings)),
    rrd AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
                   CAST(SUM((q.x - c.x) * (q.x - c.x)) AS BIGINT) AS d
            FROM rru q JOIN rru c ON c.i = q.i
            WHERE q.vec_id < {PQ_NQ} AND c.vec_id >= {PQ_NQ}
            GROUP BY 1, 2),
    rrex AS (SELECT qid, cid FROM (
               SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid
                      ORDER BY d, cid) AS rk FROM rrd)
             WHERE rk <= {PQ_K}),
    rrrr AS (SELECT qid, cid FROM (
               SELECT s.qid, s.cid, ROW_NUMBER() OVER (PARTITION BY s.qid
                      ORDER BY d.d, s.cid) AS rrk
               FROM rrs s JOIN rrd d ON d.qid = s.qid AND d.cid = s.cid)
             WHERE rrk <= {PQ_K}),
    rha AS (SELECT s.qid, CAST(count(*) AS BIGINT) AS adc_hits
            FROM rrs s JOIN rrex e ON e.qid = s.qid AND e.cid = s.cid
            WHERE s.rk <= {PQ_K} GROUP BY 1),
    rhs AS (SELECT s.qid, CAST(count(*) AS BIGINT) AS shortlist_hits
            FROM rrs s JOIN rrex e ON e.qid = s.qid AND e.cid = s.cid
            GROUP BY 1),
    rhr AS (SELECT r.qid, CAST(count(*) AS BIGINT) AS rerank_hits
            FROM rrrr r JOIN rrex e ON e.qid = r.qid AND e.cid = r.cid
            GROUP BY 1)
    SELECT b.qid,
           CAST(coalesce(a.adc_hits, 0) AS BIGINT) AS adc_hits,
           CAST(coalesce(s.shortlist_hits, 0) AS BIGINT) AS shortlist_hits,
           CAST(coalesce(r.rerank_hits, 0) AS BIGINT) AS rerank_hits,
           CAST({PQ_K} AS BIGINT) AS k
    FROM (SELECT DISTINCT qid FROM rrex) b
    LEFT JOIN rha a ON a.qid = b.qid
    LEFT JOIN rhs s ON s.qid = b.qid
    LEFT JOIN rhr r ON r.qid = b.qid
    ORDER BY b.qid
"""


EXTENDED_ORACLES["x3_adc_rerank"] = _adc_rerank_oracle_sql()


# Two-proportion power analysis — shared closed-form TEXTS over exact
# integer counts (Fleiss-style normal approximation). z constants are
# the standard alpha = 0.05 two-sided / power = 0.8 quantiles, spelled
# once here for both engines.
PW_Z_ALPHA = "CAST(1.959963984540054 AS DOUBLE)"
PW_Z_BETA = "CAST(0.8416212335729143 AS DOUBLE)"
_PW_PA = "(CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE))"
_PW_PB = "(CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))"
_PW_VAR = (
    f"({_PW_PA} * (1 - {_PW_PA}) + {_PW_PB} * (1 - {_PW_PB}))"
)
_PW_NREQ = (
    f"ceil((({PW_Z_ALPHA} + {PW_Z_BETA}) * ({PW_Z_ALPHA} + {PW_Z_BETA}))"
    f" * {_PW_VAR}"
    f" / (({_PW_PA} - {_PW_PB}) * ({_PW_PA} - {_PW_PB})))"
)
_PW_MDE = (
    f"({PW_Z_ALPHA} + {PW_Z_BETA})"
    f" * sqrt({_PW_PA} * (1 - {_PW_PA}) / CAST(n_a AS DOUBLE)"
    f" + {_PW_PB} * (1 - {_PW_PB}) / CAST(n_b AS DOUBLE))"
)


def x8_power_analysis(spark, sf_dir):
    """Experiment-design closer for the A/B arc: on x8_ab_test's exact
    cohorts (even/odd user split, conversion = a high-value purchase),
    report the sample size PER ARM needed to detect the OBSERVED
    effect at alpha = 0.05 two-sided / power = 0.8 (the Fleiss
    two-proportion formula) and the minimum detectable effect at the
    CURRENT arm sizes — the two numbers a growth team reads before
    deciding to keep an experiment running. All inputs are exact
    integer counts from one distinct-user aggregate; the closed forms
    are shared texts (one IEEE evaluation order in both engines).

    Scale shape: identical to x8_ab_test — one corpus aggregate to
    per-user flags, one 2-row cohort aggregate, arithmetic on a 1-row
    frame."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > AB_CONV_MIN)
            ).cast("int")
        ).alias("conv")
    )
    g = per_user.withColumn("grp", (F.col("user_id") % 2 == 0).cast("int"))
    agg = g.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("c"),
    )
    a = agg.where(F.col("grp") == 1).select(
        F.col("n").alias("n_a"), F.col("c").alias("c_a")
    )
    b = agg.where(F.col("grp") == 0).select(
        F.col("n").alias("n_b"), F.col("c").alias("c_b")
    )
    return a.crossJoin(b).selectExpr(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        f"round({_PW_PA}, 6) AS p_a",
        f"round({_PW_PB}, 6) AS p_b",
        f"CAST({_PW_NREQ} AS BIGINT) AS n_required_per_arm",
        f"round({_PW_MDE}, 6) AS mde_at_current_n",
    )


EXTENDED_QUERIES["x8_power_analysis"] = x8_power_analysis

EXTENDED_ORACLES["x8_power_analysis"] = f"""
    WITH pwu AS (
      SELECT user_id,
             CAST(max(CASE WHEN event_type = 'purchase'
                  AND value > {AB_CONV_MIN} THEN 1 ELSE 0 END) AS INT)
               AS conv
      FROM events GROUP BY 1
    ),
    pwg AS (
      SELECT CAST(user_id % 2 = 0 AS INT) AS grp,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(conv) AS BIGINT) AS c
      FROM pwu GROUP BY 1
    ),
    pwa AS (SELECT n AS n_a, c AS c_a FROM pwg WHERE grp = 1),
    pwb AS (SELECT n AS n_b, c AS c_b FROM pwg WHERE grp = 0)
    SELECT n_a, c_a, n_b, c_b,
           round({_PW_PA}, 6) AS p_a,
           round({_PW_PB}, 6) AS p_b,
           CAST({_PW_NREQ} AS BIGINT) AS n_required_per_arm,
           round({_PW_MDE}, 6) AS mde_at_current_n
    FROM pwa, pwb
"""


# ---------------------------------------------------------------------------
# Round 10: fold-stability probes (VERDICT r9 #7).  DuckDB 1.0.0's
# list_reduce can mis-assign results ACROSS ROWS when per-row iteration
# counts differ within a vector chunk (the x5_unigram_em sf0.001
# defect).  Every fold-based oracle in the repo therefore gets a probe:
# run the fold CTE over the FULL key set and over a FILTERED subset
# (holding every model input — seed scores, merge pair — fixed from
# the full data), and the per-key fold outputs must agree.  A mismatch
# is the contamination hazard; the fix is the uniform-iteration
# padding of _uni_dpfull_duck.  tests/test_fold_stability.py runs
# these at sf0.001 with two different chunk-layout-changing filters.
#
# Single-row folds (x8_sign_test's binomial CDF: the fold input is the
# one-row sgc aggregate) cannot cross-contaminate and carry no probe.
# ---------------------------------------------------------------------------


def _fold_probes() -> dict:
    """name -> (sql_template, key_expr).  Template has one {flt} slot
    filtering the rows that ENTER the fold; key_expr is the column the
    test's md5 filter references.  Every probe returns (k VARCHAR,
    v VARCHAR) so the comparison is uniform."""
    from diepy_spark.plans.relational import EWMA_ALPHA

    mp, miss = T.UNI_MAX_PIECE, T.UNI_MISS
    sc_expr = _uni_score_sql("[", "]", "len", "list_filter", "//")
    a, b = repr(EWMA_ALPHA), repr(1.0 - EWMA_ALPHA)
    hw_step = _HW_STEP.format(x="x[1]", l="acc[1]", b="acc[2]")
    hw_trend = _HW_TREND.format(nl=hw_step, l="acc[1]", b="acc[2]")
    hw_sae = _HW_SAE.format(x="x[1]", l="acc[1]", b="acc[2]", sae="acc[3]")
    hw_dp = (
        "list_reduce(list_prepend("
        "[vals[2], vals[2] - vals[1], CAST(0 AS DOUBLE)],"
        " list_transform(vals[3:], v -> [v])),"
        f" (acc, x) -> [{hw_step}, {hw_trend}, {hw_sae}])"
    )
    probes = {}
    # 1) the packed-integer Viterbi DP + backtrace (x5_unigram_encode /
    #    x5_unigram_em) — seed scores from FULL documents, filter only
    #    the words entering the fold.
    probes["uni_dp_backtrace"] = (
        f"""
    WITH {_uni_seed_ctes()},
    fpsc AS (SELECT piece, CAST({sc_expr} AS BIGINT) AS sc
             FROM (SELECT piece, freq FROM ugsel), ugt),
    fpw AS (
      SELECT DISTINCT tok AS w
      FROM (SELECT unnest({_TOKS_EXPR}) AS tok FROM documents) u
      WHERE length(tok) BETWEEN {BPE_WORD_MIN} AND {BPE_WORD_MAX}
        AND ({{flt}})),
    fpg AS (
      SELECT w, i0, k,
             CASE WHEN i0 + k - 1 <= length(w)
                  THEN substring(w, i0, k) END AS piece
      FROM (
        SELECT w, ((p.j - 1) // {mp}) + 1 AS i0,
               ((p.j - 1) % {mp}) + 1 AS k
        FROM fpw, LATERAL (SELECT unnest(generate_series(1,
             length(w) * {mp})) AS j) p)),
    fps AS (
      SELECT g.w, g.i0, g.k,
             CAST(coalesce(s.sc, {miss}) AS BIGINT) AS sc
      FROM fpg g LEFT JOIN fpsc s ON s.piece = g.piece),
    fpa AS (SELECT w, list(sc ORDER BY i0, k) AS sc FROM fps GROUP BY 1),
    fpd AS (SELECT w, sc, {_uni_dpfull_duck()} AS dparr FROM fpa),
    fpb AS (SELECT w, dparr[length(w) + 1] AS c, {_uni_bt_duck()} AS ps
            FROM fpd)
    SELECT w AS k,
           CAST(c AS VARCHAR) || '|' || array_to_string(ps, ' ') AS v
    FROM fpb
""",
        "w",
    )
    # 1b) the same fold over the UNI_DICT_MAX-capped dictionary — the
    #     exact word set (and so chunk layout) of the x5_unigram_em
    #     defect; the unpadded fold loses a row here at sf0.001.
    probes["uni_dp_backtrace_capped"] = (
        f"""
    WITH {_uni_seed_ctes()},
    fcsc AS (SELECT piece, CAST({sc_expr} AS BIGINT) AS sc
             FROM (SELECT piece, freq FROM ugsel), ugt),
    fcw AS (SELECT w FROM ug0 ORDER BY n DESC, w LIMIT {UNI_DICT_MAX}),
    fcwf AS (SELECT w FROM fcw WHERE {{flt}}),
    fcg AS (
      SELECT w, i0, k,
             CASE WHEN i0 + k - 1 <= length(w)
                  THEN substring(w, i0, k) END AS piece
      FROM (
        SELECT w, ((p.j - 1) // {mp}) + 1 AS i0,
               ((p.j - 1) % {mp}) + 1 AS k
        FROM fcwf, LATERAL (SELECT unnest(generate_series(1,
             length(w) * {mp})) AS j) p)),
    fcs AS (
      SELECT g.w, g.i0, g.k,
             CAST(coalesce(s.sc, {miss}) AS BIGINT) AS sc
      FROM fcg g LEFT JOIN fcsc s ON s.piece = g.piece),
    fca AS (SELECT w, list(sc ORDER BY i0, k) AS sc FROM fcs GROUP BY 1),
    fcd AS (SELECT w, sc, {_uni_dpfull_duck()} AS dparr FROM fca),
    fcb AS (SELECT w, dparr[length(w) + 1] AS c, {_uni_bt_duck()} AS ps
            FROM fcd)
    SELECT w AS k,
           CAST(c AS VARCHAR) || '|' || array_to_string(ps, ' ') AS v
    FROM fcb
""",
        "w",
    )
    # 2) the BPE merge-application string fold (x5_bpe_train/apply) —
    #    merge pair from FULL word stats, filter only the folded words.
    probes["bpe_merge_fold"] = (
        f"""
    WITH fbw AS (
      SELECT tok AS w, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest({_TOKS_EXPR}) AS tok FROM documents) u
      WHERE length(tok) BETWEEN {BPE_WORD_MIN} AND {BPE_WORD_MAX}
      GROUP BY 1),
    fbp AS (
      SELECT p.pr AS pr, CAST(sum(n) AS BIGINT) AS cnt
      FROM (SELECT w, n, list_transform(generate_series(1, length(w)),
                 i -> substring(w, i, 1)) AS syms FROM fbw) t,
      LATERAL (SELECT unnest(list_transform(
           generate_series(1, len(syms) - 1),
           j -> syms[j] || ' ' || syms[j + 1])) AS pr) p
      WHERE len(syms) >= 2 GROUP BY 1),
    fbm AS (
      SELECT string_split(pr, ' ')[1] AS a, string_split(pr, ' ')[2] AS b
      FROM fbp ORDER BY cnt DESC, pr LIMIT 1),
    fbs AS (
      SELECT w, list_transform(generate_series(1, length(w)),
             i -> substring(w, i, 1)) AS syms
      FROM fbw WHERE {{flt}}),
    fbf AS (
      SELECT w, string_split(substring(list_reduce(list_prepend('', syms),
             (acc, s) -> {_BPE_STEP}), 2), ' ') AS syms2
      FROM fbs, fbm)
    SELECT w AS k, array_to_string(syms2, ' ') AS v FROM fbf
""",
        "w",
    )
    # 3) the EWMA terminal fold (x7_stream_ewma) over per-user series.
    probes["ewma_fold"] = (
        f"""
    WITH fes AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS vs
      FROM events GROUP BY user_id),
    fef AS (SELECT * FROM fes WHERE {{flt}})
    SELECT CAST(user_id AS VARCHAR) AS k,
           CAST(list_reduce(vs, (acc, x) -> {a} * x + {b} * acc)
                AS VARCHAR) AS v
    FROM fef
""",
        "user_id",
    )
    # 4) the per-prefix EWMA fold family (r52_ewma) — nested variable-
    #    length folds, the most layout-sensitive shape in the repo.
    probes["ewma_prefix_fold"] = (
        f"""
    WITH fps2 AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS vs
      FROM events GROUP BY user_id),
    fpf2 AS (SELECT * FROM fps2 WHERE {{flt}})
    SELECT CAST(user_id AS VARCHAR) AS k,
           array_to_string(list_transform(
             list_transform(generate_series(1, len(vs)),
               i -> list_reduce(vs[1:i],
                    (acc, x) -> {a} * x + {b} * acc)),
             z -> CAST(z AS VARCHAR)), ',') AS v
    FROM fpf2
""",
        "user_id",
    )
    # 5) the Holt 3-state fold (x8_holt_linear) over per-type daily
    #    series (few rows, but lengths can differ when a type has gaps).
    probes["holt_fold"] = (
        f"""
    WITH fhd AS {_DAILY_CV_SQL},
    fhg AS (
      SELECT event_type,
             list_transform(list(v ORDER BY day),
                            vv -> CAST(vv AS DOUBLE)) AS vals
      FROM fhd GROUP BY 1),
    fhf AS (SELECT * FROM fhg WHERE len(vals) >= 3 AND ({{flt}}))
    SELECT event_type AS k,
           array_to_string(list_transform({hw_dp},
             z -> CAST(z AS VARCHAR)), ',') AS v
    FROM fhf
""",
        "event_type",
    )
    return probes


FOLD_PROBES = _fold_probes()


# ---------------------------------------------------------------------------
# Round 10: PPJoin candidate-volume instrument (VERDICT r9 missing #4 —
# the exact-join family's x2_lsh_bucket_health)
# ---------------------------------------------------------------------------


def x2_ppjoin_health(spark, sf_dir):
    """Candidate-volume audit for x2_record_linkage (operators/
    dedup.py:ppjoin_prefix_health): the number you read BEFORE
    launching the PPJoin verify join, exactly as x2_lsh_bucket_health
    prices the LSH band join. One row of exact integers: per-side doc
    and unique-signature counts (the duplicate-compression ratio —
    the term that made the uncompressed join quadratic on replicated
    corpora), prefix-ledger sizes, shared prefix tokens, the raw
    candidate-pair load Σ dfL·dfR the token join will materialize,
    and the hottest token's load (the worst join task; a mega-token
    needs a stop-token filter, like a mega-bucket in the LSH audit).

    Scale shape: identical to the linkage front half — one tokenize
    pass, signature compression, vocabulary-sized df/prefix frames;
    the instrument never materializes a candidate pair."""
    d = _docs(spark, sf_dir)
    return D.ppjoin_prefix_health(
        d.where(F.col("doc_id") % 2 == 1),
        d.where(F.col("doc_id") % 2 == 0),
        t_num=RL_NUM,
        t_den=RL_DEN,
    )


EXTENDED_QUERIES["x2_ppjoin_health"] = x2_ppjoin_health

EXTENDED_ORACLES["x2_ppjoin_health"] = f"""
    WITH pht AS (
      SELECT DISTINCT CAST(doc_id % 2 = 0 AS INT) AS side,
             doc_id AS d, tok
      FROM (SELECT doc_id, unnest({_TOKS_EXPR}) AS tok FROM documents) u
    ),
    phm AS (
      SELECT side, d,
             array_to_string(list(tok ORDER BY tok), ' ') AS sig
      FROM pht GROUP BY 1, 2
    ),
    phu AS (
      SELECT DISTINCT t.side, m.sig AS d, t.tok
      FROM pht t JOIN phm m ON m.side = t.side AND m.d = t.d
    ),
    phdf AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
             FROM phu GROUP BY 1),
    phsz AS (SELECT side, d, CAST(count(*) AS BIGINT) AS sz
             FROM phu GROUP BY 1, 2),
    phord AS (
      SELECT t.side, t.d, t.tok,
             CAST(row_number() OVER (PARTITION BY t.side, t.d
                  ORDER BY f.df, t.tok) AS BIGINT) AS rn,
             s.sz
      FROM phu t JOIN phdf f ON f.tok = t.tok
      JOIN phsz s ON s.side = t.side AND s.d = t.d
    ),
    phpref AS (
      SELECT side, d, tok FROM phord
      WHERE rn <= sz - ((sz * {RL_NUM} + {RL_DEN} - 1) // {RL_DEN}) + 1
    ),
    phdocs AS (
      SELECT side, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT sig) AS BIGINT) AS n_sigs
      FROM phm GROUP BY 1
    ),
    phrows AS (SELECT side, CAST(count(*) AS BIGINT) AS prefix_rows
               FROM phpref GROUP BY 1),
    phtok AS (SELECT side, tok, CAST(count(*) AS BIGINT) AS df
              FROM phpref GROUP BY 1, 2),
    phsh AS (
      SELECT CAST(count(*) AS BIGINT) AS shared_prefix_tokens,
             CAST(sum(l.df * r.df) AS BIGINT) AS cand_load,
             CAST(max(l.df * r.df) AS BIGINT) AS max_token_load
      FROM (SELECT tok, df FROM phtok WHERE side = 0) l
      JOIN (SELECT tok, df FROM phtok WHERE side = 1) r USING (tok)
    )
    SELECT dl.n_docs AS n_left_docs, dr.n_docs AS n_right_docs,
           dl.n_sigs AS n_left_sigs, dr.n_sigs AS n_right_sigs,
           pl.prefix_rows AS prefix_rows_l,
           pr2.prefix_rows AS prefix_rows_r,
           s.shared_prefix_tokens, s.cand_load, s.max_token_load
    FROM (SELECT * FROM phdocs WHERE side = 0) dl,
         (SELECT * FROM phdocs WHERE side = 1) dr,
         (SELECT * FROM phrows WHERE side = 0) pl,
         (SELECT * FROM phrows WHERE side = 1) pr2,
         phsh s
"""


# ---------------------------------------------------------------------------
# Round 10: CUSUM changepoint detection (the monitoring sibling of
# x12_volume_anomaly: WHERE did the level shift, not just whether)
# ---------------------------------------------------------------------------


def x8_cusum_changepoint(spark, sf_dir):
    """Single changepoint per event_type by the CUSUM statistic over
    the daily revenue series: cp = argmax_i |n·S_i − i·S_n| (S =
    cumulative cents), the classic at-most-one-change level-shift
    locator (Page 1954's cumulative-sum test in its offline scan
    form) — the question a pipeline asks AFTER x12_volume_anomaly
    flags a day: when did the regime change, and what were the means
    either side.

    Exactness: revenue is exact integer cents; the statistic
    n·S_i − i·S_n stays BIGINT end to end (no mean subtraction — the
    cross-multiplied form), so the argmax and tie-break (smallest
    day) are integer decisions; the two segment means are single
    rational divisions rendered once at 6 decimals.

    Scale shape: one map-side-combined daily aggregate, one
    per-type ordered window for the running sum (types partition the
    work), one argmax row per type — no joins, no explodes."""
    daily = (
        _day_cents(spark, sf_dir)
        .groupBy("event_type", "day")
        .agg(F.sum("cents").cast("bigint").alias("v"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    wt = Window.partitionBy("event_type")
    cum = (
        daily.withColumn("i", F.row_number().over(w).cast("bigint"))
        .withColumn("s", F.sum("v").over(w).cast("bigint"))
        .withColumn("n", F.count(F.lit(1)).over(wt).cast("bigint"))
        .withColumn("sn", F.sum("v").over(wt).cast("bigint"))
    )
    stat = cum.where("i < n").selectExpr(
        "event_type", "day", "i", "s", "n", "sn",
        "abs(n * s - i * sn) AS stat",
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.col("stat").desc(), F.col("i")
    )
    return (
        stat.withColumn("rk", F.row_number().over(wr))
        .where("rk = 1")
        .selectExpr(
            "event_type",
            "CAST(n AS BIGINT) AS n_days",
            "CAST(i AS BIGINT) AS cp_idx",
            "CAST(day AS BIGINT) AS cp_day",
            "CAST(stat AS BIGINT) AS cusum_stat",
            "round(CAST(s AS DOUBLE) / CAST(i AS DOUBLE) / 100, 6)"
            " AS mean_before",
            "round(CAST(sn - s AS DOUBLE) / CAST(n - i AS DOUBLE) / 100, 6)"
            " AS mean_after",
        )
        .orderBy("event_type")
    )


EXTENDED_QUERIES["x8_cusum_changepoint"] = x8_cusum_changepoint

EXTENDED_ORACLES["x8_cusum_changepoint"] = f"""
    WITH cud AS (
      SELECT event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) // {_DAY_DIV} AS BIGINT)
               AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    cuc AS (
      SELECT event_type, day,
             CAST(row_number() OVER (PARTITION BY event_type
                  ORDER BY day) AS BIGINT) AS i,
             CAST(sum(v) OVER (PARTITION BY event_type ORDER BY day
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             CAST(sum(v) OVER (PARTITION BY event_type) AS BIGINT) AS sn
      FROM cud
    ),
    cus AS (
      SELECT event_type, day, i, s, n, sn,
             abs(n * s - i * sn) AS stat
      FROM cuc WHERE i < n
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           CAST(i AS BIGINT) AS cp_idx,
           CAST(day AS BIGINT) AS cp_day,
           CAST(stat AS BIGINT) AS cusum_stat,
           round(CAST(s AS DOUBLE) / CAST(i AS DOUBLE) / 100, 6)
             AS mean_before,
           round(CAST(sn - s AS DOUBLE) / CAST(n - i AS DOUBLE) / 100, 6)
             AS mean_after
    FROM (
      SELECT *, row_number() OVER (PARTITION BY event_type
                 ORDER BY stat DESC, i) AS rk
      FROM cus)
    WHERE rk = 1 ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Round 10: Dirichlet query-likelihood retrieval — the second classical
# lexical ranker next to BM25 (same probes, directly comparable lists)
# ---------------------------------------------------------------------------


def x3_query_likelihood(spark, sf_dir):
    """Dirichlet-smoothed query-likelihood retrieval (operators/
    text.py:ql_topk — Ponte & Croft 1998, Zhai & Lafferty 2001): the
    SAME probe queries and candidate discipline as x3_bm25_topk, so a
    ranker comparison reads the two lists query-for-query. Scores are
    integer ln-nanos end to end (each ln rounded once at 9 decimals,
    carried as BIGINT), so ranking and output are hash-exact."""
    return T.ql_topk(
        _docs(spark, sf_dir),
        n_queries=BM_NQ, n_qterms=BM_QTERMS, k=BM_K, min_len=BM_MINLEN,
    ).orderBy("query_id", "rk")


EXTENDED_QUERIES["x3_query_likelihood"] = x3_query_likelihood


def _ql_oracle_sql() -> str:
    from diepy_spark.operators.text import _QL_LN9, QL_MU

    mu = QL_MU
    return f"""
    WITH qltk AS (SELECT doc_id AS d, unnest({_TOKS_EXPR}) AS tok
                  FROM documents),
    qltf AS (SELECT d, tok, CAST(count(*) AS BIGINT) AS cnt
             FROM qltk GROUP BY 1, 2),
    qldl AS (SELECT d, CAST(sum(cnt) AS BIGINT) AS dl
             FROM qltf GROUP BY 1),
    qlco AS (SELECT CAST(sum(dl) AS BIGINT) AS t_toks FROM qldl),
    qlcf AS (SELECT tok, CAST(sum(cnt) AS BIGINT) AS cf,
                    CAST(count(*) AS BIGINT) AS df
             FROM qltf GROUP BY 1),
    qlq AS (SELECT d AS q FROM qldl WHERE dl >= {BM_MINLEN}
            ORDER BY d LIMIT {BM_NQ}),
    qlqt AS (SELECT q, tok, cf FROM (
        SELECT b.q, f.tok, c.cf,
               row_number() OVER (PARTITION BY b.q
                                  ORDER BY c.df, f.tok) AS rn
        FROM qlq b JOIN qltf f ON f.d = b.q
        JOIN qlcf c ON c.tok = f.tok)
      WHERE rn <= {BM_QTERMS}),
    qlqc AS (SELECT q,
                    CAST(sum({_QL_LN9.format(a=f'{mu} * cf')}) AS BIGINT)
                      AS qc9,
                    CAST(count(*) AS BIGINT) AS nq
             FROM qlqt GROUP BY 1),
    qllnd AS (SELECT d,
                     {_QL_LN9.format(a=f't_toks * (dl + {mu})')} AS lnd9
              FROM qldl, qlco),
    qlcd AS (SELECT t.q, f.d,
        CAST(sum({_QL_LN9.format(a=f'f.cnt * t_toks + {mu} * t.cf')}
             - {_QL_LN9.format(a=f'{mu} * t.cf')}) AS BIGINT) AS sd9
      FROM qlqt t JOIN qltf f ON f.tok = t.tok, qlco
      WHERE f.d <> t.q GROUP BY 1, 2),
    qlsc AS (SELECT s.q, s.d, qc9 + sd9 - nq * lnd9 AS score_x1e9
             FROM qlcd s JOIN qllnd l ON l.d = s.d
             JOIN qlqc c ON c.q = s.q)
    SELECT query_id, rk, doc_id, score_x1e9 FROM (
      SELECT q AS query_id, d AS doc_id,
             CAST(score_x1e9 AS BIGINT) AS score_x1e9,
             CAST(row_number() OVER (PARTITION BY q
                  ORDER BY score_x1e9 DESC, d) AS INT) AS rk
      FROM qlsc)
    WHERE rk <= {BM_K} ORDER BY query_id, rk
"""


EXTENDED_ORACLES["x3_query_likelihood"] = _ql_oracle_sql()


# ---------------------------------------------------------------------------
# Round 10: multiple testing under FDR control — per-type exact sign
# tests + Benjamini-Hochberg, every decision an integer comparison
# ---------------------------------------------------------------------------

FDR_Q_NUM = 1
FDR_Q_DEN = 10  # FDR level q = 0.1


def x8_fdr_sign(spark, sf_dir):
    """Benjamini-Hochberg FDR over a FAMILY of exact per-event-type
    sign tests (week-over-week revenue, the x8_sign_test statistic per
    type) — the multiple-testing closer of the x8 panel: run one test
    per segment and control the false-discovery rate instead of
    eyeballing five p-values (Benjamini & Hochberg 1995).

    Exactness: each p is the exact dyadic rational
    min(1, 2*min(P(X<=s), P(X>=s))) with X ~ Bin(m, 1/2) (the
    x8_sign_test C(m,k) running fold); rescaling every numerator to
    the COMMON denominator 2^mx (mx = max m) makes p-ordering and the
    BH test q*rk/M >= p pure BIGINT comparisons:
    FDR_Q_DEN * M * p_common <= FDR_Q_NUM * rk << mx. The rendered
    p_value is one division, rounded once.

    Scale shape: one corpus aggregate to the (type, day) frame;
    everything after is bounded by n_types x calendar days; the BH
    sort is over n_types rows. The DuckDB oracle pads the CDF folds
    to a uniform mx iterations (the list_reduce cross-row hazard —
    tests/test_fold_stability.py)."""
    daily = (
        _day_cents(spark, sf_dir)
        .groupBy("event_type", "day")
        .agg(F.sum("cents").cast("bigint").alias("v"))
        .localCheckpoint(eager=False)  # bounded: types x calendar days
    )
    a = daily.selectExpr("event_type", "day", "v AS v0")
    b = daily.selectExpr(
        "event_type", f"day - {SIGN_LAG_DAYS} AS day", "v AS v1"
    )
    counts = (
        a.join(b, ["event_type", "day"])
        .selectExpr(
            "event_type",
            "CAST(v1 > v0 AS INT) AS pos",
            "CAST(v1 = v0 AS INT) AS tie",
        )
        .groupBy("event_type")
        .agg(
            F.expr("CAST(sum(1 - tie) AS BIGINT)").alias("m"),
            F.expr("CAST(sum(tie) AS BIGINT)").alias("ties"),
            F.expr("CAST(sum(pos) AS BIGINT)").alias("s_pos"),
        )
    )

    def cdf_num(s):
        step = (
            "named_struct("
            "'c', ac.c * (m - k + 1) div k,"
            " 'a', ac.a + ac.c * (m - k + 1) div k)"
        )
        return (
            "aggregate(filter(sequence(1, greatest(m, 1)),"
            f" k -> k <= m AND k <= {s}),"
            " named_struct('c', CAST(1 AS BIGINT), 'a', CAST(1 AS BIGINT)),"
            f" (ac, k) -> {step}).a"
        )

    denom = (
        "aggregate(filter(sequence(1, greatest(m, 1)), k2 -> k2 <= m),"
        " CAST(1 AS BIGINT), (ad, k2) -> ad * 2)"
    )
    mxf = counts.agg(F.max("m").cast("bigint").alias("mx"))
    base = (
        counts.crossJoin(F.broadcast(mxf))
        .selectExpr(
            "event_type", "m", "ties", "s_pos", "mx",
            f"{cdf_num('s_pos')} AS num_le",
            f"{cdf_num('m - s_pos')} AS num_ge",
            f"{denom} AS denom",
        )
        .selectExpr(
            "event_type", "m", "ties", "s_pos", "mx", "denom",
            "least(denom, 2 * least(num_le, num_ge)) AS p_num",
        )
        .selectExpr(
            "event_type", "m", "ties", "s_pos", "mx", "denom", "p_num",
            "p_num * shiftleft(CAST(1 AS BIGINT), CAST(mx - m AS INT))"
            " AS p_common",
        )
    )
    wall = Window.orderBy(F.col("p_common").asc(), F.col("event_type"))
    wtot = Window.partitionBy()
    ranked = (
        base.withColumn("rk", F.row_number().over(wall).cast("bigint"))
        .withColumn("mm", F.count(F.lit(1)).over(wtot).cast("bigint"))
        .selectExpr(
            "event_type", "m", "ties", "s_pos", "denom", "p_num",
            "p_common", "mx", "rk", "mm",
            f"CASE WHEN {FDR_Q_DEN} * mm * p_common <="
            f" {FDR_Q_NUM} * rk * shiftleft(CAST(1 AS BIGINT),"
            " CAST(mx AS INT)) THEN rk END AS hit",
        )
    )
    return ranked.selectExpr(
        "event_type",
        "m AS n_pairs",
        "ties",
        "s_pos",
        "round(CAST(p_num AS DOUBLE) / CAST(denom AS DOUBLE), 6)"
        " AS p_value",
        "CAST(rk AS INT) AS rk",
        f"round(CAST({FDR_Q_NUM} AS DOUBLE) * rk"
        f" / ({FDR_Q_DEN} * mm), 6) AS bh_cutoff",
        "CAST(CASE WHEN rk <= max(hit) OVER () THEN 1 ELSE 0 END AS INT)"
        " AS rejected",
    ).orderBy("rk")


EXTENDED_QUERIES["x8_fdr_sign"] = x8_fdr_sign


def _fdr_sign_oracle_sql() -> str:
    """Per-type exact sign tests + BH.  The CDF folds are PADDED to a
    uniform mx iterations (guard steps no-op past least(m, s)) — the
    DuckDB list_reduce cross-row contamination hazard applies here
    verbatim (per-type m varies within one chunk)."""

    def cdf_num(s):
        stepc = "ac[1] * (m - x[1] + 1) // x[1]"
        return (
            "list_reduce(list_prepend([CAST(1 AS BIGINT), CAST(1 AS BIGINT)],"
            " list_transform(range(1, CAST(mx AS INT) + 1),"
            " k -> [CAST(k AS BIGINT), CAST(k AS BIGINT)])),"
            f" (ac, x) -> CASE WHEN x[1] > least(m, {s}) THEN ac"
            f" ELSE [{stepc}, ac[2] + {stepc}] END)[2]"
        )

    denom = (
        "list_reduce(list_prepend([CAST(1 AS BIGINT)],"
        " list_transform(range(1, CAST(mx AS INT) + 1),"
        " k2 -> [CAST(k2 AS BIGINT)])),"
        " (ad, x2) -> CASE WHEN x2[1] > m THEN ad ELSE [ad[1] * 2] END)[1]"
    )
    return f"""
    WITH fbd AS (
      SELECT event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) // {_DAY_DIV} AS BIGINT)
               AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    fbp AS (
      SELECT a.event_type,
             CAST(b.v > a.v AS INT) AS pos, CAST(b.v = a.v AS INT) AS tie
      FROM fbd a JOIN fbd b ON b.event_type = a.event_type
                          AND b.day = a.day + {SIGN_LAG_DAYS}
    ),
    fbc AS (
      SELECT event_type,
             CAST(sum(1 - tie) AS BIGINT) AS m,
             CAST(sum(tie) AS BIGINT) AS ties,
             CAST(sum(pos) AS BIGINT) AS s_pos
      FROM fbp GROUP BY 1
    ),
    fbmx AS (SELECT CAST(max(m) AS BIGINT) AS mx FROM fbc),
    fbb AS (
      SELECT event_type, m, ties, s_pos, mx,
             {cdf_num('s_pos')} AS num_le,
             {cdf_num('m - s_pos')} AS num_ge,
             {denom} AS denom
      FROM fbc, fbmx
    ),
    fbn AS (
      SELECT event_type, m, ties, s_pos, mx, denom,
             least(denom, 2 * least(num_le, num_ge)) AS p_num
      FROM fbb
    ),
    fbr AS (
      SELECT *,
             p_num * (CAST(1 AS BIGINT) << CAST(mx - m AS INT))
               AS p_common
      FROM fbn
    ),
    fbk AS (
      SELECT *,
             CAST(row_number() OVER (ORDER BY p_common, event_type)
                  AS BIGINT) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS mm
      FROM fbr
    ),
    fbh AS (
      SELECT *,
             CASE WHEN {FDR_Q_DEN} * mm * p_common <=
                  {FDR_Q_NUM} * rk * (CAST(1 AS BIGINT) << CAST(mx AS INT))
                  THEN rk END AS hit
      FROM fbk
    )
    SELECT event_type,
           m AS n_pairs, ties, s_pos,
           round(CAST(p_num AS DOUBLE) / CAST(denom AS DOUBLE), 6)
             AS p_value,
           CAST(rk AS INT) AS rk,
           round(CAST({FDR_Q_NUM} AS DOUBLE) * rk
                 / ({FDR_Q_DEN} * mm), 6) AS bh_cutoff,
           CAST(CASE WHEN rk <= max(hit) OVER () THEN 1 ELSE 0 END AS INT)
             AS rejected
    FROM fbh ORDER BY rk
"""


EXTENDED_ORACLES["x8_fdr_sign"] = _fdr_sign_oracle_sql()


# ---------------------------------------------------------------------------
# Round 10: b-bit minwise hashing, soft dedup weighting, greedy k-center
# coreset selection, empirical-Bayes rate shrinkage
# ---------------------------------------------------------------------------


def x2_bbit_minhash(spark, sf_dir):
    """b-BIT MINWISE HASHING (Li & Koenig 2010): store only the lowest b
    bits of each minhash component and estimate Jaccard from the b-bit
    collision rate — the storage-optimal sketch variant (b=1 is 128x
    smaller than the hex digest per component).  For every verified
    near-dup pair this reports the exact shingle Jaccard beside the
    full-signature estimate and the b=4 / b=1 unbiased estimators
    J = (frac - 2^-b) / (1 - 2^-b) under the r1=r2~0 regime, plus the
    bits each sketch spends — the accuracy-vs-bytes trade every 100 TB
    dedup deployment prices before choosing its signature width.

    Exactness: collision counts are integer sums over the shared
    signature frame (the last hex nibble of each md5 component is the
    4-bit sketch; its parity is the 1-bit sketch), so every estimate is
    an integer ratio — bit-identical cross-engine.  Scale shape:
    identical to x2_minhash_est — one signature pass, LSH-bounded pair
    list, two signature-frame joins by doc id."""
    sigs = _mh_sigs_cached(spark, sf_dir)
    # the verified pair table and the signature frame are the SHARED
    # session artifacts (_lsh_pairs_cached / _mh_sigs_cached — the
    # persisted tables a dedup pipeline writes once); only the
    # agreement columns are derived here.
    pairs = _lsh_pairs_cached(spark, sf_dir)
    a = sigs.select(
        F.col("d").alias("da"),
        *[F.col(f"mh{h}").alias(f"a{h}") for h in range(LSH_NUM_HASHES)],
    )
    b = sigs.select(
        F.col("d").alias("db"),
        *[F.col(f"mh{h}").alias(f"b{h}") for h in range(LSH_NUM_HASHES)],
    )
    nib = "instr('0123456789abcdef', substr({c}, 32, 1)) - 1"
    agree_full = " + ".join(
        f"CAST(a{h} = b{h} AS INT)" for h in range(LSH_NUM_HASHES)
    )
    agree_b4 = " + ".join(
        "CAST(({na}) = ({nb}) AS INT)".format(
            na=nib.format(c=f"a{h}"), nb=nib.format(c=f"b{h}")
        )
        for h in range(LSH_NUM_HASHES)
    )
    agree_b1 = " + ".join(
        "CAST(({na}) % 2 = ({nb}) % 2 AS INT)".format(
            na=nib.format(c=f"a{h}"), nb=nib.format(c=f"b{h}")
        )
        for h in range(LSH_NUM_HASHES)
    )
    H = LSH_NUM_HASHES
    return (
        pairs.join(a, "da")
        .join(b, "db")
        .selectExpr(
            "da",
            "db",
            "jac",
            f"({agree_full}) / {H} AS jac_est",
            f"round(CAST(16 * ({agree_b4}) - {H} AS DOUBLE) / (15 * {H}), 6)"
            " AS jac_est_b4",
            f"round(CAST(2 * ({agree_b1}) - {H} AS DOUBLE) / {H}, 6)"
            " AS jac_est_b1",
            f"CAST(128 * {H} AS INT) AS bits_full",
            f"CAST(4 * {H} AS INT) AS bits_b4",
            f"CAST({H} AS INT) AS bits_b1",
        )
        .orderBy("da", "db")
    )


EXTENDED_QUERIES["x2_bbit_minhash"] = x2_bbit_minhash


def _bbit_oracle_sql() -> str:
    nib = "instr('0123456789abcdef', substr({c}, 32, 1)) - 1"
    agree_b4 = " + ".join(
        "CASE WHEN ({na}) = ({nb}) THEN 1 ELSE 0 END".format(
            na=nib.format(c=f"sa.mh{h}"), nb=nib.format(c=f"sb.mh{h}")
        )
        for h in range(LSH_NUM_HASHES)
    )
    agree_b1 = " + ".join(
        "CASE WHEN ({na}) % 2 = ({nb}) % 2 THEN 1 ELSE 0 END".format(
            na=nib.format(c=f"sa.mh{h}"), nb=nib.format(c=f"sb.mh{h}")
        )
        for h in range(LSH_NUM_HASHES)
    )
    H = LSH_NUM_HASHES
    return f"""
    WITH {_LSH_PAIRS_CTES}
    SELECT p.da, p.db, p.jac,
           ({_MH_AGREE}) / {H} AS jac_est,
           round(CAST(16 * ({agree_b4}) - {H} AS DOUBLE) / (15 * {H}), 6) AS jac_est_b4,
           round(CAST(2 * ({agree_b1}) - {H} AS DOUBLE) / {H}, 6) AS jac_est_b1,
           CAST(128 * {H} AS INT) AS bits_full,
           CAST(4 * {H} AS INT) AS bits_b4,
           CAST({H} AS INT) AS bits_b1
    FROM p JOIN sig sa ON sa.d = p.da JOIN sig sb ON sb.d = p.db
    ORDER BY p.da, p.db
"""


EXTENDED_ORACLES["x2_bbit_minhash"] = _bbit_oracle_sql()


def x10_soft_dedup(spark, sf_dir):
    """SOFT deduplication (the SlimPajama/"SoftDeDup" alternative to
    keep-one-per-cluster): instead of dropping near-duplicates, weight
    every document by 1/|its duplicate cluster| so each content family
    contributes ONE document's worth of gradient regardless of how many
    copies crawled in.  Reports, per source, the raw corpus next to the
    effective (weight-summed) corpus — the mix table a training run that
    samples by weight actually consumes.

    Exactness: weights are integer micro-units (10^9 div cluster_size —
    exact integer division, identical cross-engine), so effective doc
    and token masses are BIGINT sums; the rendered doubles divide once.
    Scale shape: reuses the persisted (node, cluster) label table
    (_cc_cached — dup-graph-node-sized), one broadcast-sized size
    aggregate on top, one corpus pass for token counts; the per-source
    report is a tiny hash aggregate."""
    d = _docs(spark, sf_dir)
    cc = _cc_cached(spark, sf_dir)
    sizes = cc.groupBy("cluster").agg(F.count(F.lit(1)).alias("csize"))
    lab = cc.join(sizes, "cluster").select(
        F.col("node").alias("doc_id"), "csize"
    )
    docs = d.select(
        "doc_id", "source", F.size(tokens_col_ref()).alias("toks")
    )
    j = docs.join(lab, "doc_id", "left").selectExpr(
        "source",
        "toks",
        "coalesce(csize, 1) AS size",
    )
    return (
        j.selectExpr(
            "source",
            "toks",
            "size",
            "CAST(1000000000 div size AS BIGINT) AS w9",
        )
        .groupBy("source")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_docs"),
            F.expr("CAST(sum(CAST(size > 1 AS INT)) AS BIGINT)").alias(
                "n_dup_docs"
            ),
            F.expr("CAST(sum(toks) AS BIGINT)").alias("raw_tokens"),
            F.expr("CAST(sum(w9) AS BIGINT)").alias("eff_docs9"),
            F.expr("CAST(sum(toks * w9) AS BIGINT)").alias("eff_tokens9"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "n_dup_docs",
            "raw_tokens",
            "eff_docs9",
            "eff_tokens9",
            "round(CAST(eff_docs9 AS DOUBLE) / 1000000000, 6) AS eff_docs",
            "round(CAST(eff_tokens9 AS DOUBLE) / 1000000000, 6)"
            " AS eff_tokens",
        )
        .orderBy("source")
    )


EXTENDED_QUERIES["x10_soft_dedup"] = x10_soft_dedup

EXTENDED_ORACLES["x10_soft_dedup"] = f"""
    WITH RECURSIVE {_CLOSURE_CTES},
    csizes AS (SELECT cluster, count(*) AS csize FROM comp GROUP BY 1),
    lab AS (SELECT c.node AS doc_id, s.csize
            FROM comp c JOIN csizes s USING (cluster)),
    docs AS (SELECT doc_id, source, len({_TOKS_EXPR}) AS toks
             FROM documents),
    j AS (
      SELECT d.source, d.toks, coalesce(l.csize, 1) AS size,
             1000000000 // coalesce(l.csize, 1) AS w9
      FROM docs d LEFT JOIN lab l USING (doc_id)
    ),
    agg AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN size > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_docs,
             CAST(sum(toks) AS BIGINT) AS raw_tokens,
             CAST(sum(w9) AS BIGINT) AS eff_docs9,
             CAST(sum(toks * w9) AS BIGINT) AS eff_tokens9
      FROM j GROUP BY source
    )
    SELECT source, n_docs, n_dup_docs, raw_tokens, eff_docs9, eff_tokens9,
           round(CAST(eff_docs9 AS DOUBLE) / 1000000000, 6) AS eff_docs,
           round(CAST(eff_tokens9 AS DOUBLE) / 1000000000, 6) AS eff_tokens
    FROM agg ORDER BY source
"""


# Empirical-Bayes rate shrinkage: success threshold (cents), rate scale,
# report size.  The per-user double formulas are SHARED TEXTS rendered
# into both engines (the x8_power_analysis pattern) so every posterior
# is bit-identical.
EB_SUCC_CENTS = 5000
EB_SCALE = 1_000_000
EB_TOP = 30

# All inputs are exact integer scalars; {IDIV} is the engine's integer
# division.  pbar/mean/var/avg_inv are derived once in a scalar frame.
_EB_SCALARS = (
    "CAST(p_pool6 AS DOUBLE) / {S} AS pbar, "
    "CAST(sum_p6 AS DOUBLE) / (k * {S}) AS mean_p, "
    "(CAST(sum_p6sq AS DOUBLE) / CAST({S2} AS DOUBLE)"
    " - k * (CAST(sum_p6 AS DOUBLE) / (k * {S}))"
    " * (CAST(sum_p6 AS DOUBLE) / (k * {S}))) / (k - 1) AS var_p, "
    "CAST(sum_inv9 AS DOUBLE) / (k * 1000000000) AS avg_inv"
)
_EB_TAU2 = "greatest(var_p - pbar * (1 - pbar) * avg_inv, CAST(0 AS DOUBLE))"
_EB_B = (
    "CASE WHEN ({TAU2}) <= 0 THEN CAST(1 AS DOUBLE) "
    "ELSE (pbar * (1 - pbar) / n) / (pbar * (1 - pbar) / n + ({TAU2})) END"
).format(TAU2=_EB_TAU2)
_EB_POST = f"({_EB_B}) * pbar + (1 - ({_EB_B})) * (CAST(p6 AS DOUBLE) / {{S}})"


def x8_eb_shrinkage(spark, sf_dir):
    """EMPIRICAL-BAYES shrinkage of per-user success rates (the
    James-Stein / Efron-Morris estimator, method-of-moments flavor):
    each user's observed rate x/n is pulled toward the pooled rate by
    B = s2/(s2 + tau2), where s2 = pbar(1-pbar)/n is that user's
    sampling variance and tau2 = max(0, var(p_hat) - mean(s2)) is the
    between-user variance the data supports — users with few trials
    shrink hard, users with many keep their own rate.  The leaderboard
    every per-segment metric should publish instead of raw small-n
    rates (top-30 posterior rates here).

    Exactness: per-user rates and 1/n are integer-scaled with exact
    integer division (round-half-up p6 = (2x*S + n) div (2n)); the four
    corpus scalars (pooled rate, mean/variance of rates, mean inverse
    trials) derive from BIGINT/DECIMAL sums, and every posterior double
    evaluates the SAME formula text in both engines.  Scale shape: one
    map-side-combined aggregate to user grain, one 1-row scalar frame
    broadcast back over it, TakeOrdered(30) — no global sort."""
    ev = load_table(spark, sf_dir, "events")
    S = EB_SCALE
    users = (
        ev.where(F.col("value").isNotNull() & F.col("user_id").isNotNull())
        .selectExpr(
            "user_id",
            f"CAST(round(value * 100) >= {EB_SUCC_CENTS} AS INT) AS succ",
        )
        .groupBy("user_id")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n"),
            F.expr("CAST(sum(succ) AS BIGINT)").alias("x"),
        )
        .selectExpr(
            "user_id",
            "n",
            "x",
            f"CAST((2 * x * {S} + n) div (2 * n) AS BIGINT) AS p6",
            "CAST(1000000000 div n AS BIGINT) AS inv9",
        )
        .localCheckpoint(eager=False)  # user-grain: bounded by |users|
    )
    scal = (
        users.agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("k"),
            F.expr("CAST(sum(n) AS BIGINT)").alias("nn"),
            F.expr("CAST(sum(x) AS BIGINT)").alias("xx"),
            F.expr("CAST(sum(p6) AS BIGINT)").alias("sum_p6"),
            F.expr(
                "CAST(sum(CAST(p6 AS DECIMAL(38, 0))"
                " * CAST(p6 AS DECIMAL(38, 0))) AS DECIMAL(38, 0))"
            ).alias("sum_p6sq"),
            F.expr("CAST(sum(inv9) AS BIGINT)").alias("sum_inv9"),
        )
        .selectExpr(
            "k",
            f"CAST((2 * xx * {S} + nn) div (2 * nn) AS BIGINT) AS p_pool6",
            "sum_p6",
            "sum_p6sq",
            "sum_inv9",
        )
        # var(p_hat) divides by k-1: with a single qualifying user Spark
        # (ANSI) throws DIVIDE_BY_ZERO while DuckDB's IEEE default yields
        # NaN — guard BEFORE the scalar projection so both engines emit
        # no rows (ADVICE r10; siblings x8_overdispersion/x8_cohens_d
        # carry the same n>1 guards).
        .where("k > 1")
        .selectExpr("k", *_EB_SCALARS.format(S=S, S2=S * S).split(", "))
    )
    post = _EB_POST.format(S=S)
    return (
        users.crossJoin(F.broadcast(scal))
        .selectExpr(
            "user_id",
            "n",
            "x",
            f"round(CAST(p6 AS DOUBLE) / {S}, 6) AS p_hat",
            f"round({_EB_B}, 6) AS shrink_b",
            f"round({post}, 6) AS p_post",
            f"{post} AS _po",
        )
        .orderBy(F.desc("_po"), "user_id")
        .limit(EB_TOP)
        .drop("_po")
    )


EXTENDED_QUERIES["x8_eb_shrinkage"] = x8_eb_shrinkage


def _eb_oracle_sql() -> str:
    S = EB_SCALE
    post = _EB_POST.format(S=S)
    scalars = _EB_SCALARS.format(S=S, S2=S * S)
    return f"""
    WITH users AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN round(value * 100) >= {EB_SUCC_CENTS}
                      THEN 1 ELSE 0 END) AS BIGINT) AS x
      FROM events
      WHERE value IS NOT NULL AND user_id IS NOT NULL
      GROUP BY user_id
    ),
    up AS (
      SELECT user_id, n, x,
             CAST((2 * x * {S} + n) // (2 * n) AS BIGINT) AS p6,
             CAST(1000000000 // n AS BIGINT) AS inv9
      FROM users
    ),
    raw AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(x) AS BIGINT) AS xx,
             CAST(sum(p6) AS BIGINT) AS sum_p6,
             CAST(sum(CAST(p6 AS HUGEINT) * CAST(p6 AS HUGEINT))
                  AS HUGEINT) AS sum_p6sq,
             CAST(sum(inv9) AS BIGINT) AS sum_inv9
      FROM up
    ),
    pool AS (
      SELECT k, CAST((2 * xx * {S} + nn) // (2 * nn) AS BIGINT) AS p_pool6,
             sum_p6, sum_p6sq, sum_inv9
      FROM raw
    ),
    scal AS (SELECT k, {scalars} FROM pool WHERE k > 1)
    SELECT user_id, n, x,
           round(CAST(p6 AS DOUBLE) / {S}, 6) AS p_hat,
           round({_EB_B}, 6) AS shrink_b,
           round({post}, 6) AS p_post
    FROM up CROSS JOIN scal
    ORDER BY {post} DESC, user_id
    LIMIT {EB_TOP}
"""


EXTENDED_ORACLES["x8_eb_shrinkage"] = _eb_oracle_sql()


KC_K = 8  # coreset size for greedy k-center selection


@session_cached
def _kcenter_cached(spark, sf_dir):
    """Greedy k-center (Gonzalez 1985 farthest-point traversal) over the
    quantized embedding corpus: seed = min vec_id, then KC_K - 1 rounds
    of "pick the point farthest from the selected set".  Returns the
    checkpointed quantized frame and the selected list
    [(order, vec_id, xi, d2_at_selection)].  Driver state is K rows —
    the same bounded-model contract as the k-means centroid cache; each
    round is one zero-shuffle broadcast-literal scoring pass plus a
    1-row TakeOrdered, so the whole selection is KC_K linear scans."""
    from diepy_spark.operators.clustering import (
        centroid_dist_columns,
        quantize_vectors,
    )

    q = quantize_vectors(
        _vecs(spark, sf_dir), scale=KM_SCALE
    ).localCheckpoint(eager=False)
    row = q.orderBy("vec_id").limit(1).collect()[0]
    sel = [(0, int(row["vec_id"]), list(row["xi"]), 0)]
    for r in range(1, KC_K):
        dcols = centroid_dist_columns([c[2] for c in sel])
        mind = (
            F.least(*[F.col(f"d{j}") for j in range(len(sel))])
            if len(sel) > 1
            else F.col("d0")
        )
        pick = (
            q.select("vec_id", "xi", *dcols)
            .select("vec_id", "xi", mind.alias("md"))
            .orderBy(F.desc("md"), "vec_id")
            .limit(1)
            .collect()[0]
        )
        sel.append((r, int(pick["vec_id"]), list(pick["xi"]),
                    int(pick["md"])))
    return q, sel


def x3_kcenter_select(spark, sf_dir):
    """CORESET SELECTION by greedy k-center: the farthest-point
    traversal whose K picks 2-approximate the optimal covering radius
    (Gonzalez 1985) — the diversity-first data-curation move (pick the
    K most mutually-distant documents/embeddings to label, seed, or
    keep) that complements SemDeDup's redundancy-first one.  Output:
    one row per selected center — selection order, vec id, its distance
    to the already-selected set at pick time (a non-increasing series =
    the coverage-radius curve), and its final cell's population and
    radius after assigning every vector to its nearest center.

    Exactness: distances are exact integer squared-L2 over the shared
    quantized grid (quantize_vectors), argmax/argmin tie-break on
    vec_id / selection order, so the traversal is deterministic and the
    oracle unrolls the SAME KC_K rounds as chained CTEs (the k-means
    pattern).  Scale shape: KC_K broadcast-literal scans of the
    checkpointed corpus (no shuffle, no pairwise blow-up), one final
    assignment aggregate."""
    from diepy_spark.operators.clustering import centroid_dist_columns

    q, sel = _kcenter_cached(spark, sf_dir)
    dcols = centroid_dist_columns([c[2] for c in sel])
    asg = (
        q.select("vec_id", *dcols)
        .selectExpr(
            "vec_id",
            "array({}) AS ds".format(
                ", ".join(f"d{j}" for j in range(KC_K))
            ),
        )
        .selectExpr(
            "vec_id",
            "array_min(ds) AS md",
            "CAST(array_position(ds, array_min(ds)) - 1 AS INT) AS ord",
        )
        .groupBy("ord")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_assigned"),
            F.expr("CAST(max(md) AS BIGINT)").alias("radius"),
        )
    )
    centers = spark.createDataFrame(
        [(o, v, d) for (o, v, _, d) in sel],
        "sel_order int, vec_id bigint, d2_sel bigint",
    )
    return (
        centers.join(asg, centers.sel_order == asg.ord)
        .select("sel_order", "vec_id", "d2_sel", "n_assigned", "radius")
        .orderBy("sel_order")
    )


EXTENDED_QUERIES["x3_kcenter_select"] = x3_kcenter_select


def _kcenter_oracle_sql() -> str:
    ctes = [
        f"""u AS (SELECT vec_id,
                    CAST(round(CAST(x AS DOUBLE) * {KM_SCALE}) AS BIGINT)
                      AS x, i
             FROM (SELECT vec_id, unnest(embedding) AS x,
                          generate_subscripts(embedding, 1) AS i
                   FROM embeddings))""",
        """sel0 AS (SELECT 0 AS ord, min(vec_id) AS vec_id,
                      CAST(0 AS BIGINT) AS d2_sel FROM u)""",
    ]
    for r in range(1, KC_K):
        ctes.append(f"""md{r} AS (
            SELECT a.vec_id, min(dd.d2) AS md FROM u a JOIN LATERAL (
              SELECT s.ord, SUM((a2.x - b.x) * (a2.x - b.x)) AS d2
              FROM sel{r - 1} s JOIN u b ON b.vec_id = s.vec_id
              JOIN u a2 ON a2.vec_id = a.vec_id AND a2.i = b.i
              GROUP BY s.ord) dd ON TRUE
            GROUP BY a.vec_id)""")
        ctes.append(f"""pick{r} AS (
            SELECT {r} AS ord, vec_id, CAST(md AS BIGINT) AS d2_sel
            FROM md{r} ORDER BY md DESC, vec_id LIMIT 1)""")
        ctes.append(f"""sel{r} AS (
            SELECT * FROM sel{r - 1}
            UNION ALL
            SELECT * FROM pick{r})""")
    ctes.append(f"""df AS (
        SELECT a.vec_id, s.ord,
               SUM((a.x - b.x) * (a.x - b.x)) AS d2
        FROM u a JOIN sel{KC_K - 1} s ON TRUE
        JOIN u b ON b.vec_id = s.vec_id AND b.i = a.i
        GROUP BY 1, 2)""")
    ctes.append("""af AS (
        SELECT vec_id, ord, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, ord)
                 AS rn
        FROM df)""")
    ctes.append("""agg AS (
        SELECT ord, CAST(count(*) AS BIGINT) AS n_assigned,
               CAST(max(d2) AS BIGINT) AS radius
        FROM af WHERE rn = 1 GROUP BY ord)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
    SELECT CAST(s.ord AS INT) AS sel_order, s.vec_id, s.d2_sel,
           a.n_assigned, a.radius
    FROM sel{KC_K - 1} s JOIN agg a ON a.ord = s.ord
    ORDER BY sel_order"""
    )


EXTENDED_ORACLES["x3_kcenter_select"] = _kcenter_oracle_sql()


# ---------------------------------------------------------------------------
# Round 10, batch 2: Hill tail index, Heaps' law fit, power iteration
# ---------------------------------------------------------------------------

TAIL_K = 20  # Hill order statistics per language


def x12_tail_index(spark, sf_dir):
    """HEAVY-TAIL DIAGNOSTIC: the Hill (1975) estimator of the
    power-law tail exponent of document lengths, per language — the
    instrument that says whether a corpus's length distribution has a
    Pareto tail (alpha <= 2: variance undefined, shard packing and
    per-partition memory need length caps) or decays fast enough to
    ignore.  alpha_hat = 1 / mean(ln(x_i / x_(k+1))) over the top-k
    order statistics.

    Exactness: the top-(k+1) frame is selected by a per-language window
    (n_chars DESC, doc_id), each ln(n_chars) is rounded once to integer
    nanos, and the Hill mean is an exact integer sum divided once —
    ties at the boundary contribute identical values, so the estimate
    is selection-order-free.  Scale shape: one partitioned top-k window
    over (lang), k+1 rows per language retained, one aggregate."""
    d = _docs(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    top = (
        d.select("lang", "doc_id", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TAIL_K + 1)
        .selectExpr(
            "lang",
            "rn",
            "CAST(round(ln(n_chars) * 1000000000) AS BIGINT) AS ln9",
            "CAST(n_chars AS BIGINT) AS n_chars",
        )
    )
    return (
        top.groupBy("lang")
        .agg(
            F.expr(
                f"CAST(sum(CASE WHEN rn <= {TAIL_K} THEN ln9 END)"
                " AS BIGINT)"
            ).alias("sum_ln9"),
            F.expr(
                f"CAST(max(CASE WHEN rn = {TAIL_K + 1} THEN ln9 END)"
                " AS BIGINT)"
            ).alias("tail_ln9"),
            F.expr(
                f"CAST(max(CASE WHEN rn = {TAIL_K + 1} THEN n_chars END)"
                " AS BIGINT)"
            ).alias("x_tail"),
        )
        .where(F.col("tail_ln9").isNotNull())
        .selectExpr(
            "lang",
            f"CAST({TAIL_K} AS INT) AS k",
            "x_tail",
            f"round(CAST(sum_ln9 - {TAIL_K} * tail_ln9 AS DOUBLE)"
            f" / (CAST({TAIL_K} AS BIGINT) * 1000000000), 6) AS mean_ln",
            f"CASE WHEN sum_ln9 - {TAIL_K} * tail_ln9 > 0 THEN"
            f" round(CAST({TAIL_K} AS BIGINT) * 1000000000"
            f" / CAST(sum_ln9 - {TAIL_K} * tail_ln9 AS DOUBLE), 6)"
            " END AS alpha",
        )
        .orderBy("lang")
    )


EXTENDED_QUERIES["x12_tail_index"] = x12_tail_index

EXTENDED_ORACLES["x12_tail_index"] = f"""
    WITH top AS (
      SELECT lang, rn,
             CAST(round(ln(n_chars) * 1000000000) AS BIGINT) AS ln9,
             CAST(n_chars AS BIGINT) AS n_chars
      FROM (
        SELECT lang, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang
                 ORDER BY n_chars DESC, doc_id) AS rn
        FROM documents) t
      WHERE rn <= {TAIL_K + 1}
    ),
    agg AS (
      SELECT lang,
             CAST(sum(CASE WHEN rn <= {TAIL_K} THEN ln9 END) AS BIGINT)
               AS sum_ln9,
             CAST(max(CASE WHEN rn = {TAIL_K + 1} THEN ln9 END) AS BIGINT)
               AS tail_ln9,
             CAST(max(CASE WHEN rn = {TAIL_K + 1} THEN n_chars END)
                  AS BIGINT) AS x_tail
      FROM top GROUP BY lang
    )
    SELECT lang, CAST({TAIL_K} AS INT) AS k, x_tail,
           round(CAST(sum_ln9 - {TAIL_K} * tail_ln9 AS DOUBLE)
                 / (CAST({TAIL_K} AS BIGINT) * 1000000000), 6) AS mean_ln,
           CASE WHEN sum_ln9 - {TAIL_K} * tail_ln9 > 0 THEN
             round(CAST({TAIL_K} AS BIGINT) * 1000000000
                   / CAST(sum_ln9 - {TAIL_K} * tail_ln9 AS DOUBLE), 6)
           END AS alpha
    FROM agg WHERE tail_ln9 IS NOT NULL ORDER BY lang
"""


def x5_heaps_law(spark, sf_dir):
    """HEAPS' LAW fit — vocabulary growth V(n) ~ K * n^beta over
    doc-id-ordered corpus prefixes: the companion diagnostic to
    x5_zipf that predicts how the token vocabulary (and with it every
    vocab-sized model artifact: unigram LMs, BPE merge tables, DSIR
    histograms) scales when the corpus grows 100x.  beta well below 1
    = sublinear vocab growth (safe to broadcast); beta near 1 = id-like
    tokens flooding the vocabulary (investigate before training).

    Exactness: each token's FIRST document is an exact min-aggregate;
    prefix checkpoints are powers of two over the dense doc-id space,
    and membership "first_doc < 2^j" is the integer bit-length test
    (length(bin(fd)) <= j), so per-checkpoint vocabulary counts are
    exact integers; the log-log least-squares slope/intercept derive
    from integer-nano ln sums shared as one formula text.  Scale
    shape: one corpus pass to (token, first_doc) with map-side
    combine, a ~40-bucket bit-length aggregate, a bounded cumulative
    window — no per-checkpoint corpus rescans."""
    d = _docs(spark, sf_dir)
    first = (
        d.select(F.explode(tokens_col_ref()).alias("tok"), "doc_id")
        .groupBy("tok")
        .agg(F.min("doc_id").alias("fd"))
        .selectExpr(
            "CASE WHEN fd = 0 THEN 0 ELSE length(bin(fd)) END AS g"
        )
        .groupBy("g")
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("cnt"))
    )
    ndocs = d.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_docs")
    )
    chk = (
        ndocs.selectExpr("n_docs", "explode(sequence(3, 40)) AS j")
        .where(F.expr("shiftleft(CAST(1 AS BIGINT), j) <= n_docs"))
        .selectExpr(
            "CAST(j AS INT) AS j",
            "shiftleft(CAST(1 AS BIGINT), j) AS docs_le",
        )
    )
    pts = (
        chk.join(first, F.col("g") <= F.col("j"))
        .groupBy("j", "docs_le")
        .agg(F.expr("CAST(sum(cnt) AS BIGINT)").alias("vocab"))
        .selectExpr(
            "j",
            "docs_le",
            "vocab",
            "CAST(round(ln(docs_le) * 1000000000) AS BIGINT) AS lx9",
            "CAST(round(ln(vocab) * 1000000000) AS BIGINT) AS ly9",
        )
        .localCheckpoint(eager=False)  # bounded: <= 38 checkpoint rows
    )
    fit = pts.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("m"),
        F.expr("CAST(sum(lx9) AS BIGINT)").alias("sx"),
        F.expr("CAST(sum(ly9) AS BIGINT)").alias("sy"),
        F.expr(
            "CAST(sum(CAST(lx9 AS DECIMAL(38, 0))"
            " * CAST(lx9 AS DECIMAL(38, 0))) AS DECIMAL(38, 0))"
        ).alias("sxx"),
        F.expr(
            "CAST(sum(CAST(lx9 AS DECIMAL(38, 0))"
            " * CAST(ly9 AS DECIMAL(38, 0))) AS DECIMAL(38, 0))"
        ).alias("sxy"),
    ).selectExpr(
        "CAST((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS DOUBLE) AS beta_raw",
        "CAST(sx AS DOUBLE) / (m * CAST(1000000000 AS DOUBLE)) AS mx",
        "CAST(sy AS DOUBLE) / (m * CAST(1000000000 AS DOUBLE)) AS my",
    )
    return (
        pts.crossJoin(F.broadcast(fit))
        .selectExpr(
            "j",
            "docs_le",
            "vocab",
            "round(beta_raw, 6) AS beta",
            "round(exp(my - beta_raw * mx), 6) AS k_coef",
        )
        .orderBy("j")
    )


EXTENDED_QUERIES["x5_heaps_law"] = x5_heaps_law

EXTENDED_ORACLES["x5_heaps_law"] = f"""
    WITH first AS (
      SELECT CASE WHEN fd = 0 THEN 0 ELSE length(bin(fd)) END AS g,
             CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT t.tok, min(doc_id) AS fd
            FROM documents,
                 LATERAL (SELECT unnest({_TOKS_EXPR}) AS tok) t
            GROUP BY t.tok) f
      GROUP BY 1
    ),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    chk AS (
      SELECT CAST(j AS INT) AS j,
             CAST(1 AS BIGINT) << CAST(j AS INT) AS docs_le
      FROM nd, LATERAL (SELECT unnest(generate_series(3, 40)) AS j) s
      WHERE (CAST(1 AS BIGINT) << CAST(j AS INT)) <= n_docs
    ),
    pts AS (
      SELECT j, docs_le, CAST(sum(cnt) AS BIGINT) AS vocab,
             CAST(round(ln(docs_le) * 1000000000) AS BIGINT) AS lx9,
             CAST(round(ln(CAST(sum(cnt) AS BIGINT)) * 1000000000)
                  AS BIGINT) AS ly9
      FROM chk JOIN first ON first.g <= chk.j
      GROUP BY j, docs_le
    ),
    fit AS (
      SELECT CAST((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  AS DOUBLE) AS beta_raw,
             CAST(sx AS DOUBLE) / (m * CAST(1000000000 AS DOUBLE)) AS mx,
             CAST(sy AS DOUBLE) / (m * CAST(1000000000 AS DOUBLE)) AS my
      FROM (
        SELECT CAST(count(*) AS BIGINT) AS m,
               CAST(sum(lx9) AS BIGINT) AS sx,
               CAST(sum(ly9) AS BIGINT) AS sy,
               CAST(sum(CAST(lx9 AS HUGEINT) * CAST(lx9 AS HUGEINT))
                    AS HUGEINT) AS sxx,
               CAST(sum(CAST(lx9 AS HUGEINT) * CAST(ly9 AS HUGEINT))
                    AS HUGEINT) AS sxy
        FROM pts) r
    )
    SELECT j, docs_le, vocab,
           round(beta_raw, 6) AS beta,
           round(exp(my - beta_raw * mx), 6) AS k_coef
    FROM pts CROSS JOIN fit ORDER BY j
"""


PI_ITER = 5
PI_VSCALE = 1_000_000  # normalization scale for the iterated vector


@session_cached
def _power_iter_cached(spark, sf_dir):
    """Dominant eigenvector of the (uncentered) Gram matrix X^T X over
    the quantized embedding corpus by PI_ITER rounds of power
    iteration — each round is two linear corpus passes (s = X v, then
    w = X^T s), never the d x d Gram materialization, so the round
    cost is O(n * d) with map-side combine on the d-key aggregate.
    The vector is renormalized each round with the SQL integer
    division v = w div greatest(max|w| div PI_VSCALE, 1), evaluated
    IN-PLAN (never in Python, whose // floors instead of truncating),
    so the driver only ever carries collected integers into the next
    round's literals and the oracle can replay the identical chain.
    Returns (q, v) — checkpointed quantized frame, final vector."""
    from diepy_spark.operators.clustering import quantize_vectors

    q = quantize_vectors(
        _vecs(spark, sf_dir), scale=KM_SCALE
    ).localCheckpoint(eager=False)
    dim = len(q.select("xi").limit(1).collect()[0]["xi"])
    v = [PI_VSCALE] * dim
    for _ in range(PI_ITER):
        vlit = "array({})".format(
            ", ".join(f"CAST({c} AS BIGINT)" for c in v)
        )
        s = q.selectExpr(
            "xi",
            f"aggregate(zip_with(xi, {vlit}, (a, b) -> a * b),"
            " CAST(0 AS BIGINT), (acc, p) -> acc + p) AS s",
        )
        m = s.selectExpr(
            f"greatest(max(abs(s)) div {PI_VSCALE},"
            " CAST(1 AS BIGINT)) AS md"
        )
        w = (
            s.crossJoin(F.broadcast(m))
            .selectExpr("xi", "s div md AS sp")
            .select(
                F.posexplode("xi").alias("i", "x"),
                F.col("sp"),
            )
            .groupBy("i")
            .agg(F.expr("CAST(sum(x * sp) AS BIGINT)").alias("w"))
        )
        mw = w.selectExpr(
            f"greatest(max(abs(w)) div {PI_VSCALE},"
            " CAST(1 AS BIGINT)) AS mwd"
        )
        rows = (
            w.crossJoin(F.broadcast(mw))
            .selectExpr("i", "w div mwd AS v")
            .orderBy("i")
            .collect()
        )
        v = [int(r["v"]) for r in rows]
    return q, v


def x3_power_iteration(spark, sf_dir):
    """EMBEDDING SPECTRAL DIAGNOSTIC: the dominant principal direction
    of the embedding corpus by integer-exact power iteration, with the
    fraction of total squared mass it explains — the anisotropy check
    (Ethayarajh 2019: contextual embeddings collapse toward one
    dominant direction, which poisons cosine similarity) every
    embedding-dependent operator here (ANN, SemDeDup, near-dup cosine)
    should price before trusting raw cosines.  A high eig_frac says
    "subtract the top component / whiten before deduping".

    Exactness: the iteration is PI_ITER rounds of X^T(X v) over the
    shared quantized grid with in-plan integer renormalization (see
    _power_iter_cached) — every intermediate is a BIGINT, so the
    DuckDB oracle replays the identical chain CTE-for-round and the
    final vector matches bit-for-bit.  The explained fraction
    evaluates one shared formula text over three exact sums.  Scale
    shape: 2 * PI_ITER linear passes, one d-row output."""
    q, v = _power_iter_cached(spark, sf_dir)
    vlit = "array({})".format(
        ", ".join(f"CAST({c} AS BIGINT)" for c in v)
    )
    vtv = sum(c * c for c in v)
    s = q.selectExpr(
        "xi",
        f"aggregate(zip_with(xi, {vlit}, (a, b) -> a * b),"
        " CAST(0 AS BIGINT), (acc, p) -> acc + p) AS s",
    ).localCheckpoint(eager=False)
    m = s.selectExpr(
        f"greatest(max(abs(s)) div {PI_VSCALE}, CAST(1 AS BIGINT)) AS md"
    )
    stats = (
        s.crossJoin(F.broadcast(m))
        .selectExpr("xi", "s div md AS sp", "md")
        .agg(
            F.expr("CAST(sum(sp * sp) AS BIGINT)").alias("sum_sp2"),
            F.expr("CAST(max(md) AS BIGINT)").alias("md"),
            F.expr(
                "CAST(sum(aggregate(xi, CAST(0 AS BIGINT),"
                " (acc, x) -> acc + x * x)) AS BIGINT)"
            ).alias("trace"),
        )
        .selectExpr(
            "round(CAST(sum_sp2 AS DOUBLE) * md * md"
            f" / (CAST({vtv} AS DOUBLE) * trace), 6) AS eig_frac"
        )
    )
    comps = spark.createDataFrame(
        list(enumerate(v)), "i int, comp bigint"
    )
    return comps.crossJoin(F.broadcast(stats)).orderBy("i")


EXTENDED_QUERIES["x3_power_iteration"] = x3_power_iteration


def _power_iter_oracle_sql() -> str:
    ctes = [
        f"""u AS MATERIALIZED (SELECT vec_id,
                    CAST(round(CAST(x AS DOUBLE) * {KM_SCALE}) AS BIGINT)
                      AS x, i
             FROM (SELECT vec_id, unnest(embedding) AS x,
                          generate_subscripts(embedding, 1) - 1 AS i
                   FROM embeddings))""",
        f"""v0 AS MATERIALIZED (SELECT DISTINCT i, CAST({PI_VSCALE} AS BIGINT) AS v
             FROM u)""",
    ]
    for t in range(1, PI_ITER + 1):
        ctes.append(f"""s{t} AS MATERIALIZED (
            SELECT a.vec_id, CAST(sum(a.x * v.v) AS BIGINT) AS s
            FROM u a JOIN v{t - 1} v ON v.i = a.i GROUP BY 1)""")
        ctes.append(f"""m{t} AS MATERIALIZED (
            SELECT greatest(max(abs(s)) // {PI_VSCALE},
                   CAST(1 AS BIGINT)) AS md FROM s{t})""")
        ctes.append(f"""w{t} AS MATERIALIZED (
            SELECT u.i, CAST(sum(u.x * (sp.s // m.md)) AS BIGINT) AS w
            FROM u JOIN s{t} sp USING (vec_id) CROSS JOIN m{t} m
            GROUP BY 1)""")
        ctes.append(f"""mw{t} AS MATERIALIZED (
            SELECT greatest(max(abs(w)) // {PI_VSCALE},
                   CAST(1 AS BIGINT)) AS mwd FROM w{t})""")
        ctes.append(f"""v{t} AS MATERIALIZED (
            SELECT i, CAST(w // mwd AS BIGINT) AS v
            FROM w{t} CROSS JOIN mw{t})""")
    T = PI_ITER
    ctes.append(f"""sf AS MATERIALIZED (
        SELECT a.vec_id, CAST(sum(a.x * v.v) AS BIGINT) AS s
        FROM u a JOIN v{T} v ON v.i = a.i GROUP BY 1)""")
    ctes.append(f"""mf AS MATERIALIZED (
        SELECT greatest(max(abs(s)) // {PI_VSCALE},
               CAST(1 AS BIGINT)) AS md FROM sf)""")
    ctes.append(f"""vtv AS MATERIALIZED (
        SELECT CAST(sum(v * v) AS BIGINT) AS vtv FROM v{T})""")
    ctes.append("""tr AS MATERIALIZED (
        SELECT CAST(sum(x * x) AS BIGINT) AS trace FROM u)""")
    ctes.append(f"""stats AS MATERIALIZED (
        SELECT round(CAST(sum((s // m.md) * (s // m.md)) AS DOUBLE)
               * max(m.md) * max(m.md)
               / (CAST(max(vtv.vtv) AS DOUBLE) * max(tr.trace)), 6)
                 AS eig_frac
        FROM sf CROSS JOIN mf m CROSS JOIN vtv CROSS JOIN tr)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
    SELECT CAST(v.i AS INT) AS i, v.v AS comp, stats.eig_frac
    FROM v{T} v CROSS JOIN stats ORDER BY i"""
    )


EXTENDED_ORACLES["x3_power_iteration"] = _power_iter_oracle_sql()


# ---------------------------------------------------------------------------
# Round 10, batch 3: overdispersion check, Kneser-Ney bigram LM scoring
# ---------------------------------------------------------------------------


def x8_overdispersion(spark, sf_dir):
    """POISSON OVERDISPERSION CHECK: the variance-to-mean ratio (index
    of dispersion) of daily event counts per type — the one-line test
    that says whether Poisson-based monitors here (x8_rate_ratio, the
    volume anomaly gate) are trustworthy (D ~ 1) or the counts are
    clumped (D >> 1: use a negative-binomial / wider control band).

    Exactness: daily counts are integers; mean and variance derive
    from exact Sum(c) / Sum(c^2) BIGINT aggregates, divided once.
    Scale shape: one map-side-combined (type, day) aggregate, then a
    types-bounded second aggregate."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.selectExpr(
            "event_type",
            f"unix_micros(cast(ts as timestamp)) div {_DAY_DIV} AS day",
        )
        .groupBy("event_type", "day")
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("c"))
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("days"),
            F.expr("CAST(sum(c) AS BIGINT)").alias("total"),
            F.expr("CAST(sum(c * c) AS BIGINT)").alias("sum_c2"),
        )
        .where(F.col("days") > 1)
        .selectExpr(
            "event_type",
            "days",
            "total",
            "round(CAST(total AS DOUBLE) / days, 6) AS mean_c",
            "round((CAST(sum_c2 AS DOUBLE)"
            " - CAST(total AS DOUBLE) * total / days) / (days - 1), 6)"
            " AS var_c",
            "round(((CAST(sum_c2 AS DOUBLE)"
            " - CAST(total AS DOUBLE) * total / days) / (days - 1))"
            " / (CAST(total AS DOUBLE) / days), 6) AS dispersion",
            "CAST(((CAST(sum_c2 AS DOUBLE)"
            " - CAST(total AS DOUBLE) * total / days) / (days - 1))"
            " / (CAST(total AS DOUBLE) / days) > 1.5 AS INT)"
            " AS overdispersed",
        )
        .orderBy("event_type")
    )


EXTENDED_QUERIES["x8_overdispersion"] = x8_overdispersion

EXTENDED_ORACLES["x8_overdispersion"] = f"""
    WITH daily AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // {_DAY_DIV} AS day,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    agg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS days,
             CAST(sum(c) AS BIGINT) AS total,
             CAST(sum(c * c) AS BIGINT) AS sum_c2
      FROM daily GROUP BY 1
    )
    SELECT event_type, days, total,
           round(CAST(total AS DOUBLE) / days, 6) AS mean_c,
           round((CAST(sum_c2 AS DOUBLE)
                  - CAST(total AS DOUBLE) * total / days) / (days - 1), 6)
             AS var_c,
           round(((CAST(sum_c2 AS DOUBLE)
                   - CAST(total AS DOUBLE) * total / days) / (days - 1))
                 / (CAST(total AS DOUBLE) / days), 6) AS dispersion,
           CAST(CASE WHEN ((CAST(sum_c2 AS DOUBLE)
                   - CAST(total AS DOUBLE) * total / days) / (days - 1))
                 / (CAST(total AS DOUBLE) / days) > 1.5
                THEN 1 ELSE 0 END AS INT) AS overdispersed
    FROM agg WHERE days > 1 ORDER BY event_type
"""


def x5_kn_bigram(spark, sf_dir):
    """KNESER-NEY BIGRAM LM SCORING — the upgrade of x5_lm_score's
    unigram quality filter to the interpolated-KN bigram model (Kneser
    & Ney 1995; Chen & Goodman 1998): per doc, mean negative
    log-likelihood under
    P(w2|w1) = (c(w1,w2) - D)/c(w1.) + D*N1+(w1.)/c(w1.) * N1+(.w2)/B
    with discount D = 3/4 — the continuation-count backoff that
    penalizes tokens that only ever follow one context (boilerplate
    tails) even when their raw frequency is high.

    Exactness: with D = 3/4 every probability is the exact rational
    ((4c-3)B + 3*N1f*N1p) / (4*cw1*B), so each bigram contributes
    ln9(num) - ln9(den) in integer nanos and the per-doc score is an
    EXACT INTEGER SUM — no fold-order concern at all (stronger than
    the unigram scorer's ordered fold).  Scale shape: one corpus pass
    to per-doc bigram multiplicities and one to the bigram-type table
    (both map-side combined); the model-side frames are
    vocabulary/type-bounded; one (w1,w2)-keyed scoring join."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", tokens_col_ref().alias("toks")).where(
        F.expr("size(toks) >= 2")
    )
    big = toks.selectExpr(
        "doc_id",
        "explode(zip_with(slice(toks, 1, size(toks) - 1),"
        " slice(toks, 2, size(toks) - 1),"
        " (a, b) -> struct(a AS w1, b AS w2))) AS bg",
    ).select("doc_id", "bg.w1", "bg.w2")
    dstream = big.groupBy("doc_id", "w1", "w2").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("k")
    )
    types = big.groupBy("w1", "w2").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("c")
    ).localCheckpoint(eager=False)  # bigram-type-bounded model table
    w1t = types.groupBy("w1").agg(
        F.expr("CAST(sum(c) AS BIGINT)").alias("cw1"),
        F.expr("CAST(count(*) AS BIGINT)").alias("n1f"),
    )
    w2t = types.groupBy("w2").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n1p")
    )
    bfr = types.agg(F.expr("CAST(count(*) AS BIGINT)").alias("bb"))
    sc = (
        dstream.join(types, ["w1", "w2"])
        .join(w1t, "w1")
        .join(w2t, "w2")
        .crossJoin(F.broadcast(bfr))
        .selectExpr(
            "doc_id",
            "k",
            "CAST(round(ln((4 * c - 3) * bb + 3 * n1f * n1p)"
            " * 1000000000) AS BIGINT) AS lnum9",
            "CAST(round(ln(4 * cw1 * bb) * 1000000000) AS BIGINT)"
            " AS lden9",
        )
    )
    return (
        sc.groupBy("doc_id")
        .agg(
            F.expr("CAST(sum(k) AS BIGINT)").alias("n_bigrams"),
            F.expr("CAST(sum(k * (lden9 - lnum9)) AS BIGINT)").alias(
                "s9"
            ),
        )
        .selectExpr(
            "doc_id",
            "n_bigrams",
            "round(CAST(s9 AS DOUBLE)"
            " / (n_bigrams * CAST(1000000000 AS BIGINT)), 6) AS nll",
            "round(exp(CAST(s9 AS DOUBLE)"
            " / (n_bigrams * CAST(1000000000 AS BIGINT))), 4) AS ppl",
        )
        .orderBy("doc_id")
    )


EXTENDED_QUERIES["x5_kn_bigram"] = x5_kn_bigram

EXTENDED_ORACLES["x5_kn_bigram"] = f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS_EXPR} AS t FROM documents
      WHERE len({_TOKS_EXPR}) >= 2
    ),
    big AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM tk, LATERAL (SELECT unnest(generate_series(1, len(t) - 1))
                        AS i) g
    ),
    dstream AS (
      SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS k
      FROM big GROUP BY 1, 2, 3
    ),
    types AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
      FROM big GROUP BY 1, 2
    ),
    w1t AS (
      SELECT w1, CAST(sum(c) AS BIGINT) AS cw1,
             CAST(count(*) AS BIGINT) AS n1f
      FROM types GROUP BY 1
    ),
    w2t AS (
      SELECT w2, CAST(count(*) AS BIGINT) AS n1p FROM types GROUP BY 1
    ),
    bf AS (SELECT CAST(count(*) AS BIGINT) AS bb FROM types),
    sc AS (
      SELECT doc_id, k,
             CAST(round(ln((4 * c - 3) * bb + 3 * n1f * n1p)
                  * 1000000000) AS BIGINT) AS lnum9,
             CAST(round(ln(4 * cw1 * bb) * 1000000000) AS BIGINT)
               AS lden9
      FROM dstream JOIN types USING (w1, w2) JOIN w1t USING (w1)
      JOIN w2t USING (w2) CROSS JOIN bf
    ),
    agg AS (
      SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
             CAST(sum(k * (lden9 - lnum9)) AS BIGINT) AS s9
      FROM sc GROUP BY 1
    )
    SELECT doc_id, n_bigrams,
           round(CAST(s9 AS DOUBLE)
                 / (n_bigrams * CAST(1000000000 AS BIGINT)), 6) AS nll,
           round(exp(CAST(s9 AS DOUBLE)
                 / (n_bigrams * CAST(1000000000 AS BIGINT))), 4) AS ppl
    FROM agg ORDER BY doc_id
"""


SCENE_FRAME = 256        # frame block size (bytes)
SCENE_THR6 = 2_000_000   # cut when mean-byte delta > 2.0 (scaled 1e6)


def x6_scene_cuts(spark, sf_dir):
    """SCENE-CUT DETECTION over the sampled frame stream — the
    video-segmentation pattern (a real pipeline compares color
    histograms / perceptual hashes of consecutive decoded frames; the
    codec-free stand-in compares exact per-frame mean byte values, same
    plumbing, same window shape): a cut is a consecutive-frame feature
    jump above threshold, and the per-asset report (frames, cuts,
    largest jump) is what a frame-dedup or keyframe-extraction stage
    consumes to pick segment representatives.

    Exactness: per-frame mass is an exact integer byte sum; the scaled
    mean (mass * 1e6 div len) and deltas are BIGINT; the lag is a
    per-doc window ordered by frame_idx.  Scale shape: frames explode
    per asset and never cross assets — the window partitions by
    doc_id, so state is one frame row and the whole operator is
    embarrassingly parallel across assets."""
    d = _docs(spark, sf_dir).where(F.col("doc_id") < MEDIA_DOC_MAX)
    fr = M.frame_sample(
        M.with_binary_payload(d), every=1, frame_size=SCENE_FRAME
    ).selectExpr(
        "doc_id",
        "frame_idx",
        "CAST(frame_bytes AS STRING) AS fs",
        "frame_len",
    ).selectExpr(
        "doc_id",
        "frame_idx",
        "CAST(aggregate(sequence(1, length(fs)), CAST(0 AS BIGINT),"
        " (acc, i) -> acc + ascii(substring(fs, i, 1)))"
        " * 1000000 div frame_len AS BIGINT) AS m6",
    )
    deltas = fr.withColumn(
        "d6", F.expr("abs(m6 - lag(m6) OVER (PARTITION BY doc_id"
                     " ORDER BY frame_idx))")
    )
    return (
        deltas.groupBy("doc_id")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_frames"),
            F.expr(
                f"CAST(sum(CASE WHEN d6 > {SCENE_THR6} THEN 1 ELSE 0"
                " END) AS BIGINT)"
            ).alias("n_cuts"),
            F.expr("CAST(max(d6) AS BIGINT)").alias("max_delta6"),
        )
        .orderBy("doc_id")
    )


EXTENDED_QUERIES["x6_scene_cuts"] = x6_scene_cuts

EXTENDED_ORACLES["x6_scene_cuts"] = f"""
    WITH fr AS (
      SELECT doc_id, CAST(f.i AS INT) AS frame_idx,
             substr(text, CAST(f.i * {SCENE_FRAME} + 1 AS BIGINT),
                    {SCENE_FRAME}) AS fs
      FROM documents,
      LATERAL (SELECT unnest(range(0,
                 CAST(ceil(length(text) / {SCENE_FRAME}.0) AS BIGINT)))
               AS i) f
      WHERE doc_id < {MEDIA_DOC_MAX} AND length(text) > 0
    ),
    mm AS (
      SELECT doc_id, frame_idx,
             CAST(list_sum(list_transform(
                    generate_series(1, length(fs)),
                    i -> ascii(substr(fs, i, 1))))
                  * 1000000 // length(fs) AS BIGINT) AS m6
      FROM fr
    ),
    dd AS (
      SELECT doc_id,
             abs(m6 - lag(m6) OVER (PARTITION BY doc_id
                 ORDER BY frame_idx)) AS d6
      FROM mm
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(CASE WHEN d6 > {SCENE_THR6} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cuts,
           CAST(max(d6) AS BIGINT) AS max_delta6
    FROM dd GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Round 10, batch 4: order-invariant table checksum, streaming CUSUM
# ---------------------------------------------------------------------------

CKSUM_NIBBLES = 15  # 60-bit per-row digests (exact in BIGINT)


def x12_table_checksum(spark, sf_dir):
    """ORDER-INVARIANT TABLE CHECKSUM — the migration/replication
    integrity instrument: verify that two copies of a 100 TB table hold
    the SAME ROWS without sorting either one.  Each row renders to a
    canonical string, digests to a 60-bit integer, and the per-source
    fingerprint is the XOR of row digests — commutative and
    associative, so it needs no global order, distributes over any
    partitioning, and a single changed/missing/doubled row flips it.
    Run on both sides of a copy and diff the fingerprints per source.

    Exactness: the digest is hex_int-style string arithmetic over md5
    (bit-identical cross-engine); bit_xor is exact in both engines.
    Scale shape: one scan, one map-side-combinable aggregate, no sort,
    no shuffle beyond the source-bounded key."""
    from diepy_spark.operators.sketch import hex_int_sql

    d = _docs(spark, sf_dir)
    row_md5 = (
        "md5(concat_ws('|', CAST(doc_id AS STRING), lang, source,"
        " CAST(n_chars AS STRING), md5(text)))"
    )
    dig = hex_int_sql("_rm", CKSUM_NIBBLES)
    return (
        d.selectExpr("source", f"{row_md5} AS _rm")
        .selectExpr("source", f"{dig} AS dig")
        .groupBy("source")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_rows"),
            F.expr("CAST(bit_xor(dig) AS BIGINT)").alias("checksum"),
        )
        .orderBy("source")
    )


EXTENDED_QUERIES["x12_table_checksum"] = x12_table_checksum


def _table_checksum_oracle_sql() -> str:
    from diepy_spark.operators.sketch import hex_int_sql

    row_md5 = (
        "md5(concat_ws('|', CAST(doc_id AS VARCHAR), lang, source,"
        " CAST(n_chars AS VARCHAR), md5(text)))"
    )
    dig = hex_int_sql("_rm", CKSUM_NIBBLES)
    return f"""
    WITH r AS (SELECT source, {row_md5} AS _rm FROM documents),
    dd AS (SELECT source, {dig} AS dig FROM r)
    SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(dig) AS BIGINT) AS checksum
    FROM dd GROUP BY source ORDER BY source
"""


EXTENDED_ORACLES["x12_table_checksum"] = _table_checksum_oracle_sql()


# ---------------------------------------------------------------------------
# Round 10, batch 5: graph-based ANN (NSW greedy search), Cohen's d
# ---------------------------------------------------------------------------

NSW_CORPUS_MAX = 600  # graph nodes (build is quadratic HERE; see docstring)
NSW_KG = 4            # out-degree of the kNN graph
NSW_HOPS = 6          # greedy walk length


def _nsw_dist(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (p, q) -> (p - q) * (p - q)),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


@session_cached
def _nsw_graph_cached(spark, sf_dir):
    """(queries, corpus, kNN graph) of x3_nsw_search: the quantized
    query and corpus frames and the NSW_KG-out-degree proximity graph
    over the corpus — the persisted index artifact."""
    from diepy_spark.operators.clustering import quantize_vectors

    v = _vecs(spark, sf_dir)
    q0 = quantize_vectors(
        v.where(F.col("vec_id") < TOPK_QUERY_MAX), scale=KM_SCALE
    ).selectExpr("vec_id AS qid", "xi AS qxi")
    c0 = quantize_vectors(
        v.where(
            (F.col("vec_id") >= TOPK_QUERY_MAX)
            & (F.col("vec_id") < TOPK_QUERY_MAX + NSW_CORPUS_MAX)
        ),
        scale=KM_SCALE,
    ).localCheckpoint(eager=False)
    a = c0.selectExpr("vec_id AS src", "xi AS sxi")
    b = c0.selectExpr("vec_id AS dst", "xi AS dxi")
    wsrc = Window.partitionBy("src").orderBy("d", "dst")
    g0 = (
        a.join(b, F.col("src") != F.col("dst"))
        .selectExpr("src", "dst", f"{_nsw_dist('sxi', 'dxi')} AS d")
        .withColumn("rn", F.row_number().over(wsrc))
        .where(F.col("rn") <= NSW_KG)
        .select("src", "dst")
        .localCheckpoint(eager=False)  # the persisted index artifact
    )
    return q0, c0, g0


def x3_nsw_search(spark, sf_dir):
    """GRAPH-BASED ANN — greedy best-first search over a kNN proximity
    graph (the Navigable-Small-World family underlying HNSW, Malkov &
    Yashunin 2018): from a fixed entry node, repeatedly hop to the
    neighbor closest to the query, NSW_HOPS rounds.  Completes the ANN
    family table here (LSH buckets, IVF lists, PQ/RQ codes — and now a
    proximity graph), and reports per query whether the walk found the
    exact nearest neighbor and at what distance gap.

    The kNN GRAPH is built exactly (quadratic) over an
    NSW_CORPUS_MAX-bounded node set — at production scale the graph is
    constructed incrementally by the index builder and PERSISTED; what
    this query prices is the SEARCH path, whose cost is
    hops x degree x dim regardless of corpus size (the reason the
    graph family wins at billion scale).  Exactness: integer squared
    L2 on the shared quantized grid, every argmin tie-broken on
    (distance, id); the walk is NSW_HOPS unrolled in-plan joins over
    the checkpointed NQ x degree frontier — the oracle replays the
    identical chain with MATERIALIZED per-hop CTEs."""
    q, c, graph = _nsw_graph_cached(spark, sf_dir)
    entry = c.agg(F.min("vec_id").alias("cur"))
    state = (
        q.crossJoin(F.broadcast(entry))
        .join(c.selectExpr("vec_id AS cur", "xi AS cxi"), "cur")
        .selectExpr("qid", "qxi", "cur",
                    f"{_nsw_dist('qxi', 'cxi')} AS dcur")
    )
    wq = Window.partitionBy("qid").orderBy("d", "cand")
    for _ in range(NSW_HOPS):
        cands = state.join(
            graph, state.cur == graph.src
        ).selectExpr("qid", "qxi", "dst AS cand").unionByName(
            state.selectExpr("qid", "qxi", "cur AS cand")
        ).distinct()
        state = (
            cands.join(
                c.selectExpr("vec_id AS cand", "xi AS cxi"), "cand"
            )
            .selectExpr("qid", "qxi", "cand",
                        f"{_nsw_dist('qxi', 'cxi')} AS d")
            .withColumn("rn", F.row_number().over(wq))
            .where(F.col("rn") == 1)
            .selectExpr("qid", "qxi", "cand AS cur", "d AS dcur")
            # per-hop lineage cut: the frontier frame is NQ rows, but
            # each hop otherwise references the previous state twice
            # (graph expansion + self as candidate), doubling the plan
            # tree per hop — 2^HOPS subtree copies by the last hop.
            .localCheckpoint(eager=False)
        )
    wex = Window.partitionBy("qid").orderBy("d", "cand")
    exact = (
        q.crossJoin(c.selectExpr("vec_id AS cand", "xi AS cxi"))
        .selectExpr("qid", "cand", f"{_nsw_dist('qxi', 'cxi')} AS d")
        .withColumn("rn", F.row_number().over(wex))
        .where(F.col("rn") == 1)
        .selectExpr("qid", "cand AS exact_id", "d AS d_exact")
    )
    return (
        state.selectExpr("qid", "cur AS found_id", "dcur AS d_found")
        .join(exact, "qid")
        .selectExpr(
            "qid", "found_id", "d_found", "exact_id", "d_exact",
            "CAST(d_found = d_exact AS INT) AS hit",
        )
        .orderBy("qid")
    )


EXTENDED_QUERIES["x3_nsw_search"] = x3_nsw_search


def _nsw_oracle_sql() -> str:
    dist = "SUM((a.x - b.x) * (a.x - b.x))"
    ctes = [
        f"""u AS MATERIALIZED (SELECT vec_id,
               CAST(round(CAST(x AS DOUBLE) * {KM_SCALE}) AS BIGINT) AS x, i
             FROM (SELECT vec_id, unnest(embedding) AS x,
                          generate_subscripts(embedding, 1) AS i
                   FROM embeddings))""",
        f"""uq AS MATERIALIZED (SELECT * FROM u
             WHERE vec_id < {TOPK_QUERY_MAX})""",
        f"""uc AS MATERIALIZED (SELECT * FROM u
             WHERE vec_id >= {TOPK_QUERY_MAX}
               AND vec_id < {TOPK_QUERY_MAX + NSW_CORPUS_MAX})""",
        f"""graph AS MATERIALIZED (
            SELECT src, dst FROM (
              SELECT a.vec_id AS src, b.vec_id AS dst,
                     ROW_NUMBER() OVER (PARTITION BY a.vec_id
                       ORDER BY {dist}, b.vec_id) AS rn
              FROM uc a JOIN uc b
                ON b.i = a.i AND a.vec_id <> b.vec_id
              GROUP BY a.vec_id, b.vec_id) g
            WHERE rn <= {NSW_KG})""",
        """entry AS MATERIALIZED (SELECT min(vec_id) AS cur FROM uc)""",
        f"""st0 AS MATERIALIZED (
            SELECT a.vec_id AS qid, e.cur, {dist} AS dcur
            FROM uq a CROSS JOIN entry e
            JOIN uc b ON b.vec_id = e.cur AND b.i = a.i
            GROUP BY 1, 2)""",
    ]
    for t in range(1, NSW_HOPS + 1):
        ctes.append(f"""cd{t} AS MATERIALIZED (
            SELECT DISTINCT s.qid, g.dst AS cand
            FROM st{t - 1} s JOIN graph g ON g.src = s.cur
            UNION
            SELECT qid, cur AS cand FROM st{t - 1})""")
        ctes.append(f"""st{t} AS MATERIALIZED (
            SELECT qid, cand AS cur, d AS dcur FROM (
              SELECT c.qid, c.cand, {dist} AS d,
                     ROW_NUMBER() OVER (PARTITION BY c.qid
                       ORDER BY {dist}, c.cand) AS rn
              FROM cd{t} c
              JOIN uq a ON a.vec_id = c.qid
              JOIN uc b ON b.vec_id = c.cand AND b.i = a.i
              GROUP BY c.qid, c.cand) r
            WHERE rn = 1)""")
    ctes.append(f"""exact AS MATERIALIZED (
        SELECT qid, cand AS exact_id, d AS d_exact FROM (
          SELECT a.vec_id AS qid, b.vec_id AS cand, {dist} AS d,
                 ROW_NUMBER() OVER (PARTITION BY a.vec_id
                   ORDER BY {dist}, b.vec_id) AS rn
          FROM uq a JOIN uc b ON b.i = a.i
          GROUP BY a.vec_id, b.vec_id) r
        WHERE rn = 1)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
    SELECT s.qid, s.cur AS found_id, CAST(s.dcur AS BIGINT) AS d_found,
           e.exact_id, CAST(e.d_exact AS BIGINT) AS d_exact,
           CAST(CASE WHEN s.dcur = e.d_exact THEN 1 ELSE 0 END AS INT)
             AS hit
    FROM st{NSW_HOPS} s JOIN exact e ON e.qid = s.qid
    ORDER BY s.qid"""
    )


EXTENDED_ORACLES["x3_nsw_search"] = _nsw_oracle_sql()


# Shared Cohen's d / Hedges' g formula text (exact integer inputs, one
# rounding per output).  n1/n2/s1/s2 BIGINT, q1/q2 exact decimal sums.
_COHD = (
    "(CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)"
    " / sqrt((((CAST(q1 AS DOUBLE)"
    " - CAST(s1 AS DOUBLE) * s1 / n1))"
    " + ((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)))"
    " / (n1 + n2 - 2))"
)


def x8_cohens_d(spark, sf_dir):
    """COHEN'S d EFFECT SIZE for continuous metrics — the
    weekday-vs-weekend standardized mean difference of event values
    per type, with the Hedges' g small-sample correction: the
    continuous companion of the binary-outcome effect sizes already
    here (x8_odds_ratio's OR/RR) and the number a reader needs beside
    every x8 p-value (significance says "not noise"; d says "how
    much").

    Exactness: per-cohort n / sum / sum-of-squares are exact integer
    (DECIMAL for the squares) aggregates over cents; d and g evaluate
    ONE shared formula text in both engines, rounded once.  Scale
    shape: one map-side-combined aggregate to (type, is_weekend),
    a types-bounded pivot join, no window."""
    ev = load_table(spark, sf_dir, "events")
    side = (
        ev.where(F.col("value").isNotNull())
        .selectExpr(
            "event_type",
            "CAST(dayofweek(ts) - 1 IN (0, 6) AS INT) AS we",
            "CAST(round(value * 100) AS BIGINT) AS c",
        )
        .groupBy("event_type", "we")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n"),
            F.expr("CAST(sum(c) AS BIGINT)").alias("s"),
            F.expr(
                "CAST(sum(CAST(c AS DECIMAL(38, 0))"
                " * CAST(c AS DECIMAL(38, 0))) AS DECIMAL(38, 0))"
            ).alias("q"),
        )
    )
    wk = side.where("we = 0").selectExpr(
        "event_type", "n AS n1", "s AS s1", "q AS q1"
    )
    we = side.where("we = 1").selectExpr(
        "event_type", "n AS n2", "s AS s2", "q AS q2"
    )
    return (
        wk.join(we, "event_type")
        .where("n1 > 1 AND n2 > 1")
        .selectExpr(
            "event_type",
            "n1",
            "n2",
            "round(CAST(s1 AS DOUBLE) / (100 * n1), 6) AS mean_wk",
            "round(CAST(s2 AS DOUBLE) / (100 * n2), 6) AS mean_we",
            f"round({_COHD}, 6) AS cohens_d",
            f"round(({_COHD}) * (1 - CAST(3 AS DOUBLE)"
            " / (4 * (n1 + n2) - 9)), 6) AS hedges_g",
        )
        .orderBy("event_type")
    )


EXTENDED_QUERIES["x8_cohens_d"] = x8_cohens_d

EXTENDED_ORACLES["x8_cohens_d"] = f"""
    WITH side AS (
      SELECT event_type,
             CAST(CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END
                  AS INT) AS we,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS s,
             CAST(sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
                      * CAST(CAST(round(value * 100) AS BIGINT)
                             AS HUGEINT)) AS HUGEINT) AS q
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    wk AS (SELECT event_type, n AS n1, s AS s1, q AS q1
           FROM side WHERE we = 0),
    we AS (SELECT event_type, n AS n2, s AS s2, q AS q2
           FROM side WHERE we = 1)
    SELECT event_type, n1, n2,
           round(CAST(s1 AS DOUBLE) / (100 * n1), 6) AS mean_wk,
           round(CAST(s2 AS DOUBLE) / (100 * n2), 6) AS mean_we,
           round({_COHD}, 6) AS cohens_d,
           round(({_COHD}) * (1 - CAST(3 AS DOUBLE)
                 / (4 * (n1 + n2) - 9)), 6) AS hedges_g
    FROM wk JOIN we USING (event_type)
    WHERE n1 > 1 AND n2 > 1
    ORDER BY event_type
"""


MTLD_TTR_NUM = 72   # factor completes when 100 * types < 72 * tokens
MTLD_TTR_DEN = 100


def mtld_fold_expr(col: str = "toks") -> str:
    """Spark SQL aggregate() expression computing the MTLD forward-pass
    state over a string-array column: acc = STRUCT(ct cur_tokens BIGINT,
    f factors BIGINT, seen ARRAY<STRING>) — the reset branch consumes
    the draining token (ct back to 0, f+1, seen emptied).  Module-level
    so tests can run the identical fold over hand-built token sequences.

    r13 re-plan (guide §4.1 "per-task work" after the shape is right):
    the old accumulator was ONE flat string array ['ct','f',seen...] —
    every step paid 3-4 ``slice()`` deep copies of the growing seen list
    plus string<->bigint casts per counter read/write.  The struct form
    reads ``acc.seen`` by reference (no copy), keeps the counters as
    bigints, and copies the seen list only when a NEW type is appended —
    the walk itself (reset rule, tie handling, fold order) is unchanged,
    so factors/part_tokens/part_types are identical values."""
    seen = "acc.seen"
    types_after = (
        f"size({seen}) + CAST(NOT array_contains({seen}, t) AS INT)"
    )
    tok_after = "acc.ct + CAST(1 AS BIGINT)"
    reset = (
        f"{MTLD_TTR_DEN} * ({types_after})"
        f" < {MTLD_TTR_NUM} * ({tok_after})"
    )
    empty = "CAST(array() AS ARRAY<STRING>)"
    step = (
        f"CASE WHEN {reset} THEN"
        " named_struct('ct', CAST(0 AS BIGINT),"
        " 'f', acc.f + CAST(1 AS BIGINT),"
        f" 'seen', {empty})"
        f" ELSE named_struct('ct', {tok_after}, 'f', acc.f,"
        f" 'seen', CASE WHEN array_contains({seen}, t) THEN {seen}"
        f" ELSE array_append({seen}, t) END)"
        " END"
    )
    init = (
        "named_struct('ct', CAST(0 AS BIGINT), 'f', CAST(0 AS BIGINT),"
        f" 'seen', {empty})"
    )
    return f"aggregate({col}, {init}, (acc, t) -> {step})"


def x5_mtld(spark, sf_dir):
    """MTLD LEXICAL DIVERSITY (McCarthy & Jarvis 2010, forward pass) —
    the length-robust type-token-ratio metric quality filters use
    where raw TTR fails (TTR decays mechanically with length; MTLD
    counts how many times the running TTR drains below 0.72, so it is
    comparable across document lengths): mtld = n_tokens /
    (completed factors + the partial factor's remainder).

    Exactness: the factor walk is an ordered fold with a VARCHAR-list
    accumulator [cur_tokens, factors, seen-words...]; the TTR test is
    the integer cross-multiplication 100*types < 72*tokens, and the
    remainder is the exact rational (tokens-types)*100 / (28*tokens) —
    one double division at render.  The DuckDB fold is padded to the
    corpus-max token count with NULL-guarded steps (the list_reduce
    cross-row hazard).  Scale shape: per-document folds, no cross-doc
    state — embarrassingly parallel; token arrays are already
    materialized by the shared tokenizer."""
    d = _docs(spark, sf_dir)
    fold = mtld_fold_expr("toks")
    return (
        d.select("doc_id", tokens_col_ref().alias("toks"))
        .where(F.expr("size(toks) > 0"))
        .selectExpr(
            "doc_id",
            "CAST(size(toks) AS BIGINT) AS n_tokens",
            f"{fold} AS st",
        )
        .selectExpr(
            "doc_id",
            "n_tokens",
            "st.f AS factors",
            "st.ct AS part_tokens",
            "CAST(size(st.seen) AS BIGINT) AS part_types",
        )
        .selectExpr(
            "doc_id",
            "n_tokens",
            "factors",
            "part_tokens",
            "part_types",
            # factors=0 with an all-distinct partial means the running
            # TTR never drained (denominator 0): MTLD is undefined -> NULL.
            "CASE WHEN factors = 0 AND part_tokens = part_types THEN"
            " CAST(NULL AS DOUBLE) ELSE"
            f" round(CAST(n_tokens AS DOUBLE) / (factors"
            " + CASE WHEN part_tokens > 0 THEN"
            " CAST((part_tokens - part_types)"
            f" * {MTLD_TTR_DEN} AS DOUBLE)"
            f" / (({MTLD_TTR_DEN} - {MTLD_TTR_NUM}) * part_tokens)"
            " ELSE CAST(0 AS DOUBLE) END), 6) END AS mtld",
        )
        .orderBy("doc_id")
    )


EXTENDED_QUERIES["x5_mtld"] = x5_mtld


def _mtld_oracle_sql() -> str:
    seen = "acc[3:]"
    x = "xl[1]"
    types_after = (
        f"len({seen}) + CASE WHEN list_contains({seen}, {x}) THEN 0"
        " ELSE 1 END"
    )
    tok_after = "CAST(acc[1] AS BIGINT) + 1"
    reset = (
        f"{MTLD_TTR_DEN} * ({types_after})"
        f" < {MTLD_TTR_NUM} * ({tok_after})"
    )
    step = (
        f"CASE WHEN {x} IS NULL THEN acc"
        f" WHEN {reset} THEN"
        " ['0', CAST(CAST(acc[2] AS BIGINT) + 1 AS VARCHAR)]"
        f" ELSE list_concat([CAST({tok_after} AS VARCHAR),"
        " CAST(acc[2] AS VARCHAR)],"
        f" CASE WHEN list_contains({seen}, {x}) THEN {seen}"
        f" ELSE list_append({seen}, {x}) END)"
        " END"
    )
    return f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS_EXPR} AS toks FROM documents
      WHERE len({_TOKS_EXPR}) > 0
    ),
    mx AS (SELECT max(len(toks)) AS mxn FROM tk),
    f AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             list_reduce(
               list_prepend([\'0\', \'0\'],
                 list_transform(
                   list_resize(toks, (SELECT mxn FROM mx), NULL),
                   v -> [v])),
               (acc, xl) -> {step}) AS st
      FROM tk
    )
    SELECT doc_id, n_tokens,
           CAST(st[2] AS BIGINT) AS factors,
           CAST(st[1] AS BIGINT) AS part_tokens,
           CAST(len(st) - 2 AS BIGINT) AS part_types,
           CASE WHEN CAST(st[2] AS BIGINT) = 0
                 AND CAST(st[1] AS BIGINT) = len(st) - 2 THEN
             CAST(NULL AS DOUBLE)
           ELSE
             round(CAST(n_tokens AS DOUBLE) / (CAST(st[2] AS BIGINT)
               + CASE WHEN CAST(st[1] AS BIGINT) > 0 THEN
                 CAST((CAST(st[1] AS BIGINT) - (len(st) - 2))
                      * {MTLD_TTR_DEN} AS DOUBLE)
                 / (({MTLD_TTR_DEN} - {MTLD_TTR_NUM})
                    * CAST(st[1] AS BIGINT))
               ELSE CAST(0 AS DOUBLE) END), 6)
           END AS mtld
    FROM f ORDER BY doc_id
"""


EXTENDED_ORACLES["x5_mtld"] = _mtld_oracle_sql()


MRL_DIMS = (8, 16, 32, 64)  # Matryoshka prefix-dimension ladder


def x3_mrl_recall(spark, sf_dir):
    """MATRYOSHKA DIMENSION-TRUNCATION SWEEP (Kusupati et al. 2022):
    recall@k of exact search using only the first d' embedding
    dimensions against the full-dimension ranking — the measurement
    behind the "store 8x less, rerank the shortlist at full width"
    deployment every MRL-trained embedding enables.  One row per
    (query, d'): the shortlist overlap with the full-width top-k and
    whether the top-1 survives truncation.

    Exactness: integer squared L2 over prefix slices of the shared
    quantized grid, ties broken on (distance, id); recall is an
    integer ratio.  Scale shape: the d' ladder reuses ONE scan of the
    checkpointed corpus (each tier is a slice of the same array
    column), each tier a per-query top-k window — no extra corpus
    passes, exactly how a production sweep prices MRL tiers."""
    from diepy_spark.operators.clustering import quantize_vectors

    v = _vecs(spark, sf_dir)
    q = quantize_vectors(
        v.where(F.col("vec_id") < TOPK_QUERY_MAX), scale=KM_SCALE
    ).selectExpr("vec_id AS qid", "xi AS qxi")
    c = quantize_vectors(
        v.where(F.col("vec_id") >= TOPK_QUERY_MAX), scale=KM_SCALE
    ).selectExpr("vec_id AS cid", "xi AS cxi")
    pairs = q.crossJoin(c).localCheckpoint(eager=False)
    wq = Window.partitionBy("qid").orderBy("d", "cid")
    tops = {}
    for dp in MRL_DIMS:
        dist = _nsw_dist(f"slice(qxi, 1, {dp})", f"slice(cxi, 1, {dp})")
        tops[dp] = (
            pairs.selectExpr("qid", "cid", f"{dist} AS d")
            .withColumn("rk", F.row_number().over(wq))
            .where(F.col("rk") <= TOPK_K)
            .selectExpr("qid", "cid", "rk",
                        f"CAST({dp} AS INT) AS dprime")
        )
    full = tops[MRL_DIMS[-1]].selectExpr(
        "qid", "cid", "rk AS rk_full"
    )
    out = None
    for dp in MRL_DIMS:
        t = (
            tops[dp]
            .join(full, ["qid", "cid"], "left")
            .groupBy("qid", "dprime")
            .agg(
                F.expr(
                    "CAST(sum(CASE WHEN rk_full IS NOT NULL THEN 1"
                    " ELSE 0 END) AS BIGINT)"
                ).alias("hits"),
                F.expr(
                    "CAST(max(CASE WHEN rk = 1 AND rk_full = 1"
                    " THEN 1 ELSE 0 END) AS INT)"
                ).alias("top1_kept"),
            )
        )
        out = t if out is None else out.unionByName(t)
    return out.selectExpr(
        "qid",
        "dprime",
        "hits",
        f"round(CAST(hits AS DOUBLE) / {TOPK_K}, 6) AS recall",
        "top1_kept",
    ).orderBy("qid", "dprime")


EXTENDED_QUERIES["x3_mrl_recall"] = x3_mrl_recall


def _mrl_oracle_sql() -> str:
    dist = "SUM((a.x - b.x) * (a.x - b.x))"
    ctes = [
        f"""u AS MATERIALIZED (SELECT vec_id,
               CAST(round(CAST(x AS DOUBLE) * {KM_SCALE}) AS BIGINT) AS x, i
             FROM (SELECT vec_id, unnest(embedding) AS x,
                          generate_subscripts(embedding, 1) AS i
                   FROM embeddings))""",
    ]
    for dp in MRL_DIMS:
        ctes.append(f"""t{dp} AS MATERIALIZED (
            SELECT qid, cid, rk, CAST({dp} AS INT) AS dprime FROM (
              SELECT a.vec_id AS qid, b.vec_id AS cid, {dist} AS d,
                     ROW_NUMBER() OVER (PARTITION BY a.vec_id
                       ORDER BY {dist}, b.vec_id) AS rk
              FROM u a JOIN u b ON b.i = a.i
              WHERE a.vec_id < {TOPK_QUERY_MAX}
                AND b.vec_id >= {TOPK_QUERY_MAX}
                AND a.i <= {dp}
              GROUP BY a.vec_id, b.vec_id) r
            WHERE rk <= {TOPK_K})""")
    full = MRL_DIMS[-1]
    unions = "\nUNION ALL\n".join(
        f"SELECT * FROM t{dp}" for dp in MRL_DIMS
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f""",
    allt AS ({unions}),
    j AS (
      SELECT t.qid, t.dprime, t.rk, f.rk AS rk_full
      FROM allt t LEFT JOIN t{full} f
        ON f.qid = t.qid AND f.cid = t.cid
    ),
    agg AS (
      SELECT qid, dprime,
             CAST(sum(CASE WHEN rk_full IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits,
             CAST(max(CASE WHEN rk = 1 AND rk_full = 1 THEN 1 ELSE 0
                      END) AS INT) AS top1_kept
      FROM j GROUP BY 1, 2
    )
    SELECT qid, dprime, hits,
           round(CAST(hits AS DOUBLE) / {TOPK_K}, 6) AS recall,
           top1_kept
    FROM agg ORDER BY qid, dprime"""
    )


EXTENDED_ORACLES["x3_mrl_recall"] = _mrl_oracle_sql()


BT_BATCH = 500  # synthetic ingest batch: o_orderkey div BT_BATCH


def x9_bitemporal_asof(spark, sf_dir):
    """BITEMPORAL AS-OF RECONSTRUCTION — the two-axis warehouse query
    SCD2 alone can't answer: "what did the warehouse BELIEVE at
    transaction time T about the state VALID at time V?"  Valid time
    is the order date; transaction time is the (synthetic,
    deterministic) ingest batch o_orderkey div BT_BATCH — late-arriving
    facts land in later batches, so reconstructions at earlier T
    legitimately differ from today's.  For a 3x2 probe grid of
    (valid-asof day, txn-asof batch), the per-customer latest
    known-and-valid priority version is counted per priority — the
    audit report a regulated pipeline replays to prove what any past
    decision was based on.

    Exactness: the probe grid derives from integer epoch-day /
    batch-id scalars (integer div), version pick is a
    (valid_day, orderkey) row_number per (cell, customer).  Scale
    shape: grid x facts is one bounded-fan join (grid is 6 cells);
    one window per cell-customer partition, one tiny aggregate."""
    o = load_table(spark, sf_dir, "orders").selectExpr(
        "o_custkey",
        "o_orderpriority AS priority",
        "datediff(o_orderdate, DATE '1970-01-01') AS vd",
        "o_orderkey",
        f"CAST(o_orderkey div {BT_BATCH} AS BIGINT) AS tb",
    )
    scal = o.agg(
        F.expr("CAST(min(vd) AS BIGINT)").alias("dmin"),
        F.expr("CAST(max(vd) AS BIGINT)").alias("dmax"),
        F.expr("CAST(max(tb) AS BIGINT)").alias("bmax"),
    )
    grid = scal.selectExpr(
        "explode(array(1, 2, 3)) AS kv", "dmin", "dmax", "bmax"
    ).selectExpr(
        "CAST(dmin + kv * (dmax - dmin) div 4 AS BIGINT) AS v_day",
        "explode(array(CAST(bmax div 2 AS BIGINT), bmax)) AS t_batch",
    )
    cells = (
        o.join(
            F.broadcast(grid),
            (F.col("vd") <= F.col("v_day"))
            & (F.col("tb") <= F.col("t_batch")),
        )
    )
    w = Window.partitionBy("v_day", "t_batch", "o_custkey").orderBy(
        F.desc("vd"), F.desc("o_orderkey")
    )
    return (
        cells.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy("v_day", "t_batch", "priority")
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("n_custs"))
        .orderBy("v_day", "t_batch", "priority")
    )


EXTENDED_QUERIES["x9_bitemporal_asof"] = x9_bitemporal_asof

EXTENDED_ORACLES["x9_bitemporal_asof"] = f"""
    WITH o AS (
      SELECT o_custkey, o_orderpriority AS priority,
             datediff('day', DATE '1970-01-01',
                      CAST(o_orderdate AS DATE)) AS vd,
             o_orderkey,
             CAST(o_orderkey // {BT_BATCH} AS BIGINT) AS tb
      FROM orders
    ),
    scal AS (
      SELECT CAST(min(vd) AS BIGINT) AS dmin,
             CAST(max(vd) AS BIGINT) AS dmax,
             CAST(max(tb) AS BIGINT) AS bmax
      FROM o
    ),
    grid AS (
      SELECT CAST(dmin + kv * (dmax - dmin) // 4 AS BIGINT) AS v_day,
             CAST(tt AS BIGINT) AS t_batch
      FROM scal,
           LATERAL (SELECT unnest([1, 2, 3]) AS kv) k,
           LATERAL (SELECT unnest([bmax // 2, bmax]) AS tt) t
    ),
    cells AS (
      SELECT g.v_day, g.t_batch, o.o_custkey, o.priority, o.vd,
             o.o_orderkey
      FROM o JOIN grid g ON o.vd <= g.v_day AND o.tb <= g.t_batch
    ),
    pick AS (
      SELECT v_day, t_batch, priority,
             ROW_NUMBER() OVER (PARTITION BY v_day, t_batch, o_custkey
               ORDER BY vd DESC, o_orderkey DESC) AS rn
      FROM cells
    )
    SELECT v_day, t_batch, priority,
           CAST(count(*) AS BIGINT) AS n_custs
    FROM pick WHERE rn = 1
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def x8_binseg(spark, sf_dir):
    """BINARY SEGMENTATION for MULTIPLE changepoints (Scott & Knott
    1974, the standard recursion over the CUSUM locator): find the
    level-1 split of each type's daily-revenue series, then re-run the
    same argmax inside each half — three located shifts per type where
    x8_cusum_changepoint stops at one.  Completes the changepoint arc:
    offline single locator, online monitor (x7_stream_cusum), and now
    the multi-change recursion.

    Exactness: every statistic is the cross-multiplied BIGINT form
    m*S_i - i*S_m over SEGMENT-LOCAL cumulative cents (no mean
    subtraction, no doubles until the rendered segment means), argmax
    ties break on the smaller index; segments shorter than 2 days
    yield no row by construction (i < m).  Scale shape: one daily
    aggregate, then per-(type, side) windows — the recursion level
    only re-partitions the SAME bounded daily frame, never rescans
    the corpus."""
    daily = (
        _day_cents(spark, sf_dir)
        .groupBy("event_type", "day")
        .agg(F.sum("cents").cast("bigint").alias("v"))
        .localCheckpoint(eager=False)  # types x days — bounded
    )

    def argmax_split(df, part_cols, seg_label):
        w = Window.partitionBy(*part_cols).orderBy("day")
        wt = Window.partitionBy(*part_cols)
        cum = (
            df.withColumn("i", F.row_number().over(w).cast("bigint"))
            .withColumn("s", F.sum("v").over(w).cast("bigint"))
            .withColumn("n", F.count(F.lit(1)).over(wt).cast("bigint"))
            .withColumn("sn", F.sum("v").over(wt).cast("bigint"))
            .where("i < n")
            .selectExpr(
                "event_type", "day", "i", "s", "n", "sn",
                "abs(n * s - i * sn) AS stat",
            )
        )
        wr = Window.partitionBy("event_type").orderBy(
            F.col("stat").desc(), F.col("i")
        )
        return (
            cum.withColumn("rk", F.row_number().over(wr))
            .where("rk = 1")
            .selectExpr(
                "event_type",
                f"'{seg_label}' AS seg",
                "CAST(n AS BIGINT) AS seg_days",
                "CAST(i AS BIGINT) AS cp_idx",
                "CAST(day AS BIGINT) AS cp_day",
                "CAST(stat AS BIGINT) AS stat",
                "round(CAST(s AS DOUBLE) / i / 100, 6) AS mean_before",
                "round(CAST(sn - s AS DOUBLE) / (n - i) / 100, 6)"
                " AS mean_after",
            )
        )

    full = argmax_split(daily, ["event_type"], "full")
    sides = daily.join(
        full.selectExpr("event_type", "cp_day AS cp1"), "event_type"
    ).selectExpr(
        "event_type",
        "day",
        "v",
        "CASE WHEN day <= cp1 THEN 'left' ELSE 'right' END AS side",
    )
    lvl2 = None
    for side in ("left", "right"):
        part = argmax_split(
            sides.where(F.col("side") == side).drop("side"),
            ["event_type"],
            side,
        )
        lvl2 = part if lvl2 is None else lvl2.unionByName(part)
    return full.unionByName(lvl2).orderBy("event_type", "seg")


EXTENDED_QUERIES["x8_binseg"] = x8_binseg


def _binseg_oracle_sql() -> str:
    def seg_sql(rel: str, label: str) -> str:
        return f"""
      SELECT event_type, '{label}' AS seg,
             CAST(n AS BIGINT) AS seg_days,
             CAST(i AS BIGINT) AS cp_idx,
             CAST(day AS BIGINT) AS cp_day,
             CAST(stat AS BIGINT) AS stat,
             round(CAST(s AS DOUBLE) / i / 100, 6) AS mean_before,
             round(CAST(sn - s AS DOUBLE) / (n - i) / 100, 6)
               AS mean_after
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                 ORDER BY stat DESC, i) AS rk
        FROM (
          SELECT event_type, day, i, s, n, sn,
                 abs(n * s - i * sn) AS stat
          FROM (
            SELECT event_type, day,
                   CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                        ORDER BY day) AS BIGINT) AS i,
                   CAST(SUM(v) OVER (PARTITION BY event_type
                        ORDER BY day) AS BIGINT) AS s,
                   CAST(COUNT(*) OVER (PARTITION BY event_type)
                        AS BIGINT) AS n,
                   CAST(SUM(v) OVER (PARTITION BY event_type)
                        AS BIGINT) AS sn
            FROM {rel}) c
          WHERE i < n) st) r
      WHERE rk = 1"""

    return f"""
    WITH daily AS MATERIALIZED (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // {_DAY_DIV} AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    fseg AS MATERIALIZED ({seg_sql('daily', 'full')}),
    sides AS MATERIALIZED (
      SELECT d.event_type, d.day, d.v,
             CASE WHEN d.day <= f.cp_day THEN 'left' ELSE 'right' END
               AS side
      FROM daily d JOIN fseg f USING (event_type)
    ),
    lf AS ({seg_sql("(SELECT event_type, day, v FROM sides WHERE side = 'left')", 'left')}),
    rt AS ({seg_sql("(SELECT event_type, day, v FROM sides WHERE side = 'right')", 'right')})
    SELECT * FROM fseg
    UNION ALL SELECT * FROM lf
    UNION ALL SELECT * FROM rt
    ORDER BY event_type, seg
"""


EXTENDED_ORACLES["x8_binseg"] = _binseg_oracle_sql()


PH_BITS = 60   # blockhash signature width (bit 63 would overflow signed BIGINT shifts)
PH_HAM_MAX = 24  # near-dup pair threshold (bits differing)
# Candidate generation is EXACT multi-index banding (Norouzi et al. 2012,
# multi-index hashing): with PH_HAM_MAX+1 DISJOINT bit-bands, any pair
# within Hamming PH_HAM_MAX differs in at most PH_HAM_MAX bands, so by
# pigeonhole at least one band matches EXACTLY -> a band-value equi-join
# recalls every true pair; the Hamming verify then makes precision exact.
PH_BANDS = PH_HAM_MAX + 1


def _ph_band_slices() -> list[tuple[int, int]]:
    """(start_bit, width) for PH_BANDS disjoint slices covering PH_BITS.

    Widths differ by at most 1 (floor/ceil of PH_BITS/PH_BANDS).  At the
    fixture's generous threshold (24/60 bits) bands are 2-3 bits wide and
    barely selective — the candidate join degrades gracefully toward
    all-pairs but NEVER misses a pair; with a real decoder the threshold
    drops to ~8-10 bits, bands widen to ~6 bits, and the same plan is
    selective. Band count, not plan shape, is the tunable.
    """
    base, extra = divmod(PH_BITS, PH_BANDS)
    out, start = [], 0
    for k in range(PH_BANDS):
        w = base + (1 if k < extra else 0)
        out.append((start, w))
        start += w
    assert start == PH_BITS
    return out


@session_cached
def _ph_sigs(spark, sf_dir):
    """(doc_id, sig): the packed PH_BITS blockhash signature per asset —
    one payload pass, the index artifact the near-dup pairing, the
    storage-reclaim sheet, and the band-health instrument all consume.
    Session-memoized like the SemDeDup flag table above (narratively
    the PERSISTED signature index a production pipeline writes once and
    joins everywhere); the localCheckpoint cuts the 60-block payload
    aggregation out of every consumer's lineage."""
    d = _docs(spark, sf_dir).where(F.col("doc_id") < MEDIA_DOC_MAX)
    p = M.with_binary_payload(d).selectExpr(
        "doc_id", "CAST(payload AS STRING) AS s"
    ).where(f"length(s) >= {PH_BITS}")  # >= 1 byte per block: an
    # emptier payload has no meaningful blockhash (and Spark's
    # sequence(lo, hi) DESCENDS when hi < lo while DuckDB's
    # generate_series returns empty — the guard removes the case).
    bsum = (
        "aggregate(sequence(CAST({lo} AS INT), CAST({hi} AS INT)),"
        " CAST(0 AS BIGINT), (acc, i) -> acc + ascii(substring(s, i, 1)))"
    )
    sig_terms = []
    for j in range(PH_BITS):
        lo = f"(CAST(length(s) AS BIGINT) * {j} div {PH_BITS}) + 1"
        hi = f"CAST(length(s) AS BIGINT) * {j + 1} div {PH_BITS}"
        blk = bsum.format(lo=lo, hi=hi)
        blen = f"({hi}) - ({lo}) + 1"
        bit = (
            f"CASE WHEN ({blk}) * length(s) >"
            f" tot * ({blen}) THEN CAST(1 AS BIGINT) ELSE 0 END"
        )
        sig_terms.append(f"shiftleft({bit}, {j})")
    sig_expr = " + ".join(sig_terms)
    tot = bsum.format(lo="1", hi="length(s)")
    return (
        p.selectExpr("doc_id", "s", f"{tot} AS tot")
        .selectExpr("doc_id", f"{sig_expr} AS sig")
        .localCheckpoint(eager=False)  # the signature index artifact
    )


def _ph_exploded_bands(spark, sf_dir):
    """(doc_id, sig, bid, bval): one row per (asset, band) — the
    multi-index over the signature table (a narrow Generate of PH_BANDS
    rows per asset, each row two BIGINTs + an INT)."""
    band_vals = ", ".join(
        f"(shiftright(sig, {start}) & {(1 << w) - 1})"
        for start, w in _ph_band_slices()
    )
    return _ph_sigs(spark, sf_dir).selectExpr(
        "doc_id", "sig",
        f"posexplode(array({band_vals})) AS (bid, bval)",
    )


def x6_blockhash_near_dup(spark, sf_dir):
    """PERCEPTUAL-HASH near-dup for media payloads — the blockhash /
    aHash family (Yang et al. 2006): split each payload into PH_BITS
    blocks, set bit j when block j's byte mass exceeds its pro-rata
    share of the whole payload, and pair assets whose 64-bit
    signatures differ in at most PH_HAM_MAX bits.  Catches the
    re-encoded/lightly-edited copies exact md5 dedup (x6_media_dedup)
    misses — with a real decoder the blocks are pixel tiles; the
    byte-block stand-in keeps the signature, pairing, and Hamming
    plumbing identical.

    Exactness: each bit is the integer cross-multiplication
    sum_block * n_bytes > total_sum * block_len (no division);
    signatures pack into one BIGINT and the pair distance is
    bit_count(xor) — all integer.  Scale shape: one payload pass per
    asset for the signature (the index artifact), then candidate
    generation through PH_BANDS disjoint bit-band buckets (the x2
    MinHash-banding machinery of operators/dedup.py applied to
    bit-slices; exact by pigeonhole, see PH_BANDS above) and a
    Hamming verify over candidates only — payloads never join and
    the pair join is an equi-join on (band_id, band_value), never
    all-pairs."""
    exploded = _ph_exploded_bands(spark, sf_dir)
    a = exploded.selectExpr("bid", "bval", "doc_id AS da", "sig AS sa")
    b = exploded.selectExpr("bid", "bval", "doc_id AS db", "sig AS sb")
    candidates = (
        a.join(b, ["bid", "bval"])          # equi-join: band buckets
        .where(F.col("da") < F.col("db"))
        .select("da", "db", "sa", "sb")
        .distinct()                          # pairs matching >1 band
    )
    return (
        candidates.selectExpr(
            "da", "db",
            "CAST(bit_count(sa ^ sb) AS INT) AS hamming",
        )
        .where(f"hamming <= {PH_HAM_MAX}")
        .orderBy("da", "db")
    )


EXTENDED_QUERIES["x6_blockhash_near_dup"] = x6_blockhash_near_dup


def _ph_oracle_sig_cte() -> str:
    """The DuckDB CTE chain ending in sigs(doc_id, sig) — the oracle-side
    twin of _ph_sigs, shared by the near-dup and band-health oracles."""
    bsum = (
        "list_sum(list_transform(generate_series(CAST({lo} AS BIGINT),"
        " CAST({hi} AS BIGINT)), i -> ascii(substr(s, CAST(i AS INT), 1))))"
    )
    sig_terms = []
    for j in range(PH_BITS):
        lo = f"(CAST(length(s) AS BIGINT) * {j} // {PH_BITS}) + 1"
        hi = f"CAST(length(s) AS BIGINT) * {j + 1} // {PH_BITS}"
        blk = bsum.format(lo=lo, hi=hi)
        blen = f"({hi}) - ({lo}) + 1"
        bit = (
            f"CASE WHEN ({blk}) * length(s) >"
            f" tot * ({blen}) THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        )
        sig_terms.append(f"(({bit}) << {j})")
    sig_expr = " + ".join(sig_terms)
    tot = bsum.format(lo="1", hi="length(s)")
    return f"""
    WITH p AS MATERIALIZED (
      SELECT doc_id, text AS s FROM documents
      WHERE doc_id < {MEDIA_DOC_MAX} AND length(text) >= {PH_BITS}
    ),
    tt AS MATERIALIZED (
      SELECT doc_id, s, CAST({tot} AS BIGINT) AS tot FROM p
    ),
    sigs AS MATERIALIZED (
      SELECT doc_id, CAST({sig_expr} AS BIGINT) AS sig FROM tt
    )"""


def _blockhash_oracle_sql() -> str:
    return f"""{_ph_oracle_sig_cte()}
    SELECT a.doc_id AS da, b.doc_id AS db,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= {PH_HAM_MAX}
    ORDER BY da, db
"""


EXTENDED_ORACLES["x6_blockhash_near_dup"] = _blockhash_oracle_sql()


def x6_band_health(spark, sf_dir):
    """BAND-HEALTH sheet for the perceptual multi-index (the x2 LSH
    bucket-health idea applied to the blockhash bit-bands): per band,
    how many distinct bucket values the assets spread over, the largest
    bucket, and the candidate pairs that band alone generates
    (sum over buckets of C(size, 2)).  This is the instrument that
    prices the banded pair-generation plan of x6_blockhash_near_dup —
    at the fixture's 2-3-bit bands, max_bucket near n_assets and
    cand_pairs near all-pairs say 'band width is the lever', and the
    same sheet shows the selectivity gain the day a real decoder
    narrows PH_HAM_MAX and widens the slices.  All-integer output.

    Scale shape: one signature pass (shared _ph_sigs index artifact),
    one narrow Generate (PH_BANDS rows per asset), one (bid, bval)
    count shuffle with map-side combine, one PH_BANDS-row final
    aggregate — payloads never shuffle, nothing is all-pairs."""
    ex = _ph_exploded_bands(spark, sf_dir)
    buckets = ex.groupBy("bid", "bval").agg(F.count(F.lit(1)).alias("c"))
    return (
        buckets.groupBy("bid")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("c").alias("max_bucket"),
            F.sum(F.expr("c * (c - 1) div 2")).alias("cand_pairs"),
        )
        .selectExpr(
            "CAST(bid AS INT) AS bid",
            "n_buckets",
            "max_bucket",
            "cand_pairs",
        )
        .orderBy("bid")
    )


EXTENDED_QUERIES["x6_band_health"] = x6_band_health


def _band_health_oracle_sql() -> str:
    arms = " ".join(
        f"WHEN {k} THEN (sig >> {start}) & {(1 << w) - 1}"
        for k, (start, w) in enumerate(_ph_band_slices())
    )
    return f"""{_ph_oracle_sig_cte()},
    bands AS (
      SELECT doc_id, CAST(g.bid AS INT) AS bid,
             CAST(CASE g.bid {arms} END AS BIGINT) AS bval
      FROM sigs, generate_series(0, {PH_BANDS - 1}) AS g(bid)
    ),
    buckets AS (
      SELECT bid, bval, count(*) AS c FROM bands GROUP BY 1, 2
    )
    SELECT bid,
           count(*) AS n_buckets,
           CAST(max(c) AS BIGINT) AS max_bucket,
           CAST(sum(c * (c - 1) // 2) AS BIGINT) AS cand_pairs
    FROM buckets GROUP BY bid ORDER BY bid
"""


EXTENDED_ORACLES["x6_band_health"] = _band_health_oracle_sql()


# AUC probe: does the value separate purchases from views?
AUC_POS = "purchase"
AUC_NEG = "view"

# Shared Hanley-McNeil SE text over (a = raw AUC double, n1, n2).
_AUC_SE = (
    "sqrt((a * (1 - a)"
    " + (n1 - 1) * (a / (2 - a) - a * a)"
    " + (n2 - 1) * (2 * a * a / (1 + a) - a * a))"
    " / (CAST(n1 AS DOUBLE) * n2))"
)


def x8_auc(spark, sf_dir):
    """ROC AUC of the event value separating {AUC_POS} from {AUC_NEG}
    events, with the Hanley-McNeil (1982) standard error and 95% CI —
    the threshold-free discrimination metric every scorer here
    (quality score, LM perplexity, dedup priority) should report
    before anyone picks a cutoff.  AUC == the Mann-Whitney U
    probability P(score_pos > score_neg) with ties at 1/2.

    Exactness: midrank sums are exact integers over the
    distinct-cents histogram (2*R1 = sum g_pos * (2*cum_below +
    g_total + 1) — no halves until the one rendered division); the SE
    evaluates a shared formula text on three exact scalars.  Scale
    shape: one map-side-combined histogram on cents (bounded by
    distinct values), one ordered prefix-sum over that bounded frame,
    a 1-row reduce."""
    # rollup of the shared session value-frequency artifact (r14): the
    # pos/neg class split is a filter + pivot over event_type
    hist = (
        _ev_vhist_cached(spark, sf_dir)
        .where(f"event_type IN ('{AUC_POS}', '{AUC_NEG}')")
        .groupBy(F.col("cents").alias("c"))
        .agg(
            F.expr(
                f"CAST(sum(CASE WHEN event_type = '{AUC_POS}'"
                " THEN cnt ELSE 0 END) AS BIGINT)"
            ).alias("g1"),
            F.expr(
                f"CAST(sum(CASE WHEN event_type = '{AUC_NEG}'"
                " THEN cnt ELSE 0 END) AS BIGINT)"
            ).alias("g0"),
        )
    )
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    ranked = hist.select(
        "g1",
        "g0",
        F.coalesce(F.sum(F.col("g1") + F.col("g0")).over(w), F.lit(0))
        .cast("bigint")
        .alias("below"),
    )
    return (
        ranked.agg(
            F.expr("CAST(sum(g1) AS BIGINT)").alias("n1"),
            F.expr("CAST(sum(g0) AS BIGINT)").alias("n2"),
            F.expr(
                "CAST(sum(g1 * (2 * below + g1 + g0 + 1)) AS BIGINT)"
            ).alias("r1x2"),
        )
        .selectExpr(
            "n1",
            "n2",
            "CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE)"
            " / (2 * CAST(n1 AS DOUBLE) * n2) AS a",
        )
        .selectExpr(
            "n1",
            "n2",
            "round(a, 6) AS auc",
            f"round({_AUC_SE}, 6) AS se",
            f"round(a - 1.96 * {_AUC_SE}, 6) AS ci_lo",
            f"round(a + 1.96 * {_AUC_SE}, 6) AS ci_hi",
        )
    )


EXTENDED_QUERIES["x8_auc"] = x8_auc

EXTENDED_ORACLES["x8_auc"] = f"""
    WITH hist AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS c,
             CAST(sum(CASE WHEN event_type = '{AUC_POS}' THEN 1 ELSE 0
                      END) AS BIGINT) AS g1,
             CAST(sum(CASE WHEN event_type = '{AUC_NEG}' THEN 1 ELSE 0
                      END) AS BIGINT) AS g0
      FROM events
      WHERE value IS NOT NULL
        AND event_type IN ('{AUC_POS}', '{AUC_NEG}')
      GROUP BY 1
    ),
    ranked AS (
      SELECT g1, g0,
             CAST(coalesce(sum(g1 + g0) OVER (ORDER BY c
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS below
      FROM hist
    ),
    agg AS (
      SELECT CAST(sum(g1) AS BIGINT) AS n1,
             CAST(sum(g0) AS BIGINT) AS n2,
             CAST(sum(g1 * (2 * below + g1 + g0 + 1)) AS BIGINT) AS r1x2
      FROM ranked
    ),
    araw AS (
      SELECT n1, n2,
             CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE)
               / (2 * CAST(n1 AS DOUBLE) * n2) AS a
      FROM agg
    )
    SELECT n1, n2,
           round(a, 6) AS auc,
           round({_AUC_SE}, 6) AS se,
           round(a - 1.96 * {_AUC_SE}, 6) AS ci_lo,
           round(a + 1.96 * {_AUC_SE}, 6) AS ci_hi
    FROM araw
"""


_SEPOCH_W = "sqrt(CAST(eff_tokens AS DOUBLE)) / z"


def x10_soft_epoch(spark, sf_dir):
    """DEDUP-AWARE epoch planning — the composition of x10_soft_dedup
    and x10_epoch_plan a real run executes: plan the
    EPOCH_BUDGET_MULT x budget over each source's EFFECTIVE
    (1/cluster-size-weighted) token mass rather than its raw crawl
    mass, so a source that is 10x duplicated no longer buys 10x the
    epochs-weight (the raw plan's silent failure mode).  Reports the
    dup discount (effective/raw) beside the plan so the delta vs
    x10_epoch_plan is attributable per source.

    Exactness: effective masses are the exact integer micro-unit sums
    of x10_soft_dedup; the temperature-sqrt normalizer folds in
    source order (the x10_epoch_plan text); floor/ceil/least are the
    only renders.  Scale shape: reuses the persisted cluster-label
    table + one corpus pass; everything after is source-bounded."""
    d = _docs(spark, sf_dir)
    cc = _cc_cached(spark, sf_dir)
    sizes = cc.groupBy("cluster").agg(F.count(F.lit(1)).alias("csize"))
    lab = cc.join(sizes, "cluster").select(
        F.col("node").alias("doc_id"), "csize"
    )
    per = (
        d.select("doc_id", "source",
                 F.size(tokens_col_ref()).alias("toks"))
        .join(lab, "doc_id", "left")
        .selectExpr(
            "source",
            "toks",
            "CAST(1000000000 div coalesce(csize, 1) AS BIGINT) AS w9",
        )
        .groupBy("source")
        .agg(
            F.expr("CAST(sum(toks) AS BIGINT)").alias("raw_tokens"),
            F.expr(
                "greatest(CAST(sum(toks * w9) div 1000000000 AS BIGINT),"
                " CAST(1 AS BIGINT))"
            ).alias("eff_tokens"),
        )
        .localCheckpoint(eager=False)  # source-dimension-bounded
    )
    tot = per.agg(
        F.expr("CAST(sum(eff_tokens) AS BIGINT)").alias("total"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(source, eff_tokens))),"
            " CAST(0 AS DOUBLE),"
            " (acc, x) -> acc + sqrt(CAST(x.eff_tokens AS DOUBLE)))"
        ).alias("z"),
    )
    j = per.crossJoin(F.broadcast(tot)).selectExpr(
        "source", "raw_tokens", "eff_tokens", "total",
        f"{_SEPOCH_W} AS w_u",
    )
    return (
        j.selectExpr(
            "*",
            f"CAST(floor(CAST({EPOCH_BUDGET_MULT} AS DOUBLE)"
            " * CAST(total AS DOUBLE) * w_u) AS BIGINT)"
            " AS desired_tokens",
        )
        .selectExpr(
            "*",
            "CAST(ceil(CAST(desired_tokens AS DOUBLE)"
            " / CAST(eff_tokens AS DOUBLE)) AS BIGINT) AS epochs_need",
        )
        .selectExpr(
            "source",
            "raw_tokens",
            "eff_tokens",
            "round(CAST(eff_tokens AS DOUBLE) / raw_tokens, 6)"
            " AS dup_discount",
            "round(w_u, 6) AS weight",
            "desired_tokens",
            f"least(epochs_need, CAST({EPOCH_MAX} AS BIGINT)) AS epochs",
            f"desired_tokens - least(desired_tokens,"
            f" CAST({EPOCH_MAX} AS BIGINT) * eff_tokens) AS deficit",
        )
        .orderBy("source")
    )


EXTENDED_QUERIES["x10_soft_epoch"] = x10_soft_epoch

EXTENDED_ORACLES["x10_soft_epoch"] = f"""
    WITH RECURSIVE {_CLOSURE_CTES},
    csizes AS (SELECT cluster, count(*) AS csize FROM comp GROUP BY 1),
    lab AS (SELECT c.node AS doc_id, s.csize
            FROM comp c JOIN csizes s USING (cluster)),
    per AS (
      SELECT d.source,
             CAST(sum(len({_TOKS_EXPR})) AS BIGINT) AS raw_tokens,
             greatest(CAST(sum(len({_TOKS_EXPR})
                  * (1000000000 // coalesce(l.csize, 1)))
                  // 1000000000 AS BIGINT), CAST(1 AS BIGINT))
               AS eff_tokens
      FROM documents d LEFT JOIN lab l USING (doc_id)
      GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(eff_tokens) AS BIGINT) AS total,
             CAST(list_sum(list(sqrt(CAST(eff_tokens AS DOUBLE))
                  ORDER BY source)) AS DOUBLE) AS z
      FROM per
    ),
    j AS (SELECT source, raw_tokens, eff_tokens, total,
                 {_SEPOCH_W} AS w_u
          FROM per, tot),
    j2 AS (SELECT *,
             CAST(floor(CAST({EPOCH_BUDGET_MULT} AS DOUBLE)
                  * CAST(total AS DOUBLE) * w_u) AS BIGINT)
               AS desired_tokens
           FROM j),
    j3 AS (SELECT *,
             CAST(ceil(CAST(desired_tokens AS DOUBLE)
                  / CAST(eff_tokens AS DOUBLE)) AS BIGINT)
               AS epochs_need
           FROM j2)
    SELECT source, raw_tokens, eff_tokens,
           round(CAST(eff_tokens AS DOUBLE) / raw_tokens, 6)
             AS dup_discount,
           round(w_u, 6) AS weight,
           desired_tokens,
           least(epochs_need, CAST({EPOCH_MAX} AS BIGINT)) AS epochs,
           desired_tokens - least(desired_tokens,
             CAST({EPOCH_MAX} AS BIGINT) * eff_tokens) AS deficit
    FROM j3 ORDER BY source
"""


def x3_pq_balanced(spark, sf_dir):
    """VARIANCE-BALANCED PQ SUBSPACE ASSIGNMENT — the OPQ-lite upgrade
    (Ge et al. 2013 motivate it; the full OPQ learns a rotation, the
    cheap 80% is just not letting one subspace hoard all the
    variance): rank dimensions by variance, deal them to the PQ_M
    subspaces in snake order, and report per-subspace quantization
    error against the naive contiguous split on the SAME codebook
    discipline (codes = subvectors of the PQ_CODES smallest-id
    vectors).  The improvement column is the storage-free accuracy
    a deployment gets by permuting dims before encoding.

    Exactness: per-dim variance is the cross-multiplied BIGINT
    n*Sum(x^2) - Sum(x)^2 (no mean), snake rank ties break on dim
    index, and every distance is exact integer squared L2; the
    engines run the same join-based computation (corpus long form x
    broadcast seed frame x broadcast dim-group map).  Scale shape:
    one corpus-long-form pass per split, seeds and the dim map are
    broadcast-sized, aggregates are map-side combined."""
    from diepy_spark.operators.clustering import quantize_vectors

    q = quantize_vectors(_vecs(spark, sf_dir), scale=KM_SCALE)
    u = q.select(
        "vec_id", F.posexplode("xi").alias("i", "x")
    ).localCheckpoint(eager=False)
    sub = EMB_DIM // PQ_M
    wv = Window.orderBy(F.desc("v2"), F.asc("i"))
    dimmap = (
        u.groupBy("i")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n"),
            F.expr("CAST(sum(x) AS BIGINT)").alias("sx"),
            F.expr("CAST(sum(x * x) AS BIGINT)").alias("sxx"),
        )
        .selectExpr("i", "n * sxx - sx * sx AS v2")
        .withColumn("rk", F.row_number().over(wv))
        .selectExpr(
            "i",
            f"CAST(CASE WHEN (rk - 1) % {2 * PQ_M} < {PQ_M}"
            f" THEN (rk - 1) % {2 * PQ_M}"
            f" ELSE {2 * PQ_M} - 1 - ((rk - 1) % {2 * PQ_M})"
            " END AS INT) AS g_bal",
            f"CAST(i div {sub} AS INT) AS g_naive",
        )
    )
    seeds = (
        u.join(
            F.broadcast(
                q.orderBy("vec_id").limit(PQ_CODES).select("vec_id")
            ).withColumnRenamed("vec_id", "seed_id"),
            u.vec_id == F.col("seed_id"),
        )
        .selectExpr("seed_id", "i AS si", "x AS c")
    )

    def sse_for(gcol):
        d = (
            u.join(F.broadcast(dimmap), "i")
            .join(
                F.broadcast(seeds),
                F.col("i") == F.col("si"),
            )
            .selectExpr(
                "vec_id", "seed_id", f"{gcol} AS g",
                "(x - c) * (x - c) AS e",
            )
            .groupBy("vec_id", "seed_id", "g")
            .agg(F.expr("CAST(sum(e) AS BIGINT)").alias("d2"))
        )
        return (
            d.groupBy("vec_id", "g")
            .agg(F.min("d2").alias("best"))
            .groupBy("g")
            .agg(F.expr("CAST(sum(best) AS BIGINT)").alias("sse"))
        )

    bal = sse_for("g_bal").selectExpr("g", "sse AS sse_bal")
    nai = sse_for("g_naive").selectExpr("g", "sse AS sse_naive")
    tot = (
        bal.agg(F.expr("CAST(sum(sse_bal) AS BIGINT)").alias("tb"))
        .crossJoin(
            nai.agg(
                F.expr("CAST(sum(sse_naive) AS BIGINT)").alias("tn")
            )
        )
        .selectExpr(
            "tb AS total_bal",
            "tn AS total_naive",
            "round(1 - CAST(tb AS DOUBLE) / tn, 6) AS improvement",
        )
    )
    return (
        bal.join(nai, "g")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "CAST(g AS INT) AS s", "sse_bal", "sse_naive",
            "total_bal", "total_naive", "improvement",
        )
        .orderBy("s")
    )


EXTENDED_QUERIES["x3_pq_balanced"] = x3_pq_balanced

EXTENDED_ORACLES["x3_pq_balanced"] = f"""
    WITH u AS MATERIALIZED (
      SELECT vec_id,
             CAST(round(CAST(x AS DOUBLE) * {KM_SCALE}) AS BIGINT) AS x,
             CAST(i - 1 AS INT) AS i
      FROM (SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)
    ),
    dimmap AS MATERIALIZED (
      SELECT i,
             CAST(CASE WHEN (rk - 1) % {2 * PQ_M} < {PQ_M}
                  THEN (rk - 1) % {2 * PQ_M}
                  ELSE {2 * PQ_M} - 1 - ((rk - 1) % {2 * PQ_M})
                  END AS INT) AS g_bal,
             CAST(i // {EMB_DIM // PQ_M} AS INT) AS g_naive
      FROM (
        SELECT i, ROW_NUMBER() OVER (ORDER BY v2 DESC, i) AS rk
        FROM (SELECT i, count(*) * sum(x * x) - sum(x) * sum(x) AS v2
              FROM u GROUP BY i) v) r
    ),
    seeds AS MATERIALIZED (
      SELECT u.vec_id AS seed_id, u.i AS si, u.x AS c
      FROM u JOIN (SELECT DISTINCT vec_id FROM u
                   ORDER BY vec_id LIMIT {PQ_CODES}) s
        ON s.vec_id = u.vec_id
    ),
    db AS MATERIALIZED (
      SELECT u.vec_id, se.seed_id, m.g_bal, m.g_naive,
             CAST(sum((u.x - se.c) * (u.x - se.c)) AS BIGINT) AS d2
      FROM u JOIN dimmap m ON m.i = u.i
      JOIN seeds se ON se.si = u.i
      GROUP BY 1, 2, 3, 4
    ),
    bal AS (
      SELECT g_bal AS g, CAST(sum(best) AS BIGINT) AS sse_bal
      FROM (SELECT vec_id, g_bal, min(d2) AS best
            FROM (SELECT vec_id, seed_id, g_bal,
                         CAST(sum(d2) AS BIGINT) AS d2
                  FROM db GROUP BY 1, 2, 3) x GROUP BY 1, 2) y
      GROUP BY 1
    ),
    nai AS (
      SELECT g_naive AS g, CAST(sum(best) AS BIGINT) AS sse_naive
      FROM (SELECT vec_id, g_naive, min(d2) AS best
            FROM (SELECT vec_id, seed_id, g_naive,
                         CAST(sum(d2) AS BIGINT) AS d2
                  FROM db GROUP BY 1, 2, 3) x GROUP BY 1, 2) y
      GROUP BY 1
    ),
    tot AS (
      SELECT (SELECT CAST(sum(sse_bal) AS BIGINT) FROM bal)
               AS total_bal,
             (SELECT CAST(sum(sse_naive) AS BIGINT) FROM nai)
               AS total_naive
    )
    SELECT CAST(b.g AS INT) AS s, b.sse_bal, n.sse_naive,
           t.total_bal, t.total_naive,
           round(1 - CAST(t.total_bal AS DOUBLE) / t.total_naive, 6)
             AS improvement
    FROM bal b JOIN nai n ON n.g = b.g CROSS JOIN tot t
    ORDER BY s
"""


TOMB_MOD = 7  # tombstoned corpus ids: vec_id % TOMB_MOD == 0


def x3_tombstone_search(spark, sf_dir):
    """DELETION-AWARE vector search — the vector-DB correctness trap:
    with a tombstone set (deleted/taken-down embeddings), POST-filter
    (rank top-k, then drop deleted) silently returns FEWER than k
    results, while PRE-filter (prune candidates, then rank) keeps the
    contract.  Per query: how many of the naive top-k survive the
    tombstone filter vs the guaranteed k of the pre-filtered ranking,
    and the rank inflation of the k-th correct result — the audit a
    takedown pipeline (x9_takedown) runs against its ANN index after
    every erasure batch.

    Exactness: both rankings are exact integer squared-L2 with
    (distance, id) tie-breaks; the report is integer counts.  Scale
    shape: two per-query top-k windows over one shared scored frame
    — the tombstone set applies as a predicate, not a join."""
    from diepy_spark.operators.clustering import quantize_vectors

    v = _vecs(spark, sf_dir)
    q = quantize_vectors(
        v.where(F.col("vec_id") < TOPK_QUERY_MAX), scale=KM_SCALE
    ).selectExpr("vec_id AS qid", "xi AS qxi")
    c = quantize_vectors(
        v.where(F.col("vec_id") >= TOPK_QUERY_MAX), scale=KM_SCALE
    ).selectExpr(
        "vec_id AS cid",
        "xi AS cxi",
        f"CAST(vec_id % {TOMB_MOD} = 0 AS INT) AS dead",
    )
    scored = q.crossJoin(c).selectExpr(
        "qid", "cid", "dead", f"{_nsw_dist('qxi', 'cxi')} AS d"
    ).localCheckpoint(eager=False)
    wq = Window.partitionBy("qid").orderBy("d", "cid")
    naive = (
        scored.withColumn("rk", F.row_number().over(wq))
        .where(F.col("rk") <= TOPK_K)
        .groupBy("qid")
        .agg(
            F.expr("CAST(sum(1 - dead) AS BIGINT)").alias("naive_alive")
        )
    )
    pre = (
        scored.where("dead = 0")
        .withColumn("rk", F.row_number().over(wq))
        .where(F.col("rk") <= TOPK_K)
        .groupBy("qid")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("pre_k"),
            F.expr("CAST(max(d) AS BIGINT)").alias("pre_kth_d"),
        )
    )
    return (
        naive.join(pre, "qid")
        .selectExpr(
            "qid",
            f"CAST({TOPK_K} AS INT) AS k",
            "naive_alive",
            f"CAST({TOPK_K} AS BIGINT) - naive_alive AS shortfall",
            "pre_k",
            "pre_kth_d",
        )
        .orderBy("qid")
    )


EXTENDED_QUERIES["x3_tombstone_search"] = x3_tombstone_search

EXTENDED_ORACLES["x3_tombstone_search"] = f"""
    WITH u AS MATERIALIZED (
      SELECT vec_id,
             CAST(round(CAST(x AS DOUBLE) * {KM_SCALE}) AS BIGINT) AS x, i
      FROM (SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)
    ),
    scored AS MATERIALIZED (
      SELECT a.vec_id AS qid, b.vec_id AS cid,
             CAST(CASE WHEN b.vec_id % {TOMB_MOD} = 0 THEN 1 ELSE 0 END
                  AS INT) AS dead,
             CAST(SUM((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS d
      FROM u a JOIN u b ON b.i = a.i
      WHERE a.vec_id < {TOPK_QUERY_MAX}
        AND b.vec_id >= {TOPK_QUERY_MAX}
      GROUP BY 1, 2, 3
    ),
    naive AS (
      SELECT qid, CAST(sum(1 - dead) AS BIGINT) AS naive_alive
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY d, cid) AS rk FROM scored) r
      WHERE rk <= {TOPK_K} GROUP BY qid
    ),
    pre AS (
      SELECT qid, CAST(count(*) AS BIGINT) AS pre_k,
             CAST(max(d) AS BIGINT) AS pre_kth_d
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY d, cid) AS rk FROM scored WHERE dead = 0) r
      WHERE rk <= {TOPK_K} GROUP BY qid
    )
    SELECT n.qid, CAST({TOPK_K} AS INT) AS k, n.naive_alive,
           CAST({TOPK_K} AS BIGINT) - n.naive_alive AS shortfall,
           p.pre_k, p.pre_kth_d
    FROM naive n JOIN pre p ON p.qid = n.qid
    ORDER BY n.qid
"""


# Expectation thresholds (scaled-integer comparisons; see docstring).
DQX_NULL_PPM = 200_000      # value null rate below 20%
DQX_MIN_CENTS = 0           # event value non-negative
DQX_QTY_MAX = 50 * 100      # lineitem quantity <= 50.00


def x12_dq_expectations(spark, sf_dir):
    """EXPECTATION SUITE — the Great-Expectations-style assertion gate
    a pipeline runs before publishing a batch (x12_dq_profile
    describes the data; this query JUDGES it): a fixed rule list over
    three tables, each row one rule with its observed value, its
    threshold, and an integer pass flag.  A scheduler blocks the
    publish when any pass = 0 — the declarative form of t7's
    write-audit-publish gate.

    Exactness: every rule evaluates as an integer comparison —
    rates are cross-multiplied (nulls * 1e6 vs threshold * rows),
    bounds are exact cents, uniqueness is count = count(distinct).
    Scale shape: one aggregate per table (map-side combined), a
    6-row union — no joins wider than the rule list."""
    ev = load_table(spark, sf_dir, "events")
    li = load_table(spark, sf_dir, "lineitem")
    d = _docs(spark, sf_dir)
    e1 = ev.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        F.expr(
            "CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("nnull"),
        F.expr(
            "CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT)"
        ).alias("minc"),
        F.expr("CAST(count(DISTINCT event_id) AS BIGINT)").alias("du"),
    ).selectExpr(
        f"""stack(3,
          'events.value_null_rate_lt_20pct',
          nnull * 1000000, n * {DQX_NULL_PPM},
          CAST(nnull * 1000000 <= n * {DQX_NULL_PPM} AS INT),
          'events.value_non_negative',
          minc, CAST({DQX_MIN_CENTS} AS BIGINT),
          CAST(minc >= {DQX_MIN_CENTS} AS INT),
          'events.event_id_unique',
          du, n, CAST(du = n AS INT)
        ) AS (rule, observed, threshold, pass)"""
    )
    e2 = li.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        F.expr(
            "CAST(max(CAST(round(l_quantity * 100) AS BIGINT))"
            " AS BIGINT)"
        ).alias("maxq"),
        F.expr(
            "CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("nnull"),
    ).selectExpr(
        f"""stack(2,
          'lineitem.quantity_le_50',
          maxq, CAST({DQX_QTY_MAX} AS BIGINT),
          CAST(maxq <= {DQX_QTY_MAX} AS INT),
          'lineitem.shipdate_never_null',
          nnull, CAST(0 AS BIGINT), CAST(nnull = 0 AS INT)
        ) AS (rule, observed, threshold, pass)"""
    )
    e3 = d.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        F.expr("CAST(count(DISTINCT doc_id) AS BIGINT)").alias("du"),
    ).selectExpr(
        """stack(1,
          'documents.doc_id_unique',
          du, n, CAST(du = n AS INT)
        ) AS (rule, observed, threshold, pass)"""
    )
    return e1.unionByName(e2).unionByName(e3).orderBy("rule")


EXTENDED_QUERIES["x12_dq_expectations"] = x12_dq_expectations

EXTENDED_ORACLES["x12_dq_expectations"] = f"""
    WITH ev AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS nnull,
             CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS minc,
             CAST(count(DISTINCT event_id) AS BIGINT) AS du
      FROM events
    ),
    li AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(max(CAST(round(l_quantity * 100) AS BIGINT))
                  AS BIGINT) AS maxq,
             CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS nnull
      FROM lineitem
    ),
    dc AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS du
      FROM documents
    ),
    rules AS (
      SELECT 'events.value_null_rate_lt_20pct' AS rule,
             nnull * 1000000 AS observed,
             n * {DQX_NULL_PPM} AS threshold,
             CAST(CASE WHEN nnull * 1000000 <= n * {DQX_NULL_PPM}
                  THEN 1 ELSE 0 END AS INT) AS pass
      FROM ev
      UNION ALL
      SELECT 'events.value_non_negative', minc,
             CAST({DQX_MIN_CENTS} AS BIGINT),
             CAST(CASE WHEN minc >= {DQX_MIN_CENTS} THEN 1 ELSE 0 END
                  AS INT)
      FROM ev
      UNION ALL
      SELECT 'events.event_id_unique', du, n,
             CAST(CASE WHEN du = n THEN 1 ELSE 0 END AS INT)
      FROM ev
      UNION ALL
      SELECT 'lineitem.quantity_le_50', maxq,
             CAST({DQX_QTY_MAX} AS BIGINT),
             CAST(CASE WHEN maxq <= {DQX_QTY_MAX} THEN 1 ELSE 0 END
                  AS INT)
      FROM li
      UNION ALL
      SELECT 'lineitem.shipdate_never_null', nnull, CAST(0 AS BIGINT),
             CAST(CASE WHEN nnull = 0 THEN 1 ELSE 0 END AS INT)
      FROM li
      UNION ALL
      SELECT 'documents.doc_id_unique', du, n,
             CAST(CASE WHEN du = n THEN 1 ELSE 0 END AS INT)
      FROM dc
    )
    SELECT rule, observed, threshold, pass FROM rules ORDER BY rule
"""


def x12_lateness_profile(spark, sf_dir):
    """OUT-OF-ORDERNESS PROFILE — the instrument that SIZES THE
    WATERMARK: in arrival order (event_id), how far behind the
    running event-time high-water mark does each event land?  The
    streaming queries here fix WATERMARK at 10 minutes; this report
    derives what the data actually needs — n events, how many arrive
    late at all, the worst and the exact p99 lateness, and the
    minutes-granularity watermark that would keep 99% of events
    inside the window (late beyond it = the x7_stream_late_audit
    drop metric).

    Exactness: lateness is BIGINT micros (running max via an
    arrival-ordered window), the p99 is the exact order statistic at
    ceil(0.99 n) by (lateness, event_id) rank, and the suggested
    watermark is integer ceil-to-minutes.  Scale shape: one
    per-type arrival-ordered window (types partition the work), one
    rank pick, one aggregate."""
    ev = load_table(spark, sf_dir, "events")
    wa = Window.partitionBy("event_type").orderBy("event_id")
    late = (
        ev.selectExpr(
            "event_type",
            "event_id",
            "unix_micros(cast(ts as timestamp)) AS us",
        )
        .withColumn(
            "late_us",
            F.expr(
                "greatest(max(us) OVER (PARTITION BY event_type"
                " ORDER BY event_id) - us, CAST(0 AS BIGINT))"
            ),
        )
        .localCheckpoint(eager=False)
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.col("late_us"), F.col("event_id")
    )
    ranked = late.withColumn("rk", F.row_number().over(wr))
    stats = late.groupBy("event_type").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        F.expr(
            "CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("n_late"),
        F.expr("CAST(max(late_us) AS BIGINT)").alias("max_late_us"),
    )
    p99 = (
        ranked.join(
            stats.selectExpr(
                "event_type", "CAST(ceil(n * 99 / 100) AS BIGINT)"
                " AS rk99"
            ),
            "event_type",
        )
        .where("rk = rk99")
        .selectExpr("event_type", "late_us AS p99_late_us")
    )
    return (
        stats.join(p99, "event_type")
        .selectExpr(
            "event_type",
            "n",
            "n_late",
            "max_late_us",
            "p99_late_us",
            "CAST(ceil(CAST(p99_late_us AS DOUBLE) / 60000000)"
            " AS BIGINT) AS watermark_minutes",
        )
        .orderBy("event_type")
    )


EXTENDED_QUERIES["x12_lateness_profile"] = x12_lateness_profile

EXTENDED_ORACLES["x12_lateness_profile"] = """
    WITH late AS (
      SELECT event_type, event_id,
             greatest(CAST(max(epoch_us(CAST(ts AS TIMESTAMP)))
                 OVER (PARTITION BY event_type ORDER BY event_id)
                 - epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT),
                 CAST(0 AS BIGINT)) AS late_us
      FROM events
    ),
    ranked AS (
      SELECT event_type, late_us,
             ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY late_us, event_id) AS rk
      FROM late
    ),
    stats AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_late,
             CAST(max(late_us) AS BIGINT) AS max_late_us
      FROM late GROUP BY 1
    ),
    p99 AS (
      SELECT r.event_type, CAST(r.late_us AS BIGINT) AS p99_late_us
      FROM ranked r JOIN stats s ON s.event_type = r.event_type
      WHERE r.rk = CAST(ceil(s.n * 99 / 100) AS BIGINT)
    )
    SELECT s.event_type, s.n, s.n_late, s.max_late_us, p.p99_late_us,
           CAST(ceil(CAST(p.p99_late_us AS DOUBLE) / 60000000)
                AS BIGINT) AS watermark_minutes
    FROM stats s JOIN p99 p ON p.event_type = s.event_type
    ORDER BY s.event_type
"""


def x5_oov_rate(spark, sf_dir):
    """OUT-OF-VOCABULARY RATE across the standard 80/10/10 hash split —
    the tokenizer-facing sibling of the n-gram contamination check: of
    the held-out splits' tokens (and distinct types), what fraction
    never appears in the train split?  High token-OOV means the
    train-derived vocabulary (x5_vocab, the BPE/unigram trainers, the
    DSIR histograms) will hit UNK on held-out text; the type-OOV rate
    separates a long-tail problem from a systematic one.

    Exactness: vocabulary membership is an exact left-anti semantics
    (left join + NULL test) on the train type table; rates are
    integer ratios rendered once.  Scale shape: one pass to the
    (split, token) counts with map-side combine, one
    vocabulary-bounded join — never a corpus-sized shuffle on the
    raw stream."""
    from diepy_spark.operators.sampling import hash_split

    d = hash_split(
        _docs(spark, sf_dir), "doc_id", XSPLIT_WEIGHTS, seed=XSPLIT_SEED
    )
    tok = (
        d.select("split", F.explode(tokens_col_ref()).alias("tok"))
        .groupBy("split", "tok")
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("c"))
        .localCheckpoint(eager=False)  # (split, type)-bounded
    )
    train = tok.where("split = 'train'").select("tok").distinct()
    held = (
        tok.where("split <> 'train'")
        .join(
            train.withColumn("in_train", F.lit(1)), "tok", "left"
        )
    )
    return (
        held.groupBy("split")
        .agg(
            F.expr("CAST(sum(c) AS BIGINT)").alias("tokens"),
            F.expr(
                "CAST(sum(CASE WHEN in_train IS NULL THEN c ELSE 0"
                " END) AS BIGINT)"
            ).alias("oov_tokens"),
            F.expr("CAST(count(*) AS BIGINT)").alias("types"),
            F.expr(
                "CAST(sum(CASE WHEN in_train IS NULL THEN 1 ELSE 0"
                " END) AS BIGINT)"
            ).alias("oov_types"),
        )
        .selectExpr(
            "split",
            "tokens",
            "oov_tokens",
            "types",
            "oov_types",
            "round(CAST(oov_tokens AS DOUBLE) / tokens, 6)"
            " AS oov_token_rate",
            "round(CAST(oov_types AS DOUBLE) / types, 6)"
            " AS oov_type_rate",
        )
        .orderBy("split")
    )


EXTENDED_QUERIES["x5_oov_rate"] = x5_oov_rate

EXTENDED_ORACLES["x5_oov_rate"] = f"""
    WITH s AS (
      SELECT doc_id, {_TOKS_EXPR} AS toks, {_XSPLIT_CASE} AS split
      FROM documents
    ),
    tok AS (
      SELECT split, t.tok, CAST(count(*) AS BIGINT) AS c
      FROM s, LATERAL (SELECT unnest(toks) AS tok) t
      GROUP BY 1, 2
    ),
    train AS (SELECT DISTINCT tok FROM tok WHERE split = 'train'),
    held AS (
      SELECT k.split, k.tok, k.c,
             CASE WHEN tr.tok IS NULL THEN NULL ELSE 1 END AS in_train
      FROM tok k LEFT JOIN train tr ON tr.tok = k.tok
      WHERE k.split <> 'train'
    ),
    agg AS (
      SELECT split,
             CAST(sum(c) AS BIGINT) AS tokens,
             CAST(sum(CASE WHEN in_train IS NULL THEN c ELSE 0 END)
                  AS BIGINT) AS oov_tokens,
             CAST(count(*) AS BIGINT) AS types,
             CAST(sum(CASE WHEN in_train IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS oov_types
      FROM held GROUP BY 1
    )
    SELECT split, tokens, oov_tokens, types, oov_types,
           round(CAST(oov_tokens AS DOUBLE) / tokens, 6)
             AS oov_token_rate,
           round(CAST(oov_types AS DOUBLE) / types, 6) AS oov_type_rate
    FROM agg ORDER BY split
"""


def x8_control_chart(spark, sf_dir):
    """SHEWHART INDIVIDUALS CONTROL CHART over daily revenue per event
    type — the SPC companion of the CUSUM pair (CUSUM catches small
    persistent drifts; the Shewhart 3-sigma rule catches single large
    shocks): center line = mean of daily totals, sigma estimated from
    the mean MOVING RANGE (the standard individuals-chart estimator,
    mR-bar / d2 with d2 = 1.128), limits at +-3 sigma, and the
    violation count per type plus the worst day.

    Exactness: daily totals are integer cents; the moving range is a
    BIGINT lag difference; mean/sigma/limits evaluate one shared
    formula text over three exact scalars, and violations compare
    cents * n against integer cross-multiplied limits where possible
    (the rendered limits divide once).  Scale shape: one daily
    aggregate, one per-type lag window, one reduce."""
    daily = (
        _day_cents(spark, sf_dir)
        .groupBy("event_type", "day")
        .agg(F.sum("cents").cast("bigint").alias("v"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    mr = daily.withColumn(
        "mr", F.expr("abs(v - lag(v) OVER (PARTITION BY event_type"
                     " ORDER BY day))")
    )
    stats = mr.groupBy("event_type").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_days"),
        F.expr("CAST(sum(v) AS BIGINT)").alias("sv"),
        F.expr("CAST(sum(mr) AS BIGINT)").alias("smr"),
        F.expr("CAST(count(mr) AS BIGINT)").alias("nmr"),
    ).localCheckpoint(eager=False)
    lim = stats.selectExpr(
        "event_type",
        "n_days",
        "CAST(sv AS DOUBLE) / n_days AS cl",
        "3 * (CAST(smr AS DOUBLE) / nmr) / 1.128 AS band",
    )
    scored = mr.join(lim, "event_type").selectExpr(
        "event_type",
        "day",
        "CAST(CASE WHEN CAST(v AS DOUBLE) > cl + band"
        " OR CAST(v AS DOUBLE) < cl - band THEN 1 ELSE 0 END"
        " AS INT) AS out",
        "abs(CAST(v AS DOUBLE) - cl) AS dev",
    )
    wd = Window.partitionBy("event_type").orderBy(
        F.desc("dev"), F.asc("day")
    )
    viol = (
        scored.withColumn("rn", F.row_number().over(wd))
        .groupBy("event_type")
        .agg(
            F.expr("CAST(sum(out) AS BIGINT)").alias("n_violations"),
            F.expr(
                "CAST(max(CASE WHEN rn = 1 THEN day END) AS BIGINT)"
            ).alias("worst_day"),
        )
    )
    return (
        lim.join(viol, "event_type")
        .selectExpr(
            "event_type",
            "n_days",
            "round(cl / 100, 6) AS center",
            "round((cl - band) / 100, 6) AS lcl",
            "round((cl + band) / 100, 6) AS ucl",
            "n_violations",
            "worst_day",
        )
        .orderBy("event_type")
    )


EXTENDED_QUERIES["x8_control_chart"] = x8_control_chart

EXTENDED_ORACLES["x8_control_chart"] = f"""
    WITH daily AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // {_DAY_DIV} AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    mr AS (
      SELECT event_type, day, v,
             abs(v - lag(v) OVER (PARTITION BY event_type
                 ORDER BY day)) AS mr
      FROM daily
    ),
    stats AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(v) AS BIGINT) AS sv,
             CAST(sum(mr) AS BIGINT) AS smr,
             CAST(count(mr) AS BIGINT) AS nmr
      FROM mr GROUP BY 1
    ),
    lim AS (
      SELECT event_type, n_days,
             CAST(sv AS DOUBLE) / n_days AS cl,
             3 * (CAST(smr AS DOUBLE) / nmr) / 1.128 AS band
      FROM stats
    ),
    scored AS (
      SELECT m.event_type, m.day,
             CAST(CASE WHEN CAST(m.v AS DOUBLE) > l.cl + l.band
                  OR CAST(m.v AS DOUBLE) < l.cl - l.band
                  THEN 1 ELSE 0 END AS INT) AS outb,
             abs(CAST(m.v AS DOUBLE) - l.cl) AS dev
      FROM mr m JOIN lim l ON l.event_type = m.event_type
    ),
    viol AS (
      SELECT event_type,
             CAST(sum(outb) AS BIGINT) AS n_violations,
             CAST(max(CASE WHEN rn = 1 THEN day END) AS BIGINT)
               AS worst_day
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
              ORDER BY dev DESC, day) AS rn FROM scored) r
      GROUP BY 1
    )
    SELECT l.event_type, l.n_days,
           round(l.cl / 100, 6) AS center,
           round((l.cl - l.band) / 100, 6) AS lcl,
           round((l.cl + l.band) / 100, 6) AS ucl,
           v.n_violations, v.worst_day
    FROM lim l JOIN viol v ON v.event_type = l.event_type
    ORDER BY l.event_type
"""


def x2_containment_est(spark, sf_dir):
    """SKETCH-BASED CONTAINMENT estimation — the asymmetric companion
    of x2_minhash_est: from each verified pair's MinHash Jaccard
    estimate and the EXACT shingle-set sizes (stored per doc by any
    dedup index), recover containment C(A->B) = |A∩B| / |A| through
    the identity I = J(|A|+|B|)/(1+J) — the "is A an excerpt of B"
    score at sketch cost, reported next to the exact containment so
    the estimator's error is measurable (the x2_minhash_est
    calibration discipline, asymmetric version).

    Exactness: set sizes are exact distinct-shingle counts, the
    estimate divides once per rendered column; the exact containment
    reuses the verified intersection.  Scale shape: the pair list is
    the shared cached LSH table; sizes join by doc id — no new
    pairwise work."""
    d = _docs(spark, sf_dir)
    sigs = _mh_sigs_cached(spark, sf_dir)
    pairs = _lsh_pairs_cached(spark, sf_dir)
    a = sigs.select(
        F.col("d").alias("da"),
        *[F.col(f"mh{h}").alias(f"a{h}") for h in range(LSH_NUM_HASHES)],
    )
    b = sigs.select(
        F.col("d").alias("db"),
        *[F.col(f"mh{h}").alias(f"b{h}") for h in range(LSH_NUM_HASHES)],
    )
    agree = " + ".join(
        f"CAST(a{h} = b{h} AS INT)" for h in range(LSH_NUM_HASHES)
    )
    sz = D.shingle_frame(d, 2).selectExpr(
        "d", "size(sh_arr) AS nsh"
    )
    H = LSH_NUM_HASHES
    return (
        pairs.join(a, "da")
        .join(b, "db")
        .selectExpr("da", "db", "jac", f"({agree}) AS ag")
        .join(sz.selectExpr("d AS da", "nsh AS na"), "da")
        .join(sz.selectExpr("d AS db", "nsh AS nb"), "db")
        .selectExpr(
            "da",
            "db",
            "na",
            "nb",
            "jac",
            # exact |A ∩ B| from the exact jaccard: I = J(na+nb)/(1+J)
            "round(jac * (na + nb) / (1 + jac) / na, 6)"
            " AS cont_exact",
            f"round((CAST(ag AS DOUBLE) / {H}) * (na + nb)"
            f" / (1 + CAST(ag AS DOUBLE) / {H}) / na, 6) AS cont_est",
        )
        .orderBy("da", "db")
    )


EXTENDED_QUERIES["x2_containment_est"] = x2_containment_est


def _containment_est_oracle_sql() -> str:
    H = LSH_NUM_HASHES
    return f"""
    WITH {_LSH_PAIRS_CTES},
    sz AS (SELECT d, CAST(count(*) AS BIGINT) AS nsh FROM sh GROUP BY d)
    SELECT p.da, p.db,
           CAST(za.nsh AS INT) AS na, CAST(zb.nsh AS INT) AS nb,
           p.jac,
           round(p.jac * (za.nsh + zb.nsh) / (1 + p.jac) / za.nsh, 6)
             AS cont_exact,
           round((CAST(({_MH_AGREE}) AS DOUBLE) / {H})
                 * (za.nsh + zb.nsh)
                 / (1 + CAST(({_MH_AGREE}) AS DOUBLE) / {H}) / za.nsh, 6)
             AS cont_est
    FROM p JOIN sig sa ON sa.d = p.da JOIN sig sb ON sb.d = p.db
    JOIN sz za ON za.d = p.da JOIN sz zb ON zb.d = p.db
    ORDER BY p.da, p.db
"""


EXTENDED_ORACLES["x2_containment_est"] = _containment_est_oracle_sql()


def x1_dedup_manifest(spark, sf_dir):
    """THE DEDUP MANIFEST — the per-document verdict file a dedup
    pipeline actually writes (and an auditor later replays): for every
    doc, keep or drop, WHICH tier caught it (byte-exact md5 >
    normalized-text md5 > near-dup cluster, first match wins), and the
    canonical keeper it defers to.  Composes the three declared tiers
    into the one artifact downstream loaders consume — x10_clean_corpus
    applies this decision inline; this query MATERIALIZES it with the
    reason column compliance asks for.

    Exactness: each tier's keeper is a min-aggregate on its md5/label
    key (32-byte shuffle keys, never documents); tier priority is one
    CASE over three left-joined keepers.  Scale shape: two hash
    aggregates + the persisted cluster-label table, three keeper joins
    by key — corpus passes: exactly two."""
    d = _docs(spark, sf_dir)
    ex = (
        d.groupBy(F.md5("text").alias("_fp"))
        .agg(F.min("doc_id").alias("ex_keep"))
    )
    exj = d.select(
        "doc_id", F.md5("text").alias("_fp")
    ).join(ex, "_fp").select("doc_id", "ex_keep")
    nrm_key = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    )
    nr = (
        d.groupBy(nrm_key.alias("_fp"))
        .agg(F.min("doc_id").alias("nr_keep"))
    )
    nrj = d.select("doc_id", nrm_key.alias("_fp")).join(nr, "_fp").select(
        "doc_id", "nr_keep"
    )
    cc = _cc_cached(spark, sf_dir).selectExpr(
        "node AS doc_id", "cluster AS nd_keep"
    )
    return (
        d.select("doc_id")
        .join(exj, "doc_id")
        .join(nrj, "doc_id")
        .join(cc, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "CASE WHEN ex_keep <> doc_id THEN 'exact'"
            " WHEN nr_keep <> doc_id THEN 'norm'"
            " WHEN nd_keep IS NOT NULL AND nd_keep <> doc_id"
            " THEN 'near' ELSE 'keep' END AS reason",
            "CASE WHEN ex_keep <> doc_id THEN ex_keep"
            " WHEN nr_keep <> doc_id THEN nr_keep"
            " WHEN nd_keep IS NOT NULL AND nd_keep <> doc_id"
            " THEN nd_keep ELSE doc_id END AS keeper",
            "CAST(CASE WHEN ex_keep <> doc_id OR nr_keep <> doc_id"
            " OR (nd_keep IS NOT NULL AND nd_keep <> doc_id)"
            " THEN 0 ELSE 1 END AS INT) AS kept",
        )
        .orderBy("doc_id")
    )


EXTENDED_QUERIES["x1_dedup_manifest"] = x1_dedup_manifest

EXTENDED_ORACLES["x1_dedup_manifest"] = f"""
    WITH RECURSIVE {_CLOSURE_CTES},
    exk AS (
      SELECT doc_id,
             min(doc_id) OVER (PARTITION BY md5(text)) AS ex_keep
      FROM documents
    ),
    nrk AS (
      SELECT doc_id,
             min(doc_id) OVER (PARTITION BY md5(trim(regexp_replace(
               lower(text), '[^a-z0-9]+', ' ', 'g')))) AS nr_keep
      FROM documents
    ),
    j AS (
      SELECT d.doc_id, e.ex_keep, n.nr_keep, c.cluster AS nd_keep
      FROM documents d
      JOIN exk e ON e.doc_id = d.doc_id
      JOIN nrk n ON n.doc_id = d.doc_id
      LEFT JOIN comp c ON c.node = d.doc_id
    )
    SELECT doc_id,
           CASE WHEN ex_keep <> doc_id THEN 'exact'
                WHEN nr_keep <> doc_id THEN 'norm'
                WHEN nd_keep IS NOT NULL AND nd_keep <> doc_id
                  THEN 'near' ELSE 'keep' END AS reason,
           CASE WHEN ex_keep <> doc_id THEN ex_keep
                WHEN nr_keep <> doc_id THEN nr_keep
                WHEN nd_keep IS NOT NULL AND nd_keep <> doc_id
                  THEN nd_keep ELSE doc_id END AS keeper,
           CAST(CASE WHEN ex_keep <> doc_id OR nr_keep <> doc_id
                OR (nd_keep IS NOT NULL AND nd_keep <> doc_id)
                THEN 0 ELSE 1 END AS INT) AS kept
    FROM j ORDER BY doc_id
"""


# Wilson score interval at z = 1.96 carried as the exact rational
# 196/100 inside one shared formula text.
_WILSON = (
    "((p + z2 / (2 * n)) {sign} z * sqrt((p * (1 - p) + z2 / (4 * n))"
    " / n)) / (1 + z2 / n)"
)


def x8_wilson_ci(spark, sf_dir):
    """WILSON SCORE INTERVALS for per-type success rates — the
    proportion CI that stays sane at small n and extreme p where the
    Wald interval collapses (Wilson 1927; the recommended default,
    Brown-Cai-DasGupta 2001): success = event value above the
    EB_SUCC_CENTS threshold, one row per event type with the exact
    rate and its 95% bounds.  Completes the proportion toolkit beside
    the power analysis (which sizes n) and the EB shrinkage (which
    pools): this one reports honest uncertainty per cell.

    Exactness: x and n are exact integer counts, p is one rendered
    division, and the bounds evaluate ONE shared formula text (z
    carried as 1.96 exactly) — bit-identical cross-engine.  Scale
    shape: one map-side-combined aggregate, no joins."""
    ev = load_table(spark, sf_dir, "events")
    base = (
        ev.where("value IS NOT NULL")
        .selectExpr(
            "event_type",
            f"CAST(round(value * 100) >= {EB_SUCC_CENTS} AS INT)"
            " AS succ",
        )
        .groupBy("event_type")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n"),
            F.expr("CAST(sum(succ) AS BIGINT)").alias("x"),
        )
        .selectExpr(
            "event_type", "n", "x",
            "CAST(x AS DOUBLE) / n AS p",
            "CAST(1.96 AS DOUBLE) AS z",
            "CAST(1.96 AS DOUBLE) * 1.96 AS z2",
        )
    )
    lo = _WILSON.format(sign="-")
    hi = _WILSON.format(sign="+")
    return base.selectExpr(
        "event_type",
        "n",
        "x",
        "round(p, 6) AS rate",
        f"round({lo}, 6) AS ci_lo",
        f"round({hi}, 6) AS ci_hi",
    ).orderBy("event_type")


EXTENDED_QUERIES["x8_wilson_ci"] = x8_wilson_ci


def _wilson_oracle_sql() -> str:
    lo = _WILSON.format(sign="-")
    hi = _WILSON.format(sign="+")
    return f"""
    WITH base AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN round(value * 100) >= {EB_SUCC_CENTS}
                  THEN 1 ELSE 0 END) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    w AS (
      SELECT event_type, n, x,
             CAST(x AS DOUBLE) / n AS p,
             CAST(1.96 AS DOUBLE) AS z,
             CAST(1.96 AS DOUBLE) * 1.96 AS z2
      FROM base
    )
    SELECT event_type, n, x,
           round(p, 6) AS rate,
           round({lo}, 6) AS ci_lo,
           round({hi}, 6) AS ci_hi
    FROM w ORDER BY event_type
"""


EXTENDED_ORACLES["x8_wilson_ci"] = _wilson_oracle_sql()


PACK_B = 8  # batch size (sequences per batch) for the packing audit


def x10_pack_waste(spark, sf_dir):
    """SEQUENCE-PACKING WASTE AUDIT — what length-bucketed batching
    saves: under padded batching every batch costs B * max_len tokens,
    so arrival-order batches (random length mix) burn compute on
    padding that length-sorted batches avoid.  For both strategies:
    batches, real tokens, padding tokens, and the waste fraction —
    the number that justifies adding a sort stage to the training
    loader (and the batch-shape companion of the bytes-budget shard
    packers x5_shard_pack / x6_media_pack).

    Exactness: batch assignment is (rank - 1) div B under each
    ordering with deterministic tie-breaks (doc_id; length then
    doc_id), padding is an exact BIGINT sum of (max - len) per batch.
    Scale shape: each strategy's global row_number runs as the
    two-pass block rank (range partition + parallel local rank +
    broadcast partition offsets — operators/suffixes.block_row_number,
    the x8_sprt shape), NOT a single-partition window: a production
    loader pays a distributed range-partitioned sort, never a
    serialize-the-corpus-through-one-task exchange (VERDICT r10 #2).
    Both orderings are total (doc_id is unique), so the rank — and the
    batch id it derives — is partitioning-independent."""
    from diepy_spark.operators.suffixes import block_row_number

    d = _docs(spark, sf_dir)
    lens = d.select(
        "doc_id", F.size(tokens_col_ref()).cast("bigint").alias("len")
    )
    outs = []
    for label, cols in (
        ("arrival", ["doc_id"]),
        ("sorted", ["len", "doc_id"]),
    ):
        b = (
            block_row_number(lens, cols, out="rn")
            .withColumn(
                "b", F.expr(f"CAST((rn - 1) div {PACK_B} AS BIGINT)")
            )
            .groupBy("b")
            .agg(
                F.expr("CAST(count(*) AS BIGINT)").alias("nb"),
                F.expr("CAST(sum(len) AS BIGINT)").alias("toks"),
                F.expr("CAST(max(len) AS BIGINT)").alias("mx"),
            )
            .agg(
                F.expr("CAST(count(*) AS BIGINT)").alias("batches"),
                F.expr("CAST(sum(toks) AS BIGINT)").alias("real_tokens"),
                F.expr(
                    "CAST(sum(nb * mx - toks) AS BIGINT)"
                ).alias("pad_tokens"),
            )
            .selectExpr(
                f"'{label}' AS strategy",
                "batches",
                "real_tokens",
                "pad_tokens",
                "round(CAST(pad_tokens AS DOUBLE)"
                " / (real_tokens + pad_tokens), 6) AS waste",
            )
        )
        outs.append(b)
    return outs[0].unionByName(outs[1]).orderBy("strategy")


EXTENDED_QUERIES["x10_pack_waste"] = x10_pack_waste

EXTENDED_ORACLES["x10_pack_waste"] = f"""
    WITH lens AS (
      SELECT doc_id, CAST(len({_TOKS_EXPR}) AS BIGINT) AS len
      FROM documents
    ),
    arr AS (
      SELECT (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // {PACK_B} AS b,
             len
      FROM lens
    ),
    srt AS (
      SELECT (ROW_NUMBER() OVER (ORDER BY len, doc_id) - 1)
               // {PACK_B} AS b, len
      FROM lens
    ),
    pa AS (
      SELECT 'arrival' AS strategy,
             CAST(count(*) AS BIGINT) AS batches,
             CAST(sum(toks) AS BIGINT) AS real_tokens,
             CAST(sum(nb * mx - toks) AS BIGINT) AS pad_tokens
      FROM (SELECT b, count(*) AS nb, sum(len) AS toks, max(len) AS mx
            FROM arr GROUP BY b) g
    ),
    ps AS (
      SELECT 'sorted' AS strategy,
             CAST(count(*) AS BIGINT) AS batches,
             CAST(sum(toks) AS BIGINT) AS real_tokens,
             CAST(sum(nb * mx - toks) AS BIGINT) AS pad_tokens
      FROM (SELECT b, count(*) AS nb, sum(len) AS toks, max(len) AS mx
            FROM srt GROUP BY b) g
    ),
    u AS (SELECT * FROM pa UNION ALL SELECT * FROM ps)
    SELECT strategy, batches, real_tokens, pad_tokens,
           round(CAST(pad_tokens AS DOUBLE)
                 / (real_tokens + pad_tokens), 6) AS waste
    FROM u ORDER BY strategy
"""


# ---------------------------------------------------------------------------
# Round 11: lexical-diversity spectrum, collocations, term burstiness,
# token-budget selection.

YK_SCALE = 10_000  # Yule's K convention: 10^4 * (S2 - N) / N^2


def x5_yule_k(spark, sf_dir):
    """YULE'S K + SIMPSON'S D per document (Yule 1944; the frequency-
    spectrum diversity pair): K = 10^4 * (S2 - N) / N^2 and
    D = (S2 - N) / (N * (N - 1)) where N is the token count and
    S2 = sum of squared per-type counts — the repeat-rate metrics that,
    unlike raw TTR, are (asymptotically) length-invariant, and the
    cheap spectrum-based cross-check for the walk-based x5_mtld
    (both rank formulaic/boilerplate docs high).

    Exactness: N and S2 are exact BIGINTs off one explode + two-level
    count; K and D are single double divisions at render (round 6).
    Docs need N > 1 (D divides by N-1).  Scale shape: explode ->
    map-side-combined (doc, type) counts -> per-doc aggregate; no
    windows, no cross-doc state — embarrassingly parallel."""
    d = _docs(spark, sf_dir)
    return (
        d.select("doc_id", F.explode(tokens_col_ref()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.expr("CAST(sum(c) AS BIGINT)").alias("n_tokens"),
            F.expr("CAST(count(*) AS BIGINT)").alias("n_types"),
            F.expr(
                "CAST(sum(CAST(c AS DECIMAL(38,0)) * CAST(c AS"
                " DECIMAL(38,0))) AS DECIMAL(38,0))"
            ).alias("s2"),
        )
        .where("n_tokens > 1")
        .selectExpr(
            "doc_id",
            "n_tokens",
            "n_types",
            f"round(CAST({YK_SCALE} AS DOUBLE) * (CAST(s2 AS DOUBLE)"
            " - n_tokens) / (CAST(n_tokens AS DOUBLE) * n_tokens), 6)"
            " AS yule_k",
            "round((CAST(s2 AS DOUBLE) - n_tokens)"
            " / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)), 6)"
            " AS simpson_d",
        )
        .orderBy("doc_id")
    )


EXTENDED_QUERIES["x5_yule_k"] = x5_yule_k

EXTENDED_ORACLES["x5_yule_k"] = f"""
    WITH tc AS (
      SELECT doc_id, t.tok, CAST(count(*) AS BIGINT) AS c
      FROM documents, LATERAL (SELECT unnest({_TOKS_EXPR}) AS tok) t
      GROUP BY 1, 2
    ),
    agg AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT))
                  AS HUGEINT) AS s2
      FROM tc GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_types,
           round(CAST({YK_SCALE} AS DOUBLE) * (CAST(s2 AS DOUBLE)
                 - n_tokens) / (CAST(n_tokens AS DOUBLE) * n_tokens), 6)
             AS yule_k,
           round((CAST(s2 AS DOUBLE) - n_tokens)
                 / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)), 6)
             AS simpson_d
    FROM agg WHERE n_tokens > 1 ORDER BY doc_id
"""


COLL_MIN = 5    # bigram support floor before scoring
COLL_TOP = 50   # collocations reported

# Dunning G2 from exact integer cells: G2 = 2 * (sum k ln k - sum row
# ln row - sum col ln col + T ln T), with x ln x := 0 at x = 0.  Shared
# formula TEXT between engines; every operand is an exact BIGINT, ln is
# the only irrational step and sits inside the round-6 guard (the
# x5_keyness / HLL precedent).
_XLNX = "(CASE WHEN {x} > 0 THEN CAST({x} AS DOUBLE) * ln(CAST({x} AS DOUBLE)) ELSE CAST(0 AS DOUBLE) END)"
_G2 = (
    "2 * ("
    + " + ".join(_XLNX.format(x=x) for x in ("k11", "k12", "k21", "k22"))
    + " - " + _XLNX.format(x="(k11 + k12)")
    + " - " + _XLNX.format(x="(k21 + k22)")
    + " - " + _XLNX.format(x="(k11 + k21)")
    + " - " + _XLNX.format(x="(k12 + k22)")
    + " + " + _XLNX.format(x="(k11 + k12 + k21 + k22)")
    + ")"
)


def x5_collocations(spark, sf_dir):
    """COLLOCATION EXTRACTION via Dunning's log-likelihood ratio
    (Dunning 1993): adjacent word bigrams ranked by G2 of the 2x2
    contingency table (bigram count vs marginal first/second-position
    counts) — the statistic that finds genuinely associated pairs
    where raw frequency finds stopword pairs and PMI overweights
    hapaxes. The multi-word-expression miner a tokenizer-training or
    boilerplate-detection stage runs over the corpus.

    Exactness: all four cells derive from exact BIGINT bigram counts
    (k12/k21/k22 by subtraction from marginals and the total); G2 is
    the shared formula text over those integers, rounded to 6 BEFORE
    ranking with (w1, w2) tie-breaks.  Scale shape: one zip of each
    token array with its tail -> explode -> map-side-combined bigram
    counts; marginals re-aggregate FROM the bigram table (vocab-sized,
    never a second corpus pass); the global top-k is TakeOrdered, not
    a single-partition window."""
    d = _docs(spark, sf_dir)
    bg = (
        d.select(tokens_col_ref().alias("toks"))
        .where(F.expr("size(toks) > 1"))
        .select(
            F.explode(
                F.expr(
                    "arrays_zip(slice(toks, 1, size(toks) - 1),"
                    " slice(toks, 2, size(toks) - 1))"
                )
            ).alias("p")
        )
        .selectExpr("p['0'] AS w1", "p['1'] AS w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k11"))
        .localCheckpoint(eager=False)  # bigram-vocab grain, 3 readers
    )
    m1 = bg.groupBy("w1").agg(F.sum("k11").cast("bigint").alias("c1"))
    m2 = bg.groupBy("w2").agg(F.sum("k11").cast("bigint").alias("c2"))
    tot = bg.agg(F.sum("k11").cast("bigint").alias("t"))
    cells = (
        bg.where(F.col("k11") >= COLL_MIN)
        .join(m1, "w1")
        .join(m2, "w2")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "w1", "w2", "k11",
            "CAST(c1 - k11 AS BIGINT) AS k12",
            "CAST(c2 - k11 AS BIGINT) AS k21",
            "CAST(t - c1 - c2 + k11 AS BIGINT) AS k22",
        )
    )
    return (
        cells.selectExpr(
            "w1", "w2", "k11", "k12", "k21", "k22",
            f"round({_G2}, 6) AS g2",
        )
        .orderBy(F.desc("g2"), "w1", "w2")
        .limit(COLL_TOP)
    )


EXTENDED_QUERIES["x5_collocations"] = x5_collocations

EXTENDED_ORACLES["x5_collocations"] = f"""
    WITH toks AS (
      SELECT {_TOKS_EXPR} AS tk FROM documents
      WHERE len({_TOKS_EXPR}) > 1
    ),
    bg AS (
      SELECT p.w1, p.w2, CAST(count(*) AS BIGINT) AS k11
      FROM toks, LATERAL (
        SELECT unnest(tk[1:-2]) AS w1, unnest(tk[2:-1]) AS w2
      ) p
      GROUP BY 1, 2
    ),
    m1 AS (SELECT w1, CAST(sum(k11) AS BIGINT) AS c1 FROM bg GROUP BY 1),
    m2 AS (SELECT w2, CAST(sum(k11) AS BIGINT) AS c2 FROM bg GROUP BY 1),
    tt AS (SELECT CAST(sum(k11) AS BIGINT) AS t FROM bg),
    cells AS (
      SELECT bg.w1, bg.w2, bg.k11,
             CAST(c1 - k11 AS BIGINT) AS k12,
             CAST(c2 - k11 AS BIGINT) AS k21,
             CAST(t - c1 - c2 + k11 AS BIGINT) AS k22
      FROM bg JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN tt
      WHERE bg.k11 >= {COLL_MIN}
    )
    SELECT w1, w2, k11, k12, k21, k22, round({_G2}, 6) AS g2
    FROM cells
    ORDER BY g2 DESC, w1, w2
    LIMIT {COLL_TOP}
"""


BURST_MIN_DF = 5   # containing-doc floor (Fano needs df > 1 anyway)
BURST_TOP = 50     # burstiest terms reported


def x5_burstiness(spark, sf_dir):
    """TERM BURSTINESS (Church & Gale 1995): once a word appears in a
    document it tends to reappear — content words are BURSTY (high
    per-containing-doc rate, high across-doc variance), function words
    are not.  Per term with df >= {BURST_MIN_DF}: total count, df, the
    within-doc rate tf/df, and the Fano factor (variance/mean of
    per-containing-doc counts) — the dispersion signal a stopword-list
    builder or a keyword extractor reads (Fano ~ 1 = Poisson-like
    function word, >> 1 = bursty content word).  Top {BURST_TOP} by
    Fano with integer tie-breaks.

    Exactness: per-(doc, term) counts, their sums, and sums of squares
    are exact BIGINT/DECIMAL; rate and Fano are double divisions at
    render (round 6) off the exact operands, ranked AFTER rounding
    with (tok) tie-break.  Scale shape: the same (doc, term) count
    frame as x5_yule_k aggregated to term grain with map-side combine;
    TakeOrdered for the report — no corpus-dimension windows."""
    d = _docs(spark, sf_dir)
    return (
        d.select("doc_id", F.explode(tokens_col_ref()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .groupBy("tok")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("df"),
            F.expr("CAST(sum(c) AS BIGINT)").alias("tf"),
            F.expr(
                "CAST(sum(CAST(c AS DECIMAL(38,0)) * CAST(c AS"
                " DECIMAL(38,0))) AS DECIMAL(38,0))"
            ).alias("ss"),
        )
        .where(f"df >= {BURST_MIN_DF}")
        .selectExpr(
            "tok", "df", "tf",
            "round(CAST(tf AS DOUBLE) / df, 6) AS rate",
            # Fano = sample variance / mean of per-containing-doc counts:
            # ((df*ss - tf^2) / (df*(df-1))) / (tf/df)
            "round((CAST(df AS DOUBLE) * CAST(ss AS DOUBLE)"
            " - CAST(tf AS DOUBLE) * tf)"
            " / (CAST(df AS DOUBLE) * (df - 1))"
            " / (CAST(tf AS DOUBLE) / df), 6) AS fano",
        )
        .orderBy(F.desc("fano"), "tok")
        .limit(BURST_TOP)
    )


EXTENDED_QUERIES["x5_burstiness"] = x5_burstiness

EXTENDED_ORACLES["x5_burstiness"] = f"""
    WITH tc AS (
      SELECT doc_id, t.tok, CAST(count(*) AS BIGINT) AS c
      FROM documents, LATERAL (SELECT unnest({_TOKS_EXPR}) AS tok) t
      GROUP BY 1, 2
    ),
    tg AS (
      SELECT tok,
             CAST(count(*) AS BIGINT) AS df,
             CAST(sum(c) AS BIGINT) AS tf,
             CAST(sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT))
                  AS HUGEINT) AS ss
      FROM tc GROUP BY tok
    )
    SELECT tok, df, tf,
           round(CAST(tf AS DOUBLE) / df, 6) AS rate,
           round((CAST(df AS DOUBLE) * CAST(ss AS DOUBLE)
                  - CAST(tf AS DOUBLE) * tf)
                 / (CAST(df AS DOUBLE) * (df - 1))
                 / (CAST(tf AS DOUBLE) / df), 6) AS fano
    FROM tg WHERE df >= {BURST_MIN_DF}
    ORDER BY fano DESC, tok
    LIMIT {BURST_TOP}
"""


TB_FRAC = 4  # budget = source token mass div 4 (a 25% selection pass)


def x10_token_budget(spark, sf_dir):
    """TOKEN-BUDGET SELECTION — the corpus-assembly step after scoring:
    each source gets a token budget proportional to its mass (here
    mass div {TB_FRAC}), and the selector takes that source's docs in
    quality order (integer TTR proxy score6 = 10^6 * types div tokens,
    doc_id tie-break) until the budget is exhausted — the budget cut
    is a PREFIX of the quality ranking (take-while inclusive-cumsum <=
    budget; the first overflowing doc and everything after it is
    dropped).  Per source: budget, docs considered/selected, selected
    tokens, budget utilization, mean selected score — the sheet a
    data-mixture owner signs off on before x10_training_corpus runs.

    Exactness: scores, budgets, and cumulative sums are exact BIGINTs;
    utilization is one double division at render (round 6).  Scale
    shape: the per-source quality-order cumsum runs as the two-pass
    block running sum (operators/suffixes.block_running_sum — range
    partition on (source, -score, id), parallel local cumsums,
    partition-count-bounded offsets window), NOT a per-source
    single-partition window: at 100 TB a source is most of the corpus
    and a per-source window would serialize it through one task."""
    from diepy_spark.operators.suffixes import block_running_sum

    d = _docs(spark, sf_dir)
    scored = (
        d.select("doc_id", "source", tokens_col_ref().alias("toks"))
        .where(F.expr("size(toks) > 0"))
        .selectExpr(
            "doc_id",
            "source",
            "CAST(size(toks) AS BIGINT) AS n",
            "CAST(CAST(size(array_distinct(toks)) AS BIGINT) * 1000000"
            " div size(toks) AS BIGINT) AS score6",
        )
        .withColumn("neg6", F.expr("-score6"))
    )
    budgets = scored.groupBy("source").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_docs"),
        F.expr(f"CAST(sum(n) div {TB_FRAC} AS BIGINT)").alias("budget"),
    )
    cum = block_running_sum(
        scored, "source", ["neg6", "doc_id"], "n", out="cum"
    )
    sel = (
        cum.join(F.broadcast(budgets), "source")
        .where(F.col("cum") <= F.col("budget"))
        .groupBy("source")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_sel"),
            F.expr("CAST(sum(n) AS BIGINT)").alias("sel_tokens"),
            F.expr("CAST(sum(score6) div count(*) AS BIGINT)").alias(
                "avg_score6"
            ),
        )
    )
    return (
        budgets.join(sel, "source", "left")
        .selectExpr(
            "source",
            "n_docs",
            "budget",
            "coalesce(n_sel, CAST(0 AS BIGINT)) AS n_sel",
            "coalesce(sel_tokens, CAST(0 AS BIGINT)) AS sel_tokens",
            # budget=0 guard (a source whose token mass < TB_FRAC): the
            # division is undefined, render NULL in both engines rather
            # than rely on divide-by-zero semantics (ANSI Spark errors,
            # non-ANSI gives NULL, DuckDB double gives inf) — the
            # x8_eb_shrinkage k>1 precedent.
            "CASE WHEN budget > 0 THEN"
            " round(CAST(coalesce(sel_tokens, 0) AS DOUBLE) / budget, 6)"
            " ELSE CAST(NULL AS DOUBLE) END AS utilization",
            "coalesce(avg_score6, CAST(0 AS BIGINT)) AS avg_score6",
        )
        .orderBy("source")
    )


EXTENDED_QUERIES["x10_token_budget"] = x10_token_budget

EXTENDED_ORACLES["x10_token_budget"] = f"""
    WITH scored AS (
      SELECT doc_id, source,
             CAST(len({_TOKS_EXPR}) AS BIGINT) AS n,
             CAST(CAST(len(list_distinct({_TOKS_EXPR})) AS BIGINT)
                  * 1000000 // len({_TOKS_EXPR}) AS BIGINT) AS score6
      FROM documents WHERE len({_TOKS_EXPR}) > 0
    ),
    budgets AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n) // {TB_FRAC} AS BIGINT) AS budget
      FROM scored GROUP BY source
    ),
    cum AS (
      SELECT source, doc_id, n, score6,
             CAST(sum(n) OVER (PARTITION BY source
                  ORDER BY -score6, doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM scored
    ),
    sel AS (
      SELECT c.source,
             CAST(count(*) AS BIGINT) AS n_sel,
             CAST(sum(n) AS BIGINT) AS sel_tokens,
             CAST(sum(score6) // count(*) AS BIGINT) AS avg_score6
      FROM cum c JOIN budgets b USING (source)
      WHERE c.cum <= b.budget
      GROUP BY c.source
    )
    SELECT b.source, b.n_docs, b.budget,
           CAST(coalesce(s.n_sel, 0) AS BIGINT) AS n_sel,
           CAST(coalesce(s.sel_tokens, 0) AS BIGINT) AS sel_tokens,
           CASE WHEN b.budget > 0 THEN
                round(CAST(coalesce(s.sel_tokens, 0) AS DOUBLE)
                      / b.budget, 6)
                ELSE CAST(NULL AS DOUBLE) END AS utilization,
           CAST(coalesce(s.avg_score6, 0) AS BIGINT) AS avg_score6
    FROM budgets b LEFT JOIN sel s USING (source)
    ORDER BY b.source
"""


FC_N_MIN = 2000   # node-space floor (matches TRI_N at small sf)
FC_DENS = 8       # node space = n_orders div FC_DENS -> avg degree ~2*FC_DENS


@session_cached
def _fc_n(spark, sf_dir) -> int:
    """max(FC_N_MIN, n_orders div FC_DENS), memoized per session — the
    data-derived node space for the 4-cycle graph (the _sd_k pattern):
    wedge mass is sum(deg^2) ~ nodes * avg_deg^2, so a FIXED node space
    makes density — and the wedge join — grow quadratically with data.
    Scaling the space with the edge count pins avg degree ~2*FC_DENS
    and keeps the wedge volume LINEAR in data.  Python // and DuckDB //
    agree on nonnegative ints; at production scale the count is table
    metadata."""
    return max(FC_N_MIN, load_table(spark, sf_dir, "orders").count() // FC_DENS)


_FC_N_SQL = f"greatest({FC_N_MIN}, (SELECT count(*) FROM orders) // {FC_DENS})"


def x11_four_cycles(spark, sf_dir):
    """EXACT 4-CYCLE (rectangle) COUNT — the quadrilateral sibling of
    x11_triangle_count and the standard second motif in graph-structure
    profiling (bipartite-like structure shows up as rectangle mass with
    low triangle mass; the pair is what a graph-quality gate reads):
    every 4-cycle has exactly two opposite (non-consecutive) vertex
    pairs, so C4 = (1/2) * sum over unordered pairs (u, w) of
    C(common_neighbors(u, w), 2) — the wedge-grouping identity
    (Chiba & Nishizeki 1985's C4 algorithm, MapReduce'd as rectangle
    counting).  One row: nodes, edges, wedge total, C4, rectangles per
    edge.

    Exactness: everything is BIGINT off exact distinct-edge counts;
    the /2 is exact (the sum counts each cycle exactly twice);
    c4_per_edge is the single double division at render.  Scale shape:
    wedge enumeration is ONE self-join on the center vertex feeding a
    map-side-combined (u, w) count — sum(deg^2) rows, the documented
    cost of every common-neighbor operator here; the node space is
    DATA-DERIVED (_fc_n, the x2_semdedup k pattern) so avg degree — and
    with it the wedge volume per edge — stays constant at every sf
    instead of densifying quadratically in a fixed space.  At 100 TB
    the remaining mitigation is a degree cap with exact handling of the
    heavy tail (Tsourakakis split); the hash projection keeps degrees
    near-uniform here."""
    fc_n = _fc_n(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    e0 = (
        orders.selectExpr(
            f"(o_orderkey * 37 + 11) % {fc_n} AS a",
            f"(o_custkey * 101 + 7) % {fc_n} AS b",
        )
        .where("a <> b")
        .selectExpr("least(a, b) AS u", "greatest(a, b) AS v")
        .distinct()
        .localCheckpoint(eager=False)  # read by both directions + degrees
    )
    # r13: the undirected incidence view feeds the wedge self-join (both
    # legs, keyed on the center c) AND the degree aggregate (groupBy c) —
    # keyed_checkpoint lays it out by c once, so the self-join reads both
    # legs and the degree pass runs with ZERO further exchanges.
    from diepy_spark.operators.clustering import keyed_checkpoint

    und = keyed_checkpoint(
        e0.selectExpr("u AS c", "v AS x").unionByName(
            e0.selectExpr("v AS c", "u AS x")
        ),
        "c",
    )
    nuw = (
        und.alias("l")
        .join(und.alias("r"), F.expr("l.c = r.c AND l.x < r.x"))
        .selectExpr("l.x AS pu", "r.x AS pw")
        .groupBy("pu", "pw")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    c4 = nuw.agg(
        F.expr(
            "CAST(sum(n * (n - 1) div 2) div 2 AS BIGINT) AS c4"
        )
    )
    stats = und.groupBy("c").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    ).agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_nodes"),
        F.expr("CAST(sum(deg) div 2 AS BIGINT) AS n_edges"),
        F.expr("CAST(sum(deg * (deg - 1) div 2) AS BIGINT) AS wedges"),
    )
    return stats.crossJoin(F.broadcast(c4)).selectExpr(
        "n_nodes",
        "n_edges",
        "wedges",
        "c4",
        "round(CAST(c4 AS DOUBLE) / n_edges, 6) AS c4_per_edge",
    )


EXTENDED_QUERIES["x11_four_cycles"] = x11_four_cycles

EXTENDED_ORACLES["x11_four_cycles"] = f"""
    WITH e0 AS (
      SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM (
        SELECT (o_orderkey * 37 + 11) % ({_FC_N_SQL}) AS a,
               (o_custkey * 101 + 7) % ({_FC_N_SQL}) AS b FROM orders
      ) WHERE a <> b
    ),
    und AS (
      SELECT u AS c, v AS x FROM e0
      UNION ALL SELECT v AS c, u AS x FROM e0
    ),
    nuw AS (
      SELECT l.x AS pu, r.x AS pw, CAST(count(*) AS BIGINT) AS n
      FROM und l JOIN und r ON l.c = r.c AND l.x < r.x
      GROUP BY 1, 2
    ),
    c4t AS (
      SELECT CAST(sum(n * (n - 1) // 2) // 2 AS BIGINT) AS c4 FROM nuw
    ),
    degs AS (SELECT c, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY c),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(deg) // 2 AS BIGINT) AS n_edges,
             CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS wedges
      FROM degs
    )
    SELECT n_nodes, n_edges, wedges, c4,
           round(CAST(c4 AS DOUBLE) / n_edges, 6) AS c4_per_edge
    FROM stats CROSS JOIN c4t
"""


# ---------------------------------------------------------------------------
# Round 12 — consumers of existing artifacts (VERDICT r11 #8: grow
# consumers, not counters).
# ---------------------------------------------------------------------------

def x2_dup_quality(spark, sf_dir):
    """DUPLICATION x QUALITY cross-tab — the question every dedup review
    asks before signing off on keep-one-per-cluster: are the duplicated
    documents systematically different in quality from the singletons
    (boilerplate mega-clusters read as low-TTR, high-repetition text)?
    Consumer of the persisted near-dup label table (_cc_cached, the same
    (node, cluster) frame x2_dup_clusters/x2_cluster_size_dist read) ×
    the x5 quality features: per duplicate-multiplicity bucket
    (1 / 2 / 3-4 / 5+), doc and cluster counts plus corpus-level (macro)
    token stats — TTR, stopword ratio, tokens/doc, chars/doc.

    Exactness: every aggregate is an exact BIGINT sum of per-doc integer
    features; the ratios are single IEEE divisions of exact integers at
    render (bit-identical across engines per the quality_exprs
    contract), with the sum_tokens=0 degenerate bucket guarded NULL (the
    x8_eb_shrinkage / x10_token_budget precedent). Scale shape: one
    narrow tokenize projection over the corpus + a broadcast-sized join
    against the dup-graph label table (orders of magnitude below the
    corpus), then a 4-row aggregate — no new shuffle beyond the cached
    cluster machinery."""
    d = _docs(spark, sf_dir)
    cc = _cc_cached(spark, sf_dir)
    feats = d.select(
        "doc_id",
        F.expr("CAST(length(text) AS BIGINT)").alias("n_chars"),
        tokens_col_ref().alias("toks"),
    ).selectExpr(
        "doc_id",
        "n_chars",
        "CAST(size(toks) AS BIGINT) AS n_tok",
        "CAST(size(array_distinct(toks)) AS BIGINT) AS n_dist",
        f"CAST(aggregate(transform(toks, x -> if(x in ({_QUALITY_EN}),"
        " 1, 0)), 0, (a, v) -> a + v) AS BIGINT) AS n_stop",
    )
    lab = d.select("doc_id").join(
        cc.select(F.col("node").alias("doc_id"), "cluster"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("cluster", F.col("doc_id")).alias("cluster")
    )
    csz = lab.groupBy("cluster").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("csize")
    )
    j = feats.join(lab, "doc_id").join(csz, "cluster")
    return (
        j.selectExpr(
            "CASE WHEN csize = 1 THEN '1' WHEN csize = 2 THEN '2'"
            " WHEN csize <= 4 THEN '3-4' ELSE '5+' END AS dup_bucket",
            "cluster", "n_tok", "n_dist", "n_stop", "n_chars",
        )
        .groupBy("dup_bucket")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_docs"),
            F.expr("CAST(count(DISTINCT cluster) AS BIGINT)").alias(
                "n_clusters"
            ),
            F.expr("CAST(sum(n_tok) AS BIGINT)").alias("sum_tokens"),
            F.expr(
                "CAST(sum(n_tok) AS DOUBLE) / count(*)"
            ).alias("toks_per_doc"),
            F.expr(
                "CASE WHEN sum(n_tok) > 0 THEN"
                " CAST(sum(n_dist) AS DOUBLE) / sum(n_tok)"
                " ELSE CAST(NULL AS DOUBLE) END"
            ).alias("ttr"),
            F.expr(
                "CASE WHEN sum(n_tok) > 0 THEN"
                " CAST(sum(n_stop) AS DOUBLE) / sum(n_tok)"
                " ELSE CAST(NULL AS DOUBLE) END"
            ).alias("stop_ratio"),
            F.expr(
                "CAST(sum(n_chars) AS DOUBLE) / count(*)"
            ).alias("chars_per_doc"),
        )
        .orderBy("dup_bucket")
    )


EXTENDED_QUERIES["x2_dup_quality"] = x2_dup_quality

EXTENDED_ORACLES["x2_dup_quality"] = f"""
    WITH RECURSIVE {_CLOSURE_CTES},
    feats AS (
      SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len({_TOKS_EXPR}) AS BIGINT) AS n_tok,
             CAST(len(list_distinct({_TOKS_EXPR})) AS BIGINT) AS n_dist,
             CAST(coalesce(list_sum(list_transform({_TOKS_EXPR},
                  t -> CASE WHEN t IN ({_QUALITY_EN}) THEN 1 ELSE 0 END)),
                  0) AS BIGINT) AS n_stop
      FROM documents
    ),
    lab AS (
      SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ),
    csz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS csize
            FROM lab GROUP BY 1),
    j AS (
      SELECT CASE WHEN s.csize = 1 THEN '1' WHEN s.csize = 2 THEN '2'
                  WHEN s.csize <= 4 THEN '3-4' ELSE '5+' END AS dup_bucket,
             l.cluster, f.n_tok, f.n_dist, f.n_stop, f.n_chars
      FROM feats f JOIN lab l USING (doc_id) JOIN csz s USING (cluster)
    )
    SELECT dup_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
           CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
           CAST(sum(n_tok) AS DOUBLE) / count(*) AS toks_per_doc,
           CASE WHEN sum(n_tok) > 0 THEN
                CAST(sum(n_dist) AS DOUBLE) / sum(n_tok)
                ELSE CAST(NULL AS DOUBLE) END AS ttr,
           CASE WHEN sum(n_tok) > 0 THEN
                CAST(sum(n_stop) AS DOUBLE) / sum(n_tok)
                ELSE CAST(NULL AS DOUBLE) END AS stop_ratio,
           CAST(sum(n_chars) AS DOUBLE) / count(*) AS chars_per_doc
    FROM j GROUP BY dup_bucket ORDER BY dup_bucket
"""


def x10_budget_price(spark, sf_dir):
    """BUDGET MARGINAL PRICE — the companion sheet to x10_token_budget:
    per source, the quality score of the LAST document the token budget
    admits and the FIRST it drops (the take-while boundary on the
    (-score6, doc_id) quality ranking). The gap is the "price" of the
    budget at that source — what score a new document must beat to make
    the cut, the number a data-mixture owner reads when deciding which
    source's budget to grow. Same scored/budgets/cumsum construction as
    x10_token_budget (block_running_sum, exact BIGINTs throughout).

    Exactness: every column is an exact BIGINT (scores are the integer
    TTR proxy score6; cum is strictly increasing within a source since
    every doc has n >= 1 token, so max_by/min_by on cum are tie-free);
    no floats at all. Sources where nothing is selected render n_sel=0
    with NULL boundary docs; sources fully selected render NULL drop
    columns. Scale shape: the cumsum is the distributed two-pass block
    running sum; the boundary extraction is two map-side-combined
    max_by/min_by aggregates per source — nothing single-partition."""
    from diepy_spark.operators.suffixes import block_running_sum

    d = _docs(spark, sf_dir)
    scored = (
        d.select("doc_id", "source", tokens_col_ref().alias("toks"))
        .where(F.expr("size(toks) > 0"))
        .selectExpr(
            "doc_id",
            "source",
            "CAST(size(toks) AS BIGINT) AS n",
            "CAST(CAST(size(array_distinct(toks)) AS BIGINT) * 1000000"
            " div size(toks) AS BIGINT) AS score6",
        )
        .withColumn("neg6", F.expr("-score6"))
    )
    budgets = scored.groupBy("source").agg(
        F.expr(f"CAST(sum(n) div {TB_FRAC} AS BIGINT)").alias("budget"),
    )
    cum = block_running_sum(
        scored, "source", ["neg6", "doc_id"], "n", out="cum"
    ).join(F.broadcast(budgets), "source")
    sel = (
        cum.where(F.col("cum") <= F.col("budget"))
        .groupBy("source")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_sel"),
            F.expr("max_by(doc_id, cum)").alias("last_sel_doc"),
            F.expr("CAST(max_by(score6, cum) AS BIGINT)").alias(
                "last_sel_score6"
            ),
        )
    )
    drop = (
        cum.where(F.col("cum") > F.col("budget"))
        .groupBy("source")
        .agg(
            F.expr("min_by(doc_id, cum)").alias("first_drop_doc"),
            F.expr("CAST(min_by(score6, cum) AS BIGINT)").alias(
                "first_drop_score6"
            ),
        )
    )
    return (
        budgets.join(sel, "source", "left")
        .join(drop, "source", "left")
        .selectExpr(
            "source",
            "budget",
            "coalesce(n_sel, CAST(0 AS BIGINT)) AS n_sel",
            "last_sel_doc",
            "last_sel_score6",
            "first_drop_doc",
            "first_drop_score6",
            "CAST(last_sel_score6 - first_drop_score6 AS BIGINT)"
            " AS score_gap",
        )
        .orderBy("source")
    )


EXTENDED_QUERIES["x10_budget_price"] = x10_budget_price

EXTENDED_ORACLES["x10_budget_price"] = f"""
    WITH scored AS (
      SELECT doc_id, source,
             CAST(len({_TOKS_EXPR}) AS BIGINT) AS n,
             CAST(CAST(len(list_distinct({_TOKS_EXPR})) AS BIGINT)
                  * 1000000 // len({_TOKS_EXPR}) AS BIGINT) AS score6
      FROM documents WHERE len({_TOKS_EXPR}) > 0
    ),
    budgets AS (
      SELECT source, CAST(sum(n) // {TB_FRAC} AS BIGINT) AS budget
      FROM scored GROUP BY source
    ),
    cum AS (
      SELECT s.source, s.doc_id, s.n, s.score6, b.budget,
             CAST(sum(s.n) OVER (PARTITION BY s.source
                  ORDER BY -s.score6, s.doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM scored s JOIN budgets b USING (source)
    ),
    sel AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_sel,
             max_by(doc_id, cum) AS last_sel_doc,
             CAST(max_by(score6, cum) AS BIGINT) AS last_sel_score6
      FROM cum WHERE cum <= budget GROUP BY source
    ),
    dropd AS (
      SELECT source, min_by(doc_id, cum) AS first_drop_doc,
             CAST(min_by(score6, cum) AS BIGINT) AS first_drop_score6
      FROM cum WHERE cum > budget GROUP BY source
    )
    SELECT b.source, b.budget,
           CAST(coalesce(s.n_sel, 0) AS BIGINT) AS n_sel,
           s.last_sel_doc, s.last_sel_score6,
           d.first_drop_doc, d.first_drop_score6,
           CAST(s.last_sel_score6 - d.first_drop_score6 AS BIGINT)
             AS score_gap
    FROM budgets b LEFT JOIN sel s USING (source)
    LEFT JOIN dropd d USING (source)
    ORDER BY b.source
"""


def x6_media_savings(spark, sf_dir):
    """MEDIA STORAGE-RECLAIM estimate — the sheet that justifies running
    media dedup at all: for the exact tier (identical payload bytes,
    md5 groups — x6_media_dedup's machinery) and the perceptual tier
    (blockhash near-dup clusters — x6_blockhash_near_dup's pair graph
    closed into components, keep-min-id policy), how many assets the
    keep set retains and how many payload bytes deleting the rest
    reclaims.  The byte sibling of x2_dedup_savings; near ⊇ exact by
    construction (identical payloads have identical signatures), so
    the two rows bound the reclaim range a storage owner plans with.

    Exactness: byte sums and counts are exact BIGINTs; reclaim_frac is
    the single guarded IEEE division at render.  Scale shape: the
    signature/digest frames shuffle 32-byte hashes, never payloads;
    the pair graph and its components live on the bounded asset
    fixture (doc_id < MEDIA_DOC_MAX, same bound as blockhash — with a
    real decoder the pairing would ride an LSH band like x2, not
    all-pairs)."""
    from diepy_spark.operators.clustering import connected_components

    d = _docs(spark, sf_dir).where(F.col("doc_id") < MEDIA_DOC_MAX)
    p = (
        M.with_binary_payload(d)
        .select(
            "doc_id",
            F.md5("payload").alias("fp"),
            F.col("media_meta.byte_len").cast("bigint").alias("nb"),
        )
        .localCheckpoint(eager=False)  # read by both tiers + the base row
    )
    exg = p.groupBy("fp").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        F.expr("CAST(sum(nb) AS BIGINT)").alias("sb"),
        F.expr("CAST(min(nb) AS BIGINT)").alias("kb"),
    )
    exact = exg.agg(
        F.expr("CAST(sum(n) AS BIGINT)").alias("n_assets"),
        F.expr("CAST(count(*) AS BIGINT)").alias("n_keep"),
        F.expr("CAST(sum(sb) AS BIGINT)").alias("bytes_total"),
        F.expr("CAST(sum(sb) - sum(kb) AS BIGINT)").alias("bytes_reclaim"),
    ).selectExpr("'exact' AS tier", "*")
    pairs = x6_blockhash_near_dup(spark, sf_dir).select("da", "db")
    cc = connected_components(pairs, "da", "db")
    flagged = (
        cc.where(F.col("node") != F.col("cluster"))
        .join(p.selectExpr("doc_id AS node", "nb"), "node")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_flagged"),
            F.expr("CAST(coalesce(sum(nb), 0) AS BIGINT)").alias("rb"),
        )
    )
    base = p.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_assets"),
        F.expr("CAST(sum(nb) AS BIGINT)").alias("bytes_total"),
    )
    near = base.crossJoin(F.broadcast(flagged)).selectExpr(
        "'near' AS tier",
        "n_assets",
        "CAST(n_assets - n_flagged AS BIGINT) AS n_keep",
        "bytes_total",
        "rb AS bytes_reclaim",
    )
    return (
        exact.unionByName(near)
        .selectExpr(
            "tier",
            "n_assets",
            "n_keep",
            "bytes_total",
            "bytes_reclaim",
            "CASE WHEN bytes_total > 0 THEN"
            " CAST(bytes_reclaim AS DOUBLE) / bytes_total"
            " ELSE CAST(NULL AS DOUBLE) END AS reclaim_frac",
        )
        .orderBy("tier")
    )


EXTENDED_QUERIES["x6_media_savings"] = x6_media_savings

_BH_PAIRS_SQL = EXTENDED_ORACLES["x6_blockhash_near_dup"]

EXTENDED_ORACLES["x6_media_savings"] = f"""
    WITH RECURSIVE p AS (
      SELECT doc_id, md5(text) AS fp,
             CAST(octet_length(encode(text)) AS BIGINT) AS nb
      FROM documents WHERE doc_id < {MEDIA_DOC_MAX}
    ),
    exg AS (
      SELECT fp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(nb) AS BIGINT) AS sb,
             CAST(min(nb) AS BIGINT) AS kb
      FROM p GROUP BY fp
    ),
    exact AS (
      SELECT 'exact' AS tier, CAST(sum(n) AS BIGINT) AS n_assets,
             CAST(count(*) AS BIGINT) AS n_keep,
             CAST(sum(sb) AS BIGINT) AS bytes_total,
             CAST(sum(sb) - sum(kb) AS BIGINT) AS bytes_reclaim
      FROM exg
    ),
    bh AS (SELECT da, db FROM ({_BH_PAIRS_SQL})),
    und AS (SELECT da AS n, db AS m FROM bh UNION SELECT db, da FROM bh),
    reach AS (
      SELECT n, m FROM und
      UNION
      SELECT r.n, u2.m FROM reach r JOIN und u2 ON r.m = u2.n
    ),
    comp AS (SELECT n AS node, least(n, MIN(m)) AS cluster
             FROM reach GROUP BY n),
    fl AS (
      SELECT CAST(count(*) AS BIGINT) AS n_flagged,
             CAST(coalesce(sum(p.nb), 0) AS BIGINT) AS rb
      FROM comp c JOIN p ON p.doc_id = c.node WHERE c.node <> c.cluster
    ),
    base AS (
      SELECT CAST(count(*) AS BIGINT) AS n_assets,
             CAST(sum(nb) AS BIGINT) AS bytes_total
      FROM p
    ),
    near AS (
      SELECT 'near' AS tier, b.n_assets,
             CAST(b.n_assets - f.n_flagged AS BIGINT) AS n_keep,
             b.bytes_total, f.rb AS bytes_reclaim
      FROM base b CROSS JOIN fl f
    ),
    u AS (SELECT * FROM exact UNION ALL SELECT * FROM near)
    SELECT tier, n_assets, n_keep, bytes_total, bytes_reclaim,
           CASE WHEN bytes_total > 0 THEN
                CAST(bytes_reclaim AS DOUBLE) / bytes_total
                ELSE CAST(NULL AS DOUBLE) END AS reclaim_frac
    FROM u ORDER BY tier
"""
