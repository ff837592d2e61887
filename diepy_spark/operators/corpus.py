"""End-to-end corpus cleaning: the composed pipeline a training-data run
actually executes, built entirely from this engine's own operators:

    quality gate (text.quality_score + text.repetition_stats)
      -> exact dedup (min-id representative per identical text)
        -> near-dup dedup (dedup.ngram_jaccard_pairs
                           -> clustering.dedup_corpus)

The reference has nothing like this (its product is import/export —
SURVEY §2.1); this is north-star extension surface, and the single entry
point a user calls instead of wiring the five operators by hand.

Scale design: each stage SHRINKS the corpus before the next touches it —
the gates are narrow per-row predicates over HOF-array features (no
shuffle), exact dedup is one hash aggregate (group on md5(text) at real
scale — see dedup.fingerprint), and only the surviving documents pay the
near-dup pair-graph cost, which is itself sub-quadratic (stop-shingle cap,
see dedup.ngram_jaccard_pairs). The dup-cluster label frame is orders of
magnitude smaller than the corpus and broadcast-joins back under AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from diepy_spark.operators.clustering import dedup_corpus
from diepy_spark.operators.dedup import (
    _grams_over,
    exact_representatives,
    ngram_jaccard_pairs,
)
from diepy_spark.operators.text import _token_frame, quality_exprs


def clean_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 5,
    min_score: float = 0.5,
    max_dup3: float = 0.5,
    jaccard_threshold: float = 0.2,
    max_df: int = 100,
) -> DataFrame:
    """Cleaned corpus: documents surviving the quality gate
    (``n_tokens >= min_tokens``, composite quality ``score >= min_score``,
    duplicate-3-gram fraction ``<= max_dup3``), exact dedup (the minimum
    id survives per identical text), and near-dup dedup (one
    representative per n-gram-Jaccard duplicate cluster).

    Output: ``id_col`` + the input's ``lang``/metadata columns surviving
    selection, ``n_tokens``, ``score``, and ``cluster`` (the doc's dup
    cluster id, null when it had no near-duplicate). Every threshold
    comparison runs on values computed identically in the SQL oracle, so
    the whole pipeline is hash-checkable end to end.

    The quality and repetition features are FUSED into one token pass and
    the (tiny) per-doc feature frame is persisted before filtering. Both
    choices are load-bearing: a quality⋈repetition join with threshold
    filters on the joined columns invites Catalyst to push each predicate
    through the join as a substituted copy of the full HOF scoring chain
    (measured 4x this function's runtime), while the cache makes the
    threshold filter a scan over materialized doubles instead.
    """
    feat, _, deduped = _gate_exact_chain(
        df, text_col, id_col, min_tokens, min_score, max_dup3, pin=DataFrame.persist
    )
    try:
        return _near_dedup(deduped, text_col, id_col, jaccard_threshold, max_df)
    finally:
        feat.unpersist()


def _gate_exact_chain(df, text_col, id_col, min_tokens, min_score, max_dup3, pin):
    """(feat, gate, deduped): the per-doc feature frame, pinned by
    ``pin``; the quality-gate survivors as (id_col, n_tokens, score); and
    the gate survivors' exact-dedup representatives (full rows plus
    n_tokens, score), lazily localCheckpointed."""
    tf = _token_frame(
        df, text_col, id_col, F.length(text_col).alias("n_chars_raw"), min_tokens=1
    )
    q = quality_exprs()
    g3 = F.col("g3")
    feat = pin(
        # g3 materialized as a real column — the dup fraction references it
        # three times, and inlining would re-build the gram array per
        # reference under interpreted HOF eval (see dedup.shingle_frame)
        tf.select(
            F.col(id_col), "toks", "n_chars_raw", F.expr(_grams_over("toks", 3)).alias("g3")
        )
        .select(
            F.col(id_col),
            q["n_tokens"].alias("n_tokens"),
            q["score"].alias("score"),
            # try_divide: null for docs with < 3 tokens (0/0 would throw
            # under ANSI) — such docs can't pass the min_tokens gate anyway,
            # matching the oracle's inner feature join
            F.try_divide(
                F.size(g3) - F.size(F.array_distinct(g3)), F.size(g3)
            ).alias("dup_frac3"),
        )
    )
    gate = feat.where(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("score") >= min_score)
        & (F.col("dup_frac3") <= max_dup3)
    ).select(id_col, "n_tokens", "score")
    survivors = df.join(gate, id_col)
    # Exact stage keyed on md5(text): the dedup shuffle moves 32-byte
    # fingerprints, never full documents (dedup.exact_representatives;
    # the oracle's `ex` CTE groups on the same md5).
    exact_rep = exact_representatives(survivors, text_col, id_col)
    # LAZY localCheckpoint, not persist: connected_components (inside
    # dedup_corpus) runs its own actions (the pair-graph collect, or the
    # distributed rounds), and the caller's action reads deduped again;
    # each would otherwise recompute the ENTIRE gate->dedup pipeline
    # above (measured 4x the runtime). Lazy (not eager) so the first CC
    # action materializes gate pipeline + pairs + checkpoint blocks in ONE
    # pass — an eager checkpoint adds a blocking extra job that measured
    # +60% on this operator at sf0.1. Checkpoint blocks — unlike
    # CacheManager entries — are reference-counted by the ContextCleaner:
    # once the caller drops the returned frame they are GC-reclaimed, and
    # the persisted feat frame is explicitly released before clean_corpus
    # returns, so repeated calls never accumulate cache state (pinned by
    # tests/test_operators.py::test_clean_corpus_cache_lifecycle).
    deduped = survivors.join(
        exact_rep.select(id_col), id_col, "left_semi"
    ).localCheckpoint(eager=False)
    return feat, gate, deduped


def _near_dedup(deduped, text_col, id_col, jaccard_threshold, max_df):
    """One representative per n-gram-Jaccard duplicate cluster of
    ``deduped``.

    The pair frame is not persisted: connected_components reads it in one
    action (a small graph's bounded collect; a large graph persists its
    own undirected edge frame), and both directions of that read share
    the pair plan's exchanges. dedup_corpus builds the cluster labels
    EAGERLY (a driver-side union-find frame, or the checkpointed result of
    the distributed rounds), so by the time it returns, `pairs` (and
    clean_corpus's `feat`) have been consumed — the returned frame depends
    only on deduped's checkpoint blocks + the labels."""
    pairs = ngram_jaccard_pairs(
        deduped, threshold=jaccard_threshold, max_df=max_df, text_col=text_col, id_col=id_col
    )
    return dedup_corpus(deduped, pairs, id_col=id_col)


def corpus_funnel(
    df: DataFrame,
    sem_flags: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 5,
    min_score: float = 0.5,
    max_dup3: float = 0.5,
    jaccard_threshold: float = 0.2,
    max_df: int = 100,
    clean: DataFrame | None = None,
) -> DataFrame:
    """Per-stage attrition report for the full training-corpus pipeline —
    the observability table an operator reads after every corpus build
    (how many docs/tokens each gate removed, and therefore which stage to
    tune): (stage, stage_name, docs, tokens) for scored -> quality gate
    -> exact dedup -> near-dup dedup -> semantic dedup. Stages share ONE
    chain: the per-doc feature frame and the exact-dedup survivor set are
    computed once (lazy localCheckpoints — block-cached on first use,
    GC-reclaimed after), so the five aggregates never re-run the gate or
    pair generation. `sem_flags` is the (id_col, is_dup) SemDeDup flag
    frame (the persisted flag table x2_semdedup writes); pass it in so
    this module stays free of embedding-model wiring. All counts are
    exact integers — the whole funnel hash-checks cross-engine.

    ``clean``: the already-built clean_corpus survivor frame at the SAME
    thresholds (the persisted cleaned-corpus artifact). When given,
    stages 3 and 4 aggregate it instead of re-running the near-dup pair
    generation + connected components, the funnel's dominant cost. Both
    paths run clean_corpus's own chain (_gate_exact_chain, _near_dedup)."""
    # feat has 4 consumers here: lazily checkpointed, never unpersisted
    feat, gate, deduped = _gate_exact_chain(
        df, text_col, id_col, min_tokens, min_score, max_dup3,
        pin=lambda f: f.localCheckpoint(eager=False),
    )
    if clean is None:
        clean = _near_dedup(deduped, text_col, id_col, jaccard_threshold, max_df)
    sem = clean.join(
        F.broadcast(sem_flags.select(id_col, "is_dup")), id_col, "left"
    ).where(~F.coalesce("is_dup", F.lit(False)))

    def _stage(n: int, name: str, frame: DataFrame) -> DataFrame:
        return frame.agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("docs"),
            F.expr("CAST(sum(n_tokens) AS BIGINT)").alias("tokens"),
        ).select(
            F.lit(n).cast("int").alias("stage"),
            F.lit(name).alias("stage_name"),
            "docs",
            "tokens",
        )

    out = _stage(0, "scored", feat)
    for n, name, frame in (
        (1, "gate", gate),
        (2, "exact", deduped),
        (3, "neardup", clean),
        (4, "semdedup", sem),
    ):
        out = out.unionByName(_stage(n, name, frame))
    return out.orderBy("stage")
