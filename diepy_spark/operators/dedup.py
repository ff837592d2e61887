"""Deduplication operators for LLM-training-data pipelines (SURVEY §2.6 X1/X2).

All operators are pure DataFrame compositions (no Python in the row path) and
deterministic across engines: hash functions are md5-over-UTF-8 (identical in
Spark, DuckDB, and Python), min-hash signatures are lexicographic minima of
md5 hex strings, and SimHash bit weights come from hex-nibble parsing — so
every operator here is oracle-checkable value-for-value against ANSI SQL.

Scale design notes:
- tokenize/shingle stays inside whole-stage codegen (higher-order array
  functions, no explode until needed);
- shingle self-joins are guarded by a max-df "stop shingle" cap: a shingle
  occurring in more than `max_df` docs is dropped before the pair join,
  bounding the classic quadratic hot-key blowup (sum over shingles of df²);
- MinHash-LSH banding turns all-pairs similarity into an equi-join on
  (band_id, band_signature) — the standard sub-quadratic path at 100 TB;
- every join key (shingle, band signature) is a high-cardinality string →
  hash-partitions evenly; AQE skew-join covers residual hotspots.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# tokenization / shingling (shared with operators.text)
# ---------------------------------------------------------------------------

TOKEN_SPLIT_RE = "[^a-z0-9]+"

_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _ident(name: str) -> str:
    if not _IDENT_RE.match(name):
        raise ValueError(f"not a plain column identifier: {name!r}")
    return name


def tokens_expr(text_col: str = "text") -> str:
    """SQL text for the token array. NOTE: built as an expr STRING, not via
    the Python-lambda higher-order API — the lambda API produces the same
    logical plan but measures ~10-15x slower per row in Spark 4 (observed:
    1.9s vs 0.2s for the token split over 5k docs), so every hot path here
    goes through F.expr."""
    return f"filter(split(lower({_ident(text_col)}), '{TOKEN_SPLIT_RE}'), x -> x != '')"


def tokens_col(text_col: str = "text"):
    """lowercase word tokens as an array column (empty strings removed)."""
    return F.expr(tokens_expr(text_col))


def _grams_over(tok_sql: str, n: int) -> str:
    """SQL for the ORDERED, NON-distinct word n-gram array over a
    token-array SQL fragment (trusted — built by this module, not user
    input). The fragment is referenced several times, which is why callers
    should pass an ALREADY-MATERIALIZED column: inlining the tokenize
    expression would re-tokenize once per reference under interpreted HOF
    eval (measured 4x tokenization per row — see shingle_frame)."""
    t = tok_sql
    if n == 2:
        # fast path: pairwise zip of the array with its own tail
        return (
            f"zip_with(slice({t}, 1, greatest(size({t}) - 1, 0)), "
            f"slice({t}, 2, greatest(size({t}) - 1, 0)), (a, b) -> concat(a, ' ', b))"
        )
    return (
        f"if(size({t}) >= {n}, transform(sequence(1, size({t}) - {n - 1}), "
        f"i -> array_join(slice({t}, i, {n}), ' ')), array())"
    )


def _shingles_over(tok_sql: str, n: int) -> str:
    """SQL for DISTINCT word n-gram shingles (set semantics — the dedup
    operators' currency) over a token-array SQL fragment."""
    return f"array_distinct({_grams_over(tok_sql, n)})"


def shingles_col(text_col: str = "text", n: int = 2):
    """Distinct word n-gram shingles as an array column, directly from the
    text column. Fine for one-off use; in hot paths prefer shingle_frame,
    which materializes the token array once instead of re-tokenizing per
    reference."""
    return F.expr(_shingles_over(f"({tokens_expr(text_col)})", n))


def shingle_frame(
    df: DataFrame, n: int = 2, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(d, sh_arr): per-doc distinct shingle arrays with the tokenize done
    EXACTLY ONCE per row.

    Two deliberate plan choices, both verified against .explain:
    - tokens are materialized as a column in their own projection; the
      shingle expression references that column 4x, and Catalyst's
      CollapseProject keeps multi-referenced non-cheap aliases materialized
      instead of inlining them;
    - the docs-with-shingles filter is a cheap token-count predicate placed
      BELOW the projections (on the raw text), because predicate pushdown
      would otherwise substitute the full shingle expression into the
      filter and re-evaluate it per row.
    Docs with fewer than n tokens (⇔ zero shingles) are dropped, matching
    explode/groupBy semantics and the SQL oracles.

    The input is hash-repartitioned on the doc id before the projections:
    downstream consumers hash 10s of md5s per shingle, so this stage is
    CPU-bound and must be spread across every core/executor even when the
    source is a single small file (observed locally: one-partition input
    serialized 15M md5 calls onto one core). The shuffle moves only
    (id, text) rows — far cheaper than the compute it unlocks."""
    return (
        df.where(F.expr(f"size({tokens_expr(text_col)}) >= {n}"))
        .repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
        .select(F.col(id_col).alias("d"), F.expr(tokens_expr(text_col)).alias("toks"))
        .select("d", F.expr(_shingles_over("toks", n)).alias("sh_arr"))
    )


# ---------------------------------------------------------------------------
# X1: exact dedup
# ---------------------------------------------------------------------------

def exact_dups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate accounting: one row per distinct text with the
    canonical (minimum) id and the duplicate count. `dropDuplicates` semantics
    but deterministic about which row survives.

    Groups on md5(text), NOT the text itself: the aggregate's shuffle then
    carries 32-byte hex keys instead of whole documents — at 100 TB that is
    the difference between shuffling the corpus and shuffling ~3 TB of keys
    (map-side partial agg evaluates the md5 before the exchange). The oracle
    groups on the same md5 so the semantics are bit-identical across engines
    (including the astronomically-unlikely collision case)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("_fp"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
        .select("keep_id", "dup_count")
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.
    The cheap first pass of any dedup pipeline (hash-groupBy instead of
    shuffling full documents)."""
    norm = F.concat_ws(" ", tokens_col(text_col))
    return df.select(F.col(id_col), F.md5(norm).alias("fp"))


def exact_representatives(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One (id_col) row per distinct text: the minimum id. The shared
    exact-dedup kernel behind clean_corpus's exact stage and the CLI dedup
    command — semi-join the corpus against it to drop duplicates. Keys on
    md5(text) so the shuffle carries 32-byte fingerprints, never documents
    (see exact_dups)."""
    return df.groupBy(F.md5(F.col(text_col)).alias("_fp")).agg(
        F.min(id_col).alias(id_col)
    )


def normalized_dups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup AFTER text normalization (lowercase, non-alphanumeric →
    space, collapse runs, trim): catches the trivially-different duplicates
    raw exact dedup misses (case, punctuation, whitespace) — the standard
    second rung of a dedup ladder between byte-exact and near-dup.

    Same scale shape as exact_dups: the groupBy key is md5 of the
    normalized text (32-byte shuffle keys, map-side partial agg); the
    normalization itself is one narrow JVM regex projection."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " "))
    return (
        df.groupBy(F.md5(norm).alias("_fp"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
        .select("keep_id", "dup_count")
    )


# ---------------------------------------------------------------------------
# X2a: exact n-gram Jaccard pairs (shingle join)
# ---------------------------------------------------------------------------

def _stop_shingles(sh: DataFrame, max_df: int) -> DataFrame:
    """Shingles occurring in more than max_df docs ("stop shingles"): they
    carry almost no signal and would dominate any shingle self-join
    (Σ df² blowup). By construction this set is tiny — every member appears
    in >max_df docs, so |stop| < total_shingle_rows / max_df — which makes
    it safely broadcastable at any corpus size."""
    return (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df_cnt"))
        .where(F.col("df_cnt") > max_df)
        .select("s")
    )


def _kept_shingle_arrays(shingles: DataFrame, stop: DataFrame) -> DataFrame:
    """(d, ks) with ks = the doc's distinct shingle array (`shingles` from
    shingle_frame) minus the stop set. The stop set rides in as a broadcast
    single-row array (collect_list under a global agg), so this stays a
    narrow map over the corpus — no shuffle, no driver collect."""
    stop_row = stop.agg(F.collect_list("s").alias("stop_arr"))
    return shingles.join(F.broadcast(stop_row)).select(
        "d", F.array_except("sh_arr", "stop_arr").alias("ks")
    )


def _pair_jaccard(cand: DataFrame, kept_arrays: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard for candidate (da, db) pairs via array intersection:
    two id-joins against the per-doc kept-shingle arrays, then a narrow
    |A∩B| / |A∪B| — linear in the candidate count, never quadratic in the
    corpus. The ratio is a single double division of exact ints, identical
    across engines."""
    ka = kept_arrays.select(F.col("d").alias("da"), F.col("ks").alias("sa"))
    kb = kept_arrays.select(F.col("d").alias("db"), F.col("ks").alias("sb"))
    c = F.size(F.array_intersect("sa", "sb"))
    return (
        cand.join(ka, "da")
        .join(kb, "db")
        # try_divide: a pair of two fully-stopped docs is 0/0 → NULL → it
        # fails the threshold, exactly as the SQL oracle (where such a pair
        # never joins into the jac CTE at all)
        .withColumn("jac", F.try_divide(c, F.size("sa") + F.size("sb") - c))
        .where(F.col("jac") >= threshold)
        .select("da", "db", "jac")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 2,
    max_df: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
    metric: str = "jaccard",
) -> DataFrame:
    """All pairs with shingle-set similarity ≥ threshold.

    ``metric``: ``"jaccard"`` (|∩|/|∪|, output column ``jac``) or
    ``"containment"`` (|∩|/min(|A|,|B|), output column ``cont``) — the
    ASYMMETRIC criterion that catches a short document quoted wholesale
    inside a long one, which Jaccard structurally cannot (a 50-shingle doc
    fully contained in a 5000-shingle doc has jac ≈ 0.01 but cont = 1.0).

    Exact but join-based: cost is Σ_shingle df², bounded by the max_df cap.
    Similarity is computed over the KEPT shingle set — documented, mirrored
    in the oracle. The stop set is removed with a broadcast anti-join
    (narrow); per-doc sizes come from a narrow array projection, so the
    only large shuffles are the unavoidable shingle self-join and the pair
    aggregation."""
    if metric not in ("jaccard", "containment"):
        raise ValueError(f"metric must be jaccard|containment: {metric!r}")
    shingles = shingle_frame(df, n, text_col, id_col)
    # explode_OUTER + null guard: a plain explode makes Catalyst infer
    # isnotnull(sh_arr), which FilterExec hoists ahead of every cheap
    # conjunct and re-evaluates the interpreted shingle chain per scanned
    # row (see winnow_fingerprints note).
    sh = shingles.select("d", F.explode_outer("sh_arr").alias("s")).where(
        F.col("s").isNotNull()
    )
    stop = _stop_shingles(sh, max_df)
    # Pre-shuffle on the join key: both self-join sides are then the SAME
    # exchange, which Spark's ReuseExchange computes once — without it the
    # planner broadcasts one side and evaluates the kept-shingle subplan
    # twice. shuffle_hash avoids the sort a merge join would add. No
    # partition count: when every join child is an exchange, the planner
    # resizes them all to spark.sql.shuffle.partitions anyway, and a
    # counted repartition (REPARTITION_BY_NUM) is one AQE never coalesces,
    # so a small pair graph would run shuffle.partitions tasks per stage.
    kept = sh.join(F.broadcast(stop), "s", "left_anti").repartition(F.col("s"))
    a = kept.alias("a")
    b = kept.alias("b")
    common = (
        a.join(b.hint("shuffle_hash"), "s")
        .where(F.col("a.d") < F.col("b.d"))
        .groupBy(F.col("a.d").alias("da"), F.col("b.d").alias("db"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sizes = _kept_shingle_arrays(shingles, stop).select("d", F.size("ks").alias("n_sh"))
    # sizes is one row per doc — not broadcastable at corpus scale; AQE
    # picks broadcast when it actually fits.
    paired = common.join(
        sizes.withColumnRenamed("d", "da").withColumnRenamed("n_sh", "na"), "da"
    ).join(sizes.withColumnRenamed("d", "db").withColumnRenamed("n_sh", "nb"), "db")
    # raw double ratio (bit-identical across engines; never rounded)
    if metric == "containment":
        return (
            paired.withColumn("cont", F.col("c") / F.least("na", "nb"))
            .where(F.col("cont") >= threshold)
            .select("da", "db", "cont")
        )
    return (
        paired.withColumn("jac", F.col("c") / (F.col("na") + F.col("nb") - F.col("c")))
        .where(F.col("jac") >= threshold)
        .select("da", "db", "jac")
    )


# ---------------------------------------------------------------------------
# X2b: MinHash + LSH banding
# ---------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame, num_hashes: int = 16, n: int = 2,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signature per document: for seed h, min over shingles of
    md5('h|' + shingle) (lexicographic min of hex = a perfectly serviceable,
    engine-portable min-hash).

    Computed per-row with array higher-order functions — ZERO shuffle: the
    shingle array is materialized once per doc, then each seed is an
    array_min(transform(...)). Measured ~5x faster than the explode+groupBy
    formulation at sf0.1, and at cluster scale it removes the (doc, shingle)
    shuffle entirely. Docs with no shingles are dropped (parity with the
    groupBy form and the SQL oracle)."""
    sh = shingle_frame(df, n, text_col, id_col)
    cols = [
        F.expr(f"array_min(transform(sh_arr, s -> md5(concat('{h}|', s))))").alias(f"mh{h}")
        for h in range(num_hashes)
    ]
    return sh.select("d", *cols)


def band_frame(sigs: DataFrame, num_hashes: int, band_size: int) -> DataFrame:
    """(d, band, sig): LSH band signatures from a wide minhash-signature
    frame. One explode of a (band, signature) struct array — NOT a
    per-band union, which would re-evaluate the whole signature DAG
    n_bands times."""
    n_bands = num_hashes // band_size
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "#", *[F.col(f"mh{b * band_size + j}") for j in range(band_size)]
                ).alias("sig"),
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select("d", F.explode(band_arr).alias("bs")).select(
        "d", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    num_hashes: int = 16,
    band_size: int = 2,
    threshold: float = 0.3,
    n: int = 2,
    max_df: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash-LSH banding, then exact-Jaccard verify.

    Candidates = pairs agreeing on at least one band of `band_size`
    consecutive min-hashes (equi-join on the band signature — sub-quadratic).
    Verification joins back through the exact shingle Jaccard so the output
    is exact above `threshold` (up to LSH recall).

    `sigs`: optionally pass a precomputed (ideally persisted)
    minhash_signatures frame so a caller that also consumes the signatures
    (e.g. the estimator-calibration query) computes them ONCE instead of
    per-consumer — at 100 TB the signature pass is a full corpus scan."""
    if sigs is None:
        sigs = minhash_signatures(df, num_hashes, n, text_col, id_col)
    # pre-shuffle on the join key → ReuseExchange computes the signature
    # subplan once for both self-join sides; no partition count, so AQE
    # may coalesce it (see ngram_jaccard_pairs note)
    bands = band_frame(sigs, num_hashes, band_size).repartition(F.col("band"), F.col("sig"))
    x = bands.alias("x")
    y = bands.alias("y")
    cand = (
        x.join(y.hint("shuffle_hash"), ["band", "sig"])
        .where(F.col("x.d") < F.col("y.d"))
        .select(F.col("x.d").alias("da"), F.col("y.d").alias("db"))
        .distinct()
    )
    # Exact-Jaccard verify per candidate pair via array intersection: two
    # id-joins against per-doc kept-shingle arrays, then a narrow
    # |A∩B|/|A∪B|. Linear in the candidate count — the quadratic shingle
    # self-join never happens on this path. The stop-shingle df counts
    # still come from the FULL corpus, so surviving pairs keep the same
    # values the exact all-pairs operator would produce.
    shingles = shingle_frame(df, n, text_col, id_col)
    # explode_OUTER + null guard: a plain explode makes Catalyst infer
    # isnotnull(sh_arr), which FilterExec hoists ahead of every cheap
    # conjunct and re-evaluates the interpreted shingle chain per scanned
    # row (see winnow_fingerprints note).
    sh = shingles.select("d", F.explode_outer("sh_arr").alias("s")).where(
        F.col("s").isNotNull()
    )
    kept_arrays = _kept_shingle_arrays(shingles, _stop_shingles(sh, max_df))
    return _pair_jaccard(cand, kept_arrays, threshold)


# ---------------------------------------------------------------------------
# X2c: SimHash
# ---------------------------------------------------------------------------

SIMHASH_MAX_TOKENS = 65535  # 16-bit vote lanes: counts above this overflow


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", chunks: int = 4
) -> DataFrame:
    """64-bit SimHash as 4×16-bit chunks (columns sh0..sh3).

    Per token, md5 supplies 64 deterministic bits (4 hex quads); per bit the
    classic weighted vote (+1/-1) is summed across tokens; the sign vector
    is re-packed into 16-bit ints. A vote sum is positive iff
    2·(count of one-bits) > n_tokens, so only one-bit COUNTS are needed —
    and those are computed per-row, ZERO shuffle: the token-hash array is
    materialized once, then each `aggregate` folds four 16-bit lanes of
    bit-counts packed into one long (counts are non-negative, so lanes
    can't borrow into each other; 16 bits/lane caps docs at
    SIMHASH_MAX_TOKENS=65535 tokens — ENFORCED: docs beyond the cap are
    excluded rather than silently producing a lane-overflowed (wrong)
    signature; route such monsters through an explode+groupBy variant or
    truncate upstream. Measured ~3x faster than the explode+groupBy
    formulation at sf0.1 and removes the (doc, token) shuffle at cluster
    scale. Zero-token docs are dropped (parity with the explode form and
    the SQL oracle); the filter runs on the raw text BELOW the hash
    projection so predicate pushdown can't substitute the md5-transform
    into it."""
    hs = (
        df.where(
            F.expr(
                f"size({tokens_expr(text_col)}) "
                f"between 1 and {SIMHASH_MAX_TOKENS}"
            )
        )
        # spread the md5-per-token compute (see shingle_frame note)
        .repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
        .select(F.col(id_col).alias("d"), F.expr(tokens_expr(text_col)).alias("toks"))
        .select("d", F.expr("transform(toks, t -> md5(t))").alias("hs"))
    )
    vc = hs.select(
        "d",
        F.size("hs").alias("n"),
        *[
            F.expr(
                f"transform(hs, h -> cast(conv(substr(h, {1 + 4 * c}, 4), 16, 10) as bigint))"
            ).alias(f"v{c}")
            for c in range(chunks)
        ],
    )
    packs = []
    for c in range(chunks):
        for g in range(4):
            lanes = " + ".join(f"(((x >> {4 * g + s}) & 1) << {16 * s})" for s in range(4))
            packs.append(
                F.expr(f"aggregate(v{c}, 0L, (acc, x) -> acc + ({lanes}))").alias(f"p{c}_{g}")
            )
    packed = vc.select("d", "n", *packs)
    sh_cols = []
    for c in range(chunks):
        terms = " + ".join(
            f"(case when 2 * ((p{c}_{j // 4} >> {16 * (j % 4)}) & 65535) > n "
            f"then {1 << j} else 0 end)"
            for j in range(16)
        )
        sh_cols.append(F.expr(f"cast({terms} as int)").alias(f"sh{c}"))
    return packed.select("d", *sh_cols)


def simhash_candidate_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Near-dup candidates: pairs whose SimHash agrees on ≥1 of the 4 16-bit
    chunks (standard block-match: hamming distance ≤3 over 64 bits is
    guaranteed caught). Equi-join per chunk — no quadratic scan."""
    sigs = simhash(df, text_col, id_col)
    # single explode of (chunk, value) instead of a 4-way self-join union,
    # which would re-evaluate the simhash DAG four times
    chunks = (
        sigs.select(
            "d",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(c).alias("chunk"), F.col(f"sh{c}").alias("v"))
                        for c in range(4)
                    ]
                )
            ).alias("cv"),
        )
        .select("d", F.col("cv.chunk").alias("chunk"), F.col("cv.v").alias("v"))
        # pre-shuffle on the join key → ReuseExchange computes the simhash
        # subplan once for both self-join sides; no partition count, so AQE
        # may coalesce it (see ngram_jaccard_pairs note)
        .repartition(F.col("chunk"), F.col("v"))
    )
    x = chunks.alias("x")
    y = chunks.alias("y")
    return (
        x.join(y.hint("shuffle_hash"), ["chunk", "v"])
        .where(F.col("x.d") < F.col("y.d"))
        .select(F.col("x.d").alias("da"), F.col("y.d").alias("db"))
        .distinct()
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03
    — the MOSS algorithm): hash every word k-gram, slide a window of w
    consecutive hashes, keep the minimum of each window (rightmost position
    on ties). Guarantees any shared run of >= w+k-1 tokens yields a shared
    fingerprint, while storing ~2/(w+1) of the hashes.

    Output: (id_col, h, i) — selected md5 gram-hash and its 1-based gram
    position. Docs with < k tokens produce no rows; docs with fewer than w
    grams are winnowed as a single window.

    Scale design: gram construction is a per-row array transform (narrow);
    the window explode is a constant factor w; the only shuffle is the
    per-(doc, window) argmin. No self-joins, no cross product. The reference
    has no fingerprinting at all (its only content hash surface is absent —
    SURVEY.md §2.5); this is north-star extension surface.
    """
    _ident(id_col)
    # Plan-shape care (see shingle_frame and the FilterExec note): the cheap
    # token-count predicate goes on the RAW text below the projections, and
    # the explode is posexplode_OUTER. A plain posexplode makes Catalyst
    # infer `isnotnull(<gram expr>)`, and FilterExec evaluates null-checks
    # BEFORE all other conjuncts — running the interpreted gram build on
    # every scanned row instead of the id-filtered few (measured 5.2s vs
    # 0.4s on 5k docs). Outer generate infers no filter; our arrays are
    # non-empty by construction, and the cheap pos-null guard catches the
    # degenerate row an empty array would emit.
    base = (
        df.where(F.expr(f"size({tokens_expr(text_col)}) >= {k}"))
        .repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
        .select(F.col(id_col), tokens_col(text_col).alias("__toks"))
        .select(
            id_col,
            F.expr(
                f"transform(sequence(1, size(__toks)-{k}+1),"
                f" j -> concat_ws(' ', slice(__toks, j, {k})))"
            ).alias("gs"),
        )
    )
    g = base.select(
        id_col, F.size("gs").alias("ng"), F.posexplode_outer("gs").alias("pos", "gram")
    ).where(F.col("pos").isNotNull())
    hashed = g.select(
        id_col, "ng", (F.col("pos") + 1).alias("i"), F.md5("gram").alias("h")
    )
    wins = hashed.select(
        id_col,
        "i",
        "h",
        F.explode(
            F.expr(f"sequence(greatest(1, i-{w}+1), least(i, greatest(ng-{w}+1, 1)))")
        ).alias("win"),
    )
    sel = Window.partitionBy(id_col, "win").orderBy(F.asc("h"), F.desc("i"))
    return (
        wins.withColumn("__rn", F.row_number().over(sel))
        .where(F.col("__rn") == 1)
        .select(id_col, "h", "i")
        .distinct()
    )


# ---------------------------------------------------------------------------
# benchmark contamination
# ---------------------------------------------------------------------------

def contamination(
    train: DataFrame,
    bench: DataFrame,
    n: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_bench: bool = True,
) -> DataFrame:
    """Train/benchmark contamination check: for each training document,
    the number of distinct word n-grams it shares with ANY benchmark
    document (and the lexicographically smallest such n-gram as evidence).
    Documents with zero overlap are absent — the output is the
    contamination report a pipeline joins back to quarantine documents
    before training.

    Scale design: the benchmark side (eval suites — thousands of docs, not
    terabytes) collapses to its DISTINCT n-gram set and is broadcast, so
    the 100 TB train side is scanned ONCE with a broadcast hash join on the
    gram — no shuffle of train grams at all; the only shuffle is the final
    per-doc count, keyed by doc id (even) and sized by matches (tiny).
    Set ``broadcast_bench=False`` when the reference corpus is itself too
    big to broadcast — the join falls back to a shuffle equi-join on the
    gram (high-cardinality key, AQE handles residual skew).
    """
    # explode_OUTER + null guard: a plain explode makes Catalyst infer
    # isnotnull(sh_arr), which FilterExec hoists below the projection and
    # re-evaluates the interpreted shingle chain per scanned row (the
    # pitfall pinned by tests/test_plan_shapes.py's no-hoisted-isnotnull
    # guard; measured 5x on this operator).
    tg = (
        shingle_frame(train, n, text_col, id_col)
        .select("d", F.explode_outer("sh_arr").alias("gram"))
        .where(F.col("gram").isNotNull())
    )
    bg = (
        shingle_frame(bench, n, text_col, id_col)
        .select(F.explode_outer("sh_arr").alias("gram"))
        .where(F.col("gram").isNotNull())
        .distinct()
    )
    if broadcast_bench:
        bg = F.broadcast(bg)
    return (
        tg.join(bg, "gram")
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n_shared_grams"),
            F.min("gram").alias("sample_gram"),
        )
        .select(F.col("d").alias(id_col), "n_shared_grams", "sample_gram")
    )


def cross_split_contamination(
    df: DataFrame,
    split_col: str = "split",
    train_split: str = "train",
    n: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Eval-integrity report for a train/valid/test split: for every
    NON-train split, how many of its documents share at least one word
    n-gram with ANY train document. This is the number you check before
    trusting held-out metrics — a leaky split inflates them.

    Output: (split, docs, docs_contaminated, contam_frac), one row per
    non-train split.

    Scale design (train = the 100 TB side, eval splits = small):
    1. the DISTINCT eval-side gram set is broadcast into ONE scan of the
       train side, which emits only the grams that actually occur in train
       (bounded by |eval grams| — small);
    2. that matched-gram set broadcast-joins back to the eval (split, doc,
       gram) frame to flag contaminated docs.
    The train side is never shuffled and never scanned twice; no all-pairs
    doc join exists anywhere in the plan.

    ``broadcast_eval`` bounds the design: the default assumes the distinct
    eval-side gram set (and the eval (id, split) label frame) fit in a
    broadcast — true when eval splits are curated benchmark-sized suites,
    NOT when eval is a fixed fraction of the corpus (an 80/10/10 split of
    100 TB puts ~10 TB of grams past Spark's 8 GB broadcast ceiling). Pass
    ``broadcast_eval=False`` there: the same plan runs with shuffle
    equi-joins on the gram (high-cardinality key; AQE splits residual
    skew), keeping the one-scan-of-train property — only the join strategy
    changes (pinned by test_cross_split_shuffle_fallback_matches)."""
    maybe_bc = F.broadcast if broadcast_eval else (lambda d: d)
    eval_docs = df.where(F.col(split_col) != train_split)
    # shingle_frame keeps only (d, sh_arr); rejoin the split label through
    # the narrow (id, split) frame — broadcastable when eval is small —
    # and evaluated without re-deriving the split hash per gram.
    labels = eval_docs.select(F.col(id_col).alias("d"), F.col(split_col).alias("_split"))
    eg = (
        shingle_frame(eval_docs, n, text_col, id_col)
        .select("d", F.explode_outer("sh_arr").alias("gram"))
        .where(F.col("gram").isNotNull())
        .join(maybe_bc(labels), "d")
    )
    tg = (
        shingle_frame(df.where(F.col(split_col) == train_split), n, text_col, id_col)
        .select(F.explode_outer("sh_arr").alias("gram"))
        .where(F.col("gram").isNotNull())
    )
    matched = (
        tg.join(maybe_bc(eg.select("gram").distinct()), "gram").select("gram").distinct()
    )
    contam = (
        eg.join(maybe_bc(matched), "gram")
        .groupBy("_split")
        .agg(F.countDistinct("d").alias("docs_contaminated"))
    )
    totals = eval_docs.groupBy(F.col(split_col).alias("_split")).agg(
        F.count(F.lit(1)).alias("docs")
    )
    return (
        totals.join(F.broadcast(contam), "_split", "left")
        .select(
            F.col("_split").alias(split_col),
            "docs",
            F.coalesce("docs_contaminated", F.lit(0)).alias("docs_contaminated"),
            F.round(
                F.coalesce("docs_contaminated", F.lit(0)) / F.col("docs"), 4
            ).alias("contam_frac"),
        )
    )


def winnow_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
) -> DataFrame:
    """The CONSUMING operator of winnowing: document pairs sharing at least
    `min_shared` distinct fingerprint hashes — the plagiarism/overlap
    detection step MOSS runs over its fingerprint index. By the winnowing
    guarantee, any shared token run of length >= w+k-1 produces a shared
    fingerprint, so true containment/overlap cannot be missed.

    Scale: the fingerprint index is ~2/(w+1) of the gram stream; the pair
    step is an equi-join on the fingerprint hash (high-cardinality md5 →
    even partitioning), pre-shuffled ONCE on the hash so self-join sides
    reuse a single exchange, and never all-pairs. Ubiquitous hashes would
    blow up Σdf² like any inverted index — at corpus scale add the same
    max-df stop cap used by ngram_jaccard_pairs (the fixture corpus needs
    none).

    Output: (da, db, n_shared_fp), da < db.
    """
    # IDENTICAL subplans on both join sides (aliases applied only after the
    # join) + pre-shuffle on the join key -> Spark's ReuseExchange computes
    # the fingerprint index ONCE for both sides (same trick as
    # minhash_lsh_pairs; asserted in tests/test_plan_shapes.py); no
    # partition count, so AQE may coalesce it (see ngram_jaccard_pairs note)
    fp = (
        winnow_fingerprints(df, text_col, id_col, k=k, w=w)
        .select(F.col(id_col).alias("d"), "h")
        .distinct()
        .repartition(F.col("h"))
    )
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(b.hint("shuffle_hash"), "h")
        .where(F.col("a.d") < F.col("b.d"))
        .select(F.col("a.d").alias("da"), F.col("b.d").alias("db"))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("n_shared_fp"))
        .where(F.col("n_shared_fp") >= min_shared)
    )


# ---------------------------------------------------------------------------
# substring-level exact dedup (duplicated token spans)
# ---------------------------------------------------------------------------

def _pos_gram_frame(
    df: DataFrame, L: int, text_col: str, id_col: str
) -> DataFrame:
    """(d, i, h): EVERY word L-gram with its 1-based start position and md5
    hash — the dense positional gram index (winnow_fingerprints is the
    sampled ~2/(w+1) sibling). Same plan-shape guards as the winnow path:
    cheap token-count predicate on raw text below the projections, and
    posexplode_OUTER + pos-null guard so Catalyst can't hoist an
    `isnotnull(<gram expr>)` filter that re-evaluates the interpreted gram
    build per scanned row (see winnow_fingerprints)."""
    base = (
        df.where(F.expr(f"size({tokens_expr(text_col)}) >= {L}"))
        .repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
        .select(F.col(id_col).alias("d"), tokens_col(text_col).alias("__toks"))
        .select(
            "d",
            F.expr(
                f"transform(sequence(1, size(__toks)-{L}+1),"
                f" j -> concat_ws(' ', slice(__toks, j, {L})))"
            ).alias("gs"),
        )
    )
    g = base.select("d", F.posexplode_outer("gs").alias("pos", "gram")).where(
        F.col("pos").isNotNull()
    )
    return g.select("d", (F.col("pos") + 1).alias("i"), F.md5("gram").alias("h"))


def duplicated_spans(
    df: DataFrame,
    L: int = 6,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "hash",
) -> DataFrame:
    """Substring-level exact dedup REPORT (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": duplicated spans, not
    duplicated documents): every maximal token span built from word
    L-grams whose exact text occurs >= min_count times anywhere in the
    corpus (across documents or repeated within one). Document-level dedup
    (exact_dups / the X2 near-dup paths) cannot see a 2,000-token
    boilerplate run shared by millions of otherwise-distinct pages; this
    operator reports exactly those spans. The reference has no dedup
    surface at all (SURVEY.md §2.5) — north-star extension.

    Semantics: an L-gram occurrence is duplicated when its gram text has
    total corpus occurrence count >= min_count. Overlapping or adjacent
    duplicated occurrences in a document (start-position gap <= L) merge
    into one maximal span [span_start, span_end] (1-based token
    positions, inclusive). Lee et al.'s suffix-array criterion with
    character spans swapped for word L-grams — the join currency that
    distributes.

    Scale design: the positional gram index is hash-repartitioned ONCE on
    the md5 gram hash; the occurrence count (map-side combine collapses a
    boilerplate gram to one row per map task — the ubiquitous-gram skew
    killer) and the flag-back equi-join both consume that single exchange
    (ReuseExchange, pinned by a plan-shape test). The shuffle carries
    32-byte hashes + integer positions, never text. The island merge is a
    per-document window (key = doc id, even; rows per doc bounded by doc
    length). No self-join, no all-pairs path anywhere.

    Output: (id_col, span_start, span_end, span_tokens, n_grams) —
    n_grams = duplicated L-gram occurrences merged into the span.

    ``mode`` picks the gram-count physical strategy (same rows either way
    — pinned hash-equal by the declared x1_span_dedup_sorted query):

    - ``"hash"`` (default): hash-agg the occurrence counts + shuffle-hash
      flag-back join sharing one exchange. Fastest while the per-task
      DISTINCT-gram hash tables fit in executor memory.
    - ``"sorted"``: the sorted-run EXTERNAL variant for gram sets past
      cluster memory (VERDICT r4 task #3): one exchange on the gram hash,
      external sort within partitions, then a streaming window count over
      each sorted run. No hash table anywhere — Spark's sort spills runs
      to disk and merges them, and WindowExec buffers only ONE gram's
      occurrence run at a time (itself spillable past
      spark.sql.windowExec.buffer.spill.threshold), so memory bounds on
      the largest single gram run, never on distinct-gram cardinality.
    """
    spark = df.sparkSession
    if mode == "sorted":
        g = (
            _pos_gram_frame(df, L, text_col, id_col)
            .repartition(spark.sparkContext.defaultParallelism, F.col("h"))
            .sortWithinPartitions("h")
        )
        occ = F.count(F.lit(1)).over(Window.partitionBy("h"))
        flagged = (
            g.withColumn("occ", occ)
            .where(F.col("occ") >= min_count)
            .select("d", "i")
        )
        return _merge_islands(flagged, L, id_col)
    if mode != "hash":
        raise ValueError(f"duplicated_spans: unknown mode {mode!r}")
    g = _pos_gram_frame(df, L, text_col, id_col).repartition(
        spark.sparkContext.defaultParallelism, F.col("h")
    )
    dup = (
        g.groupBy("h")
        .agg(F.count(F.lit(1)).alias("occ"))
        .where(F.col("occ") >= min_count)
        .select("h")
    )
    flagged = g.join(dup.hint("shuffle_hash"), "h").select("d", "i")
    return _merge_islands(flagged, L, id_col)


def _merge_islands(flagged: DataFrame, L: int, id_col: str) -> DataFrame:
    """Shared island-merge tail of duplicated_spans: merge overlapping or
    adjacent (gap <= L) duplicated gram occurrences per document into
    maximal spans. Per-doc window — key is the doc id, rows per doc
    bounded by doc length."""
    wo = Window.partitionBy("d").orderBy("i")
    run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    isl = (
        flagged.withColumn("prev", F.lag("i").over(wo))
        .withColumn(
            "new",
            F.when(
                F.col("prev").isNull() | (F.col("i") - F.col("prev") > L), 1
            ).otherwise(0),
        )
        .withColumn("island", F.sum("new").over(run))
    )
    return (
        isl.groupBy("d", "island")
        .agg(
            F.min("i").alias("span_start"),
            (F.max("i") + F.lit(L - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select(
            F.col("d").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
            "n_grams",
        )
    )


def strip_duplicated_spans(
    df: DataFrame,
    L: int = 6,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The CONSUMING operator of duplicated_spans: remove every duplicated
    span occurrence EXCEPT the canonical one (Lee et al. keep-one-copy
    semantics), rebuilding each document from its surviving tokens.

    Canonical occurrence of a duplicated L-gram = the (min doc id, then
    min position) occurrence — a unique global fixpoint, so the result is
    deterministic on any cluster. A token survives when it is covered by
    no duplicated gram occurrence, or by at least one CANONICAL
    occurrence (overlap between a kept and a cut span resolves to keep).

    Output: (id_col, text, n_tokens, n_removed) — `text` is rebuilt from
    the NORMALIZED token stream (lowercased, punctuation split — the same
    stream every dedup operator here keys on, like chunk_tokens), not the
    raw bytes; n_removed counts cut tokens. Docs with < L tokens pass
    through unchanged.

    Scale: the canonical pick is one window over the gram hash (same key
    as the occurrence count); coverage explode is a constant factor L over
    duplicated occurrences only; the final rebuild is a per-doc window
    aggregate keyed by doc id. Text never shuffles — only (hash, doc,
    position) triples do. Docs with zero tokens are absent from the
    output (no token stream to rebuild — same contract as chunk_tokens)."""
    spark = df.sparkSession
    g = _pos_gram_frame(df, L, text_col, id_col).repartition(
        spark.sparkContext.defaultParallelism, F.col("h")
    )
    dup = (
        g.groupBy("h")
        .agg(F.count(F.lit(1)).alias("occ"))
        .where(F.col("occ") >= min_count)
        .select("h")
    )
    flagged = g.join(dup.hint("shuffle_hash"), "h")
    canon = Window.partitionBy("h").orderBy("d", "i")
    cover = flagged.withColumn(
        "is_canon", (F.row_number().over(canon) == 1).cast("int")
    ).select(
        "d", F.explode(F.expr(f"sequence(i, i + {L - 1})")).alias("p"), "is_canon"
    )
    cut = (
        cover.groupBy("d", "p")
        .agg(F.max("is_canon").alias("keep"))
        .where(F.col("keep") == 0)
        .select("d", "p")
    )
    toks = (
        df.repartition(spark.sparkContext.defaultParallelism, F.col(id_col))
        .select(F.col(id_col).alias("d"), tokens_col(text_col).alias("__toks"))
        .select("d", F.posexplode_outer("__toks").alias("pos", "tok"))
        .where(F.col("pos").isNotNull())
        .select("d", (F.col("pos") + 1).alias("p"), "tok")
    )
    kept = toks.join(cut, ["d", "p"], "left_anti")
    rebuilt = kept.groupBy("d").agg(
        F.array_sort(F.collect_list(F.struct("p", "tok"))).alias("ss")
    )
    n_orig = toks.groupBy("d").agg(F.count(F.lit(1)).alias("n_tokens"))
    return (
        n_orig.join(rebuilt, "d", "left")
        .select(
            F.col("d").alias(id_col),
            # a doc whose every token is cut (a full non-canonical
            # duplicate) has no surviving rows -> empty text, not NULL
            F.coalesce(
                F.expr("array_join(transform(ss, s -> s.tok), ' ')"), F.lit("")
            ).alias("text"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.size("ss"), F.lit(0))).alias(
                "n_removed"
            ),
        )
    )


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    divisor: int = 8,
) -> DataFrame:
    """CONTENT-DEFINED chunking (the rsync/LBFS boundary trick, the chunk
    former behind chunk-level dedup): a chunk boundary falls after token
    position t whenever the hash of the k-gram ENDING at t is ≡ 0 mod
    `divisor`. Because boundaries depend only on local content, inserting
    or deleting a token reshapes ONLY the chunk it touches — unlike
    fixed-size chunking (chunk_tokens), where one insertion shifts every
    later chunk and destroys all downstream dedup hits. Expected chunk
    length ≈ `divisor` tokens.

    Output: one row per chunk — (id_col, chunk_idx, tok_start, n_tokens,
    chunk_hash, dup) where chunk_hash is the md5 of the space-joined
    tokens and dup marks hashes occurring more than once corpus-wide
    (the chunk-level duplication signal).

    Scale: the boundary flags are a per-row array transform (narrow); one
    shuffle on the doc id serves both the running-boundary-count window
    and the per-(doc, chunk) rebuild; the dup flag is a window over the
    chunk-hash dimension. Hash arithmetic is the md5-nibble-slice shared
    with operators/bloom.py — bit-identical in DuckDB, so the whole
    operator is oracle-checkable.
    """
    from diepy_spark.operators.sketch import hex_int_sql

    _ident(id_col)
    toks = tokens_expr(text_col)
    grams = _grams_over("__toks", k)
    flag = f"IF(({hex_int_sql('md5(g)', 4)} % {divisor}) = 0, 1, 0)"
    base = (
        df.where(F.expr(f"size({toks}) >= 1"))
        .repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
        .select(F.col(id_col), F.expr(toks).alias("__toks"))
        .select(
            id_col,
            "__toks",
            F.expr(
                f"concat(array_repeat(0, least(size(__toks), {k - 1})),"
                f" transform({grams}, g -> {flag}))"
            ).alias("__flags"),
        )
    )
    tok = base.select(
        id_col,
        F.posexplode_outer(F.arrays_zip("__toks", "__flags")).alias("pos", "z"),
    ).where(F.col("pos").isNotNull()).select(
        id_col,
        (F.col("pos") + 1).alias("i"),
        F.col("z.__toks").alias("tok"),
        F.col("z.__flags").alias("flag"),
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = tok.withColumn(
        "chunk_idx", F.coalesce(F.sum("flag").over(w), F.lit(0)).cast("bigint")
    )
    per_chunk = chunked.groupBy(id_col, "chunk_idx").agg(
        F.min("i").cast("bigint").alias("tok_start"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.md5(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(array_sort(collect_list(struct(i, tok))), s -> s.tok)"
                ),
            )
        ).alias("chunk_hash"),
    )
    wd = Window.partitionBy("chunk_hash")
    return per_chunk.withColumn(
        "dup", (F.count(F.lit(1)).over(wd) > 1)
    )


def incremental_exact_dedup(
    index: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """INCREMENTAL exact dedup — the arriving-batch shape of exact_dups:
    an existing corpus (`index`) is already deduplicated and only its
    fingerprint set matters; the new `batch` must learn, per document,
    whether it duplicates the index (`dup_of_index`) or an earlier
    document of the same batch (`dup_in_batch`, earlier = smaller id).
    A pipeline ingesting crawl N+1 runs exactly this instead of
    re-deduplicating the whole corpus.

    Scale: both sides reduce to md5 fingerprints before any shuffle (the
    X1 contract — 32-byte keys, never text); the index side ships only
    its DISTINCT fingerprint set (at 100 TB this is the persisted
    fingerprint table, not a corpus rescan), and the within-batch check
    is one window over the batch's own fingerprints.

    Output: (id_col, dup_of_index, dup_in_batch) as 0/1 ints, one row
    per batch document."""
    fpb = batch.select(F.col(id_col), F.md5(F.col(text_col)).alias("fp"))
    fpi = (
        index.select(F.md5(F.col(text_col)).alias("fp"))
        .distinct()
        .withColumn("in_idx", F.lit(1))
    )
    w = Window.partitionBy("fp").orderBy(id_col)
    return (
        fpb.join(fpi, "fp", "left")
        .withColumn("rk", F.row_number().over(w))
        .select(
            id_col,
            F.coalesce("in_idx", F.lit(0)).alias("dup_of_index"),
            (F.col("rk") > 1).cast("int").alias("dup_in_batch"),
        )
    )


def incremental_minhash_dedup(
    index: DataFrame,
    batch: DataFrame,
    num_hashes: int = 16,
    band_size: int = 2,
    min_match: int = 8,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    index_sigs: DataFrame | None = None,
    batch_sigs: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL near-dup dedup — the MinHash sibling of
    incremental_exact_dedup, and the crawl-N+1 shape of
    minhash_lsh_pairs: an arriving `batch` checks itself against a
    STANDING signature index without ever re-scanning the index corpus'
    text. The index side here computes signatures from text for the
    fixture's sake; at 100 TB the `index` frame is the persisted
    signature table itself (num_hashes md5 hex strings per doc — the
    whole point of keeping one).

    A batch document is `dup_of_index` when it shares an LSH band with
    an index document AND their signatures agree on >= `min_match` of
    `num_hashes` min-hashes (the unbiased Jaccard estimate of
    x2_minhash_est as an integer test), `dup_in_batch` when the same
    holds against an EARLIER (smaller-id) batch document.

    Scale shape: signatures are per-row HOF projections (zero shuffle);
    banding joins are equi-joins on (band, sig); the verify is one
    zip_with over two length-`num_hashes` arrays per candidate — the
    index text is never touched, which is exactly what makes the
    incremental form cheaper than re-running the full-corpus pair job.

    Output: (id_col, dup_of_index, dup_in_batch) 0/1 ints, one row per
    batch document that has at least one shingle."""
    spark = batch.sparkSession
    par = spark.sparkContext.defaultParallelism
    # Both signature frames are multi-consumed (banding + the agree-count
    # verify + the output id list) and the md5-per-shingle forest is the
    # expensive subtree — cut lineage so it computes once. This mirrors
    # the production deployment exactly: the index signatures are a
    # PERSISTED table (that is the point of an incremental index), and
    # the batch signatures are batch-sized.
    # index_sigs/batch_sigs (r13): a caller holding the persisted
    # signature table passes its two halves directly (a document's
    # MinHash depends only on its own shingles, so a row-filter of the
    # full-corpus signature frame IS the split's signature frame) and
    # the text is never re-shingled here. Must be the (d, mh0..mhN)
    # frame at the SAME num_hashes/n — the caller's contract.
    sigi = (
        minhash_signatures(index, num_hashes, n, text_col, id_col)
        if index_sigs is None
        else index_sigs
    ).localCheckpoint(eager=False)
    sigb = (
        minhash_signatures(batch, num_hashes, n, text_col, id_col)
        if batch_sigs is None
        else batch_sigs
    ).localCheckpoint(eager=False)
    bi = band_frame(sigi, num_hashes, band_size).repartition(
        par, F.col("band"), F.col("sig")
    )
    bb = band_frame(sigb, num_hashes, band_size).repartition(
        par, F.col("band"), F.col("sig")
    )
    cand_idx = (
        bb.select(F.col("d").alias("db"), "band", "sig")
        .join(
            bi.select(F.col("d").alias("di"), "band", "sig").hint("shuffle_hash"),
            ["band", "sig"],
        )
        .select("db", "di")
        .distinct()
    )
    # Distinct projections for the self-join: alias-based self-joins
    # resolve both sides' `d` to the SAME attribute (the classic Spark
    # self-join ambiguity), silently turning the y.d < x.d condition
    # into d < d = false. Renaming the columns first sidesteps it.
    bx = bb.select(F.col("d").alias("db"), "band", "sig")
    by = bb.select(F.col("d").alias("di"), "band", "sig")
    cand_bat = (
        bx.join(by.hint("shuffle_hash"), ["band", "sig"])
        .where(F.col("di") < F.col("db"))
        .select("db", "di")
        .distinct()
    )
    mh_arr = F.array(*[F.col(f"mh{h}") for h in range(num_hashes)])
    vi = sigi.select(F.col("d").alias("di"), mh_arr.alias("vi"))
    vb = sigb.select(F.col("d").alias("db"), mh_arr.alias("vb"))
    # the `di` partner of an IN-BATCH candidate is a batch doc — its
    # signature array comes from the batch frame, not the index's
    vbi = sigb.select(F.col("d").alias("di"), mh_arr.alias("vi"))
    agree = F.expr(
        "aggregate(zip_with(vb, vi, (a, b) -> CASE WHEN a = b THEN 1 ELSE 0 END),"
        " 0, (acc, v) -> acc + v)"
    )

    def flags(cand, partner, out):
        return (
            cand.join(vb, "db")
            .join(partner, "di")
            .withColumn("m", agree)
            .groupBy("db")
            .agg(F.max((F.col("m") >= min_match).cast("int")).alias(out))
        )

    fi = flags(cand_idx, vi, "dup_of_index")
    fb = flags(cand_bat, vbi, "dup_in_batch")
    return (
        sigb.select(F.col("d").alias("db"))
        .join(fi, "db", "left")
        .join(fb, "db", "left")
        .select(
            F.col("db").alias(id_col),
            F.coalesce("dup_of_index", F.lit(0)).alias("dup_of_index"),
            F.coalesce("dup_in_batch", F.lit(0)).alias("dup_in_batch"),
        )
    )


def _ppjoin_front(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Shared PPJoin front half (best_match + prefix_health): tokenize
    both sides and signature-compress. Signature = md5 of the sorted
    distinct token list (tokens are [a-z0-9]+ so ' ' never collides),
    computed PER ROW over the token array — no exchange. Docs with zero
    tokens are dropped (they had no rows in the exploded ledger this
    replaces, hence no signature). Returns:

    - dm   = (side, d, sig): the doc -> signature map, a projection of
      the checkpointed doc frame;
    - usig = (side, d=sig, sz, toks): ONE row per unique (side,
      signature) with its token array and size — the only exchange in
      the front half (dropDuplicates over signatures)."""
    def docset(df, side):
        return df.select(
            F.lit(side).alias("side"),
            F.col(id_col).alias("d"),
            F.array_sort(
                F.array_distinct(F.expr(tokens_expr(text_col)))
            ).alias("toks"),
        ).where(F.size("toks") >= 1)

    ds = (
        docset(left, 0)
        .unionByName(docset(right, 1))
        .withColumn("sig", F.expr("md5(concat_ws(' ', toks))"))
        .localCheckpoint(eager=False)
    )
    dm = ds.select("side", "d", "sig")
    usig = (
        ds.select(
            "side",
            F.col("sig").alias("d"),
            F.size("toks").cast("bigint").alias("sz"),
            "toks",
        )
        .dropDuplicates(["side", "d"])
        .localCheckpoint(eager=False)
    )
    return dm, usig


def ppjoin_best_match(
    left: DataFrame,
    right: DataFrame,
    t_num: int = 4,
    t_den: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-relation record linkage by token-set Jaccard >=
    t_num/t_den, with the PPJoin prefix filter (Xiao, Wang, Lin, Yu
    2008, "Efficient Similarity Joins for Near Duplicate Detection"):
    under a global rarest-first token order, any pair with overlap o
    must share a token inside each record's first (sz - o + 1) tokens,
    so only PREFIX tokens generate candidates — a LOSSLESS pruning, in
    contrast to the max_df heuristic the ngram_jaccard path uses. The
    positional filter (the residual-overlap upper bound
    min(sz_a - rn_a, sz_b - rn_b) + 1 >= ceil(t/(1+t)*(sz_a+sz_b)))
    and the length filter (t*sz_a <= sz_b <= sz_a/t) prune further,
    still lossless — measured on the sf0.1 fixture they halve the
    candidate set at identical results.

    Every test is exact-integer (o_min = (t_num*sz + t_den - 1) div
    t_den; threshold inter*t_den >= t_num*union); jac is rounded once
    for output/ranking. Returns the best match per LEFT record:
    (da, db, jac, n_matches), jac desc ties db asc, n_matches = all
    qualifying right-side matches.

    Duplicate-heavy corpora (the regime record linkage serves) are
    handled by SIGNATURE COMPRESSION (VERDICT r9 #2): identical token
    SETS share identical prefixes, so m copies of a record on each
    side would generate m^2 identical candidate pairs — PPJoin runs
    over DISTINCT token-set signatures (md5 of the sorted token list,
    the x1_dedup_exact key), matches aggregate at signature level
    (n_matches = sum of right-signature multiplicities, best db = min
    doc id within the best signature), and doc ids fan back out with
    one join at the very end. Doc x doc pairs are never materialized.

    Scale shape: one tokenize pass per side; the global df frame is
    vocabulary-sized; candidates shuffle on the prefix TOKEN (bounded
    per UNIQUE-signature token by df_L*df_R of PREFIX occurrences
    only); the verify join touches candidate signature pairs x their
    token sets, never all pairs; fan-out is one sig-keyed join.

    r13 front-half re-plan (guide §2.2 — shuffle fewer bytes): the
    doc -> signature step is PER-ROW array arithmetic (array_distinct +
    array_sort + md5 over the token array), so the doc-token ledger
    never shuffles at doc level. The old shape exploded tokens, ran a
    ledger-wide DISTINCT, a groupBy(side, d) collect_list, and joined
    the ledger back to the signature map — three exchanges plus a
    ledger-sized join, all replaced by ONE dropDuplicates over unique
    signatures. Sizes come free (size(toks)) instead of a groupBy."""
    par = left.sparkSession.sparkContext.defaultParallelism

    dm, usig = _ppjoin_front(left, right, text_col, id_col)
    # r14 (guide §2.3 "narrower types"): the candidate stage explodes
    # to millions of (da, db) pairs (measured 1.9M at sf0.1), and every
    # byte of the pair keys is shuffled through the join, the distinct
    # and the verify joins. So the pair stage runs on NARROW keys:
    # records as unhex(sig) BINARY(16) — exact and injective over the
    # md5 hex, half the bytes and cheap comparisons — and the join
    # token as xxhash64(tok) BIGINT. The prefix ORDER (df asc, tok)
    # stays on exact token strings, so the prefix sets are exactly the
    # PPJoin ones; a hash collision on the join key can only ADD
    # candidate pairs (a lossless superset — the exact-intersection
    # verify drops them), never lose one.
    u16 = usig.withColumn("d16", F.expr("unhex(d)"))
    tk = u16.select("side", "d16", "sz", F.explode("toks").alias("tok"))
    dfq = tk.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    wo = Window.partitionBy("side", "d16").orderBy(F.col("df").asc(), "tok")
    ordered = tk.join(dfq, "tok").withColumn(
        "rn", F.row_number().over(wo).cast("bigint")
    )
    # r13: pref feeds BOTH candidate sides (pl, pr) — without a lineage
    # cut Catalyst inlines the whole explode -> df-join -> prefix-rank
    # window subtree into each side and the ledger pass runs TWICE
    # (read in the plan: two Window nodes over the full ledger, one per
    # side filter). Lazy checkpoint = one pass, both sides read blocks.
    pref = (
        ordered.where(
            F.expr(f"rn <= sz - ((sz * {t_num} + {t_den} - 1) div {t_den}) + 1")
        )
        .select("side", "d16", F.xxhash64("tok").alias("tid"), "rn", "sz")
        .localCheckpoint(eager=False)
    )
    pl = pref.where("side = 0").select(
        F.col("d16").alias("da"), F.col("tid").alias("tid"),
        F.col("rn").alias("rna"), F.col("sz").alias("sza"),
    )
    pr = pref.where("side = 1").select(
        F.col("d16").alias("db"), F.col("tid").alias("tid"),
        F.col("rn").alias("rnb"), F.col("sz").alias("szb"),
    )
    plp = pl.repartition(par, F.col("tid"))
    prp = pr.repartition(par, F.col("tid"))
    cand = (
        plp.join(prp.hint("shuffle_hash"), "tid")
        .where(
            F.expr(
                f"sza * {t_den} >= szb * {t_num}"
                f" AND szb * {t_den} >= sza * {t_num}"
                f" AND (least(sza - rna, szb - rnb) + 1)"
                f" * ({t_num} + {t_den})"
                f" >= {t_num} * (sza + szb)"
            )
        )
        .select("da", "db")
        .distinct()
    )
    # r13 verify-half re-plan (guide §2.3 — shuffle fewer bytes, §2.4 —
    # remove shuffles outright): usig already carries the sorted DISTINCT
    # token array per signature, so the intersection size is per-row
    # array arithmetic (size(array_intersect)) after two sig-keyed joins
    # that also deliver sza/szb for free. The old shape exploded every
    # candidate's full left token set (|cand| x sza rows), shuffled it
    # onto the right ledger by (db, tok), re-aggregated by pair, and then
    # joined the two size frames back on — three extra exchanges plus the
    # candidate x token row blow-up, all for a count the arrays hold.
    ua = u16.where("side = 0").select(
        F.col("d16").alias("da"), F.col("sz").alias("sza"),
        F.col("toks").alias("toks_a"),
    )
    ub = u16.where("side = 1").select(
        F.col("d16").alias("db"), F.col("sz").alias("szb"),
        F.col("toks").alias("toks_b"),
    )
    res = (
        cand.join(ua, "da")
        .join(ub, "db")
        .withColumn(
            "inter",
            F.size(F.array_intersect("toks_a", "toks_b")).cast("bigint"),
        )
        .where(
            F.expr(f"inter * {t_den} >= {t_num} * (sza + szb - inter)")
        )
        .selectExpr(
            "da", "db",
            "round(CAST(inter AS DOUBLE)"
            " / CAST(sza + szb - inter AS DOUBLE), 4) AS jac",
        )
    )
    # fan back out: right-signature multiplicity + min doc id first
    # (signature-level aggregates), then ONE sig-keyed join to left
    # docs — the per-da result set never multiplies through db copies.
    rmult = (
        dm.where("side = 1")
        .groupBy(F.expr("unhex(sig)").alias("sig16"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.min("d").alias("min_db"),
        )
    )
    qual = res.join(rmult, res["db"] == rmult["sig16"]).select(
        F.col("da").alias("siga"), "jac", "cnt", "min_db"
    )
    wb = Window.partitionBy("siga").orderBy(
        F.col("jac").desc(), F.col("min_db")
    )
    wn = Window.partitionBy("siga")
    best = (
        qual.withColumn("rk", F.row_number().over(wb))
        .withColumn("n_matches", F.sum("cnt").over(wn).cast("bigint"))
        .where("rk = 1")
        .select("siga", "min_db", "jac", "n_matches")
    )
    return (
        dm.where("side = 0")
        .select(F.col("d").alias("da"), F.expr("unhex(sig)").alias("sig16"))
        .join(best, F.col("sig16") == F.col("siga"))
        .select("da", F.col("min_db").alias("db"), "jac", "n_matches")
    )


def ppjoin_prefix_health(
    left: DataFrame,
    right: DataFrame,
    t_num: int = 4,
    t_den: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate-volume instrument for ppjoin_best_match — the PPJoin
    sibling of the LSH band audit (x2_lsh_bucket_health): price the
    prefix-filter candidate set BEFORE launching the verify join. One
    row of exact integers:

    - n_left_docs/n_right_docs and n_left_sigs/n_right_sigs — the
      signature-compression ratio (duplicate multiplicity is the term
      that makes an exact set-similarity join quadratic; sigs << docs
      means the compression is carrying the load);
    - prefix_rows_l/prefix_rows_r — prefix-ledger sizes;
    - shared_prefix_tokens — tokens appearing in BOTH sides' prefixes
      (only these generate candidates);
    - cand_load = Σ_tok dfL(tok)·dfR(tok) — the raw candidate-pair
      upper bound the token-keyed join will materialize (before the
      positional/length filters);
    - max_token_load — the hottest token's dfL·dfR, the worst join
      task (a mega-token here needs a stop-token filter, exactly like
      a mega-bucket in the LSH audit).

    Shares the front half of ppjoin_best_match via _ppjoin_front (the
    r13 per-row-signature re-plan — see ppjoin_best_match); kept as its
    own pipeline so the instrument can run WITHOUT triggering the join
    it prices."""
    dm, usig = _ppjoin_front(left, right, text_col, id_col)
    tk = usig.select("side", "d", "sz", F.explode("toks").alias("tok"))
    dfq = tk.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    wo = Window.partitionBy("side", "d").orderBy(F.col("df").asc(), "tok")
    pref = (
        tk.join(dfq, "tok")
        .withColumn("rn", F.row_number().over(wo).cast("bigint"))
        .where(
            F.expr(
                f"rn <= sz - ((sz * {t_num} + {t_den} - 1) div {t_den}) + 1"
            )
        )
        .select("side", "d", "tok")
        .localCheckpoint(eager=False)
    )
    docs = dm.groupBy("side").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("sig").cast("bigint").alias("n_sigs"),
    )
    prows = pref.groupBy("side").agg(
        F.count(F.lit(1)).cast("bigint").alias("prefix_rows")
    )
    pdf = pref.groupBy("side", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    shared = (
        pdf.where("side = 0")
        .select("tok", F.col("df").alias("dfl"))
        .join(
            pdf.where("side = 1").select("tok", F.col("df").alias("dfr")),
            "tok",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("shared_prefix_tokens"),
            F.expr("CAST(sum(dfl * dfr) AS BIGINT)").alias("cand_load"),
            F.expr("CAST(max(dfl * dfr) AS BIGINT)").alias("max_token_load"),
        )
    )

    def side_row(df, side, cols):
        sel = df.where(F.col("side") == side)
        return sel.select(
            *[F.col(c).alias(f"{c}_{'l' if side == 0 else 'r'}") for c in cols]
        )

    return (
        side_row(docs, 0, ["n_docs", "n_sigs"])
        .crossJoin(side_row(docs, 1, ["n_docs", "n_sigs"]))
        .crossJoin(side_row(prows, 0, ["prefix_rows"]))
        .crossJoin(side_row(prows, 1, ["prefix_rows"]))
        .crossJoin(shared)
        .selectExpr(
            "n_docs_l AS n_left_docs",
            "n_docs_r AS n_right_docs",
            "n_sigs_l AS n_left_sigs",
            "n_sigs_r AS n_right_sigs",
            "prefix_rows_l",
            "prefix_rows_r",
            "shared_prefix_tokens",
            "cand_load",
            "max_token_load",
        )
    )
