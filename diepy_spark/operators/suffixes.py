"""Distributed suffix array over the tokenized corpus (SURVEY §2.6 X1 —
the third span-dedup tier, round-7 candidate #4 of the round-6 SURVEY).

The fixed-L gram tiers of `dedup.duplicated_spans` answer "which spans of
AT LEAST L tokens repeat"; a suffix array answers the question they
can't: "what is the LONGEST repeated token span, and what does the full
repeated-span LENGTH DISTRIBUTION look like" — Lee et al. 2022's actual
criterion (their dedup is built on a suffix array; our gram tiers are the
distributable approximation). The reference (3nth/diepy, `core.py`) has
no dedup surface at all — north-star extension.

Algorithm — prefix doubling (Manber–Myers 1990; distributed formulation
as in Flick & Aluru, SC'15 "Parallel distributed memory construction of
suffix and LCP arrays"):

  rank_1[d,i]  = dense rank of token (d,i) over the global vocabulary;
  rank_2k[d,i] = dense rank of the pair (rank_k[d,i], rank_k[d,i+k]),
                 missing position -> sentinel 0 (end-of-string sorts
                 BEFORE every real token, so a proper prefix sorts first
                 — exactly DuckDB's lexicographic order on the
                 space-joined suffix strings, the oracle's sort key);
  after ceil(log2 max_tokens) rounds the rank totally orders suffixes
  (ties only between IDENTICAL truncated suffixes, broken by (d, i) —
  pinned to the same tie-break in the oracle). adjacent_suffix_lcp seeds
  the ladder with one dense rank over g-token windows and finishes the
  order with one fused tuple sort (see its docstring).

Adjacent-suffix LCP: each consecutive suffix pair joins back to its two
documents' token arrays and compares the two max_tokens-bounded windows
in one codegen expression — exact, proven by the unit suite against a
brute-force Python suffix sort.

Scale design — this is the point of prefix doubling: after the seed
(one g-token window per position, g <= 8), every ladder shuffle carries
FIXED-WIDTH integers (doc id, position, rank), never suffix text; a naive "sort the suffix strings" plan shuffles O(corpus² ) bytes
(every suffix materializes its full tail), which is exactly what the
oracle does at sf0.01 and exactly what a 100 TB corpus cannot.
O(log max_tokens) rounds, each: one per-doc window (lead) + one
range-exchange dense rank. The dense rank itself is the two-pass block
shape (the x8_sprt pattern, VERDICT r5 #3): range-partition on the key,
per-partition local ranks in parallel, then a partition-count-bounded
offset frame broadcast back — no corpus-sized frame ever passes through
a single task.

Determinism: ranks are exact integers from binary-ordered [a-z0-9]+
tokens; the space joiner (0x20) sorts below every token character, so
token-sequence order == joined-string order and Spark ranks reproduce
DuckDB's ORDER BY suffix string bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from diepy_spark.operators.dedup import tokens_expr

SA_MAX_TOKENS = 128  # token cap per document: pins the round count at any scale
_FUSE_ARITY = 16  # max rank keys in the fused row-number pass


def block_dense_rank(
    df: DataFrame, cols: list[str], out: str = "r", parts: int | None = None
) -> DataFrame:
    """Distributed dense_rank over `cols` (ascending, NON-NULL keys) with
    no single-partition exchange: range-partition on the key (equal keys
    land in ONE partition — RangePartitioner assigns by deterministic
    boundary binary-search), local dense_rank per partition in parallel,
    then add each partition's exclusive prefix of distinct-key counts
    (a partition-count-sized frame — the one bounded global window).
    Bit-identical to a global dense_rank because keys never straddle a
    boundary. Keys must be non-null (countDistinct drops null rows)."""
    spark = df.sparkSession
    p = parts or spark.sparkContext.defaultParallelism
    b = (
        df.repartitionByRange(p, *[F.col(c) for c in cols])
        .sortWithinPartitions(*cols)
        .withColumn("__pid", F.spark_partition_id())
        # both passes (local ranks + per-partition distinct counts) read
        # this frame; cut lineage so upstream runs once. 100 TB: persist().
        .localCheckpoint(eager=False)
    )
    wloc = Window.partitionBy("__pid").orderBy(*cols)
    loc = b.withColumn("__lr", F.dense_rank().over(wloc))
    woff = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        b.groupBy("__pid")
        .agg(F.count_distinct(*[F.col(c) for c in cols]).alias("__pd"))
        .withColumn("__off", F.coalesce(F.sum("__pd").over(woff), F.lit(0)))
        .select("__pid", "__off")
    )
    return (
        loc.join(F.broadcast(offs), "__pid")
        .withColumn(out, (F.col("__lr") + F.col("__off")).cast("int"))
        .drop("__pid", "__lr", "__off")
    )


def block_row_number(
    df: DataFrame, cols: list[str], out: str = "rn", parts: int | None = None
) -> DataFrame:
    """Distributed row_number over `cols` (ascending, a TOTAL order —
    ties would make the result partitioning-dependent): same two-pass
    block shape as block_dense_rank with count(*) offsets."""
    spark = df.sparkSession
    p = parts or spark.sparkContext.defaultParallelism
    b = (
        df.repartitionByRange(p, *[F.col(c) for c in cols])
        .sortWithinPartitions(*cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    wloc = Window.partitionBy("__pid").orderBy(*cols)
    loc = b.withColumn("__lr", F.row_number().over(wloc))
    woff = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        b.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__pn"))
        .withColumn("__off", F.coalesce(F.sum("__pn").over(woff), F.lit(0)))
        .select("__pid", "__off")
    )
    return (
        loc.join(F.broadcast(offs), "__pid")
        .withColumn(out, (F.col("__lr") + F.col("__off")).cast("long"))
        .drop("__pid", "__lr", "__off")
    )


def block_adjacent_pairs(
    df: DataFrame,
    keys: list[str],
    carry: list[str],
    parts: int | None = None,
) -> DataFrame:
    """All CONSECUTIVE row pairs of `df` under the total order `keys`,
    with each side's `carry` columns as (`c`, `c`+"2") — the distributed
    equivalent of `row_number over keys` + a self-join on (rn, rn-1),
    without materializing the row number or shuffling the frame twice
    more through the self-join (guide §2.4, remove shuffles outright):

    - range-partition + sort on `keys` (equal keys never straddle a
      boundary, partitions are globally ordered — the block_row_number
      layout, ONE exchange);
    - WITHIN a partition, consecutive rows pair via lead() over the
      local sort (no further exchange);
    - ACROSS partitions, the j-th non-empty partition's LAST row pairs
      with the (j+1)-th non-empty partition's FIRST row: firsts/lasts
      are one row per partition (row_number() == 1 from either end of
      the local sort), and the stitch windows run over that partition-
      count-bounded frame only. Empty partitions (the range partitioner
      can produce them) are skipped by ranking non-empty partitions
      densely before pairing.

    `keys` must be non-null and a total order (ties would make the
    pairing partitioning-dependent — same contract as block_row_number).
    Output: one row per consecutive pair, `carry` + `carry2` columns."""
    spark = df.sparkSession
    p = parts or spark.sparkContext.defaultParallelism
    b = (
        df.repartitionByRange(p, *[F.col(c) for c in keys])
        .sortWithinPartitions(*keys)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    wloc = Window.partitionBy("__pid").orderBy(*keys)
    lead_cols = [F.lead(c).over(wloc).alias(f"{c}2") for c in carry]
    within = b.select(*carry, *lead_cols).where(
        F.col(f"{carry[0]}2").isNotNull()
    )
    # partition-boundary stitch: each partition's extreme rows via ONE
    # sort-free aggregate (min/max over the key-leading struct — the
    # keys are a total order, so the struct comparison never reaches
    # the carried trailing fields ambiguously; partial map-side
    # aggregation emits one row per partition before the exchange).
    # The stitch windows below run over <= `p` rows.
    srt = F.struct(*[F.col(k) for k in keys], *[F.col(c) for c in carry if c not in keys])
    ends = b.groupBy("__pid").agg(
        F.min(srt).alias("__lo"), F.max(srt).alias("__hi")
    )
    wseq = Window.orderBy("__pid")
    lasts_j = ends.select("__pid", "__hi").withColumn(
        "__j", F.row_number().over(wseq)
    )
    firsts_j = ends.select("__pid", "__lo").withColumn(
        "__j", F.row_number().over(wseq) - 1
    )
    boundary = lasts_j.join(firsts_j, "__j").select(
        *[F.col(f"__hi.{c}").alias(c) for c in carry],
        *[F.col(f"__lo.{c}").alias(f"{c}2") for c in carry],
    )
    return within.unionByName(boundary)


def block_running_sum(
    df: DataFrame,
    part: str,
    cols: list[str],
    val: str,
    out: str = "cum",
    parts: int | None = None,
) -> DataFrame:
    """Distributed per-group INCLUSIVE running sum of `val` over `cols`
    (ascending, a total order within `part`) with no group-sized
    single-partition window: range-partition on (part, cols) so each
    group's order is split across consecutive partitions, local cumsum
    per (partition, group) in parallel, then add each (partition,
    group)'s exclusive prefix of per-partition group sums — the offsets
    window is partitioned BY GROUP over partition ids, a frame bounded
    by the partition count, never by group size.  Bit-identical to
    `sum(val) OVER (PARTITION BY part ORDER BY cols ROWS UNBOUNDED
    PRECEDING)` because equal keys never straddle a range boundary and
    BIGINT addition is associative.  `val` must be integral (exactness
    contract); keys must be non-null."""
    spark = df.sparkSession
    p = parts or spark.sparkContext.defaultParallelism
    keys = [part, *cols]
    b = (
        df.repartitionByRange(p, *[F.col(c) for c in keys])
        .sortWithinPartitions(*keys)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    wloc = Window.partitionBy("__pid", part).orderBy(*cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    loc = b.withColumn("__lc", F.sum(val).over(wloc))
    woff = (
        Window.partitionBy(part)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        b.groupBy("__pid", part)
        .agg(F.sum(val).alias("__ps"))
        .withColumn("__off", F.coalesce(F.sum("__ps").over(woff), F.lit(0)))
        .select("__pid", part, "__off")
    )
    return (
        loc.join(F.broadcast(offs), ["__pid", part])
        .withColumn(out, (F.col("__lc") + F.col("__off")).cast("long"))
        .drop("__pid", "__lc", "__off")
    )


def _suffix_seed_windows(
    df: DataFrame, text_col: str, id_col: str, max_tokens: int, g: int
) -> DataFrame:
    """(d, i, n, key): the g-token clamped window at every position,
    encoded as one string with a char(31) joiner. 0x1F sorts below every
    token character ([a-z0-9]+), and a clamped (shorter) window is a
    strict prefix of nothing — trailing joiners never appear — so string
    order on `key` == token-sequence order with end-of-string lowest:
    exactly the sentinel order of the doubling recurrence, which makes a
    dense rank over `key` a valid rank_g table."""
    toks_sql = f"slice({tokens_expr(text_col)}, 1, {max_tokens})"
    return (
        df.where(F.expr(f"size({tokens_expr(text_col)}) >= 1"))
        .select(F.col(id_col).alias("d"), F.expr(toks_sql).alias("__toks"))
        .select(
            "d",
            F.expr("size(__toks)").alias("n"),
            F.posexplode(
                F.expr(
                    "transform(sequence(1, size(__toks)),"
                    f" j -> array_join(slice(__toks, j, {g}), char(31)))"
                )
            ).alias("j", "key"),
        )
        .select("d", "n", (F.col("j") + F.lit(1)).cast("int").alias("i"), "key")
    )


def suffix_array_ranks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = SA_MAX_TOKENS,
    seed_g: int = 1,
    ladder_top: int | None = None,
) -> tuple[int, DataFrame]:
    """Prefix-ladder rank table (k, (d, i, n, r)) for the first level
    k = seed_g * 4^m >= ladder_top (default max_tokens; at max_tokens the
    table is the suffix array order). Per round one per-doc lead window
    + one block dense rank — integer-only shuffles; block_dense_rank's
    internal checkpoint cuts lineage every round.

    The seed (a power of two) is ONE dense rank over seed_g-token window
    strings: the seeding exchange ships ~g tokens per position instead
    of integers — at 270k positions that's comparable bytes to the three
    integer doubling rounds it replaces, for a third of the stage
    barriers. The ladder then QUADRUPLES — rank_4k from the 4-tuple
    (r_k[i], r_k[i+k], r_k[i+2k], r_k[i+3k]) — an order as valid as
    doubling (lexicographic tuple of consecutive k-windows == the
    4k-window order, sentinel 0 for positions past the end) in half the
    rounds.

    ladder_top lets a caller that finishes the ordering itself (the
    fused row-number pass of adjacent_suffix_lcp) stop early — the token
    arrays are still truncated at max_tokens, only the round count
    changes."""
    if seed_g & (seed_g - 1):
        raise ValueError(f"suffix_array_ranks: seed_g must be a power of 2, got {seed_g}")
    stop = max_tokens if ladder_top is None else min(ladder_top, max_tokens)
    # r13: the seed-window frame (tokenize + per-position string windows)
    # is the most expensive input of the ladder and the range partitioner
    # computes it twice (sampling sketch + the shuffle itself) — cut it
    # once.
    seedw = _suffix_seed_windows(
        df, text_col, id_col, max_tokens, seed_g
    ).localCheckpoint(eager=False)
    cur = block_dense_rank(seedw, ["key"], out="r").select("d", "n", "i", "r")
    k = seed_g
    wd = Window.partitionBy("d").orderBy("i")
    while k < stop:
        paired = cur
        keys = ["r"]
        for j in range(1, 4):
            paired = paired.withColumn(
                f"__r{j}", F.coalesce(F.lead("r", j * k).over(wd), F.lit(0))
            )
            keys.append(f"__r{j}")
        cur = block_dense_rank(paired, keys, out="__rn").select(
            "d", "n", "i", F.col("__rn").alias("r")
        )
        k *= 4
    return k, cur


def adjacent_suffix_lcp(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = SA_MAX_TOKENS,
) -> DataFrame:
    """(da, ia, db, ib, lcp): each consecutive suffix pair in suffix-array
    order (ties between identical suffixes broken by (d, i)) with its
    exact token LCP. max over lcp == the longest repeated token span in
    the corpus (the suffix-array theorem); the lcp distribution is the
    repeated-span length distribution Lee et al. threshold on.

    The LCP tail joins each side of the adjacency frame back to its
    document's token array and compares the two max_tokens-bounded
    windows in ONE whole-stage-codegen expression (zip_with +
    array_position): two corpus-linear equi-joins, rows bounded by
    max_tokens. Since it reads no intermediate rank table, the rank
    ladder seeds at g = the largest power of two <= min(8, max_tokens).

    The tail of the ladder is FUSED into the final ordering pass: the
    top-level dense rank existed only to be the suffix-array sort key,
    and the level-k key TUPLE (r[i], r[i+k], ..., r[i+(m-1)k], d, i)
    with m*k >= max_tokens is the identical total order (lexicographic
    comparison of consecutive k-window ranks covering the whole
    truncated suffix == the truncated-suffix order, sentinel 0 for
    positions past the end; dense_rank is order-isomorphic to its key).
    r13 fused the LAST quadrupling round (m = 4); r14 widens the fuse to
    m <= _FUSE_ARITY = 16 rank keys, so at the default (max_tokens=128,
    seed g=8) the ladder stops AT THE SEED and the intermediate
    quadrupling block pass disappears entirely: one dense rank over
    g-token windows + ONE lead window (15 leads, a single window node /
    one exchange by d) + one adjacency pass — guide §2.4, remove
    shuffles outright. Byte accounting: the fused exchange carries m
    ints per position ONCE where the ladder shipped 4 ints per position
    through every remaining round's two exchanges — fewer barriers at
    comparable shuffle bytes.

    Adjacent pairs come straight off the range-partitioned sort
    (block_adjacent_pairs, r14): the old shape materialized a block row
    number, localCheckpointed the suffix frame and self-joined it on
    (rn, rn-1) — the offsets aggregate, the checkpoint (whose lazy form
    still pays full physical planning + AQE stage execution at call
    time) and two hash exchanges of the whole frame, all replaced by a
    per-partition lead() plus a partition-count-bounded boundary
    stitch."""
    g = 1 << (min(8, max_tokens).bit_length() - 1)
    top_needed = g
    while _FUSE_ARITY * top_needed < max_tokens:
        top_needed *= 4
    k, paired = suffix_array_ranks(
        df, text_col, id_col, max_tokens, seed_g=g, ladder_top=top_needed
    )
    keys = ["r"]
    wd = Window.partitionBy("d").orderBy("i")
    arity = min(_FUSE_ARITY, -(-max_tokens // k))  # ceil, >= 1
    for j in range(1, arity):
        paired = paired.withColumn(
            f"__r{j}", F.coalesce(F.lead("r", j * k).over(wd), F.lit(0))
        )
        keys.append(f"__r{j}")
    # adjacency DIRECTLY off the range-partitioned sort (r14, guide
    # §2.4): the old shape materialized a row number (offsets aggregate
    # + broadcast join), checkpointed the frame, and self-joined it on
    # (rn, rn-1) — two more hash exchanges of the whole suffix frame.
    # Consecutive-pair extraction needs none of that: pairs are adjacent
    # rows of the range sort itself (+ a partition-count-bounded
    # boundary stitch).
    adj = block_adjacent_pairs(paired, [*keys, "d", "i"], carry=["d", "i", "n"]).select(
        F.col("d").alias("da"),
        F.col("i").alias("ia"),
        F.col("n").alias("na"),
        F.col("d2").alias("db"),
        F.col("i2").alias("ib"),
        F.col("n2").alias("nb"),
    )
    toks_sql = f"slice({tokens_expr(text_col)}, 1, {max_tokens})"
    # consumed twice (da and db sides): tokenize the corpus once
    docs = (
        df.where(F.expr(f"size({tokens_expr(text_col)}) >= 1"))
        .select(F.col(id_col).alias("d"), F.expr(toks_sql).alias("__t"))
        .localCheckpoint(eager=False)
    )
    out = (
        adj.join(docs.select(F.col("d").alias("da"), F.col("__t").alias("__ta")), "da")
        .join(docs.select(F.col("d").alias("db"), F.col("__t").alias("__tb")), "db")
        .withColumn("__m", F.least(F.col("na") - F.col("ia") + 1, F.col("nb") - F.col("ib") + 1))
        # Spark array_position, like duckdb list_position, returns 0
        # on no-match: all-equal windows coalesce to the full min
        # length (identical suffixes), not to -1.
        .withColumn(
            "lcp",
            F.expr(
                "CAST(coalesce(nullif(array_position("
                " zip_with(slice(__ta, ia, __m), slice(__tb, ib, __m),"
                "          (x, y) -> x = y), false), 0) - 1, __m) AS INT)"
            ),
        )
    )
    return out.select("da", "ia", "db", "ib", "lcp")
