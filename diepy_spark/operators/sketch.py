"""Distinct-count sketching: K-Minimum-Values (KMV) estimator.

The reference has no aggregation surface at all (SURVEY.md §2.5); sketches
are part of the north-star extension set (cardinality estimation over
100 TB document corpora where an exact COUNT(DISTINCT) is a full shuffle of
every distinct value).

Why KMV instead of HyperLogLog here: KMV over a *deterministic* hash (md5)
yields bit-identical estimates in any engine that can hash and sort — which
makes it oracle-checkable against DuckDB, unlike HLL whose register layouts
differ per implementation. The estimator is the classic
``(k-1) / h_(k)`` of Bar-Yossef et al. (2002), with ``h_(k)`` the k-th
smallest hash mapped into [0, 1).

Portability contract: the hex→fraction map uses only ``instr``/``substr``/
``power`` with exactly-representable binary terms (digit * 16^-i =
digit * 2^-4i, 8 nibbles = 32 bits < 53-bit mantissa), so Spark and DuckDB
compute the SAME double, term for term. `_hex_frac_sql` is shared verbatim
by the Spark plan (via `F.expr`) and the DuckDB oracle.

Scale design: the only shuffle is the per-group distinct of hashes, which
has map-side partial aggregation; the window top-k that follows touches
distinct hashes only. At extreme cardinality you would swap the distinct
for a bounded-memory per-partition top-k aggregator (same estimator, same
answer); the operator's API would not change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "kmv_distinct",
    "hex_frac_sql",
    "hex_int_sql",
    "cms_position_sql",
    "cms_cells",
    "cms_estimate",
    "kmv_set_overlap",
]

_HEX = "0123456789abcdef"


def hex_frac_sql(col: str, nibbles: int = 8) -> str:
    """SQL expression mapping the first `nibbles` hex chars of `col` to a
    double in [0, 1). Valid and bit-identical in both Spark SQL and DuckDB."""
    terms = [
        f"(instr('{_HEX}', substr({col},{i},1))-1)*power(16.0,-{i})"
        for i in range(1, nibbles + 1)
    ]
    return " + ".join(terms)


def hex_int_sql(col: str, nibbles: int = 8, start: int = 1) -> str:
    """SQL expression for the integer value of the `nibbles` hex chars of
    `col` from 1-based `start` on, in [0, 16^nibbles) — the integer
    sibling of hex_frac_sql for deterministic modular choices (random-walk
    steps, bucket picks, bloom/CMS slice positions, digests). String
    instr arithmetic only, so bit-identical in Spark SQL and DuckDB. Up to
    4 nibbles the expression is INT arithmetic; longer slices multiply by
    BIGINT literals (15 nibbles stay under 2^60, exact in BIGINT)."""
    terms = []
    for i in range(nibbles):
        w = 16 ** (nibbles - 1 - i)
        w_sql = str(w) if nibbles <= 4 else f"CAST({w} AS BIGINT)"
        terms.append(f"(instr('{_HEX}', substr({col},{start + i},1))-1)*{w_sql}")
    return "(" + " + ".join(terms) + ")"


def kmv_distinct(
    df: DataFrame,
    on: list[str],
    value_col: str,
    k: int = 64,
    include_exact: bool = False,
) -> DataFrame:
    """Per-group distinct-count estimate via K-Minimum-Values over
    ``md5(value_col)``. Groups with fewer than k distinct values report the
    exact count (the sketch is lossless below its capacity).

    Output: ``on`` + ``kmv_estimate`` (double, rounded to 4 decimals), plus
    ``n_distinct_true`` when ``include_exact`` (cheap here — the distinct
    set is already materialized to rank it).
    """
    hv = df.select(*on, F.md5(F.col(value_col).cast("string")).alias("h")).distinct()
    w = Window.partitionBy(*on).orderBy("h")
    ranked = hv.select(
        *on,
        F.expr(hex_frac_sql("h")).alias("f"),
        F.row_number().over(w).alias("rn"),
    )
    est = F.when(F.count(F.lit(1)) < k, F.count(F.lit(1)).cast("double")).otherwise(
        F.lit(float(k - 1)) / F.max(F.when(F.col("rn") == k, F.col("f")))
    )
    aggs = [F.round(est, 4).alias("kmv_estimate")]
    if include_exact:
        aggs.insert(0, F.count(F.lit(1)).alias("n_distinct_true"))
    return ranked.groupBy(*on).agg(*aggs)


# ---------------------------------------------------------------------------
# HyperLogLog with a portable register layout
# ---------------------------------------------------------------------------

HLL_M = 256  # registers: bucket = first two md5 nibbles

# Flajolet et al. 2007 bias constant for m >= 128, computed ONCE in Python
# and embedded as the same double literal in both engines.
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)


def hll_bucket_sql(col: str, m: int = HLL_M) -> str:
    """Register index 0..m-1 from the first two hex nibbles of md5 column
    `col` (m must divide 256; the mod of a uniform 0..255 stays uniform).
    Valid and bit-identical in Spark SQL and DuckDB."""
    if 256 % m:
        raise ValueError(f"hll_bucket_sql: m={m} must divide 256")
    two = hex_int_sql(col, 2)
    return two if m == HLL_M else f"({two} % {m})"


# Flajolet et al. 2007 alpha_m for the small register counts the HLL
# formula's asymptotic alpha (HLL_ALPHA above) doesn't cover; embedded as
# the same double literals in both engines (they tune bias, not equality).
HLL_SMALL_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def hll_alpha(m: int) -> float:
    """Bias constant for m registers: Flajolet's published constants for
    m < 128, the asymptotic formula otherwise."""
    return HLL_SMALL_ALPHA.get(m, 0.7213 / (1 + 1.079 / m))


def hll_rho_sql(col: str) -> str:
    """Leading-zero rank (rho) of the 32-bit window in hex nibbles 3..10 of
    md5 column `col`: 1 + count of leading zero bits, 33 if all-zero.

    Computed via STRING ops (strip leading '0' nibbles, then a 4-entry
    CASE on the first nonzero nibble) instead of floor(log2(x)) — log2
    rounds up to the next integer for x just below a power of two at the
    top of the 53-bit mantissa, while string arithmetic is exact in both
    engines. The 32-bit window (not the full 128) keeps every register
    term 2^-rho >= 2^-33, so the register SUM spans < 53 bits of binary
    magnitude and is EXACT (order-independent) — a wider window would make
    the sum's low bits depend on aggregation order and break cross-engine
    hash equality."""
    stripped = f"regexp_replace(substr({col},3,8), '^0+', '')"
    d1 = f"substr({stripped},1,1)"
    clz4 = (
        f"(CASE WHEN {d1} = '1' THEN 3 WHEN {d1} IN ('2','3') THEN 2 "
        f"WHEN {d1} IN ('4','5','6','7') THEN 1 ELSE 0 END)"
    )
    return (
        f"(CASE WHEN {stripped} = '' THEN 33 "
        f"ELSE 4*(8 - length({stripped})) + {clz4} + 1 END)"
    )


def hll_distinct(
    df: DataFrame,
    on: list[str],
    value_col: str,
    include_exact: bool = False,
) -> DataFrame:
    """Per-group distinct-count estimate via a REPRODUCIBLE HyperLogLog:
    md5-derived registers (hll_bucket_sql/hll_rho_sql) with the standard
    alpha_m bias constant and small-range linear counting. Unlike Spark's
    approx_count_distinct (whose HLL++ register layout is
    implementation-private), every intermediate here is portable SQL — the
    DuckDB oracle reproduces the estimate bit-for-bit (see the exact-sum
    argument in hll_rho_sql), making the sketch itself testable.

    Scale: NO distinct pre-shuffle (HLL absorbs duplicates by max) — one
    (group, bucket) aggregation with map-side combine carrying at most
    m=256 rows per group, then a per-group fold. This is the sketch to use
    when KMV's distinct materialization is too expensive.

    Output: ``on`` + ``hll_estimate`` (double, rounded to 4 decimals; the
    only non-exact step is linear counting's ln(), identical to <1 ulp
    across libm implementations — far inside the rounding guard), plus
    ``n_exact`` when ``include_exact``.
    """
    m, alpha = HLL_M, HLL_ALPHA
    h = df.select(*on, F.md5(F.col(value_col).cast("string")).alias("h"))
    reg = (
        h.select(
            *on,
            F.expr(hll_bucket_sql("h")).alias("bucket"),
            F.expr(hll_rho_sql("h")).alias("rho"),
        )
        .groupBy(*on, "bucket")
        .agg(F.max("rho").alias("mr"))
    )
    agg = reg.groupBy(*on).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("mr"))).alias("s"),
        F.count(F.lit(1)).alias("nb"),
    )
    raw = F.lit(alpha * m * m) / (F.col("s") + (F.lit(m) - F.col("nb")))
    v = F.lit(m) - F.col("nb")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0), F.lit(float(m)) * F.log(F.lit(m) / v)
    ).otherwise(raw)
    out = agg.select(*on, F.round(est, 4).alias("hll_estimate"))
    if include_exact:
        exact = df.groupBy(*on).agg(F.countDistinct(value_col).alias("n_exact"))
        out = exact.join(out, on).select(*on, "n_exact", "hll_estimate")
    return out


def hll_oracle_sql(
    table: str, on: str, value_col: str, include_exact: bool = False
) -> str:
    """DuckDB SQL computing hll_distinct's EXACT output (same register
    layout, same fold, same literals) for the oracle gate. `on` is a single
    group column name."""
    m, alpha = HLL_M, HLL_ALPHA
    exact_col = f"count(DISTINCT {value_col}) AS n_exact, " if include_exact else ""
    exact_sel = "e.n_exact, " if include_exact else ""
    return f"""
    WITH h AS (SELECT {on}, md5(CAST({value_col} AS VARCHAR)) AS h FROM {table}),
    r AS (SELECT {on}, {hll_bucket_sql('h')} AS bucket, {hll_rho_sql('h')} AS rho FROM h),
    reg AS (SELECT {on}, bucket, max(rho) AS mr FROM r GROUP BY 1, 2),
    agg AS (SELECT {on}, sum(power(2.0, -mr)) AS s, count(*) AS nb FROM reg GROUP BY 1),
    est AS (
      SELECT {on},
             CASE WHEN {alpha * m * m!r} / (s + ({m} - nb)) <= {2.5 * m!r}
                       AND ({m} - nb) > 0
                  THEN {float(m)!r} * ln({m} / ({m} - nb))
                  ELSE {alpha * m * m!r} / (s + ({m} - nb)) END AS e
      FROM agg
    ),
    ex AS (SELECT {on}, {exact_col}1 AS one FROM {table} GROUP BY {on})
    SELECT est.{on}, {exact_sel}ROUND(est.e, 4) AS hll_estimate
    FROM est JOIN ex e USING ({on})
    """


def cms_position_sql(key_sql: str, seed: str, row: int, w: int) -> str:
    """Column index of CMS row `row` for `key_sql` in a width-`w` sketch —
    one 4-nibble md5 slice per row, valid in Spark SQL and DuckDB alike
    (same slice scheme as operators/bloom.py). `w` must divide 16**4."""
    if 16 ** 4 % w != 0:
        raise ValueError(f"w={w} must divide 65536 for uniform slices")
    md5 = f"md5(concat('{seed}:', CAST({key_sql} AS STRING)))"
    return f"({hex_int_sql(md5, 4, 1 + 4 * row)} % {w})"


def cms_cells(
    df: DataFrame,
    key_col: str,
    d: int = 3,
    w: int = 1024,
    seed: str = "cms",
    weight_col: str | None = None,
) -> DataFrame:
    """Count-min sketch build: aggregate `df` into d*w cells
    (``r``, ``c``, ``cnt``). ONE shuffle of (r, c) pairs — map-side
    combined down to at most d*w rows per task regardless of input size;
    the sketch itself is a few KB and independent of cardinality. This is
    the mergeable-summary property that makes CMS the 100 TB frequency
    instrument: shard sketches add cell-wise.

    weight_col: build from PRE-AGGREGATED (key, count) rows instead of
    the raw ledger — cnt per cell becomes sum(weight), bit-identical to
    counting the raw rows (a cell's count is the sum of its keys'
    multiplicities), so a caller that already holds exact key counts
    never re-streams the ledger through the sketch."""
    rows = [
        F.struct(
            F.lit(i).alias("r"),
            F.expr(cms_position_sql(key_col, seed, i, w)).alias("c"),
        )
        for i in range(d)
    ]
    wcol = (
        F.count(F.lit(1)).alias("cnt")
        if weight_col is None
        else F.sum("__w").alias("cnt")
    )
    sel = [F.explode(F.array(*rows)).alias("p")] + (
        [] if weight_col is None else [F.col(weight_col).alias("__w")]
    )
    return (
        df.select(*sel)
        .select("p.r", "p.c", *([] if weight_col is None else ["__w"]))
        .groupBy("r", "c")
        .agg(wcol)
    )


def cms_estimate(
    keys: DataFrame, cells: DataFrame, key_col: str, d: int = 3, w: int = 1024,
    seed: str = "cms",
) -> DataFrame:
    """Point-frequency estimates for `keys`: min over the d cells each key
    hashes to. `cells` is sketch-sized — broadcast it; the probe is d
    broadcast lookups per key, no shuffle. Estimates are exact-or-over,
    never under (the CMS guarantee)."""
    out = keys
    for i in range(d):
        ci = cells.select(
            F.col("r"), F.col("c"), F.col("cnt").alias(f"cnt_{i}")
        ).where(F.col("r") == i).drop("r")
        pos = F.expr(cms_position_sql(key_col, seed, i, w))
        out = out.join(F.broadcast(ci), pos == ci.c, "left").drop("c")
    est = F.least(*[F.coalesce(F.col(f"cnt_{i}"), F.lit(0)) for i in range(d)])
    return out.withColumn("cms_est", est).drop(*[f"cnt_{i}" for i in range(d)])


def kmv_set_overlap(
    items: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 64,
    seed: str = "kmvo",
) -> DataFrame:
    """Set-operation estimates BETWEEN groups from KMV sketches — the
    corpus-overlap instrument: estimate |A ∪ B| and |A ∩ B| for every
    group pair from k-minimum-value samples instead of a full
    distinct-join (at 100 TB you sketch each crawl in one pass and
    estimate the dedup benefit between crawls without ever joining them).

    Estimator (Beyer et al., SIGMOD'07 KMV set arithmetic): over each
    pair's UNION of distinct values, take the k smallest md5 fractions;
    with θ = the k-th smallest, |A∪B| ≈ (k-1)/θ and |A∩B| ≈ (m/k)·(k-1)/θ
    where m counts sampled values present in BOTH groups. Below capacity
    (union smaller than k) both estimates are exact by construction.

    Input: `items` = DISTINCT (group, value) pairs. Output per unordered
    group pair: exact union/overlap (the calibration truth — drop these
    at scale) and the KMV estimates, all deterministic (md5 fractions,
    ties broken by value).

    Scale: the pair expansion joins items against the |groups|²-sized
    pair list (broadcast); the per-pair top-k is one window with rank
    pushdown. Exact counts ride the same aggregate."""
    from pyspark.sql import Window

    g = items.select(
        F.col(group_col).alias("g"), F.col(value_col).cast("string").alias("v")
    ).distinct()
    pairs = (
        g.select(F.col("g").alias("ga")).distinct()
        .crossJoin(g.select(F.col("g").alias("gb")).distinct())
        .where(F.col("ga") < F.col("gb"))
    )
    frac = F.expr(hex_frac_sql(f"md5(concat('{seed}:', v))"))
    tok = g.withColumn("frac", frac)
    pa = pairs.join(tok, tok.g == pairs.ga).select(
        "ga", "gb", "v", "frac", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    )
    pb = pairs.join(tok, tok.g == pairs.gb).select(
        "ga", "gb", "v", "frac", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
    )
    u = (
        pa.unionByName(pb)
        .groupBy("ga", "gb", "v")
        .agg(
            F.max("in_a").alias("in_a"),
            F.max("in_b").alias("in_b"),
            F.first("frac").alias("frac"),
        )
    )
    exact = u.groupBy("ga", "gb").agg(
        F.count(F.lit(1)).alias("exact_union"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("exact_overlap"),
    )
    w = Window.partitionBy("ga", "gb").orderBy("frac", "v")
    sk = (
        u.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .groupBy("ga", "gb")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("frac").alias("theta"),
            F.sum(F.col("in_a") * F.col("in_b")).alias("m"),
        )
    )
    est_union = F.when(F.col("n") < k, F.col("n").cast("double")).otherwise(
        (F.lit(k - 1)) / F.col("theta")
    )
    est_overlap = F.when(F.col("n") < k, F.col("m").cast("double")).otherwise(
        F.col("m") * ((F.lit(k - 1)) / F.col("theta")) / F.lit(k)
    )
    return exact.join(sk, ["ga", "gb"]).select(
        "ga",
        "gb",
        "exact_union",
        F.round(est_union, 2).alias("est_union"),
        "exact_overlap",
        F.round(est_overlap, 2).alias("est_overlap"),
    )
