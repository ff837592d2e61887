"""Similarity search over embedding columns (SURVEY §2.6 X3).

Embeddings are `array<float>` columns. Exact search where every stream
row meets every small-side row (`cosine_topk`, `ivf_assign`: the
`on=None` case of `topk_by_cosine`) scores each Arrow batch of the stream
in one vectorized numpy pass (`mapInArrow`, one Python worker per task).
Every other score — keyed searches, `cosine_pairs`, per-pair `cosine()`
— is computed with built-in higher-order functions (zip_with + aggregate,
JVM-side, no UDF); the scale paths (LSH buckets, IVF cells) score only
same-bucket / same-cell pairs.

Two ways to score a pair, by how many partners a vector meets:

- Norm column (`_norm` as a column, then `cosine_normed`; top-k searches
  go through `topk_by_cosine`): when a vector is scored against many
  partners (top-k search, all-pairs, bucket and cell joins), compute each
  side's norm ONCE as a column before the join, so each scored pair
  costs a single dot product. Every search and pair operator in this
  module uses this form.
- Per-pair `cosine(a, b)`: when every vector meets O(1) partners (a
  bounded pair list joined back to the embeddings table), computing the
  norms inside the pair expression touches only the paired vectors,
  while a norm column added before the join would cover the whole table.

All three spellings (the Arrow kernel included) give bit-identical
values: the same float32 products, the same double fold order, one
division, then rounding. A pair with a zero vector scores NULL rather
than raising DIVIDE_BY_ZERO under ANSI mode — the division is
`try_divide`, matching the DuckDB oracle's NULL for `x / 0.0` — as does a
pair with a NULL embedding or of two different lengths; NULL ranks last
(`cos DESC NULLS LAST`).

Determinism: cosine values are rounded before any ranking so that top-k
order (rounded score desc, id asc) is stable across engines and runs.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from diepy_spark.operators.dedup import _ident


def _dot(a: str, b: str):
    """Dot product of two array<float> columns BY NAME. expr-string form:
    the Python-lambda higher-order API is ~10x slower (see dedup.tokens_expr
    note). The elementwise product stays in FLOAT (x*y on float32) before
    widening into the double accumulator — DuckDB multiplies unnested floats
    the same way, keeping cosine values bit-aligned with the oracle."""
    return F.expr(
        f"aggregate(zip_with({_ident(a)}, {_ident(b)}, (x, y) -> x * y), "
        f"0.0D, (acc, v) -> acc + v)"
    )


def _norm(a: str):
    return F.sqrt(_dot(a, a))


def cosine(a: str, b: str) -> Column:
    """Cosine of two vector columns, computing both norms for this pair.

    Use it only where each vector meets O(1) partners; in a join where a
    vector meets many partners, give each side a `_norm` column first and
    score with `cosine_normed`. A zero vector scores NULL (`try_divide`),
    never a DIVIDE_BY_ZERO error."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def cosine_normed(a: str, b: str, na: str, nb: str) -> Column:
    """Cosine of vector columns `a`, `b` whose norms are already the
    columns `na`, `nb`: one dot product per pair. Same value as
    cosine(a, b), bit for bit; a zero norm scores NULL."""
    return F.try_divide(_dot(a, b), F.col(na) * F.col(nb))


def topk_by_cosine(
    stream: DataFrame,
    small: DataFrame,
    *,
    vecs: tuple[str, str],
    per: str,
    tie: str,
    k: int,
    on: str | Column | None = None,
) -> DataFrame:
    """Pair `stream` with the broadcast-sized `small`, score each pair by
    rounded cosine `cos` and keep the top `k` rows per `per` as rank `rk`
    (order: cos desc with NULLs last, then `tie` asc — rank ties
    impossible). `vecs` names the vector column of (`stream`, `small`).

    `on` is the join key or condition. With `on`, each side gets its norm
    as a column before a broadcast join, so each pair costs one dot
    product; the result holds every joined column (norms `_ns`, `_nb`
    included) plus `cos` and `rk`.

    With `on=None` every stream row meets every small row. `small` is
    collected once and each Arrow batch of `stream` is scored by
    `_arrow_topk` in one `mapInArrow` pass, with the same float arithmetic
    as `cosine_normed` (bit-identical scores, NULLs and NaNs); a batch
    emits only the pairs that can still reach the top `k`. The result
    holds every column of both sides plus `cos` and `rk`. Building the
    plan runs the collect of `small`.

    Either way the `rk <= k` filter over row_number lets Spark plan a
    partial top-k (WindowGroupLimit) before the window shuffle."""
    sv, bv = vecs
    if on is None:
        scored = _arrow_topk(stream, small, sv, bv, per, k)
    else:
        s = stream.withColumn("_ns", _norm(sv))
        b = F.broadcast(small.withColumn("_nb", _norm(bv)))
        scored = s.join(b, on).withColumn("cos", cosine_normed(bv, sv, "_nb", "_ns"))
    w = Window.partitionBy(per).orderBy(F.col("cos").desc(), F.col(tie))
    return (
        scored.withColumn("cos", F.round("cos", 4))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )


# Small-side rows scored per pass over one Arrow batch: the float64
# accumulator holds batch rows x _QUERY_BLOCK scores (20 MB at Spark's
# default 10,000-row batches), however many rows the small side has.
_QUERY_BLOCK = 256

# round(cos, 4) gives two scores the same value only when they lie less
# than its step, 1e-4, apart, so a pair more than that below a batch's
# k-th best score has k pairs of the same batch strictly ahead of it after
# rounding and cannot reach the top k. The 1e-12 covers the error of the
# subtraction and of Spark's decimal rendering of a double.
_ROUND_MARGIN = 1e-4 + 1e-12


def _by_length(arr) -> dict:
    """The vectors of an Arrow list<float> column grouped by length: each
    length maps to (row indices, float32 matrix of those vectors as
    length x rows, float64 norms). A NULL vector, or one with a NULL
    element, is in no group: its norm is NULL, so each of its pairs
    scores NULL."""
    import numpy as np
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    offsets = arr.offsets.to_numpy()
    starts, lengths = offsets[:-1], np.diff(offsets)
    ok = ~arr.is_null().to_numpy(zero_copy_only=False)
    values = arr.values
    if values.null_count:
        nulls = np.concatenate(([0], np.cumsum(values.is_null().to_numpy(zero_copy_only=False))))
        ok &= nulls[offsets[1:]] == nulls[starts]
    flat = values.to_numpy(zero_copy_only=False)
    groups = {}
    for n in np.unique(lengths[ok]).tolist():
        rows = np.flatnonzero(ok & (lengths == n))
        mat = flat[starts[rows][None, :] + np.arange(n)[:, None]]
        sq = np.zeros(len(rows))
        for x in mat:
            sq += x * x
        groups[n] = (rows, mat, np.sqrt(sq))
    return groups


def _dot_grid(a, b):
    """rows x cols dot products of the columns of `a` (length x rows)
    with those of `b` (length x cols): each product in float32, summed
    into float64 in index order — the arithmetic of `_dot`."""
    import numpy as np

    acc = np.zeros((a.shape[1], b.shape[1]))
    prod = np.empty(acc.shape, np.float32)
    for x, y in zip(a, b):
        acc += np.multiply(x[:, None], y[None, :], out=prod)
    return acc


def _arrow_topk(
    stream: DataFrame, small: DataFrame, sv: str, bv: str, per: str, k: int
) -> DataFrame:
    """Every (stream, small) pair's unrounded cosine `cos`, computed per
    Arrow batch of `stream`, keeping only the pairs that can reach the
    top `k` of their `per` key: the pairs within `_ROUND_MARGIN` of the
    batch's k-th best score, every NaN (it ranks first), and NULLs while
    fewer than `k` pairs are not NULL. Filtering on a part of a key's
    pairs — one row of the batch, or one small row in one block — never
    drops a top-k pair, since it drops only pairs with k pairs of that
    part ahead of them."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import DoubleType, StructField, StructType

    table = small.toArrow()
    rows = table.num_rows
    side = [table.column(c).combine_chunks() for c in range(table.num_columns)]
    names = stream.columns + table.column_names + ["cos"]
    by_row = per in stream.columns
    blocks = [
        (lo, _by_length(table.column(bv).slice(lo, _QUERY_BLOCK)))
        for lo in range(0, rows, _QUERY_BLOCK)
    ]
    keep_k = max(k, 1)  # k < 1: the window keeps no row anyway

    def score(batches):
        for batch in batches:
            mine = _by_length(batch.column(sv))
            for lo, theirs in blocks:
                shape = (batch.num_rows, min(_QUERY_BLOCK, rows - lo))
                cos = np.zeros(shape)
                null = np.ones(shape, bool)
                for n in mine.keys() & theirs.keys():
                    (i, a, na), (j, b, nb) = mine[n], theirs[n]
                    den = na[:, None] * nb[None, :]
                    with np.errstate(all="ignore"):
                        cell = np.ix_(i, j)
                        cos[cell] = _dot_grid(a, b) / den
                        null[cell] = den == 0
                nan = np.isnan(cos) & ~null
                valid = ~(null | nan)
                ranked = np.where(valid, cos, -np.inf)
                axis = 1 if by_row else 0
                size = shape[axis]
                kth = -np.inf
                if size > keep_k:
                    kth = np.take(np.partition(ranked, size - keep_k, axis), [size - keep_k], axis)
                short = (~null).sum(axis, keepdims=True) < keep_k
                keep = (valid & (ranked >= kth - _ROUND_MARGIN)) | nan | (null & short)
                ii, jj = np.nonzero(keep)
                yield pa.RecordBatch.from_arrays(
                    [col.take(ii) for col in batch.columns]
                    + [col.take(jj + lo) for col in side]
                    + [pa.array(cos[ii, jj], mask=null[ii, jj])],
                    names=names,
                )

    schema = StructType(
        stream.schema.fields + small.schema.fields + [StructField("cos", DoubleType())]
    )
    return stream.mapInArrow(score, schema)


def cosine_pairs(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.99, max_rows: int = 10_000, force: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (brute force). O(n²) by nature —
    bound the input (filter / LSH bucket) before calling at scale.

    GUARDED: refuses inputs larger than `max_rows` (probed with a
    short-circuiting limit(n+1).count(), so the probe never scans past the
    bound) unless `force=True`. The unbounded O(n²) mistake at 100 TB is a
    cluster-killer; the scale path is lsh_near_dup_pairs in this module.

    Norms are precomputed once per vector (not per pair), cutting the
    per-pair work to a single dot product. The streamed side is
    hash-repartitioned so the O(n²) dot products use every core even when
    the source is one small file."""
    if not force:
        if max_rows is None:
            raise ValueError(
                "cosine_pairs is O(n²): pass max_rows (row bound, probed "
                "cheaply) or force=True, or use lsh_near_dup_pairs for the "
                "full-corpus scale path."
            )
        probed = df.select(id_col).limit(max_rows + 1).count()
        if probed > max_rows:
            raise ValueError(
                f"cosine_pairs input exceeds max_rows={max_rows} (O(n²) "
                "blow-up): filter/bucket the input first, raise max_rows, "
                "pass force=True, or use lsh_near_dup_pairs."
            )
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
    a = df.select(
        F.col(id_col).alias("va"), F.col(vec_col).alias("ea"), _norm(vec_col).alias("na")
    )
    b = df.select(
        F.col(id_col).alias("vb"), F.col(vec_col).alias("eb"), _norm(vec_col).alias("nb")
    )
    return (
        a.join(b, F.col("va") < F.col("vb"))
        .withColumn("cos", F.round(cosine_normed("ea", "eb", "na", "nb"), 4))
        .where(F.col("cos") >= threshold)
        .select("va", "vb", "cos")
    )


def cosine_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 3,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query vector, brute force: (qid, cid,
    cos, rk).

    The queries are collected (they are few; the corpus is the big side)
    and every Arrow batch of the corpus scan is scored against all of
    them in one vectorized pass (`topk_by_cosine` with `on=None`), so the
    corpus is scanned once with no shuffle of its own; the per-query top-k
    is a window over (rounded cos desc, id) — rank ties impossible. A zero
    or NULL vector scores NULL and ranks last. The corpus keeps its scan's
    partitioning: a small corpus is one task and one Python worker."""
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
    return topk_by_cosine(
        c, q, vecs=("cv", "qv"), per="qid", tie="cid", k=k
    ).select("qid", "cid", "cos", "rk")


def lsh_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs over the FULL corpus via LSH blocking: vectors
    are bucketed by hyperplane sign pattern (per-row expression, zero
    shuffle), then only same-bucket pairs are scored — the scale path that
    replaces cosine_pairs' O(n²) with Σ_bucket |b|². True near-dups
    (cos→1) agree on almost every hyperplane sign, so recall at high
    thresholds is excellent; raise num_planes to shrink buckets, lower it
    to raise recall. Pre-shuffled self-join → one exchange, reused.

    Pass `dim` explicitly to keep plan construction job-free (the fallback
    peeks at the first row — one tiny Spark job)."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    v = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    ).select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vv"),
        _norm(vec_col).alias("nn"),
        bucket_expr(vec_col, dim, num_planes).alias("bucket"),
    )
    b = v.repartition(df.sparkSession.sparkContext.defaultParallelism, F.col("bucket"))
    x = b.select(F.col("vid").alias("va"), F.col("vv").alias("ea"), F.col("nn").alias("na"), "bucket")
    y = b.select(F.col("vid").alias("vb"), F.col("vv").alias("eb"), F.col("nn").alias("nb"), "bucket")
    return (
        x.join(y.hint("shuffle_hash"), "bucket")
        .where(F.col("va") < F.col("vb"))
        .withColumn("cos", F.round(cosine_normed("ea", "eb", "na", "nb"), 4))
        .where(F.col("cos") >= threshold)
        .select("va", "vb", "cos")
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int = 1,
) -> DataFrame:
    """(id, cell): assign each vector to its `n` nearest centroids by
    rounded cosine (ties broken by centroid id — deterministic,
    oracle-matching). n=1 is the storage assignment; n>1 is the query-side
    multi-probe list (one row per probed cell).

    IVF coarse quantization: centroids are few (100-65k at scale) and ride
    in as a broadcast; assignment is one narrow pass over the corpus (K dot
    products per row, norms computed once per vector and centroid), then a
    per-vector top-n via window row_number."""
    v = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vv"))
    c = centroids.select(F.col(id_col).alias("cell"), F.col(vec_col).alias("cv"))
    return topk_by_cosine(
        v, c, vecs=("vv", "cv"), per="vid", tie="cell", k=n
    ).select("vid", "cell")


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """IVF-flat approximate top-k: search only the corpus vectors stored
    in the query's `nprobe` nearest cells. At scale this is the classic
    two-level ANN: a broadcast K-centroid quantizer partitions the corpus
    into cells, and each query scans nprobe cells instead of the full
    corpus. Exact within the probed cells; recall rises with nprobe at
    proportional scan cost (x3_ann_recall reports the recall-vs-probe
    tradeoff on both ANN paths). Probe expansion is query-side only —
    the corpus keeps its single-cell storage assignment, and a (query,
    doc) candidate can arise from at most one probed cell, so no dedup
    step is needed."""
    ca = ivf_assign(corpus, centroids, id_col, vec_col)
    qa = ivf_assign(queries, centroids, id_col, vec_col, n=nprobe)
    c = (
        corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .join(ca.withColumnRenamed("vid", "cid"), "cid")
    )
    q = (
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .join(qa.withColumnRenamed("vid", "qid"), "qid")
    )
    return topk_by_cosine(
        c, q, vecs=("cv", "qv"), on="cell", per="qid", tie="cid", k=k
    ).select("qid", "cid", "cos", "rk")


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Per-label mean embedding in long form: (label, i, centroid_val, n) —
    one row per (label, dimension). The centroid-update step of k-means /
    IVF quantizer training, and the class-prototype builder for
    nearest-centroid classification.

    Long form is deliberate: it avoids cross-engine float-array comparison
    (values are rounded AFTER the mean), and the plan is the scalable
    shape — posexplode multiplies rows by dim, then ONE shuffle with
    map-side partial aggregation on (label, i). Re-assembling an array
    column (sort_array(collect_list(...))) is a narrow epilogue when a
    consumer needs it."""
    e = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("i", "x"),
    )
    return (
        e.groupBy("label", "i")
        .agg(
            # + 0.0 canonicalizes IEEE signed zero: round() of a tiny negative
            # mean yields -0.0 in DuckDB but 0.0 in Spark; -0.0 + 0.0 == +0.0
            # in both engines, so the rendered value agrees bit-for-bit.
            (F.round(F.avg(F.col("x").cast("double")), round_to) + F.lit(0.0)).alias(
                "centroid_val"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )


def _plane_component(seed: str, p: int, i: int) -> float:
    """Hyperplane p's component for dimension i: first hex nibble of
    md5(seed|p|i) minus 8 → a deterministic value in {-8..7}. Computed
    driver-side with hashlib (bit-identical to SQL md5 on UTF-8)."""
    return float(int(hashlib.md5(f"{seed}|{p}|{i}".encode()).hexdigest()[0], 16) - 8)


def bucket_expr(
    vec_col: str, dim: int, num_planes: int = 8, seed: str = "ann"
):
    """Random-hyperplane LSH bucket id as a single per-row expression: the
    sign pattern of `num_planes` dot products against deterministic literal
    planes. ZERO shuffle, zero extra jobs — the plane constants fold into
    the plan, so bucketing a 100 TB corpus is one narrow map."""
    terms = []
    for p in range(num_planes):
        lits = ", ".join(f"{_plane_component(seed, p, i)!r}D" for i in range(dim))
        dot = (
            f"aggregate(zip_with({_ident(vec_col)}, array({lits}), (x, y) -> x * y), "
            f"0.0D, (acc, v) -> acc + v)"
        )
        terms.append(f"(case when {dot} >= 0 then {1 << p} else 0 end)")
    return F.expr(f"cast({' + '.join(terms)} as int)")


def bucket_sql(
    vec_expr: str, dim: int, num_planes: int = 8, seed: str = "ann"
) -> str:
    """DuckDB spelling of bucket_expr: the SAME _plane_component constants,
    each dot product written as an explicit left-to-right sum of
    `vec[i] * c::DOUBLE` terms. Left-associative `+` reproduces Spark's
    aggregate() fold order, and FLOAT*DOUBLE promotes identically in both
    engines, so bucket ids are bit-aligned (verified: 0 mismatches over
    every sf and plane count used by the declared queries)."""
    terms = []
    for p in range(num_planes):
        dot = " + ".join(
            f"{vec_expr}[{i + 1}] * {_plane_component(seed, p, i)!r}::DOUBLE"
            for i in range(dim)
        )
        terms.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << p} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS INT)"


def ann_topk_lsh(
    queries: DataFrame, corpus: DataFrame, k: int = 3, num_planes: int = 6,
    id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int | None = None, hamming: int = 0,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's LSH
    bucket(s). At scale this turns a full scan per query into one equi-join
    on bucket id (query side broadcast). Buckets are inline per-row
    expressions — no self-joins, no pre-bucketing shuffle.

    hamming=0 probes the exact bucket (recall < 1.0 by construction);
    hamming=1 is MULTI-PROBE: each query also probes every bucket one
    plane-sign flip away (num_planes + 1 buckets total — the nearest
    neighbors most likely to be lost sit just across one hyperplane, so
    recall rises steeply for a ~(p+1)x candidate cost; x3_ann_recall
    measures it). Probe expansion is a per-row array explode on the
    (broadcast) query side — zero new shuffles; probed buckets are
    distinct and a corpus vector lives in exactly one bucket, so a
    candidate pair arises at most once.

    Pass `dim` explicitly to keep plan construction job-free (the fallback
    peeks at the first row — one tiny Spark job)."""
    if hamming not in (0, 1):
        raise ValueError(f"hamming must be 0 or 1, got {hamming}")
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        bucket_expr(vec_col, dim, num_planes).alias("bucket"),
    )
    if hamming == 1:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(num_planes)],
        )
        q = q.select("qid", "qv", F.explode(probes).alias("bucket"))
    c = corpus.repartition(
        corpus.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    ).select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cv"),
        bucket_expr(vec_col, dim, num_planes).alias("bucket"),
    )
    return topk_by_cosine(
        c, q, vecs=("cv", "qv"), on="bucket", per="qid", tie="cid", k=k
    ).select("qid", "cid", "cos", "rk")


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Scalar int8 quantization of an embedding column — the compression
    step that shrinks a 100 TB float32 vector store 4x before ANN serving:
    per-DIMENSION min/max over the corpus define an affine grid;
    code = floor((x - mn) / (mx - mn) * 255) clamped to [0, 255].

    Two passes, both scale-shaped:
    1. stats: posexplode to (i, x) and aggregate min/max per dimension —
       the shuffle carries only `dim` keys after map-side combine;
    2. apply: the tiny stats table (dim rows) broadcast-joins back to the
       exploded values; codes re-assemble per vector in index order.

    Output: (id_col, q_md5, recon_mse) — md5 over the ordered code string
    (the compact content id) and the reconstruction mean-squared error at
    grid midpoints. The per-vector error fold runs in INDEX order (sorted
    struct array → ordered fold), not aggregation order, so the double sum
    is deterministic and bit-identical to the SQL oracle's ordered
    list_sum. Constant dimensions (mx == mn) code as 0 with zero error.
    """
    u = df.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("i", "x")
    ).select(id_col, "i", F.col("x").cast("double").alias("x"))
    stats = u.groupBy("i").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    coded = u.join(F.broadcast(stats), "i").select(
        id_col,
        "i",
        "x",
        "mn",
        "mx",
        F.when(
            F.col("mx") == F.col("mn"), F.lit(0)
        ).otherwise(
            F.least(
                F.lit(255),
                F.floor((F.col("x") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 255),
            )
        ).cast("int").alias("code"),
    )
    err = (
        F.col("x")
        - (F.col("mn") + (F.col("code") + F.lit(0.5)) * (F.col("mx") - F.col("mn")) / 255)
    )
    per_dim = coded.select(
        id_col, F.struct("i", "code", (err * err).alias("e2")).alias("s")
    )
    arr = per_dim.groupBy(id_col).agg(
        F.array_sort(F.collect_list("s")).alias("ss")
    )
    return arr.select(
        id_col,
        F.md5(F.expr("array_join(transform(ss, s -> cast(s.code as string)), ',')")).alias(
            "q_md5"
        ),
        F.round(
            F.expr("aggregate(transform(ss, s -> s.e2), 0.0D, (acc, v) -> acc + v)")
            / F.size("ss"),
            6,
        ).alias("recon_mse"),
    )


def probe_cells(
    df: DataFrame,
    cents: list[list[int]],
    nprobe: int = 1,
    scale: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vid, xi, cell): each vector's `nprobe` nearest TRAINED cells by
    exact integer squared L2 (ties -> smaller cell id). nprobe=1 is the
    storage assignment of an IVF index; nprobe>1 is the query-side probe
    list. The centroid table rides in as k*dim literals, so cell scoring
    is a zero-shuffle projection regardless of corpus size."""
    from diepy_spark.operators.clustering import (
        centroid_dist_columns,
        quantize_vectors,
    )

    q = quantize_vectors(df, id_col, vec_col, scale)
    scored = q.select(F.col(id_col).alias("vid"), "xi", *centroid_dist_columns(cents))
    pc = F.explode(
        F.array(
            *[
                F.struct(F.lit(j).alias("cell"), F.col(f"d{j}").alias("cdist"))
                for j in range(len(cents))
            ]
        )
    ).alias("pc")
    cells = scored.select("vid", "xi", pc).select("vid", "xi", "pc.cell", "pc.cdist")
    w = Window.partitionBy("vid").orderBy("cdist", "cell")
    return (
        cells.withColumn("prk", F.row_number().over(w))
        .where(F.col("prk") <= nprobe)
        .select("vid", "xi", "cell")
    )


def ivf_topk_trained(
    queries: DataFrame,
    corpus: DataFrame,
    cents: list[list[int]],
    k: int = 3,
    nprobe: int = 1,
    scale: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat top-k over a TRAINED coarse quantizer — the composition the
    build plan called out: clustering.kmeans_centroids_int learns the cells
    (distributed Lloyd's, integer-exact), and search runs entirely on the
    quantized integer grid, so every distance — cell assignment and
    candidate scoring — is bit-identical across engines and partitionings
    (the float-cosine IVF in ivf_topk is exact too, but only because its
    values round to 4dp; here nothing rounds at all).

    Scale shape: corpus vectors score against k*dim centroid LITERALS
    (zero shuffle), land in exactly one cell; the query frame (small by
    definition) expands to nprobe cells and BROADCASTs into the cell join,
    so the 100 TB side never shuffles. A (query, doc) candidate arises
    from at most one probed cell (docs store one cell), so no dedup step.

    Output: (qid, cid, dist, rk) with dist the exact integer squared L2
    on the quantized grid.
    """
    # Corpus assignment is a pure argmin PROJECTION (assign_to_centroids),
    # not probe_cells: probe_cells explodes every vector into k
    # (cell, dist) rows and resolves them with a row_number window
    # partitioned by vid — a k x corpus shuffle that would break the
    # zero-shuffle contract for the 100 TB side. assign_to_centroids
    # breaks ties toward the smaller cell id exactly as probe_cells'
    # orderBy(cdist, cell) does at nprobe=1, so outputs are identical.
    from diepy_spark.operators.clustering import (
        assign_to_centroids,
        quantize_vectors,
    )

    cq = quantize_vectors(corpus, id_col, vec_col, scale)
    # Lineage cut on the assigned corpus: the candidate join and the
    # top-k window's sort stage would otherwise each re-derive the k*dim
    # literal distance forest (the ivfpq_topk measurement). At scale this
    # frame is the stored IVF index — cell-assigned vectors, written once.
    ca = assign_to_centroids(cq, cents, id_col).select(
        F.col(id_col).alias("cid"), F.col("xi").alias("cxi"), F.col("cluster").alias("cell")
    ).localCheckpoint(eager=False)
    qa = probe_cells(queries, cents, nprobe, scale, id_col, vec_col).select(
        F.col("vid").alias("qid"), F.col("xi").alias("qxi"), "cell"
    )
    dist = F.expr(
        "aggregate(zip_with(qxi, cxi, (a, b) -> (a - b) * (a - b)),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    scored = ca.join(F.broadcast(qa), "cell").withColumn("dist", dist)
    w = Window.partitionBy("qid").orderBy("dist", "cid")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("qid", "cid", "dist", "rk")
    )


def pq_codebooks(
    df: DataFrame,
    m: int = 4,
    ncodes: int = 8,
    scale: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[int]]]:
    """Deterministic product-quantization codebooks: split the quantized
    vector into `m` equal subspaces; subspace s's codebook = the s-th
    subvectors of the `ncodes` smallest-id vectors (the same
    deterministic-quantizer trick as x3_ivf_topk's centroids — a TRAINED
    PQ would swap in clustering.kmeans_centroids_int per subspace, same
    shapes). Returns m x ncodes x (dim/m) ints — driver-sized
    (m*ncodes*dim total, a few KB)."""
    from diepy_spark.operators.clustering import quantize_vectors

    q = quantize_vectors(df, id_col, vec_col, scale)
    rows = q.orderBy(id_col).limit(ncodes).select("xi").collect()
    dim = len(rows[0]["xi"])
    assert dim % m == 0, (dim, m)
    sub = dim // m
    return [
        [list(r["xi"][s * sub : (s + 1) * sub]) for r in rows]
        for s in range(m)
    ]


def _pq_sub_dists(books: list[list[list[int]]], s: int):
    """Exact integer squared-L2 columns from subspace s of `xi` to each
    code of subspace s's codebook (slice is 1-indexed in Spark SQL)."""
    sub = len(books[s][0])
    lo = s * sub + 1
    return [
        F.expr(
            "aggregate(zip_with(slice(xi, {lo}, {n}), array({lits}),"
            " (a, b) -> (a - b) * (a - b)),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)".format(
                lo=lo, n=sub, lits=", ".join(f"CAST({c} AS BIGINT)" for c in cv)
            )
        ).alias(f"d{s}_{j}")
        for j, cv in enumerate(books[s])
    ]


def pq_encode(
    df: DataFrame,
    books: list[list[list[int]]],
    scale: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_col, code_0..code_{m-1}): each vector compressed to m small
    code ids — argmin over its subspace's codebook by exact integer
    squared L2, ties -> smaller code. The 100 TB story: dim floats
    become m bytes per vector (here 64 floats -> 4 codes, 64x), and the
    codebooks are plan literals, so encoding is a zero-shuffle
    projection over the corpus scan."""
    from diepy_spark.operators.clustering import quantize_vectors

    q = quantize_vectors(df, id_col, vec_col, scale)
    cols = [c for s in range(len(books)) for c in _pq_sub_dists(books, s)]
    scored = q.select(F.col(id_col), *cols)
    out = [F.col(id_col)]
    for s, book in enumerate(books):
        best = F.least(*[F.col(f"d{s}_{j}") for j in range(len(book))])
        code = F.lit(None).cast("int")
        for j in reversed(range(len(book))):
            code = F.when(F.col(f"d{s}_{j}") == best, F.lit(j)).otherwise(code)
        out.append(code.alias(f"code_{s}"))
    return scored.select(*out)


def pq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    books: list[list[list[int]]],
    k: int = 3,
    scale: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: corpus vectors are stored only
    as their m PQ codes; each query precomputes a lookup table of exact
    integer distances from its own (uncompressed) subvectors to every
    code, and a corpus candidate's approximate distance is m table
    lookups + adds — no float math, no decompression.

    Scale shape: the corpus side carries m small ints per row and never
    shuffles; the query frame (with its m x ncodes LUT arrays) BROADCASTs
    into the scan. This is the PQ promise: approximate brute force over
    the full corpus at bytes-per-vector cost, one narrow pass + a
    per-query top-k window. Output: (qid, cid, dist, rk), all ints."""
    from diepy_spark.operators.clustering import quantize_vectors

    cc = pq_encode(corpus, books, scale, id_col, vec_col).withColumnRenamed(
        id_col, "cid"
    )
    qq = quantize_vectors(queries, id_col, vec_col, scale)
    luts = qq.select(
        F.col(id_col).alias("qid"),
        *[c for s in range(len(books)) for c in _pq_sub_dists(books, s)],
    ).select(
        "qid",
        *[
            F.array(*[F.col(f"d{s}_{j}") for j in range(len(books[s]))]).alias(
                f"lut_{s}"
            )
            for s in range(len(books))
        ],
    )
    dist = None
    for s in range(len(books)):
        term = F.element_at(F.col(f"lut_{s}"), F.col(f"code_{s}") + 1)
        dist = term if dist is None else dist + term
    scored = cc.join(F.broadcast(luts)).withColumn("dist", dist)
    w = Window.partitionBy("qid").orderBy("dist", "cid")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("qid", "cid", "dist", "rk")
    )


def pq_distortion(
    df: DataFrame,
    books: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10_000,
) -> DataFrame:
    """Per-subspace PQ quantization distortion — the instrument that
    justifies a codebook's bit-width BEFORE committing a corpus to m
    bytes/vector: each vector's exact integer squared-L2 error to its
    nearest code per subspace (the same argmin ``pq_encode`` assigns),
    aggregated into (subspace, n_vecs, sse, max_err). Scale shape: the
    per-row error is ``least()`` over plan-literal distance columns —
    zero shuffles on the corpus side; the only exchange is the final
    m-row aggregate. Units are scale^2 integers, so the report
    hash-checks cross-engine; retraining the codebook must drop `sse`,
    and this is where that drop is measured."""
    from diepy_spark.operators.clustering import quantize_vectors

    m = len(books)
    q = quantize_vectors(df, id_col, vec_col, scale)
    errs = q.select(
        *[
            F.least(*_pq_sub_dists(books, s)).alias(f"err_{s}")
            for s in range(m)
        ]
    )
    one = errs.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_vecs"),
        *[
            F.expr(f"CAST(sum(err_{s}) AS BIGINT)").alias(f"sse_{s}")
            for s in range(m)
        ],
        *[
            F.expr(f"CAST(max(err_{s}) AS BIGINT)").alias(f"max_{s}")
            for s in range(m)
        ],
    )
    stack_args = ", ".join(f"{s}, sse_{s}, max_{s}" for s in range(m))
    return one.selectExpr(
        "n_vecs", f"stack({m}, {stack_args}) AS (s, sse, max_err)"
    ).select("s", "n_vecs", "sse", "max_err")


def rq_encode(
    df: DataFrame,
    books1: list[list[list[int]]],
    books2: list[list[list[int]]],
    scale: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """GREEDY two-level residual encoding — the RQ storage write path:
    per subspace, level-1 code by argmin against books1 (ties -> smaller
    code), then level-2 code by argmin of the RESIDUAL against books2.
    Cost is m*(n1+n2) literal distances per vector instead of the
    m*n1*n2 a flat 2-level codebook would pay — that asymmety is the
    reason RQ exists. Output: (id_col, code1_0.., code2_0..), all small
    ints, 2m bytes/vector. Zero shuffles (pure projection)."""
    from diepy_spark.operators.clustering import quantize_vectors

    m = len(books1)
    sub = len(books1[0][0])
    q = quantize_vectors(df, id_col, vec_col, scale)
    cols = [c for s_ in range(m) for c in _pq_sub_dists(books1, s_)]
    scored = q.select(F.col(id_col), "xi", *cols)
    sel = [F.col(id_col), F.col("xi")]
    for s_ in range(m):
        best = F.least(*[F.col(f"d{s_}_{j}") for j in range(len(books1[s_]))])
        code = F.lit(0)
        for j in reversed(range(len(books1[s_]))):
            code = F.when(F.col(f"d{s_}_{j}") == best, F.lit(j)).otherwise(code)
        sel.append(code.alias(f"code1_{s_}"))
    coded = scored.select(*sel)
    for s_ in range(m):
        lo = s_ * sub + 1
        resid = None
        for j in range(len(books1[s_])):
            lits = ", ".join(f"CAST({c} AS BIGINT)" for c in books1[s_][j])
            arm = F.expr(
                f"zip_with(slice(xi, {lo}, {sub}), array({lits}),"
                " (a, b) -> a - b)"
            )
            cond = F.col(f"code1_{s_}") == j
            resid = F.when(cond, arm) if resid is None else resid.when(cond, arm)
        coded = coded.withColumn(f"res_{s_}", resid)
        d2 = [
            F.expr(
                "aggregate(zip_with(res_{s}, array({lits}),"
                " (a, b) -> (a - b) * (a - b)),"
                " CAST(0 AS BIGINT), (acc, v) -> acc + v)".format(
                    s=s_,
                    lits=", ".join(
                        f"CAST({c} AS BIGINT)" for c in books2[s_][j]
                    ),
                )
            ).alias(f"e2_{s_}_{j}")
            for j in range(len(books2[s_]))
        ]
        coded = coded.select("*", *d2)
        best2 = F.least(
            *[F.col(f"e2_{s_}_{j}") for j in range(len(books2[s_]))]
        )
        code2 = F.lit(0)
        for j in reversed(range(len(books2[s_]))):
            code2 = F.when(F.col(f"e2_{s_}_{j}") == best2, F.lit(j)).otherwise(
                code2
            )
        coded = coded.withColumn(f"code2_{s_}", code2)
    return coded.select(
        F.col(id_col),
        *[F.col(f"code1_{s_}") for s_ in range(m)],
        *[F.col(f"code2_{s_}") for s_ in range(m)],
    )


def rq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    books1: list[list[list[int]]],
    books2: list[list[list[int]]],
    k: int = 3,
    scale: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-level RQ asymmetric-distance top-k: the corpus is stored as
    greedy (code1, code2) pairs (rq_encode); each query precomputes one
    LUT per subspace of exact integer distances to every COMBINED code
    c1[j1]+c2[j2] (n1*n2 entries — the search-side table is allowed to
    be the full product; only the ENCODE is greedy), and a candidate's
    distance is m lookups + adds. Same broadcast-the-queries shape as
    pq_adc_topk, so the two reports are directly comparable: same
    candidates, finer reconstruction."""
    from diepy_spark.operators.clustering import quantize_vectors

    m = len(books1)
    n2 = len(books2[0])
    books12 = [
        [
            [a + b for a, b in zip(books1[s_][j1], books2[s_][j2])]
            for j1 in range(len(books1[s_]))
            for j2 in range(n2)
        ]
        for s_ in range(m)
    ]
    cc = rq_encode(corpus, books1, books2, scale, id_col, vec_col).select(
        F.col(id_col).alias("cid"),
        *[
            (F.col(f"code1_{s_}") * n2 + F.col(f"code2_{s_}")).alias(
                f"code_{s_}"
            )
            for s_ in range(m)
        ],
    )
    qq = quantize_vectors(queries, id_col, vec_col, scale)
    luts = qq.select(
        F.col(id_col).alias("qid"),
        *[c for s_ in range(m) for c in _pq_sub_dists(books12, s_)],
    ).select(
        "qid",
        *[
            F.array(
                *[F.col(f"d{s_}_{j}") for j in range(len(books12[s_]))]
            ).alias(f"lut_{s_}")
            for s_ in range(m)
        ],
    )
    dist = None
    for s_ in range(m):
        term = F.element_at(F.col(f"lut_{s_}"), F.col(f"code_{s_}") + 1)
        dist = term if dist is None else dist + term
    scored = cc.join(F.broadcast(luts)).withColumn("dist", dist)
    w = Window.partitionBy("qid").orderBy("dist", "cid")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("qid", "cid", "dist", "rk")
    )


def rq_codebooks(
    df: DataFrame,
    books1: list[list[list[int]]],
    scale: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[int]]]:
    """Level-2 RESIDUAL codebooks (the faiss residual-quantizer step):
    for subspace s, the residuals of the seed vectors' subvectors
    against their level-1 assigned code — computed driver-side from the
    same collected seed rows pq_codebooks uses, in exact integer
    arithmetic with the same argmin tie-break (strict < scan, smaller
    code wins) the SQL oracle spells. Same m x ncodes x (dim/m) shape
    as level 1. Code 0 of every subspace is RESERVED as the zero vector
    — the decline-the-correction option that guarantees refinement
    never raises the error (a deterministic stand-in for what a trained
    residual codebook learns); codes 1..ncodes-1 are the residuals of
    the vectors AFTER the level-1 seeds (the level-1 seeds' own
    residuals are identically zero, so they would duplicate code 0)."""
    from diepy_spark.operators.clustering import quantize_vectors

    m = len(books1)
    ncodes = len(books1[0])
    q = quantize_vectors(df, id_col, vec_col, scale)
    rows = q.orderBy(id_col).limit(2 * ncodes - 1).select("xi").collect()[
        ncodes:
    ]
    dim = len(rows[0]["xi"])
    assert dim % m == 0, (dim, m)
    sub = dim // m
    books2: list[list[list[int]]] = []
    for s in range(m):
        lvl = [[0] * sub]
        for r in rows:
            x = list(r["xi"][s * sub : (s + 1) * sub])
            best = None
            bj = 0
            for j, cv in enumerate(books1[s]):
                d = sum((a - b) * (a - b) for a, b in zip(x, cv))
                if best is None or d < best:
                    best, bj = d, j
            lvl.append([a - b for a, b in zip(x, books1[s][bj])])
        books2.append(lvl)
    return books2


def rq_distortion(
    df: DataFrame,
    books1: list[list[list[int]]],
    books2: list[list[list[int]]],
    scale: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-level residual-quantization distortion — the measurement that
    justifies adding a refinement level to a PQ store (faiss RQ/IVFADC-R):
    per subspace, the exact integer squared error after level 1 (sse1 =
    pq_distortion) and after the level-2 residual codebook corrects it
    (sse2), with the reduction ratio. Everything is projection-side:
    level-1 code via the literal-distance argmin, the residual via a
    CASE-selected literal subtraction, level-2 error via least() over a
    second literal distance forest — zero shuffles before the m-row
    aggregate, codes-per-vector storage doubles (2m bytes), and this
    report prices whether that buys enough accuracy."""
    from diepy_spark.operators.clustering import quantize_vectors

    m = len(books1)
    q = quantize_vectors(df, id_col, vec_col, scale)
    cols = [c for s in range(m) for c in _pq_sub_dists(books1, s)]
    scored = q.select("xi", *cols)
    sel = [F.col("xi")]
    for s in range(m):
        best = F.least(*[F.col(f"d{s}_{j}") for j in range(len(books1[s]))])
        code = F.lit(0)
        for j in reversed(range(len(books1[s]))):
            code = F.when(F.col(f"d{s}_{j}") == best, F.lit(j)).otherwise(code)
        sel.append(best.alias(f"err1_{s}"))
        sel.append(code.alias(f"code_{s}"))
    coded = scored.select(*sel)
    sub = len(books1[0][0])
    out_cols = []
    for s in range(m):
        lo = s * sub + 1
        resid = None
        for j in range(len(books1[s])):
            lits = ", ".join(f"CAST({c} AS BIGINT)" for c in books1[s][j])
            arm = F.expr(
                f"zip_with(slice(xi, {lo}, {sub}), array({lits}),"
                " (a, b) -> a - b)"
            )
            cond = F.col(f"code_{s}") == j
            resid = F.when(cond, arm) if resid is None else resid.when(cond, arm)
        coded = coded.withColumn(f"res_{s}", resid)
        d2 = [
            F.expr(
                "aggregate(zip_with(res_{s}, array({lits}),"
                " (a, b) -> (a - b) * (a - b)),"
                " CAST(0 AS BIGINT), (acc, v) -> acc + v)".format(
                    s=s,
                    lits=", ".join(
                        f"CAST({c} AS BIGINT)" for c in books2[s][j]
                    ),
                )
            )
            for j in range(len(books2[s]))
        ]
        out_cols.append(F.least(*d2).alias(f"err2_{s}"))
    errs = coded.select(
        *[F.col(f"err1_{s}") for s in range(m)], *out_cols
    )
    one = errs.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_vecs"),
        *[
            F.expr(f"CAST(sum(err1_{s}) AS BIGINT)").alias(f"sse1_{s}")
            for s in range(m)
        ],
        *[
            F.expr(f"CAST(sum(err2_{s}) AS BIGINT)").alias(f"sse2_{s}")
            for s in range(m)
        ],
    )
    stack_args = ", ".join(f"{s}, sse1_{s}, sse2_{s}" for s in range(m))
    return one.selectExpr(
        "n_vecs", f"stack({m}, {stack_args}) AS (s, sse1, sse2)"
    ).selectExpr(
        "s",
        "n_vecs",
        "sse1",
        "sse2",
        "round(1.0 - CAST(sse2 AS DOUBLE) / CAST(sse1 AS DOUBLE), 6)"
        " AS reduction",
    )


def semdedup_flags(
    vecs: DataFrame,
    cents: list[list[int]],
    thr_num: int = 9,
    thr_den: int = 10,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_pairs: tuple | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): cluster the embedding
    space with a trained coarse quantizer, then mark as semantic
    duplicates the vectors whose WITHIN-CLUSTER cosine to a smaller-id
    neighbor exceeds thr_num/thr_den — the keep-lowest-id policy every
    X1/X2 dedup here uses. Document-level exact/near-dup (X1/X2) keys on
    surface text; this is the embedding-space sibling that catches
    paraphrases sharing no n-grams.

    Exactness: vectors quantize to the `scale` integer grid; the cosine
    threshold test is the CROSS-MULTIPLIED integer comparison
    ``dot > 0 AND thr_den^2 * dot^2 > thr_num^2 * |a|^2 * |b|^2`` — no
    float anywhere, so flags are bit-identical cross-engine. `scale`
    defaults to 1000 (not the kmeans 10000) so dot^2 at dim 64 stays
    inside int64.

    Scale shape: the cluster assignment is a zero-shuffle projection
    against broadcast centroid literals (clustering.assign_to_centroids);
    the pair join is keyed on the cluster id, so the quadratic blow-up is
    bounded by Sum |c|^2 — the SemDeDup contract is that k grows with n
    to cap cluster sizes (the paper uses ~100k clusters for web scale);
    arrays ride the join (zip_with dot), never an exploded dim table.
    Output: (id_col, cluster, is_dup) for every input vector."""
    from diepy_spark.operators.clustering import (
        assign_to_centroids,
        quantize_vectors,
    )

    a, pr = (
        assign_pairs
        if assign_pairs is not None
        else _semdedup_assign_pairs(vecs, cents, scale, id_col, vec_col)
    )
    dup = pr.where(
        (F.col("dot") > 0)
        & (
            F.lit(thr_den * thr_den) * F.col("dot") * F.col("dot")
            > F.lit(thr_num * thr_num) * F.col("na") * F.col("nb")
        )
    )
    flags = (
        dup.select(F.col("db").alias("id")).distinct().withColumn("is_dup", F.lit(True))
    )
    return a.select("id", "cluster").join(flags, "id", "left").select(
        F.col("id").alias(id_col),
        "cluster",
        F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
    )


def _semdedup_assign_pairs(
    vecs: DataFrame,
    cents: list[list[int]],
    scale: int,
    id_col: str,
    vec_col: str,
):
    """The shared SemDeDup front half: argmin cell assignment (with
    per-vector squared norm) and the within-cell smaller-id pair frame
    carrying the exact integer dot. Returns (assignment, pairs) so
    semdedup_flags (one threshold) and semdedup_threshold_sweep (many)
    build on one chain."""
    from diepy_spark.operators.clustering import (
        assign_to_centroids,
        quantize_vectors,
    )

    q = quantize_vectors(vecs, id_col, vec_col, scale)
    a = assign_to_centroids(q, cents, id_col).select(
        F.col(id_col).alias("id"), "cluster", "xi"
    )
    a = a.withColumn(
        "nn", F.expr("aggregate(xi, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)")
    )
    # The assignment rides the k*dim literal distance expression and is
    # consumed THREE times (both pair sides + the flag join-back); without
    # a lineage cut each consumer re-plans and re-runs that expression
    # tree (measured 8.6s -> 3.2s at sf0.1). SemDeDup materializes
    # assignments at scale too — the paper's pipeline writes them out.
    a = a.localCheckpoint(eager=False)
    left = a.select(
        F.col("id").alias("da"),
        "cluster",
        F.col("xi").alias("xa"),
        F.col("nn").alias("na"),
    )
    right = a.select(
        F.col("id").alias("db"),
        F.col("cluster").alias("cb"),
        F.col("xi").alias("xb"),
        F.col("nn").alias("nb"),
    )
    pr = left.join(
        right, (F.col("cluster") == F.col("cb")) & (F.col("da") < F.col("db"))
    ).withColumn(
        "dot",
        F.expr(
            "aggregate(zip_with(xa, xb, (p, q) -> p * q),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ),
    )
    return a, pr


def semdedup_threshold_sweep(
    vecs: DataFrame,
    cents: list[list[int]],
    thresholds: tuple[tuple[int, int], ...],
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_pairs: tuple | None = None,
) -> DataFrame:
    """SemDeDup THRESHOLD sweep — the calibration run before fixing the
    semantic-dedup policy (the embedding-space analog of the MinHash
    dedup-savings curve): for each cosine threshold num/den, how many
    vectors the keep-smallest-id policy would flag. ONE assignment +
    within-cell pair pass (the expensive part); the sweep is an explode
    of a literal threshold array over the SPARSE pair frame with the
    same exact cross-multiplied integer comparison semdedup_flags uses —
    no per-threshold re-run. Thresholds with zero flags still report
    (generated threshold dimension). Output: (num, den, n_vecs,
    n_flagged, flag_rate)."""
    spark = vecs.sparkSession
    a, pr = (
        assign_pairs
        if assign_pairs is not None
        else _semdedup_assign_pairs(vecs, cents, scale, id_col, vec_col)
    )
    arms = ", ".join(
        f"named_struct('num', CAST({n} AS BIGINT), 'den', CAST({d} AS BIGINT))"
        for n, d in thresholds
    )
    hits = pr.selectExpr(
        "db",
        f"explode(filter(array({arms}), t -> dot > 0"
        " AND t.den * t.den * dot * dot > t.num * t.num * na * nb)) AS t",
    ).selectExpr("t.num AS num", "t.den AS den", "db")
    per = (
        hits.distinct()
        .groupBy("num", "den")
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("n_flagged"))
    )
    dim = spark.createDataFrame(
        [(int(n), int(d)) for n, d in thresholds], "num bigint, den bigint"
    )
    tot = a.agg(F.expr("CAST(count(*) AS BIGINT)").alias("n_vecs"))
    return (
        dim.join(per, ["num", "den"], "left")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "num",
            "den",
            "n_vecs",
            "CAST(coalesce(n_flagged, 0) AS BIGINT) AS n_flagged",
            "round(CAST(coalesce(n_flagged, 0) AS DOUBLE)"
            " / CAST(n_vecs AS DOUBLE), 6) AS flag_rate",
        )
        .orderBy("num", "den")
    )


def semdedup_assign(
    vecs: DataFrame,
    cents: list[list[int]],
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The quantized + top-2-cell-assigned vector frame semdedup_dup_pairs
    pairs within: (id_col, cluster, cluster2, xi, nn), checkpointed.
    Factored out (r13) so multi-variant instruments like
    x2_semdedup_probe build it ONCE and feed every probes= variant via
    ``assigned=`` — the assignment is a pure projection against the
    centroid literals, but it prices k centroid distances per row and
    the instrument ran it three times."""
    from diepy_spark.operators.clustering import (
        assign_top2_to_centroids,
        quantize_vectors,
    )

    q = quantize_vectors(vecs, id_col, vec_col, scale)
    a2 = assign_top2_to_centroids(q, cents, id_col)
    return a2.withColumn(
        "nn", F.expr("aggregate(xi, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)")
    ).localCheckpoint(eager=False)


def semdedup_dup_pairs(
    vecs: DataFrame,
    cents: list[list[int]],
    probes: int | str = 1,
    thr_num: int = 9,
    thr_den: int = 10,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """The PAIR-level SemDeDup surface with MULTI-PROBE cell expansion
    (VERDICT r4 task #4, the x3_ann_recall trust-instrument pattern
    applied to dedup): which (da < db) pairs exceed the integer
    cross-multiplied cosine threshold, where candidate generation probes

    - ``probes=1``: each vector's primary cell only — semdedup_flags'
      pair set (single-cell SemDeDup misses near-dup pairs straddling a
      cell boundary),
    - ``probes=2``: primary + SECOND-nearest cell
      (clustering.assign_top2_to_centroids — a pure projection, so the
      expansion adds ZERO shuffles to the assignment side; a pair is
      examined when either endpoint's probe list covers the other's
      primary cell),
    - ``probes="all"``: every cell — exhaustive ground truth (every pair
      is a candidate; the recall denominator of x2_semdedup_probe).

    Scale shape: the pair join stays keyed on the cell id (quadratic
    term sum |c| * |probe_c|, k grows with n per the SemDeDup contract);
    the only addition over semdedup_flags is a DISTINCT on the
    SURVIVING (da, db) id pairs — integer pairs, duplicate-bounded by 2,
    never vectors. Output: (da, db) distinct, da < db by construction.

    ``assigned``: the quantized+assigned vector frame a prior call (or
    ``semdedup_assign``) already built for the SAME (vecs, cents, scale)
    — x2_semdedup_probe calls this three times (all/1/2 probes) over one
    subset and the assignment projection (k centroid distances per row)
    is identical across them; passing it skips the re-derivation (r13,
    guide §2.1). Caller contract: columns (id_col, cluster, cluster2,
    xi, nn), checkpointed.
    """
    a2 = assigned if assigned is not None else semdedup_assign(
        vecs, cents, scale=scale, id_col=id_col, vec_col=vec_col
    )
    prim = a2.select(
        F.col(id_col).alias("pa"),
        F.col("cluster").alias("cell"),
        F.col("xi").alias("xa"),
        F.col("nn").alias("na"),
    )
    pb = a2.select(
        F.col(id_col).alias("pb"),
        F.col("xi").alias("xb"),
        F.col("nn").alias("nb"),
    )
    if probes == "all":
        probe = pb.crossJoin(
            a2.select(F.col("cluster").alias("cell")).distinct()
        )
    elif probes == 2:
        probe = pb.join(
            a2.select(
                F.col(id_col).alias("pb"),
                F.explode(F.array("cluster", "cluster2")).alias("cell"),
            ),
            "pb",
        )
    elif probes == 1:
        probe = pb.join(
            a2.select(F.col(id_col).alias("pb"), F.col("cluster").alias("cell")),
            "pb",
        )
    else:
        raise ValueError(f"semdedup_dup_pairs: bad probes {probes!r}")
    cand = prim.join(probe, "cell").where(F.col("pa") != F.col("pb"))
    dot = F.expr(
        "aggregate(zip_with(xa, xb, (p, q) -> p * q),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    dup = cand.withColumn("dot", dot).where(
        (F.col("dot") > 0)
        & (
            F.lit(thr_den * thr_den) * F.col("dot") * F.col("dot")
            > F.lit(thr_num * thr_num) * F.col("na") * F.col("nb")
        )
    )
    return (
        dup.select(
            F.least("pa", "pb").alias("da"), F.greatest("pa", "pb").alias("db")
        )
        .distinct()
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    cents: list[list[int]],
    books: list[list[list[int]]],
    k: int = 3,
    nprobe: int = 1,
    scale: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF + PQ composed (the canonical billion-vector index layout:
    coarse quantizer routes, product quantizer compresses, ADC scores):
    the corpus stores (cell, m codes) per vector — cell from a pure
    argmin projection against the trained centroid literals
    (clustering.assign_to_centroids), codes from per-subspace argmin
    against the codebook literals — i.e. the 100 TB side is ONE narrow
    projection pass, never shuffled, at m bytes/vector storage. The
    query side expands to `nprobe` cells (probe_cells) carrying its
    m x ncodes LUT arrays and BROADCASTs into the cell-keyed join; a
    candidate's distance is m lookups + adds, all integers. A (query,
    candidate) pair arises from at most one probed cell (corpus vectors
    store one cell), so no dedup step. Output: (qid, cid, dist, rk)."""
    from diepy_spark.operators.clustering import (
        assign_to_centroids,
        quantize_vectors,
    )

    cq = quantize_vectors(corpus, id_col, vec_col, scale)
    a = assign_to_centroids(cq, cents, id_col)
    sub_cols = [c for s in range(len(books)) for c in _pq_sub_dists(books, s)]
    scored = a.select(
        F.col(id_col).alias("cid"), F.col("cluster").alias("cell"), *sub_cols
    )
    enc_cols = [F.col("cid"), F.col("cell")]
    for s, book in enumerate(books):
        best = F.least(*[F.col(f"d{s}_{j}") for j in range(len(book))])
        code = F.lit(None).cast("int")
        for j in reversed(range(len(book))):
            code = F.when(F.col(f"d{s}_{j}") == best, F.lit(j)).otherwise(code)
        enc_cols.append(code.alias(f"code_{s}"))
    # The encoded index (cell + m codes per vector) is consumed by the
    # candidate join AND re-derived by the top-k window's sort stage;
    # without a lineage cut the k*dim + m*ncodes*subdim literal distance
    # forest re-evaluates per consumer (measured 15.6s -> 1.8s warm at
    # sf0.1). At scale this frame IS the persisted IVFPQ index — a
    # production deployment writes it out once, exactly this shape.
    enc = scored.select(*enc_cols).localCheckpoint(eager=False)

    qa = probe_cells(queries, cents, nprobe, scale, id_col, vec_col)
    qd = qa.select(
        F.col("vid").alias("qid"),
        "cell",
        *[c for s in range(len(books)) for c in _pq_sub_dists(books, s)],
    )
    luts = qd.select(
        "qid",
        "cell",
        *[
            F.array(*[F.col(f"d{s}_{j}") for j in range(len(books[s]))]).alias(
                f"lut_{s}"
            )
            for s in range(len(books))
        ],
    )
    # Query-side LUT frame: tiny (queries x nprobe rows) but its probe
    # window + distance forest would likewise re-derive per consumer.
    luts = luts.localCheckpoint(eager=False)
    dist = None
    for s in range(len(books)):
        term = F.element_at(F.col(f"lut_{s}"), F.col(f"code_{s}") + 1)
        dist = term if dist is None else dist + term
    cand = enc.join(F.broadcast(luts), "cell").withColumn("dist", dist)
    w = Window.partitionBy("qid").orderBy("dist", "cid")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("qid", "cid", "dist", "rk")
    )
