"""Connected components over near-duplicate pair graphs.

Dedup pipelines emit PAIRS (minhash/jaccard/simhash verify stages); keeping
one representative per duplicate GROUP requires the transitive closure of
those pairs — i.e. connected components. The reference has no graph or
iteration surface at all (SURVEY.md §2.5); this is north-star extension
surface for training-data dedup at scale.

Two execution paths, picked by graph size:
- tiny graphs (up to ``local_threshold`` edges) solve with driver-side
  union-find — a dedup pair graph is usually orders of magnitude smaller
  than its corpus;
- larger graphs run the LARGE-STAR/SMALL-STAR alternation of Kiveris et
  al., "Connected Components in MapReduce and Beyond" (SoCC'14): rounds
  grow with log(diameter), not diameter, so a pathological chain of
  near-dups (doc A ~ B ~ C ~ ...) converges in a handful of rounds where
  plain min-label propagation needs one round per hop.

Both paths reach the same unique fixpoint — every node labeled with the
minimum node id of its component — so results are deterministic
regardless of execution order or path (pinned by tests/test_operators.py
equivalence tests and the recursive-CTE oracle).

Scale design: each round localCheckpoints its edge frame, keeping lineage
flat (no exponential plan growth); the driver loop collects ONE scalar
per round (an edge-set signature).

The graph analytics built on the same edge frames (PageRank, Katz, HITS,
label propagation, k-core, BFS, closeness, triangles, HyperBall, walks)
follow the same determinism rule: integer arithmetic only, so every
result is hash-comparable with its DuckDB oracle. Each iteration is
written once and shared by its operators:
- ``_edge_frame``: the distinct, self-loop-free (src, dst) frame;
- ``_frontier_bfs``: the frontier-only BFS rounds of bfs_distances,
  per_source_bfs and hyperball_exact_error;
- ``_pagerank``: the round loop of pagerank and personalized_pagerank;
- ``_orient`` + ``_close_wedges``: the degree-oriented triangle
  enumeration of triangle_count and triangle_edge_support.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "connected_components",
    "connected_components_two_phase",
    "dedup_corpus",
    "dedup_corpus_best",
    "dedup_stats",
    "triangle_count",
    "kcore",
    "kmeans_int",
    "adjacency_arrays",
    "random_walks",
    "rw_pick_sql",
    "node2vec_walks",
    "n2v_weight_sql",
    "n2v_class_sql",
    "n2v_draw_sql",
    "keyed_checkpoint",
]


def keyed_checkpoint(df: DataFrame, *keys: str) -> DataFrame:
    """localCheckpoint that PRESERVES hash-partitioning metadata — the
    localCheckpoint analog of a bucketed table (guide §2.4: "bucketed
    tables persist a partitioning across jobs so repeated
    joins/aggregations on the bucket key skip the shuffle").

    Dataset.localCheckpoint snapshots the physical plan's output
    partitioning into its LogicalRDD, and EnsureRequirements then lets
    downstream joins/aggregations keyed the same way skip their
    exchange — but under AQE the captured root reports UNKNOWN
    partitioning (measured: a repartition(32, k).localCheckpoint() built
    with AQE on still costs 2 exchanges in a groupBy(k) consumer; with
    AQE off at creation it costs 0). So the checkpoint (and the
    repartition establishing the layout when ``keys`` are given) is
    planned with AQE momentarily disabled; the conf is restored in a
    finally. Row content is untouched — only the partition layout and
    its metadata change, so every consumer is value-identical.

    With ``keys``: repartition(shuffle.partitions, *keys) first — one
    explicit exchange now buys zero exchanges at every keyed reuse (the
    iterative-graph edge frame is the motivating case: Pregel/GraphX
    co-partition edges by source exactly once, then only vertex-sized
    frames move per superstep). Without ``keys``: capture whatever
    partitioning the frame already has (e.g. a groupBy's output) for
    free."""
    spark = df.sparkSession
    old = None
    try:
        old = spark.conf.get("spark.sql.adaptive.enabled")
    except Exception:
        pass
    try:
        try:
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        except Exception:
            pass
        if keys:
            n = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
            df = df.repartition(n, *[F.col(k) for k in keys])
        return df.localCheckpoint(eager=False)
    finally:
        if old is not None:
            try:
                spark.conf.set("spark.sql.adaptive.enabled", old)
            except Exception:
                pass


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 20,
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """(node, cluster) for every node appearing in `edges`, where `cluster`
    is the minimum node id of the node's connected component. Raises if the
    graph hasn't converged after `max_iter` rounds.

    Adaptive execution: when the distinct undirected edge rows (each
    pair in both directions) number at most `local_threshold`, the
    closure is solved with driver-side union-find — a dedup pair graph is
    usually a few orders of magnitude smaller than the corpus, and a
    millisecond union-find beats several sequential shuffle rounds. Above
    the threshold the distributed large-star/small-star path runs
    (connected_components_two_phase, rounds ~ log diameter). Both paths
    reach the same unique min-id fixpoint; pass ``local_threshold=0`` to
    force the distributed path."""
    spark = edges.sparkSession
    und = (
        edges.select(F.col(src).alias("n"), F.col(dst).alias("m"))
        .unionByName(edges.select(F.col(dst).alias("n"), F.col(src).alias("m")))
        .distinct()
    )
    if local_threshold > 0:
        # One bounded action both sizes and fetches the graph: one row more
        # than the threshold proves it too big. The driver holds at most
        # local_threshold + 1 rows, the local path's own bound, and a small
        # graph never pays a separate count job.
        head = und.limit(local_threshold + 1).collect()
        if len(head) <= local_threshold:
            return _local_union_find(spark, head, und.schema["n"].dataType)
    und = und.persist()
    try:
        return connected_components_two_phase(und, "n", "m", max_iter=max_iter)
    finally:
        und.unpersist()


def connected_components_two_phase(
    edges: DataFrame, src: str = "a", dst: str = "b", max_iter: int = 30
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14): alternate

    - LARGE-STAR: every node v links each STRICTLY LARGER neighbor to the
      minimum of v's closed neighborhood;
    - SMALL-STAR: every node u links each smaller-or-equal neighbor (and
      itself) to the minimum of that set;

    until the edge set is a fixed point — at which point every node points
    directly at its component's minimum. Rounds grow with log(diameter)
    (empirically ~log_2), which is why this is the 100 TB-safe path:
    a duplicate CHAIN of length d needs ~log d rounds here vs d rounds of
    plain min propagation.

    Per round: two keyed aggregations + two joins (all on node ids, even
    partitioning) and ONE driver scalar — an order-independent edge-set
    signature (count + sum of xxhash64) whose fixpoint detects
    convergence. Each round's edge frame is localCheckpoint'ed: unlike
    persist, that TRUNCATES the logical plan, which otherwise multiplies
    ~4x per round (e appears four times in a round's expression) and blows
    the driver up around round 10 on plan-string construction alone.

    Output: (node, cluster) for every node appearing in `edges` —
    identical contract and fixpoint as `connected_components`.
    """
    spark = edges.sparkSession
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .persist()
    )
    # canonical directed big -> small, self-loops dropped
    e = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    prev_conf = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        sig = None
        for _ in range(max_iter):
            # LARGE-STAR over the undirected view: center n, neighbor m
            und = e.select(F.col("u").alias("n"), F.col("v").alias("m")).unionByName(
                e.select(F.col("v").alias("n"), F.col("u").alias("m"))
            )
            mn = und.groupBy("n").agg(F.least(F.min("m"), F.col("n")).alias("mn"))
            e1 = (
                und.join(mn, "n")
                .where(F.col("m") > F.col("n"))
                .select(F.col("m").alias("u"), F.col("mn").alias("v"))
                .distinct()
            )
            # SMALL-STAR over the directed big->small edges: group by the
            # big endpoint u; every small neighbor (and u itself) links to
            # the group minimum.
            mn2 = e1.groupBy("u").agg(F.min("v").alias("mn"))
            e2 = (
                e1.join(mn2, "u")
                .select(F.col("v").alias("u"), F.col("mn").alias("v"))
                .unionByName(mn2.select("u", F.col("mn").alias("v")))
                .where(F.col("u") != F.col("v"))
                .distinct()
                .localCheckpoint(eager=False)  # lazy: the signature action
                # below materializes it — one job per round, lineage cut
            )
            [row] = e2.agg(
                F.count(F.lit(1)).alias("c"),
                # decimal(38) accumulator: a bigint sum of 64-bit hashes
                # overflows (an error under ANSI), decimal can't
                F.coalesce(
                    F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                    F.lit(0).cast("decimal(38,0)"),
                ).alias("h"),
            ).collect()
            new_sig = (row["c"], row["h"])
            e = e2
            if new_sig == sig:
                break
            sig = new_sig
        else:
            nodes.unpersist()
            raise RuntimeError(
                f"two-phase connected components did not converge in {max_iter} rounds"
            )
        # star edges point non-roots at the component min; roots label
        # themselves (and isolated self-loop nodes never entered e)
        result = (
            nodes.join(e.withColumnRenamed("u", "node"), "node", "left")
            .select("node", F.coalesce(F.col("v"), F.col("node")).alias("cluster"))
            .localCheckpoint(eager=True)
        )
        nodes.unpersist()
        return result
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_conf)


def _local_union_find(spark, rows, node_type) -> DataFrame:
    """Min-root union-find with path compression over collected (n, m)
    rows; returns the same (node, cluster) frame the distributed path
    produces."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        a, b = find(row["n"]), find(row["m"])
        if a != b:
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
    # an Arrow table converts in the JVM; a list of rows would be
    # unpickled by a Python worker per core
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    t = to_arrow_type(node_type)
    schema = StructType(
        [StructField("node", node_type, False), StructField("cluster", node_type, False)]
    )
    table = pa.table({"node": pa.array(list(parent), t),
                      "cluster": pa.array([find(x) for x in parent], t)})
    return spark.createDataFrame(table, schema)


def _keep_predicate(id_col: str):
    """Keep a doc iff it is not a non-representative duplicate: either it
    never appears in the pair graph (cluster IS NULL) or it IS its
    cluster's min-id representative."""
    return F.col("cluster").isNull() | (F.col(id_col) == F.col("cluster"))


def dedup_corpus(
    docs: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src: str = "da",
    dst: str = "db",
    labels: DataFrame | None = None,
) -> DataFrame:
    """The consuming end of every dedup pipeline: turn near-dup PAIRS into
    a CLEANED corpus. Labels each doc with its duplicate-cluster id
    (connected components over `edges`), keeps exactly one representative
    per cluster (the min doc id) plus every doc not in any cluster.
    Output = `docs` columns + `cluster` (null when the doc had no
    near-duplicate).

    Scale: the label frame is proportional to the dup-graph nodes — orders
    of magnitude smaller than the corpus — so the single left join
    broadcasts under AQE; the corpus itself is never shuffled more than
    once, and the keep-filter is a narrow per-row predicate. Pass
    `labels` (a precomputed (node, cluster) frame) to reuse one closure
    across several consumers — the persisted label table pattern."""
    cc = labels if labels is not None else connected_components(edges, src, dst)
    lab = cc.withColumnRenamed("node", id_col)
    return docs.join(lab, id_col, "left").where(_keep_predicate(id_col))


def dedup_stats(
    docs: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src: str = "da",
    dst: str = "db",
    labels: DataFrame | None = None,
) -> DataFrame:
    """One-row accounting for a dedup run: docs in, docs kept, duplicates
    removed, and the removed ratio — the numbers a pipeline operator
    reports after every dedup pass."""
    cc = labels if labels is not None else connected_components(edges, src, dst)
    lab = cc.withColumnRenamed("node", id_col)
    j = docs.join(lab, id_col, "left")
    keep = _keep_predicate(id_col)
    drop = (~keep).cast("bigint")
    return j.agg(
        F.count(F.lit(1)).alias("docs_in"),
        F.sum(keep.cast("bigint")).alias("docs_out"),
        F.sum(drop).alias("dups_removed"),
        F.round(F.sum(drop) / F.count(F.lit(1)), 4).alias("dup_ratio"),
    )


# Integer damping d = PR_DAMP_NUM / PR_DAMP_DEN of pagerank and
# personalized_pagerank; the DuckDB oracles spell the same 85/100.
PR_DAMP_NUM = 85
PR_DAMP_DEN = 100


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    scale: int = 10**9,
    assume_distinct: bool = False,
) -> DataFrame:
    """PageRank in PURE INTEGER arithmetic — ranks are bigints in units of
    1/scale, damping is the exact rational PR_DAMP_NUM/PR_DAMP_DEN, and
    every division is a floor division. Floating-point PageRank is
    aggregation-order dependent (partial sums of doubles merge in
    nondeterministic order), so its values can't be hash-compared across
    engines or even across runs; the integer form is bit-identical
    everywhere, at the cost of 1/scale quantization (~1e-9 here).

    r_{t+1}(v) = (1-d)*scale + d * Σ_{u→v} floor(r_t(u) / outdeg(u)),
    with the damping product also floor-divided. Nodes with no out-edges
    leak their mass (standard simplification — symmetrize the edge set if
    every node must redistribute, as the declared query does). This is
    personalized_pagerank with every node a seed: both run the one round
    loop of _pagerank.

    Scale: per iteration ONE shuffle join of ranks against edges on the
    source key plus ONE aggregate on the destination key — the textbook
    distributed PageRank shape. The edge/degree/node frames are
    referenced by every iteration, so each is lazily checkpointed once.

    Overflow audit: Σ ranks ≈ N*scale; PR_DAMP_NUM * inflow therefore
    needs N*scale*85 < 2^63 — at scale=1e9 that allows ~10^8 nodes.

    Measured (round 6, sf0.1): scoping spark.sql.shuffle.partitions to 8
    around build+execute cuts the 5-iteration run 6.2s -> 4.7s (task
    scheduling dominates at node-frame sizes). Deliberately NOT baked in
    here: the conf is read at EXECUTION time, which for this lazy plan
    happens outside any scope this function could restore, and an eager
    materialization would hide the iteration plan from the audit
    tooling. A production caller scopes the conf (or sizes the static
    number) at the session level, as connected_components does around
    its own per-round actions.

    ``assume_distinct`` as in _edge_frame (PageRank keeps self-loops, so
    only the dedup + lineage cut is skipped)."""
    return _pagerank(edges, None, src, dst, iterations, scale, assume_distinct)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    iterations: int = 5,
    scale: int = 10**9,
    assume_distinct: bool = False,
) -> DataFrame:
    """Personalized (topic-sensitive) PageRank — Haveliwala 2002: the
    teleport mass returns to the SEED set instead of uniformly, so ranks
    measure proximity to the seeds (the recommendation / related-items
    primitive the global `pagerank` can't express). Same pure-integer
    discipline and the same round loop as `pagerank`: seeds start with
    `scale` mass and receive the integer teleport each round, non-seeds
    start at 0 and receive only damped inflow; every division is a floor
    division, so the run is bit-identical across engines and
    partitionings.

    r_{t+1}(v) = [v ∈ S]·floor(scale·(den−num)/den)
                 + num·(Σ_{u→v} floor(r_t(u)/outdeg(u))) div den

    ``assume_distinct`` as in `pagerank`."""
    sd = seeds.select(F.col(seed_col).alias("node")).distinct()
    return _pagerank(edges, sd, src, dst, iterations, scale, assume_distinct)


def _pagerank(
    edges: DataFrame,
    seeds: DataFrame | None,
    src: str,
    dst: str,
    iterations: int,
    scale: int,
    assume_distinct: bool,
) -> DataFrame:
    """The integer PageRank round loop of pagerank and
    personalized_pagerank over a (node, s) static frame: s = 1 marks a
    teleport target (every node when `seeds` is None, else the distinct
    (node) frame `seeds`), s = 0 the rest. A node starts with s*scale."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if not assume_distinct:
        e = e.distinct()
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    nodes = (
        e.select("u").unionByName(e.select(F.col("v").alias("u"))).distinct()
        .select(F.col("u").alias("node"))
    )
    if seeds is None:
        nodes = nodes.withColumn("s", F.lit(1))
    else:
        sd = seeds.withColumn("is_seed", F.lit(1))
        nodes = nodes.join(sd, "node", "left").select(
            "node", F.coalesce("is_seed", F.lit(0)).alias("s")
        )
    # the edge/degree/node frames are referenced by EVERY iteration;
    # lazy localCheckpoint computes each once at the first action
    # instead of once per reference (measured ~30% at sf0.1, growing
    # with iteration count). Plain checkpoints for the vertex-sized
    # statics: capturing their 32-partition aggregate layout
    # (keyed_checkpoint) pins every per-round join to 32 fixed tasks,
    # which measured SLOWER than letting AQE coalesce the per-round
    # exchanges (interleaved A/B: run1 9.7->3.8 s, run2 4.8->3.3 s at
    # sf0.1) — the saved Exchange was cheaper than the task-count it
    # forced. The |E|-sized edge memo keeps its keyed layout (see
    # _supply_sym).
    if not assume_distinct:
        e = e.localCheckpoint(eager=False)
    deg = deg.localCheckpoint(eager=False)
    nodes = nodes.localCheckpoint(eager=False)
    teleport = (scale * (PR_DAMP_DEN - PR_DAMP_NUM)) // PR_DAMP_DEN
    ranks = nodes.select(
        "node", (F.col("s").cast("bigint") * int(scale)).alias("r")
    )
    for _ in range(iterations):
        contrib = (
            e.join(ranks.select(F.col("node").alias("u"), "r"), "u")
            .join(deg, "u")
            .select(F.col("v").alias("node"), F.expr("r div deg").alias("c"))
        )
        inflow = contrib.groupBy("node").agg(F.sum("c").alias("inflow"))
        ranks = nodes.join(inflow, "node", "left").select(
            "node",
            F.expr(
                f"CAST(s AS BIGINT) * {teleport} + ({PR_DAMP_NUM}"
                f" * coalesce(inflow, CAST(0 AS BIGINT))) div {PR_DAMP_DEN}"
            ).alias("r"),
        )
    return ranks


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Exact triangle counting with DEGREE-BASED ORIENTATION — the
    standard distributed-join formulation (the MR adaptation of
    Schank/Wagner's forward algorithm; same shape as Suri & Vassilvitskii,
    WWW'11 "Counting Triangles and the Curse of the Last Reducer").

    Input: an edge list, interpreted as UNDIRECTED (self-loops dropped,
    direction and multiplicity ignored). Output: one row per triangle
    vertex — ``node`` + ``tri`` (number of triangles through it).

    Why orientation matters at scale: the naive wedge join generates
    sum-over-nodes deg² candidates — a single celebrity node with 10M
    neighbors yields 10^14 wedges (the "last reducer" that never
    finishes). Orienting every edge from the (degree, id)-lower endpoint
    to the higher one (_orient) caps every out-degree at O(sqrt(|E|)),
    so the wedge join (_close_wedges) is bounded by |E|^1.5 TOTAL and no
    reducer is hot, while still counting each triangle exactly once (its
    lowest-ordered vertex emits the wedge). Two shuffles build degrees +
    orientation; the triangle step is one self-join on the wedge
    midpoint plus one semi-join back onto the oriented edge set — all
    equi-joins AQE can re-plan.

    Determinism: the (degree, id) total order is data-defined, so output
    is independent of partitioning and engine (oracle-checkable).
    """
    # referenced three times by _close_wedges (both wedge legs + the
    # closing edge); without a lineage cut Catalyst inlines the
    # canon+degree subplan into every reference (3x scans/shuffles of the
    # raw edge list — 45 scans at one audit). Lazy local checkpoint =
    # compute once, same values (pagerank's static-frame pattern). NOT
    # keyed on the midpoint here: unlike the k-truss enumeration (whose
    # keyed layout is re-read every peel round and measured faster),
    # triangle_count consumes the wedge join once and the keyed
    # repartition measured ~1.3 s slower than AQE-planned exchanges in an
    # interleaved A/B at sf0.1.
    oriented = _orient(_canon_edges(edges, src, dst)).localCheckpoint(eager=False)
    tris = _close_wedges(oriented)
    # one pass over tris: each triangle contributes its three vertices
    return (
        tris.select(F.explode(F.array("w_s", "w_a", "w_b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("tri"))
    )


def _canon_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(u, v): the distinct undirected edges of `edges` as canonical
    u < v pairs, self-loops dropped."""
    a, b = F.col(src), F.col(dst)
    return (
        edges.where(a != b)
        .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .distinct()
    )


def _orient(canon: DataFrame) -> DataFrame:
    """(s, t): every canonical (u, v) edge directed from its
    (degree, id)-lower endpoint to the higher one, so every out-degree is
    O(sqrt(|E|)). The caller checkpoints the result: _close_wedges reads
    it three times."""
    deg = (
        canon.select(F.col("u").alias("node"))
        .unionAll(canon.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return canon.join(du, "u").join(dv, "v").select(
        F.when(lower, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lower, F.col("v")).otherwise(F.col("u")).alias("t"),
    )


def _close_wedges(oriented: DataFrame) -> DataFrame:
    """(w_s, w_a, w_b): every triangle of the oriented edge frame exactly
    once — the wedges s -> t1, s -> t2 from each low vertex, kept when
    the closing edge w_a -> w_b exists (in oriented form it does for
    exactly one of the two (w_a, w_b) permutations)."""
    e1 = oriented.select(F.col("s").alias("w_s"), F.col("t").alias("w_a"))
    e2 = oriented.select(F.col("s").alias("w_s"), F.col("t").alias("w_b"))
    wedges = e1.join(e2, "w_s").where(F.col("w_a") != F.col("w_b"))
    closing = oriented.select(F.col("s").alias("w_a"), F.col("t").alias("w_b"))
    return wedges.join(closing, ["w_a", "w_b"])


def kmeans_int(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 3,
    scale: int = 10_000,
) -> DataFrame:
    """Lloyd's k-means over an embedding column with INTEGER-EXACT
    arithmetic, so assignments are bit-identical in any engine and under
    any partitioning (the float version is not: both the per-dimension
    centroid sums and the distance folds depend on accumulation order).

    Determinism contract: vectors quantize once to ints
    (``round(x * scale)``); distances are exact integer sums of squares
    (order-free); centroid updates are ``floor(sum / n)`` with the
    division done in doubles small enough to be exact (< 2^53); argmin
    ties break toward the smaller cluster id. Seeds: the k rows with the
    smallest ids (deterministic, and mirrorable in SQL).

    Scale shape (the standard distributed Lloyd's): centroids are a
    k*dim literal BROADCAST into a per-row projection — assignment is
    zero-shuffle; the update explodes (cluster, dim, x) and aggregates
    with map-side combine to k*dim rows; the only driver action per
    iteration is collecting the k*dim centroid table (a few KB), exactly
    like pagerank's loop scalars. Output: (id_col, cluster, dist) — the
    final assignment with its exact integer squared distance.
    """
    q = quantize_vectors(df, id_col, vec_col, scale)
    q = q.localCheckpoint(eager=False)  # reused every iteration
    cents = _train_loop(q, id_col, k, iterations)
    return assign_to_centroids(q, cents, id_col).select(id_col, "cluster", "dist")


def quantize_vectors(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding", scale: int = 10_000
) -> DataFrame:
    """(id_col, xi): the vector column quantized to an exact integer grid —
    the shared front door of every integer-exact vector operator here
    (kmeans_int, kmeans_centroids_int, similarity.ivf_topk_trained)."""
    # The double cast is semantic, not defensive: a float32 source times an
    # int in FLOAT arithmetic rounds 1040.49995 -> 1040.5f -> 1041, while
    # double arithmetic keeps 1040.49995 -> 1040 (a real sf0.1 value that
    # hash-failed before the oracle spelled the same cast).
    return df.select(
        F.col(id_col),
        F.expr(
            f"transform({vec_col},"
            f" v -> CAST(round(CAST(v AS DOUBLE) * {scale}) AS BIGINT))"
        ).alias("xi"),
    )


def centroid_dist_columns(cents: list[list[int]]):
    """One exact-integer squared-L2 column per centroid literal, evaluated
    against the quantized `xi` array column. The centroid table rides into
    the plan as k*dim literals — per-row scoring is zero-shuffle."""
    return [
        F.expr(
            "aggregate(zip_with(xi, array({lits}), (a, b) -> (a - b) * (a - b)),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)".format(
                lits=", ".join(f"CAST({c} AS BIGINT)" for c in cv)
            )
        ).alias(f"d{j}")
        for j, cv in enumerate(cents)
    ]


def assign_to_centroids(q: DataFrame, cents: list[list[int]], id_col: str = "vec_id") -> DataFrame:
    """(id_col, xi, d0..dk-1, cluster, dist): exact argmin assignment of a
    quantized frame to centroid literals; ties break toward the smaller
    cluster id (the determinism contract of kmeans_int)."""
    scored = q.select(id_col, "xi", *centroid_dist_columns(cents))
    best = F.least(*[F.col(f"d{j}") for j in range(len(cents))])
    cluster = F.lit(None).cast("int")
    for j in reversed(range(len(cents))):
        cluster = F.when(F.col(f"d{j}") == best, F.lit(j)).otherwise(cluster)
    return scored.withColumn("cluster", cluster).withColumn("dist", best)


def assign_top2_to_centroids(
    q: DataFrame, cents: list[list[int]], id_col: str = "vec_id"
) -> DataFrame:
    """assign_to_centroids plus the SECOND-nearest cell — still a pure
    zero-shuffle projection against centroid literals (no explode, no
    window): ``cluster2``/``dist2`` = the argmin over the remaining cells
    after excluding ``cluster``, ties toward the smaller cell id — the
    exact (dist, cluster) rn=2 row of a per-vector ranking. The probe
    list of multi-probe SemDeDup (similarity.semdedup_probe_pairs): a
    boundary vector's nearest neighbor often lives in the SECOND cell,
    and probing it costs a projection, not a shuffle."""
    scored = assign_to_centroids(q, cents, id_col)
    k = len(cents)
    sec = F.least(
        *[F.when(F.col("cluster") != j, F.col(f"d{j}")) for j in range(k)]
    )
    cluster2 = F.lit(None).cast("int")
    for j in reversed(range(k)):
        cluster2 = F.when(
            (F.col("cluster") != j) & (F.col(f"d{j}") == sec), F.lit(j)
        ).otherwise(cluster2)
    return scored.withColumn("cluster2", cluster2).withColumn("dist2", sec)


def kmeans_centroids_int(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 3,
    scale: int = 10_000,
) -> list[list[int]]:
    """The trained centroid table of kmeans_int as a k x dim list of ints
    (quantized grid) — the coarse-quantizer training step of a trained IVF
    index (similarity.ivf_topk_trained). Driver-sized by construction:
    k*dim ints, the same thing kmeans_int collects each iteration."""
    q = quantize_vectors(df, id_col, vec_col, scale)
    q = q.localCheckpoint(eager=False)
    return _train_loop(q, id_col, k, iterations)


def kmeans_centroid_trace(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 3,
    scale: int = 10_000,
) -> list[list[list[int]]]:
    """Per-iteration centroid snapshots [c0 .. cN] of the kmeans_int
    training loop (c0 = seeds) — the convergence-diagnostic input: pair
    consecutive snapshots' assignments to measure how many vectors still
    move per round (x3_kmeans_stability). Driver-sized: (N+1) * k * dim
    ints."""
    q = quantize_vectors(df, id_col, vec_col, scale)
    q = q.localCheckpoint(eager=False)
    _, snaps = _train_loop(q, id_col, k, iterations, trace=True)
    return snaps


def _train_loop(q: DataFrame, id_col: str, k: int, iterations: int, trace: bool = False):
    seeds = (
        q.orderBy(id_col).limit(k).select("xi").collect()
    )
    cents: list[list[int]] = [list(r["xi"]) for r in seeds]
    snaps: list[list[list[int]]] = [[list(c) for c in cents]]

    for _ in range(iterations):
        a = assign_to_centroids(q, cents, id_col)
        upd = (
            a.select("cluster", F.posexplode("xi").alias("i", "x"))
            .groupBy("cluster", "i")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_cluster: dict[int, dict[int, int]] = {}
        import math

        for r in upd:
            by_cluster.setdefault(r["cluster"], {})[r["i"]] = int(
                math.floor(r["s"] / r["n"])
            )
        cents = [
            [by_cluster[j][i] for i in range(len(cents[j]))]
            if j in by_cluster
            else cents[j]  # empty cluster keeps its centroid
            for j in range(k)
        ]
        snaps.append([list(c) for c in cents])
    return (cents, snaps) if trace else cents


def _edge_frame(
    edges: DataFrame, src: str, dst: str, assume_distinct: bool
) -> DataFrame:
    """(src, dst): the distinct, self-loop-free edge frame every iterative
    graph operator here starts from, lazily checkpointed once (the rounds
    reference it, and the cut keeps their lineage flat).

    ``assume_distinct=True`` (the operators' option of that name, after
    triangle_edge_support's assume_canonical) skips the dedup exchange
    AND the lineage cut when the caller guarantees the input is already
    a distinct, self-loop-free, materialized edge frame (the
    _supply_ps/_supply_sym session-memo contract): the rounds then
    stream the caller's checkpointed blocks instead of materializing a
    second copy. The self-loop filter stays, a free narrow filter over
    those blocks. Output identical: distinct of a distinct set is the
    set."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).where(
        F.col("src") != F.col("dst")
    )
    if not assume_distinct:
        e = e.distinct().localCheckpoint(eager=False)
    return e


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    assume_distinct: bool = False,
    assume_symmetric: bool = False,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007) with two determinism amendments that make an LPA run
    hash-comparable across engines and partitionings: ties in the
    neighbor-label vote break toward the SMALLEST label, and each node's
    own current label joins the vote (self-vote) — which also damps the
    two-coloring oscillation synchronous LPA exhibits on bipartite
    graphs. Labels start as node ids; after t rounds a node's label is a
    community id (the min-id bias makes low ids community anchors).

    Feed SYMMETRIZED edges (label flows dst -> src); nodes are the
    distinct sources. Unlike connected_components (which this converges
    toward as t grows on well-connected graphs), few-round LPA keeps
    DENSITY structure: bridges between dense regions don't merge them.

    Scale shape: per iteration ONE shuffle join (labels onto edges by
    dst) and ONE vote aggregate + per-node top-1 window — both keyed on
    node ids, the same two-exchange round as pagerank. The static edge
    frame lazily checkpoints once; the evolving label frame checkpoints
    per round to cut lineage growth (the connected_components pattern).

    Output: (node, label). ``assume_distinct``: see _edge_frame.

    ``assume_symmetric`` (r13): when the caller guarantees the edge set
    is ITS OWN TRANSPOSE (every (a, b) has its (b, a) — the _supply_sym
    contract), the neighbor-vote join keys on SRC instead of DST:
    edge (s, d) then deposits s's label at d, and over a symmetric edge
    set that vote multiset is identical to the dst->src reading —
    Σ_{(s,d)∈E} label(s)@d = Σ_{(d,s)∈E} label(s)@d since E = Eᵀ. With
    the edge frame materialized hash-partitioned on src
    (keyed_checkpoint), the per-round join then reads the edge layout
    instead of re-shuffling |E| rows by dst — only the label frame
    (|V| rows) moves per round. Vote counts, and so the argmax and every
    downstream hash, are unchanged.
    """
    e = _edge_frame(edges, src, dst, assume_distinct)
    labels = (
        e.select(F.col("src").alias("node")).distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("src").orderBy(F.col("c").desc(), F.col("label"))
    for _ in range(iterations):
        if assume_symmetric:
            nbr = e.join(
                labels.select(F.col("node").alias("src"), "label"), "src"
            ).select(F.col("dst").alias("src"), "label")
        else:
            nbr = e.join(
                labels.select(F.col("node").alias("dst"), "label"), "dst"
            ).select("src", "label")
        votes = nbr.unionByName(
            labels.select(F.col("node").alias("src"), "label")
        )
        c = votes.groupBy("src", "label").agg(F.count(F.lit(1)).alias("c"))
        labels = (
            c.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("src").alias("node"), "label")
            .localCheckpoint(eager=False)
        )
    return labels


def dedup_corpus_best(
    docs: DataFrame,
    edges: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    src: str = "da",
    dst: str = "db",
    labels: DataFrame | None = None,
) -> DataFrame:
    """dedup_corpus with a QUALITY keep policy: per duplicate cluster keep
    the highest-`score_col` member (ties -> smallest id) instead of the
    smallest id. The policy production pipelines actually want — of N
    near-identical pages keep the longest / highest-quality capture, not
    whichever crawled first. `score_col` must be deterministic per row
    (exact ints like n_chars, or any hash-stable score) for the choice
    to be engine-portable.

    Scale: identical to dedup_corpus except clustered docs route through
    one per-cluster top-1 window — partitions are duplicate clusters
    (small by construction), and only docs IN clusters enter the window;
    the unique mass bypasses it entirely."""
    cc = labels if labels is not None else connected_components(edges, src, dst)
    lab = cc.withColumnRenamed("node", id_col)
    j = docs.join(lab, id_col, "left")
    w = Window.partitionBy("cluster").orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    best = (
        j.where(F.col("cluster").isNotNull())
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .drop("rk")
    )
    return j.where(F.col("cluster").isNull()).unionByName(best)


def kcore(
    edges: DataFrame,
    k: int | DataFrame = 3,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
    assume_distinct: bool = False,
) -> DataFrame:
    """k-core decomposition by iterative peeling: each round drops every
    node with degree < k, which lowers neighbors' degrees, so the next
    round peels again — after convergence the survivors are the k-core
    (the maximal subgraph of minimum degree k), the standard dense-region
    extractor (spam-farm / community-core detection on link graphs). A
    fixed `iterations` keeps the operator deterministic and
    oracle-unrollable; peeling converges in few rounds on the shallow
    graphs dedup/supply data emits (run more rounds until the node set
    fixpoints for the general case).

    Feed SYMMETRIZED edges. Per round: ONE degree aggregate + the
    two-sided semi-join restriction, each keyed on node ids;
    round frames localCheckpoint to keep lineage flat (the
    connected_components pattern). Output: (node, deg) of the surviving
    subgraph after the last round.

    `k` is an int, or a ONE-ROW DataFrame with column `k` for a
    DATA-DERIVED threshold (e.g. median degree + 1 via
    robust.freq_median) — the frame broadcasts into each round's filter,
    keeping the whole operator lazy and oracle-mirrorable.
    ``assume_distinct``: see _edge_frame."""
    e = _edge_frame(edges, src, dst, assume_distinct)
    kf = k.localCheckpoint(eager=False) if isinstance(k, DataFrame) else None
    for _ in range(iterations):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        if kf is not None:
            keep = (
                deg.crossJoin(F.broadcast(kf))
                .where(F.col("deg") >= F.col("k"))
                .select("src")
            )
        else:
            keep = deg.where(F.col("deg") >= k).select("src")
        e = (
            e.join(keep, "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .localCheckpoint(eager=False)
        )
    return e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 4,
    src: str = "src",
    dst: str = "dst",
    assume_distinct: bool = False,
) -> DataFrame:
    """Multi-source BFS: shortest hop distance from ANY seed node to every
    node reachable within `iterations` hops. The remaining primitive of
    the graph surface (components / pagerank / triangles / LPA / k-core
    cover connectivity, centrality, density — this adds DISTANCE): crawl
    frontier analysis, link-graph locality, contamination radius from a
    flagged seed set.

    Pure integer arithmetic (hop counts), so the result is bit-identical
    cross-engine and the oracle unrolls the same rounds as chained CTEs
    (the pagerank pattern). The rounds are _frontier_bfs with no key
    beside the node, so every seed shares one frontier. Feed SYMMETRIZED
    edges for undirected semantics. Output: (node, d) for the reached
    set only; d <= iterations. ``assume_distinct``: see _edge_frame."""
    e = _edge_frame(edges, src, dst, assume_distinct)
    frontier = (
        _seed_nodes(seeds).withColumn("d", F.lit(0)).localCheckpoint(eager=False)
    )
    return _frontier_bfs(e, frontier, [], iterations)


def _seed_nodes(seeds: DataFrame) -> DataFrame:
    """(node): the distinct values of the first column of `seeds`."""
    return seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()


def _frontier_bfs(
    e: DataFrame, frontier: DataFrame, keys: list[str], iterations: int
) -> DataFrame:
    """The frontier-only BFS rounds of bfs_distances, per_source_bfs and
    hyperball_exact_error: (*keys, node, d) for every (keys, node) pair
    within `iterations` hops of the round-0 `frontier` (*keys, node, d=0),
    over the (src, dst) edge frame `e`. `keys` (none, or the source id)
    keep sources apart: a node reached from two sources is two rows.

    Only NEWLY reached pairs travel the edges each round — a pair first
    reached in round t has min hop distance t, so the settled set never
    re-joins and the per-round join volume is frontier x degree, not
    reached x degree (the systolic-delta shape of the HyperBall register
    loop). Output identical to the naive re-join-everything form. The
    settled set is BY CONSTRUCTION the disjoint union of the per-round
    frontier checkpoints, so the union of checkpointed frames keeps
    lineage flat without a per-round checkpoint of its own."""
    fronts = [frontier]
    for t in range(1, iterations + 1):
        settled = reduce(DataFrame.unionByName, fronts)
        cand = (
            e.join(frontier.select(*keys, F.col("node").alias("src")), "src")
            .select(*keys, F.col("dst").alias("node"))
            .distinct()
        )
        frontier = (
            cand.join(settled, [*keys, "node"], "left_anti")
            .withColumn("d", F.lit(t))
            .localCheckpoint(eager=False)
        )
        fronts.append(frontier)
    return reduce(DataFrame.unionByName, fronts)


def rw_pick_sql(
    walk_col: str, node_col: str, t: int, deg_col: str, seed: str = "rw"
) -> str:
    """The random_walks step choice as one SQL text — neighbor index
    1 + hex_int(md5('<seed>|walk|t|node')) % degree — shared verbatim
    between the Spark operator and DuckDB oracles (the hex_frac_sql
    seeded-draw idiom, integer-modular so no float ever appears)."""
    from diepy_spark.operators.sketch import hex_int_sql

    h = (
        f"md5(concat('{seed}|', CAST({walk_col} AS STRING),"
        f" '|{t}|', CAST({node_col} AS STRING)))"
    )
    return f"CAST(1 + ({hex_int_sql(h)} % {deg_col}) AS BIGINT)"


def adjacency_arrays(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(src, nbrs) with nbrs = the dst-ASCENDING neighbor array — the
    CSR adjacency-list artifact a graph store persists once. nbrs[i]
    (1-based element_at) is exactly the neighbor with row_number idx=i
    in the dst-ordered adjacency ladder, so every idx-based pick over
    the ladder is element_at over these arrays. Checkpointed: one
    groupBy(src) pass, reused by every walk step."""
    return (
        edges.groupBy(F.col(src).alias("src"))
        .agg(F.array_sort(F.collect_list(F.col(dst))).alias("nbrs"))
        .localCheckpoint(eager=False)
    )


def random_walks(
    edges: DataFrame,
    steps: int = 4,
    src: str = "src",
    dst: str = "dst",
    seed: str = "rw",
    assume_distinct: bool = False,
    adj: DataFrame | None = None,
) -> DataFrame:
    """DETERMINISTIC random walks — one walk per node, `steps` steps —
    the node2vec/DeepWalk sampling primitive (Perozzi et al. 2014,
    Grover & Leskovec 2016): walk corpora are what graph-embedding
    training pipelines actually materialize at scale. Determinism is the
    whole design: the step taken at (walk, t, node) is neighbor index
    1 + hex_int(md5('<seed>|walk|t|node')) % degree(node) over the
    dst-ordered adjacency, so the corpus is reproducible bit-for-bit
    across engines, partitionings and reruns (the hex_frac_sql seeded-
    draw idiom, integer-modular instead of a float threshold).

    Scale shape (r14 re-plan, guide §2.3/§2.4): the adjacency is the
    CSR ARRAY artifact (adjacency_arrays — dst-ascending neighbor array
    per node, built once, element_at(nbrs, i) ≡ the idx=i row of the
    old row_number ladder, so every pick is value-identical by the
    order isomorphism). Each step is then ONE vertex-sized equi-join
    (state ⋈ arrays on the current node) plus per-row O(1) arithmetic —
    the old shape paid two keyed shuffles per step (degree join +
    (node, idx) adjacency join). Only vertex-sized frames move, ever.

    Output: (t, walk, node) for t = 0..steps — the full trajectory set,
    one frame; aggregate or reshape downstream. ``assume_distinct``:
    see _edge_frame (here only the dedup is skipped: adjacency_arrays
    checkpoints). ``adj``: a prebuilt adjacency_arrays frame over the SAME edge set
    (the session CSR artifact), skipping the build."""
    if adj is None:
        e = edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst")
        ).where(F.col("src") != F.col("dst"))
        if not assume_distinct:
            e = e.distinct()
        adj = adjacency_arrays(e)
    state = adj.select(F.col("src").alias("walk"), F.col("src").alias("node"))
    tiers = [state.select(F.lit(0).alias("t"), "walk", "node")]
    for t in range(1, steps + 1):
        state = (
            state.join(adj.withColumnRenamed("src", "node"), "node")
            .select(
                "walk",
                F.expr(
                    "element_at(nbrs, CAST("
                    + rw_pick_sql("walk", "node", t, "size(nbrs)", seed)
                    + " AS INT))"
                ).alias("node"),
            )
            .localCheckpoint(eager=False)
        )
        tiers.append(state.select(F.lit(t).alias("t"), "walk", "node"))
    out = tiers[0]
    for f in tiers[1:]:
        out = out.unionByName(f)
    return out


def node2vec_walks(
    edges: DataFrame,
    steps: int = 3,
    wb: int = 1,
    wc: int = 4,
    wf: int = 16,
    src: str = "src",
    dst: str = "dst",
    seed: str = "n2v",
    assume_distinct: bool = False,
    adj: DataFrame | None = None,
) -> DataFrame:
    """SECOND-ORDER biased walks — node2vec (Grover & Leskovec 2016):
    the step distribution depends on the PREVIOUS node: a neighbor x of
    cur weighs 1/p if x == prev (return), 1 if x is also prev's
    neighbor (BFS-ish), 1/q otherwise (DFS-ish). Weights here are the
    INTEGER-scaled triple (wb, wc, wf) ~ (1/p, 1, 1/q)*s, and the draw
    is deterministic: r = hex_int(md5('<seed>|walk|t|prev|cur')) %
    total_weight lands in exactly one neighbor's cumulative-weight
    interval — reproducible bit-for-bit like `random_walks`, no float
    ever appears.

    Scale shape: weighted choice needs every neighbor's weight, so each
    step EXPANDS state to (state x out-degree) candidate rows — the
    honest cost of second-order sampling (production systems pre-build
    alias tables to avoid it; the expansion here is the alias-table
    BUILD cost paid per step). The expansion is edges-bounded: one join
    onto the indexed adjacency, one membership LEFT join against the
    edge set on (prev, x), one per-walk cumulative window (partitioned
    by walk — thousands of small groups, never a global sort), then the
    interval filter collapses back to one row per walk. Step 1 has no
    prev and draws uniformly (the `random_walks` pick).

    Output: (t, walk, node, cls) for t = 0..steps; cls in
    {'start','uniform','back','common','forward'} records which bias
    class the arriving step used (the p/q mix diagnostic).
    ``assume_distinct``: as in `random_walks`. ``adj``: a prebuilt adjacency_arrays
    frame over the SAME edge set (the session CSR artifact).

    r14 re-plan (guide §2.3 "shuffle fewer bytes"): the old shape
    MATERIALIZED the state x out-degree candidate expansion as rows and
    pushed it through a per-walk cumulative window — at sf0.1 that is a
    ~12M-row exchange+sort plus 12M md5 draws per step (the draw is
    per-walk constant but was computed per candidate row). Now the
    candidate scan happens INSIDE one row: state joins the CSR arrays
    of cur and prev (two vertex-sized equi-joins), the weight vector is
    a transform() over the dst-ascending neighbor array (identical
    cumulative order by the idx isomorphism), the draw is computed once
    per walk, and the interval pick is an aggregate() fold with a
    struct accumulator (the MTLD accumulator discipline) — O(deg(cur))
    per row with an O(deg(prev)) array_contains membership probe per
    candidate. No corpus-sized shuffle remains; only vertex-sized
    frames move. (Hub-hub hops pay deg×deg local compute where the old
    shape paid a deg-row shuffle with O(1) hash membership — for
    hub-heavy graphs a production system pre-builds alias tables; this
    graph's hops alternate part/supplier so the probe side stays
    small.)"""
    if adj is None:
        e = edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst")
        ).where(F.col("src") != F.col("dst"))
        if not assume_distinct:
            e = e.distinct()
        adj = adjacency_arrays(e)
    # t=1: uniform first step (no prev yet), the random_walks pick
    first = (
        adj.select(
            F.col("src").alias("walk"),
            F.col("src").alias("prev"),
            F.expr(
                "element_at(nbrs, CAST("
                + rw_pick_sql("src", "src", 1, "size(nbrs)", seed)
                + " AS INT))"
            ).alias("cur"),
        )
        .localCheckpoint(eager=False)
    )
    tiers = [
        adj.select(
            F.lit(0).alias("t"),
            F.col("src").alias("walk"),
            F.col("src").alias("node"),
            F.lit("start").alias("cls"),
        ),
        first.select(
            F.lit(1).alias("t"),
            "walk",
            F.col("cur").alias("node"),
            F.lit("uniform").alias("cls"),
        ),
    ]
    state = first
    adj_c = adj.select(F.col("src").alias("cur"), F.col("nbrs").alias("nc"))
    adj_p = adj.select(F.col("src").alias("prev"), F.col("nbrs").alias("np"))
    # weight of candidate x: back (x = prev) -> wb, common neighbor
    # (x in nbrs(prev)) -> wc, forward -> wf — the exact n2v_weight_sql
    # classes with membership read off the prev CSR array instead of
    # the old (prev, x) edge join's adj flag.
    w_of = (
        f"CASE WHEN x = prev THEN CAST({wb} AS BIGINT)"
        f" WHEN array_contains(np, x) THEN CAST({wc} AS BIGINT)"
        f" ELSE CAST({wf} AS BIGINT) END"
    )
    for t in range(2, steps + 1):
        # STAGE A: the reduced draw r = rh % tot per walk. tot comes
        # from the CLOSED FORM over the weight classes — wf*deg +
        # (wb-wf)*[prev in nbrs(cur)] + (wc-wf)*|nbrs(cur) ∩ nbrs(prev)|
        # (exact because prev ∉ nbrs(prev): no self-loops, so the back
        # candidate is never also 'common') — array_intersect is a
        # native hash-set op, no lambda. The checkpoint is the
        # CRITICAL projection barrier: referencing a computed alias
        # inside a lambda makes Catalyst INLINE its whole expression
        # into the lambda body, re-evaluating it PER ELEMENT (measured
        # 10-20 s/step at sf0.1 from exactly that); past the barrier r
        # is a plain attribute, bound once per row.
        rfrm = (
            state.join(adj_c, "cur")
            .join(adj_p, "prev")
            .selectExpr(
                "walk",
                "prev",
                "cur",
                f"({n2v_draw_sql('walk', t, 'prev', 'cur', seed)}) % ("
                f" CAST({wf} AS BIGINT) * size(nc)"
                f" + CAST({wb - wf} AS BIGINT)"
                "   * (CASE WHEN array_contains(nc, prev) THEN 1 ELSE 0 END)"
                f" + CAST({wc - wf} AS BIGINT)"
                "   * size(array_intersect(nc, np))) AS r",
            )
            .localCheckpoint(eager=False)
        )
        # STAGE B: land r in the cumulative-weight interval. The fold
        # packs (cum, prefix-count of cum <= r) into ONE BIGINT (cum in
        # the high bits, count in the low 31 — the packed-DP idiom; no
        # per-element struct allocation), so pick = 1 + |{i : cum_i <=
        # r}| — identical to the old window filter cum - w <= r < cum.
        state = (
            rfrm.join(adj_c, "cur")
            .join(adj_p, "prev")
            .selectExpr(
                "walk",
                "prev",
                "cur",
                "np",
                "nc",
                f"1 + CAST((aggregate(transform(nc, x -> {w_of}),"
                " CAST(0 AS BIGINT),"
                " (a, w) -> shiftleft(shiftright(a, 31) + w, 31)"
                "          + (a % 2147483648)"
                "          + (CASE WHEN shiftright(a, 31) + w <= r"
                "             THEN 1 ELSE 0 END),"
                " a -> a % 2147483648)) AS INT) AS pick",
            )
            .selectExpr(
                "walk",
                "cur AS prev",
                "element_at(nc, pick) AS cur",
                "CASE WHEN element_at(nc, pick) = prev THEN 'back'"
                " WHEN array_contains(np, element_at(nc, pick))"
                " THEN 'common'"
                " ELSE 'forward' END AS cls",
            )
            .localCheckpoint(eager=False)
        )
        tiers.append(
            state.select(
                F.lit(t).alias("t"), "walk", F.col("cur").alias("node"), "cls"
            )
        )
        state = state.drop("cls")
    out = tiers[0]
    for f in tiers[1:]:
        out = out.unionByName(f)
    return out


def n2v_weight_sql(
    x_col: str, prev_col: str, adj_col: str, wb: int, wc: int, wf: int
) -> str:
    """node2vec bias weight of candidate x — shared Spark/DuckDB text."""
    return (
        f"CAST(CASE WHEN {x_col} = {prev_col} THEN {wb}"
        f" WHEN {adj_col} IS NOT NULL THEN {wc}"
        f" ELSE {wf} END AS BIGINT)"
    )


def n2v_class_sql(x_col: str, prev_col: str, adj_col: str) -> str:
    """node2vec bias class label of candidate x — shared text."""
    return (
        f"CASE WHEN {x_col} = {prev_col} THEN 'back'"
        f" WHEN {adj_col} IS NOT NULL THEN 'common'"
        f" ELSE 'forward' END"
    )


def n2v_draw_sql(
    walk_col: str, t: int, prev_col: str, cur_col: str, seed: str = "n2v"
) -> str:
    """The raw node2vec draw integer (reduced mod total weight at the
    use site, where the per-walk total is in scope) — shared text."""
    from diepy_spark.operators.sketch import hex_int_sql

    h = (
        f"md5(concat('{seed}|', CAST({walk_col} AS STRING),"
        f" '|{t}|', CAST({prev_col} AS STRING),"
        f" '|', CAST({cur_col} AS STRING)))"
    )
    return f"CAST({hex_int_sql(h)} AS BIGINT)"


def _hb_register_tiers(e: DataFrame, iterations: int, m: int):
    """Shared HyperBall register machinery (used by hyperball and
    hyperball_exact_error): given the prepared distinct, self-loop-free
    edge frame, yield (t, registers) for t = 0..iterations where
    registers = (node, bucket, mr) is every node's HLL register set
    after round t.

    Systolic delta propagation (Boldi & Vigna §4.1): only registers
    that IMPROVED last round travel the edges. Sound because register
    max is monotone over an unweighted graph: a value that can improve
    node w at round t either arrived at its neighbour u in round t-1
    (so it's in the delta) or sat at u earlier — and then it already
    propagated to w in an earlier round. By the saturating round the
    delta is near-empty, which is where the naive all-registers join
    pays its full edges x m price for nothing."""
    from diepy_spark.operators.sketch import hll_bucket_sql, hll_rho_sql

    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    h = nodes.select("node", F.md5(F.col("node").cast("string")).alias("h"))
    cur = h.select(
        "node",
        F.expr(hll_bucket_sql("h", m)).alias("bucket"),
        F.expr(hll_rho_sql("h")).alias("mr"),
    ).localCheckpoint(eager=False)
    yield 0, cur

    delta = cur
    for t in range(1, iterations + 1):
        prop = (
            e.join(delta.select(F.col("node").alias("src"), "bucket", "mr"), "src")
            .groupBy(F.col("dst").alias("node"), F.col("bucket"))
            .agg(F.max("mr").alias("pm"))
        )
        delta = (
            prop.join(cur, ["node", "bucket"], "left")
            .where(F.col("mr").isNull() | (F.col("pm") > F.col("mr")))
            .select("node", "bucket", F.col("pm").alias("mr"))
            .localCheckpoint(eager=False)
        )
        cur = (
            cur.unionByName(delta)
            .groupBy("node", "bucket")
            .agg(F.max("mr").alias("mr"))
            .localCheckpoint(eager=False)
        )
        yield t, cur


def _hb_tier_balls(
    tier_regs: list[tuple[int, DataFrame]],
    m: int,
    alpha: float,
    sd: DataFrame | None = None,
) -> DataFrame:
    """(t, ball) per node per round, folded in ONE aggregation pass
    (r14, guide §2.4): the old shape ran a per-node groupBy once
    PER TIER — iterations+1 separate passes over register state that is
    nodes x m rows each — then unioned the results. Tagging each tier
    with its round literal and folding by (t, node) is one pass over
    the union of the (already-checkpointed) tier frames. Bit-identical:
    the per-(t, node) float sum of 2^-mr is EXACT (the <53-bit
    dyadic-sum argument in hll_rho_sql), hence grouping- and
    order-invariant. `sd` (optional broadcast seed filter) keeps the
    fold restricted per tier without extra exchanges — the semi-joins
    fuse into the single stage feeding the aggregate."""
    allr = None
    for t, regs in tier_regs:
        r = regs if sd is None else regs.join(F.broadcast(sd), "node")
        r = r.select(F.lit(t).alias("t"), "node", "mr")
        allr = r if allr is None else allr.unionByName(r)
    agg = allr.groupBy("t", "node").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("mr"))).alias("s"),
        F.count(F.lit(1)).alias("nb"),
    )
    raw = F.lit(alpha * m * m) / (F.col("s") + (F.lit(m) - F.col("nb")))
    v = F.lit(m) - F.col("nb")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(m) / v),
    ).otherwise(raw)
    return agg.select(
        "t",
        F.round(est, 4).cast("decimal(18,4)").alias("ball"),
    )


def hb_prepare(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
    m: int = 64,
    assume_distinct: bool = False,
) -> tuple[DataFrame, list[tuple[int, DataFrame]]]:
    """Prepared (edge frame, register tiers) pair shared by hyperball
    and hyperball_exact_error: the distinct self-loop-free edge
    checkpoint plus every round's (node, bucket, mr) register
    checkpoint. Callers that memoize this per session (the _ph_sigs
    persisted-index discipline) run the propagation ONCE and fold it
    from as many consumers as they like — narratively the sketch index
    a production pipeline writes beside the graph and joins
    everywhere. ``assume_distinct``: see _edge_frame."""
    e = _edge_frame(edges, src, dst, assume_distinct)
    return e, list(_hb_register_tiers(e, iterations, m))


def hyperball(
    edges: DataFrame | None = None,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
    m: int = 64,
    prepared: tuple[DataFrame, list[tuple[int, DataFrame]]] | None = None,
) -> DataFrame:
    """HyperBall (Boldi & Vigna 2013, "In-Core Computation of Geometric
    Centralities with HyperBall"): the NEIGHBORHOOD FUNCTION N(t) —
    estimated count of (node, node-within-t-hops) pairs — via one
    reproducible HyperLogLog counter per node, union-by-register-max
    along edges each round. THE way to get distance statistics
    (effective diameter, ball growth) on a graph whose exact
    all-pairs-BFS is quadratic: per round the state is at most
    nodes x 256 integer registers regardless of ball sizes, where exact
    t-ball materialization (x11_bfs per seed) is unbounded. The sketch
    registers reuse operators/sketch.py's portable md5 layout, so every
    register is an exact integer and the per-node fold is bit-identical
    cross-engine (the <53-bit exact-sum argument in hll_rho_sql).

    Per-t output is summed as DECIMAL(18,4) over the 4-decimal-rounded
    per-node ball estimates — decimal addition is exact and
    order-independent, so the corpus-sized float sum that would break
    hash equality never happens; the decimal collapses to DOUBLE only in
    the final projection.

    Scale shape: per round ONE shuffle join (registers onto edges by
    source) + ONE (node, bucket) max-aggregate with map-side combine —
    the bfs_distances round shape with registers instead of hop counts;
    edge frame checkpoints once, register frame per round (flat
    lineage).

    `m` sizes the per-node counter (must divide 256; hll_alpha supplies
    Flajolet's small-m bias constants). The register STATE is
    nodes x m rows and the per-round propagate join ships
    edges x (saturated) m rows, so m is the lever that prices accuracy
    against shuffle volume — 64 keeps the relative error ~1.3/sqrt(64)
    = 16% (fine for ball-growth curves) at a quarter of m=256's state.
    The <53-bit exact-sum argument (hll_rho_sql) holds for any m <= 256.

    Output: (t, n_nodes, nf, avg_ball, coverage) for t = 0..iterations,
    nf = estimated N(t), coverage = nf / nf(iterations)."""
    from diepy_spark.operators.sketch import hll_alpha

    if prepared is None:
        prepared = hb_prepare(edges, iterations, src, dst, m)
    _e, tier_regs = prepared
    alpha = hll_alpha(m)

    allt = _hb_tier_balls(tier_regs, m, alpha)
    per_t = allt.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("ball").alias("nf_dec"),
    )
    last = per_t.where(F.col("t") == iterations).select(
        F.col("nf_dec").alias("nf_last")
    )
    return (
        per_t.crossJoin(F.broadcast(last))
        .selectExpr(
            "t",
            "n_nodes",
            "CAST(nf_dec AS DOUBLE) AS nf",
            "round(CAST(nf_dec AS DOUBLE) / CAST(n_nodes AS DOUBLE), 4) AS avg_ball",
            "round(CAST(nf_dec AS DOUBLE) / CAST(nf_last AS DOUBLE), 6) AS coverage",
        )
        .orderBy("t")
    )


def hyperball_exact_error(
    edges: DataFrame | None = None,
    seeds: DataFrame | None = None,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
    m: int = 64,
    prepared: tuple[DataFrame, list[tuple[int, DataFrame]]] | None = None,
) -> DataFrame:
    """HyperBall ERROR instrument: the measured price of the m-register
    approximation (hyperball's `m` docstring calls m the
    accuracy-vs-shuffle lever — this is the sheet that prices it with
    data instead of the 1.3/sqrt(m) asymptote). For a bounded seed
    sample it runs BOTH sides on the SAME graph:

    - exact: per-seed BFS over (seed, node, d) state — K seeds x ball
      rows, the bounded-sample version of the all-pairs materialization
      HyperBall exists to avoid;
    - estimate: the identical register rounds as hyperball (shared
      _hb_register_tiers machinery, so the sketch being priced is
      byte-identical to the production one), per-node fold restricted
      to the seeds via a broadcast semi-filter.

    Output per t = 0..iterations: n_seeds, exact_pairs (BIGINT: sum of
    exact |B(seed,t)|), est_sum (DECIMAL(18,4) sum of the seeds'
    4-decimal HLL ball estimates, collapsed to DOUBLE at render), and
    est_over_exact = round(est_sum/exact_pairs, 6) — the multiplicative
    bias of the sketch at that radius.

    Scale shape: register side is exactly hyperball's (one propagate
    join + one register max per round, systolic delta); exact side is
    one (seed-replicated) frontier join + one min-agg per round with
    state bounded by seeds x reached nodes — the instrument stays
    runnable at any scale by bounding the seed set, never the graph."""
    from diepy_spark.operators.sketch import hll_alpha

    if prepared is None:
        prepared = hb_prepare(edges, iterations, src, dst, m)
    e, tier_regs = prepared
    sd = _seed_nodes(seeds).localCheckpoint(eager=False)
    alpha = hll_alpha(m)

    est_all = _hb_tier_balls(tier_regs, m, alpha, sd=sd)
    est = est_all.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n_seeds"),
        F.sum("ball").alias("est_dec"),
    )

    # Exact per-seed balls: BFS keyed by (seed, node) so each seed's
    # ball stays separate (bfs_distances folds seeds together via
    # min-distance; this instrument must not). The round-0 frame is a
    # projection of the already-checkpointed sd.
    frontier = sd.select(
        F.col("node").alias("seed"), "node", F.lit(0).alias("d")
    )
    dist = _frontier_bfs(e, frontier, ["seed"], iterations)
    exact = (
        dist.select(F.explode(F.sequence(F.col("d"), F.lit(iterations))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_pairs"))
    )

    return (
        est.join(exact, "t")
        .selectExpr(
            "CAST(t AS INT) AS t",
            "n_seeds",
            "exact_pairs",
            "CAST(est_dec AS DOUBLE) AS est_sum",
            "round(CAST(est_dec AS DOUBLE) / CAST(exact_pairs AS DOUBLE), 6)"
            " AS est_over_exact",
        )
        .orderBy("t")
    )


def hits(
    edges: DataFrame,
    iterations: int = 4,
    src: str = "src",
    dst: str = "dst",
    scale: int = 10**6,
    assume_distinct: bool = False,
) -> DataFrame:
    """HITS (Kleinberg 1999): hub and authority scores on a DIRECTED
    graph in PURE INTEGER arithmetic. The textbook iteration normalizes
    by the L2 norm — an irrational that would make every score a float
    and the result aggregation-order dependent (the same reason
    pagerank above is integer); HITS converges to the principal
    eigenvector DIRECTION under any positive rescaling, so we normalize
    by the MAX instead: after each half-step, score = raw * scale div
    max(raw) — exact integers end to end, bit-identical cross-engine.

    a_t(v) = rescale(Σ_{u→v} h_{t-1}(u));  h_t(u) = rescale(Σ_{u→v} a_t(v)).

    Scale shape: per half-step ONE shuffle join (scores onto edges) +
    ONE aggregate on the far key + a 1-row max broadcast back — the
    pagerank round shape twice per iteration; static frames checkpoint
    once.

    Overflow audit: raw <= max_degree * scale, then * scale again for
    the rescale: max_degree * scale^2 must stay < 2^63 — scale=1e6
    allows max degree ~9e6.

    Output: (node, hub, auth) for every node, scores in units of
    1/scale with max = scale. ``assume_distinct`` as in `pagerank`."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if not assume_distinct:
        e = e.distinct().localCheckpoint(eager=False)
    # r13: the two half-steps join the edge frame on OPPOSITE keys (hub
    # mass flows u->v, authority mass v->u), so one layout can never
    # serve both. Keep a second copy partitioned on v: one repartition
    # pass up front buys the e-side exchange of the auth->hub half-step
    # at every iteration (the caller's src layout covers the hub->auth
    # half). The CSR/CSC pair every production graph store keeps.
    ev = keyed_checkpoint(e, "v")
    # us/vs are read once (init + final assembly), not per-iteration —
    # plain AQE-planned checkpoints measured faster than capturing their
    # 32-partition distinct layout (interleaved A/B: run1 1.4->0.6 s)
    us = e.select("u").distinct().localCheckpoint(eager=False)
    vs = e.select("v").distinct().localCheckpoint(eager=False)
    hub = us.select("u", F.lit(int(scale)).cast("bigint").alias("h"))

    def _rescale(df, col):
        mx = df.agg(F.max(col).alias("__mx"))
        return df.crossJoin(F.broadcast(mx)).select(
            *[c for c in df.columns if c != col],
            F.expr(f"({col} * CAST({scale} AS BIGINT)) div __mx").alias(col),
        )

    auth = None
    for _ in range(iterations):
        araw = (
            e.join(hub, "u")
            .groupBy("v")
            .agg(F.sum("h").alias("a"))
        )
        auth = _rescale(araw, "a").localCheckpoint(eager=False)
        hraw = (
            ev.join(auth, "v")
            .groupBy("u")
            .agg(F.sum("a").alias("h"))
        )
        hub = _rescale(hraw, "h").localCheckpoint(eager=False)
    return (
        us.select(F.col("u").alias("node"))
        .unionByName(vs.select(F.col("v").alias("node")))
        .distinct()
        .join(hub.select(F.col("u").alias("node"), "h"), "node", "left")
        .join(auth.select(F.col("v").alias("node"), "a"), "node", "left")
        .select(
            "node",
            F.coalesce("h", F.lit(0)).cast("bigint").alias("hub"),
            F.coalesce("a", F.lit(0)).cast("bigint").alias("auth"),
        )
    )


def per_source_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 4,
    src: str = "src",
    dst: str = "dst",
    assume_distinct: bool = False,
) -> DataFrame:
    """PER-SOURCE BFS distances: (s, node, d) for every seed s and
    every node within `iterations` hops of it — the centrality-grade
    sibling of bfs_distances (which merges the seed set into one
    frontier and loses per-source attribution). Pure integer hop
    counts; the oracle unrolls the same rounds as chained CTEs.

    The rounds are _frontier_bfs keyed by the source s. A seed listed
    twice is one source. State is bounded by |seeds| x reached nodes —
    the seed set is the priced lever, exactly as in Brandes-style
    sampled centrality. Feed SYMMETRIZED edges for undirected
    semantics. ``assume_distinct``: see _edge_frame."""
    e = _edge_frame(edges, src, dst, assume_distinct)
    frontier = (
        _seed_nodes(seeds)
        .select(F.col("node").alias("s"), "node", F.lit(0).alias("d"))
        .localCheckpoint(eager=False)
    )
    return _frontier_bfs(e, frontier, ["s"], iterations)


def closeness_centrality(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 4,
    assume_distinct: bool = False,
) -> DataFrame:
    """Closeness centrality for a seed set: (r-1)/sum(d) over the
    reached ball (standard closeness restricted to the k-hop horizon —
    the bounded-compute centrality a 100 TB graph actually affords;
    exact to the true metric whenever the ball covers the component).
    Exact integer (r, sum d) with one float division at the end."""
    dist = per_source_bfs(
        edges, seeds, iterations=iterations, assume_distinct=assume_distinct
    )
    return dist.groupBy("s").agg(
        (F.count(F.lit(1)) - 1).cast("bigint").alias("n_reached"),
        F.sum("d").cast("bigint").alias("sum_dist"),
    ).selectExpr(
        "s AS node",
        "n_reached",
        "sum_dist",
        "CASE WHEN sum_dist = 0 THEN CAST(0 AS DOUBLE)"
        " ELSE round(CAST(n_reached AS DOUBLE) / CAST(sum_dist AS DOUBLE),"
        " 6) END AS closeness",
    )


def katz_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 4,
    scale: int = 10**9,
    alpha_den: int = 1024,
    assume_distinct: bool = False,
) -> DataFrame:
    """Katz centrality in PURE INTEGER arithmetic (Katz 1953): x(v)
    counts walks of every length into v, geometrically damped —
    x_{t+1}(v) = beta*scale + (Σ_{u→v} x_t(u)) // alpha_den with
    alpha = 1/alpha_den and beta = 1. The degree-normalization-free
    sibling of ``pagerank``: a node adjacent to one hub scores high even
    with a single edge (PageRank splits the hub's mass across its
    out-degree; Katz does not), which is why Katz is the standard
    influence score on follower/citation graphs.

    Same determinism contract as ``pagerank``: bigint ranks in units of
    1/scale, floor divisions, bit-identical across engines; the oracle
    unrolls the same rounds as chained CTEs. Convergence requires
    alpha < 1/lambda_max; the default 1/1024 covers max degree < 1024
    (the declared query's supply graph measures dmax = 682 at sf0.1 —
    alpha*dmax ~ 0.67). Overflow: x converges to <=
    beta*scale/(1 - alpha*dmax); inflow sums stay far under 2^63 at
    the default scale.

    Scale: per iteration ONE shuffle join of scores against edges on
    the source key plus ONE aggregate on the destination key — the
    pagerank shape without the degree dimension; the edge and node
    frames checkpoint once. ``assume_distinct`` as in `pagerank`."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if not assume_distinct:
        e = e.distinct()
    nodes = (
        e.select("u").unionByName(e.select(F.col("v").alias("u"))).distinct()
        .select(F.col("u").alias("node"))
    )
    if not assume_distinct:
        e = e.localCheckpoint(eager=False)
    # plain checkpoint — the keyed layout measured slower (see
    # _pagerank's static-frame comment)
    nodes = nodes.localCheckpoint(eager=False)
    x = nodes.select("node", F.lit(int(scale)).cast("bigint").alias("x"))
    for _ in range(iterations):
        inflow = (
            e.join(x.select(F.col("node").alias("u"), "x"), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("x").alias("inflow"))
        )
        x = nodes.join(inflow, "node", "left").select(
            "node",
            F.expr(
                f"CAST({int(scale)} AS BIGINT) + "
                f"coalesce(inflow, CAST(0 AS BIGINT)) div {alpha_den}"
            ).alias("x"),
        )
    return x


def triangle_edge_support(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    assume_canonical: bool = False,
) -> DataFrame:
    """Per-EDGE triangle support: for each canonical (u < v) edge, the
    number of triangles through it — the edge analog of
    ``triangle_count`` and the inner loop of k-truss decomposition.
    Same degree-based orientation (each triangle enumerated exactly
    once, wedge join bounded at |E|^1.5 — the Suri–Vassilvitskii
    last-reducer fix), then each triangle credits its THREE canonical
    edges in one explode+aggregate pass. Edges in no triangle are
    absent from the output (join back with coalesce 0).

    ``assume_canonical=True`` skips the dedup pass (one full exchange +
    aggregate over |E|) when the caller guarantees the input is already
    distinct canonical (u < v) pairs — the k-truss loop re-derives
    support from an edge set that IS its own previous canon output."""
    if assume_canonical:
        canon = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    else:
        canon = _canon_edges(edges, src, dst)
    tri = _triangle_list_canon(canon)
    return triangle_incidence(tri).groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("sup")
    )


def _triangle_list_canon(canon: DataFrame) -> DataFrame:
    """Every triangle of the distinct canonical (u < v) edge frame
    exactly once, as its SORTED node triple (x < y < z) — the
    degree-oriented wedge enumeration (Suri–Vassilvitskii last-reducer
    bound: out-degrees capped at O(sqrt(E)), wedge join bounded at
    |E|^1.5). Materializing this frame ONCE is the standard k-truss
    shape (Wang & Cheng, VLDB'12): peeling rounds only REMOVE edges, so
    every later round's support is a re-validation of this list — three
    node-id columns per triangle instead of a fresh |E|^1.5 pass."""
    # 3 references in _close_wedges; keyed on the wedge midpoint s (r13)
    # so the wedge self-join reads both legs exchange-free — see
    # triangle_count for why that one is not keyed
    tris = _close_wedges(keyed_checkpoint(_orient(canon), "s"))
    srt = F.array_sort(F.array("w_s", "w_a", "w_b"))
    return tris.select(
        F.element_at(srt, 1).alias("x"),
        F.element_at(srt, 2).alias("y"),
        F.element_at(srt, 3).alias("z"),
    )


def triangle_incidence(tri: DataFrame) -> DataFrame:
    """(x, y, z, u, v): each triangle's three canonical edges, one row
    per (triangle, edge) — x < y < z makes (x,y), (x,z), (y,z) exactly
    the least/greatest pairs the support explode always emitted."""
    return tri.select(
        "x",
        "y",
        "z",
        F.explode(
            F.array(
                F.struct(F.col("x").alias("u"), F.col("y").alias("v")),
                F.struct(F.col("x").alias("u"), F.col("z").alias("v")),
                F.struct(F.col("y").alias("u"), F.col("z").alias("v")),
            )
        ).alias("e"),
    ).select("x", "y", "z", "e.u", "e.v")
