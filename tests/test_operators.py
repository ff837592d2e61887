"""Unit tests for the extended operators (dedup / similarity / text /
multimodal) on tiny hand-built frames — semantics, not oracle parity
(oracle parity is covered by test_relational_oracle over the full set)."""

import pytest
from pyspark.sql import functions as F

from diepy_spark.operators import dedup as D
from diepy_spark.operators import multimodal as M
from diepy_spark.operators import similarity as S
from diepy_spark.operators import text as T


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different words entirely unrelated content here"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    got = df.select(D.shingles_col("text", 2).alias("s")).first()["s"]
    assert sorted(got) == ["a b", "b c", "c d"]
    # short doc → empty, not an error
    df1 = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
    assert df1.select(D.shingles_col("text", 2).alias("s")).first()["s"] == []


def test_exact_dups(docs):
    rows = {r["keep_id"]: r["dup_count"] for r in D.exact_dups(docs).collect()}
    assert rows[1] == 2 and rows[2] == 1 and rows[3] == 1


def test_fingerprint_matches_for_dups(docs):
    fps = {r["doc_id"]: r["fp"] for r in D.fingerprint(docs).collect()}
    assert fps[1] == fps[4] and fps[1] != fps[2]


def test_jaccard_pairs_find_near_dup(docs):
    pairs = {(r["da"], r["db"]): r["jac"] for r in D.ngram_jaccard_pairs(docs, 0.5).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs and 0.5 < pairs[(1, 2)] < 1.0
    assert not any(3 in p for p in pairs)


def test_minhash_lsh_finds_exact_dup(docs):
    pairs = {(r["da"], r["db"]) for r in D.minhash_lsh_pairs(docs, threshold=0.9).collect()}
    assert (1, 4) in pairs


def test_simhash_identical_for_dups(docs):
    sh = {r["d"]: (r["sh0"], r["sh1"], r["sh2"], r["sh3"]) for r in D.simhash(docs).collect()}
    assert sh[1] == sh[4]
    assert all(0 <= v < 65536 for v in sh[1])


def test_simhash_excludes_oversized_docs(spark):
    """Docs beyond SIMHASH_MAX_TOKENS would overflow the 16-bit vote lanes
    into a WRONG signature — the guard must exclude them, not sign them."""
    monster = " ".join(f"t{i}" for i in range(D.SIMHASH_MAX_TOKENS + 1))
    df = spark.createDataFrame(
        [(1, "ok text here"), (2, monster)], "doc_id long, text string"
    )
    got = {r["d"] for r in D.simhash(df).collect()}
    assert got == {1}


def test_cosine_topk_exact(spark):
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.1]), (2, [0.0, 1.0]), (3, [1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    q = vecs.where(F.col("vec_id") == 0)
    c = vecs.where(F.col("vec_id") > 0)
    top = S.cosine_topk(q, c, k=2).collect()
    assert [r["cid"] for r in top] == [3, 1]  # identical vec first, then near
    assert top[0]["cos"] == 1.0


def test_cosine_pairs_guard(spark):
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    # bounded call: unchanged behavior, finds the identical pair
    got = S.cosine_pairs(vecs, threshold=0.99).collect()
    assert [(r["va"], r["vb"]) for r in got] == [(0, 1)]
    # over the bound → refuses (the O(n²) guard)
    with pytest.raises(ValueError, match="exceeds max_rows"):
        S.cosine_pairs(vecs, max_rows=2)
    # no bound and no force → refuses
    with pytest.raises(ValueError, match="O\\(n"):
        S.cosine_pairs(vecs, max_rows=None)
    # force bypasses the probe entirely
    forced = S.cosine_pairs(vecs, max_rows=None, force=True).collect()
    assert [(r["va"], r["vb"]) for r in forced] == [(0, 1)]


def test_ann_lsh_self_match(spark):
    vecs = spark.createDataFrame(
        [(i, [float(i == j) for j in range(8)]) for i in range(8)]
        + [(100, [1.0] + [0.0] * 7)],
        "vec_id long, embedding array<float>",
    )
    got = S.ann_topk_lsh(vecs.where(F.col("vec_id") == 100), vecs.where(F.col("vec_id") < 100), k=1)
    rows = got.collect()
    # vec 0 is identical to the query → same bucket, cos 1.0
    assert rows and rows[0]["cid"] == 0 and rows[0]["cos"] == 1.0


def test_ivf_topk_probes_right_cell(spark):
    vecs = spark.createDataFrame(
        # centroids 0/1 along axes 0/1; corpus 10..13 near one of them;
        # query 20 near axis 0 → must search cell 0 only
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]),
         (10, [0.9, 0.1]), (11, [0.8, 0.0]), (12, [0.1, 0.9]), (13, [0.0, 0.7]),
         (20, [1.0, 0.05])],
        "vec_id long, embedding array<float>",
    )
    cents = vecs.where(F.col("vec_id") < 2)
    corpus = vecs.where((F.col("vec_id") >= 10) & (F.col("vec_id") < 20))
    q = vecs.where(F.col("vec_id") == 20)
    rows = sorted(S.ivf_topk(q, corpus, cents, k=4).collect(), key=lambda r: r["rk"])
    # only cell-0 members (10, 11) are candidates; 12/13 live in cell 1
    assert sorted(r["cid"] for r in rows) == [10, 11]
    assert rows[0]["cid"] == 11  # [0.8, 0] is more parallel to [1, 0.05]


def test_lang_id_english(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog in the house"), (2, "der hund und die katze ist nicht hier"), (3, "zzz qqq")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["pred_lang"] for r in T.lang_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "und"}


def test_token_stats(spark):
    df = spark.createDataFrame([(1, "Hello, world! hello")], "doc_id long, text string")
    r = T.token_stats(df).first()
    assert r["word_tokens"] == 3 and r["distinct_tokens"] == 2 and r["ws_tokens"] == 3


def test_quality_score_range(docs):
    for r in T.quality_score(docs).collect():
        assert 0.0 <= r["score"] <= 1.0


def test_multimodal_plumbing(docs):
    out = M.decode_media(M.with_binary_payload(docs)).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["byte_len"] == len("the quick brown fox jumps over the lazy dog")
    assert by_id[1]["first_byte"] == ord("t")
    assert by_id[1]["magic"] == "the ".encode().hex()
    assert by_id[1]["width"] == ord("t")


def test_decode_stub_strict_raises():
    with pytest.raises(NotImplementedError):
        M.decode_stub(b"bytes", strict=True)


def test_salted_join_matches_plain_join(spark):
    from diepy_spark.operators import skew as K

    left = spark.createDataFrame(
        [(i, "hot" if i % 10 != 9 else f"k{i}") for i in range(200)], "id long, k string"
    )
    right = spark.createDataFrame(
        [("hot", 1.0)] + [(f"k{i}", float(i)) for i in range(200)], "k string, w double"
    )
    got = K.salted_join(left, right, on=["k"], salt_from=["id"], buckets=8)
    plain = left.join(right, "k")
    assert got.count() == plain.count()
    assert got.select(F.sum("w")).first()[0] == plain.select(F.sum("w")).first()[0]


def test_salted_join_rejects_right_preserving_modes(spark):
    from diepy_spark.operators import skew as K

    df = spark.createDataFrame([(1, "a")], "id long, k string")
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="left-preserving"):
            K.salted_join(df, df, on=["k"], salt_from=["id"], how=how)


# --------------------------------------------------------------------------
# timeseries: as-of join + sessionization
# --------------------------------------------------------------------------

def test_asof_join_semantics(spark):
    from diepy_spark.operators.timeseries import asof_join

    left = spark.createDataFrame(
        [(1, 10, "l10"), (1, 20, "l20"), (2, 5, "l5")],
        "k long, ts long, lv string",
    )
    right = spark.createDataFrame(
        [(1, 10, "r10", None), (1, 15, "r15", "x"), (2, 9, "r9", "y")],
        "k long, ts long, rv string, extra string",
    )
    got = {
        r["lv"]: (r["rv"], r["extra"])
        for r in asof_join(left, right, on=["k"], ts_col="ts").collect()
    }
    # inclusive tie: left ts=10 sees right ts=10, whose NULL extra must be
    # carried faithfully (struct payload, not per-column last-non-null)
    assert got["l10"] == ("r10", None)
    assert got["l20"] == ("r15", "x")  # latest prior, not just any prior
    assert got["l5"] == (None, None)  # no prior right row -> NULL payload


def test_asof_join_rejects_column_collision(spark):
    from diepy_spark.operators.timeseries import asof_join

    df = spark.createDataFrame([(1, 1, "a")], "k long, ts long, v string")
    with pytest.raises(ValueError, match="collide"):
        asof_join(df, df, on=["k"], ts_col="ts")


def test_assign_sessions_gap_boundary(spark):
    from diepy_spark.operators.timeseries import assign_sessions

    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:30:00"),  # gap == 1800s exactly -> SAME session
        (1, "2024-01-01 01:00:00.000001"),  # gap 1800.000001s -> NEW session
        (2, "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "user long, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    got = {
        (r["user"], str(r["ts"])): r["session_seq"]
        for r in assign_sessions(df, on=["user"], ts_col="ts").collect()
    }
    assert got[(1, "2024-01-01 00:00:00")] == 1
    assert got[(1, "2024-01-01 00:30:00")] == 1
    assert got[(1, "2024-01-01 01:00:00.000001")] == 2
    assert got[(2, "2024-01-01 00:00:00")] == 1


def test_ewma_recurrence_and_partitioning_independence(spark):
    from diepy_spark.operators.timeseries import ewma

    rows = [
        (1, 3, 8.0),   # out of ts order on purpose: operator must sort
        (1, 1, 4.0),
        (1, 2, 6.0),
        (2, 1, 10.0),  # single-event key: s_1 = x_1, no smoothing
    ]
    df = spark.createDataFrame(rows, "k long, ts long, value double")
    got = {
        (r["k"], r["ts"]): r["ewma"]
        for r in ewma(df, on=["k"], ts_col="ts", alpha=0.5).collect()
    }
    # s1=4, s2=0.5*6+0.5*4=5, s3=0.5*8+0.5*5=6.5 — exact in binary fp
    assert got[(1, 1)] == 4.0
    assert got[(1, 2)] == 5.0
    assert got[(1, 3)] == 6.5
    assert got[(2, 1)] == 10.0
    # deterministic under any input partitioning (the cross-engine /
    # cross-cluster contract): repartition(7) must not change a bit
    re = {
        (r["k"], r["ts"]): r["ewma"]
        for r in ewma(df.repartition(7), on=["k"], ts_col="ts", alpha=0.5).collect()
    }
    assert re == got


def test_ewma_alpha_and_tiebreak(spark):
    from diepy_spark.operators.timeseries import ewma

    # equal ts: tiebreak column orders the fold; alpha=0.25 exercises the
    # generic alpha*x + (1-alpha)*acc path (0.25/0.75 exact in binary fp)
    rows = [(1, 5, 1, 0.0), (1, 5, 2, 8.0)]
    df = spark.createDataFrame(rows, "k long, ts long, eid long, value double")
    got = {
        r["eid"]: r["ewma"]
        for r in ewma(
            df, on=["k"], ts_col="ts", alpha=0.25, tiebreak=["eid"]
        ).collect()
    }
    assert got[1] == 0.0
    assert got[2] == 0.25 * 8.0 + 0.75 * 0.0


# --------------------------------------------------------------------------
# sketch: KMV distinct estimator
# --------------------------------------------------------------------------

def test_kmv_exact_below_capacity(spark):
    from diepy_spark.operators.sketch import kmv_distinct

    df = spark.createDataFrame(
        [("a", f"v{i % 7}") for i in range(50)] + [("b", f"w{i}") for i in range(3)],
        "g string, v string",
    )
    got = {r["g"]: r for r in kmv_distinct(df, ["g"], "v", k=64, include_exact=True).collect()}
    assert got["a"]["kmv_estimate"] == 7.0 and got["a"]["n_distinct_true"] == 7
    assert got["b"]["kmv_estimate"] == 3.0


def test_kmv_estimates_above_capacity(spark):
    from diepy_spark.operators.sketch import kmv_distinct

    df = spark.createDataFrame([("a", f"value-{i}") for i in range(2000)], "g string, v string")
    est = kmv_distinct(df, ["g"], "v", k=64).first()["kmv_estimate"]
    # KMV with k=64 has ~12.5% relative stddev; 3 sigma bound
    assert 1250 < est < 2750


# --------------------------------------------------------------------------
# sampling: deterministic hash split / sample
# --------------------------------------------------------------------------

def test_hash_split_deterministic_and_total(spark):
    from diepy_spark.operators.sampling import hash_split

    df = spark.createDataFrame([(i,) for i in range(1000)], "id long")
    a = {r["id"]: r["split"] for r in hash_split(df, "id").collect()}
    b = {r["id"]: r["split"] for r in hash_split(df, "id").collect()}
    assert a == b  # reproducible across runs
    counts = {s: sum(1 for v in a.values() if v == s) for s in ("train", "valid", "test")}
    assert sum(counts.values()) == 1000  # total, no dropped rows
    assert 700 < counts["train"] < 900  # ~80% within loose binomial bounds
    # repartitioning must not change assignment
    c = {r["id"]: r["split"] for r in hash_split(df.repartition(7), "id").collect()}
    assert a == c


def test_hash_sample_stable_and_seed_sensitive(spark):
    from diepy_spark.operators.sampling import hash_sample

    df = spark.createDataFrame([(i,) for i in range(2000)], "id long")
    s1 = {r["id"] for r in hash_sample(df, "id", 0.1, seed="a").collect()}
    s2 = {r["id"] for r in hash_sample(df, "id", 0.1, seed="a").collect()}
    s3 = {r["id"] for r in hash_sample(df, "id", 0.1, seed="b").collect()}
    assert s1 == s2 and s1 != s3
    assert 100 < len(s1) < 320  # ~200 expected
    # nested: a 0.05 sample with the same seed is a subset of the 0.1 sample
    s_small = {r["id"] for r in hash_sample(df, "id", 0.05, seed="a").collect()}
    assert s_small <= s1


def test_sampling_validates_inputs(spark):
    from diepy_spark.operators.sampling import hash_frac, hash_split

    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="seed"):
        hash_frac("id", seed="bad'; DROP")
    with pytest.raises(ValueError, match="identifier"):
        hash_frac("id; --")
    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(df, "id", weights={"a": 0.5, "b": 0.2})


def test_hash_sample_is_narrow(spark):
    from diepy_spark.operators.sampling import hash_sample

    df = spark.range(100).withColumnRenamed("id", "k")
    plan = hash_sample(df, "k", 0.5)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure filter: no shuffle


def test_winnow_guarantee_and_compression(spark):
    """Winnowing guarantee: docs sharing a token run of >= w+k-1 tokens
    share at least one fingerprint hash; fingerprints are a strict subset
    of all gram hashes."""
    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 tokens >= w+k-1=6
    rows = [
        (1, f"one two {shared} three four five six seven eight nine"),
        (2, f"xx yy zz {shared} qq rr ss tt uu vv ww"),
        (3, "totally disjoint vocabulary without any overlap at all whatsoever"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = D.winnow_fingerprints(df, k=3, w=4).collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r["doc_id"], set()).add(r["h"])
    assert by_doc[1] & by_doc[2], "shared run must yield a shared fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])
    # compression: selected fingerprints ≪ total grams (13 grams for doc 1)
    assert 1 <= len(by_doc[1]) < 13


def test_winnow_short_doc_single_window(spark):
    # 4 tokens, k=3 -> 2 grams < w=4 -> one window -> exactly 1 fingerprint
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    assert D.winnow_fingerprints(df, k=3, w=4).count() == 1


# --------------------------------------------------------------------------
# clustering: connected components
# --------------------------------------------------------------------------

@pytest.mark.parametrize("local_threshold", [1_000_000, 0])
def test_connected_components_chain_and_islands(spark, local_threshold):
    """Both execution paths (driver union-find, two-phase) must reach the
    identical min-id fixpoint."""
    from diepy_spark.operators.clustering import connected_components

    # chain 1-2-3-4-5 (diameter forces multiple propagation rounds),
    # pair 10-11, and 20-21-22 star
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (21, 20), (21, 22)],
        "a long, b long",
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    got = {
        r["node"]: r["cluster"]
        for r in connected_components(edges, local_threshold=local_threshold).collect()
    }
    assert got == want


def test_connected_components_diameter_guard(spark):
    from diepy_spark.operators.clustering import connected_components

    edges = spark.createDataFrame([(i, i + 1) for i in range(1, 12)], "a long, b long")
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(edges, max_iter=1, local_threshold=0)


def test_two_phase_solves_long_chain_in_log_rounds(spark):
    """The scale story of large-star/small-star: an 80-hop duplicate chain
    (diameter 80) converges within ~log rounds, where plain min-label
    propagation would need one round per hop."""
    from diepy_spark.operators.clustering import connected_components_two_phase

    edges = spark.createDataFrame([(i, i + 1) for i in range(1, 81)], "a long, b long")
    got = {
        r["node"]: r["cluster"]
        for r in connected_components_two_phase(edges, max_iter=12).collect()
    }
    assert got == {i: 1 for i in range(1, 82)}


def test_two_phase_random_graphs_match_union_find(spark):
    """Equivalence on random graphs: the distributed two-phase fixpoint ==
    driver union-find ground truth (deterministic seeds)."""
    import random

    from diepy_spark.operators.clustering import connected_components

    for seed in (7, 23):
        rng = random.Random(seed)
        edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(90)]
        df = spark.createDataFrame(edges, "a long, b long")
        truth = {
            r["node"]: r["cluster"]
            for r in connected_components(df, local_threshold=10**6).collect()
        }
        two = {
            r["node"]: r["cluster"]
            for r in connected_components(df, local_threshold=0).collect()
        }
        assert two == truth


def test_connected_components_local_threshold_boundary(spark, monkeypatch):
    """A graph of exactly ``local_threshold`` distinct undirected edge
    rows (each pair in both directions, a self-loop once) is solved on
    the driver; one row more takes the distributed path. Both equal a
    plain Python union-find."""
    import random

    from diepy_spark.operators import clustering as C

    rng = random.Random(5)
    pairs = {tuple(sorted(rng.sample(range(40), 2))) for _ in range(30)}
    edges = sorted(pairs) + [(99, 99)]
    rows = 2 * len(pairs) + 1
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    truth = {x: find(x) for x in parent}

    paths = []
    for name in ("_local_union_find", "connected_components_two_phase"):
        fn = getattr(C, name)
        monkeypatch.setattr(
            C, name, lambda *a, _fn=fn, _name=name, **k: paths.append(_name) or _fn(*a, **k)
        )
    df = spark.createDataFrame(edges, "a long, b long")
    for threshold, path in ((rows, "_local_union_find"),
                            (rows - 1, "connected_components_two_phase")):
        paths.clear()
        got = C.connected_components(df, local_threshold=threshold).collect()
        assert paths == [path]
        assert {r["node"]: r["cluster"] for r in got} == truth


# --------------------------------------------------------------------------
# vocab / tf-idf / weighted sampling / grouped fit / centroids / merge
# --------------------------------------------------------------------------

def test_vocab_counts_and_doc_freq(docs):
    from diepy_spark.operators.text import vocab

    rows = {r["tok"]: (r["n"], r["doc_freq"]) for r in vocab(docs, top_n=3).collect()}
    # 'the' appears twice in docs 1/2/4 -> n=6, doc_freq=3
    assert rows["the"] == (6, 3)
    assert len(rows) == 3


def test_tfidf_ranks_distinctive_terms(docs):
    from diepy_spark.operators.text import tfidf_top_terms

    top = tfidf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in top:
        by_doc.setdefault(r["doc_id"], []).append(r["tok"])
    # doc 2's most distinctive term is 'cat' (docs 1/4 have 'dog' instead);
    # universal words never take rank 1
    assert by_doc[2][0] == "cat"
    assert by_doc[3][0] != "the"


def test_weighted_sample_includes_heavy_rows_always(spark):
    from diepy_spark.operators.sampling import weighted_hash_sample

    df = spark.createDataFrame(
        [(i, 10_000 if i % 2 == 0 else 0) for i in range(100)], "id long, w long"
    )
    got = {r["id"] for r in weighted_hash_sample(df, "id", "w", 1000.0).collect()}
    assert got == {i for i in range(100) if i % 2 == 0}  # w>=scale always; w=0 never


def test_group_linfit_exact_line(spark):
    from diepy_spark.operators.grouped import group_linfit

    # y = 3x + 7 exactly; one degenerate group (single x value -> den 0)
    rows = [("a", x, 3 * x + 7) for x in range(10)] + [("b", 5, 1), ("b", 5, 3)]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    got = {r["g"]: r for r in group_linfit(df, "g", "x", "y").collect()}
    assert got["a"]["slope"] == 3.0 and got["a"]["intercept"] == 7.0
    assert got["a"]["n"] == 10
    assert got["b"]["slope"] is None  # degenerate: single x value


def test_label_centroids_long_form(spark):
    from diepy_spark.operators.similarity import label_centroids

    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0], 7), (1, [3.0, 2.0], 7), (2, [5.0, 5.0], 8)],
        "vec_id long, embedding array<float>, label int",
    )
    got = {(r["label"], r["i"]): (r["centroid_val"], r["n"]) for r in label_centroids(vecs).collect()}
    assert got[(7, 0)] == (2.0, 2) and got[(7, 1)] == (1.0, 2)
    assert got[(8, 0)] == (5.0, 1)


def test_merge_upsert_semantics(spark):
    from diepy_spark.operators.merge import merge_upsert

    base = spark.createDataFrame([(1, "a", 1), (2, "b", 1), (3, "c", 1)], "k long, v string, ver int")
    upd = spark.createDataFrame([(2, "B", 2), (4, "D", 2)], "k long, v string, ver int")
    got = {r["k"]: r["v"] for r in merge_upsert(base, upd, ["k"], "ver").collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "D"}
    # stale update (lower version) must NOT replace the base row
    stale = spark.createDataFrame([(1, "STALE", 0)], "k long, v string, ver int")
    got2 = {r["k"]: r["v"] for r in merge_upsert(base, stale, ["k"], "ver").collect()}
    assert got2[1] == "a"
    # without version_col the update always wins
    got3 = {r["k"]: r["v"] for r in merge_upsert(base, stale, ["k"]).collect()}
    assert got3[1] == "STALE"


def test_merge_upsert_rejects_mismatched_columns(spark):
    from diepy_spark.operators.merge import merge_upsert

    base = spark.createDataFrame([(1, "a")], "k long, v string")
    upd = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="column sets differ"):
        merge_upsert(base, upd, ["k"])


# ---------------------------------------------------------------------------
# round 2b: repetition, PII, contamination, winnow pairs, HLL
# ---------------------------------------------------------------------------

def test_repetition_stats_exact_fractions(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),          # 6 tokens; g2: 5 grams, 2 distinct; g3: 4 grams, 2 distinct
            (2, "u v w x y z"),          # all unique -> 0 duplicate fraction
            (3, "too short"),            # 2 tokens < max(ns)=3 -> dropped
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in T.repetition_stats(df).collect()}
    assert set(rows) == {1, 2}
    r1 = rows[1]
    assert r1["n_tokens"] == 6
    assert r1["n_grams2"] == 5 and r1["dup_frac2"] == (5 - 2) / 5
    assert r1["n_grams3"] == 4 and r1["dup_frac3"] == (4 - 2) / 4
    r2 = rows[2]
    assert r2["dup_frac2"] == 0.0 and r2["dup_frac3"] == 0.0


def test_redact_pii_counts_and_masks(spark):
    df = spark.createDataFrame(
        [
            (1, "write to alice.smith@corp.example.org or call 555-123-4567 now"),
            (2, "server at 192.168.0.12 and 10.0.0.1 (backup bob@ex.io)"),
            (3, "no personal data in this sentence at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in T.redact_pii(df).collect()}
    assert (rows[1]["n_email"], rows[1]["n_phone"], rows[1]["n_ip"]) == (1, 1, 0)
    assert rows[1]["redacted"] == "write to <email> or call <phone> now"
    assert (rows[2]["n_email"], rows[2]["n_phone"], rows[2]["n_ip"]) == (1, 0, 2)
    assert rows[2]["redacted"] == "server at <ip> and <ip> (backup <email>)"
    assert rows[3]["redacted"] == rows[3]["redacted"] and rows[3]["n_email"] == 0


def test_contamination_counts_shared_grams(spark):
    train = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon"),   # shares the bench 4-gram twice? once
            (11, "alpha beta gamma delta zeta"),      # shares 'alpha beta gamma delta'
            (12, "totally unrelated words only here"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(90, "alpha beta gamma delta epsilon unseen tail")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in D.contamination(train, bench, n=4).collect()}
    # doc 10 shares both 4-grams of its 5 tokens; doc 11 only the first
    assert rows[10]["n_shared_grams"] == 2
    assert rows[11]["n_shared_grams"] == 1
    assert rows[11]["sample_gram"] == "alpha beta gamma delta"
    assert 12 not in rows


def test_contamination_shuffle_fallback_matches(spark):
    train = spark.createDataFrame(
        [(1, "p q r s t"), (2, "x y z w v")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(9, "p q r s")], "doc_id long, text string")
    a = sorted(D.contamination(train, bench, n=4, broadcast_bench=True).collect())
    b = sorted(D.contamination(train, bench, n=4, broadcast_bench=False).collect())
    assert a == b and len(a) == 1


def test_winnow_pairs_shared_run(spark):
    # guarantee: a shared token run of >= w+k-1 = 6 tokens must yield a
    # shared fingerprint -> pair reported at min_shared=1
    df = spark.createDataFrame(
        [
            (1, "one two three four five six seven unique1 end1"),
            (2, "zz one two three four five six seven other tail"),
            (3, "nothing in common with the others at all"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r["da"], r["db"]): r["n_shared_fp"] for r in
             D.winnow_pairs(df, min_shared=1).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert not any(3 in p for p in pairs)
    # raising the bar filters the pair out when it only shares few prints
    strict = D.winnow_pairs(df, min_shared=99).collect()
    assert strict == []


def test_hll_distinct_accuracy_and_determinism(spark):
    from diepy_spark.operators.sketch import hll_distinct

    df = spark.range(0, 3000).select(
        (F.col("id") % 2).alias("g"), (F.col("id") % 1500).alias("v")
    )
    rows = {r["g"]: r for r in
            hll_distinct(df, ["g"], "v", include_exact=True).collect()}
    for g in (0, 1):
        assert rows[g]["n_exact"] == 750
        # HLL with m=256 has ~6.5% standard error; 3 sigma bound
        assert abs(rows[g]["hll_estimate"] - 750) < 0.2 * 750
    # determinism: same input partitioned differently -> same estimate
    again = {r["g"]: r["hll_estimate"] for r in
             hll_distinct(df.repartition(7), ["g"], "v").collect()}
    assert again == {g: rows[g]["hll_estimate"] for g in (0, 1)}


def test_hll_small_range_linear_counting_is_near_exact(spark):
    from diepy_spark.operators.sketch import hll_distinct

    df = spark.range(0, 40).select(F.lit("k").alias("g"), (F.col("id") % 20).alias("v"))
    [r] = hll_distinct(df, ["g"], "v", include_exact=True).collect()
    assert r["n_exact"] == 20
    # linear counting at tiny cardinality is within a couple of counts
    assert abs(r["hll_estimate"] - 20) <= 2


def test_chunk_tokens_windows_and_overlap(spark):
    df = spark.createDataFrame(
        [(1, "t1 t2 t3 t4 t5 t6 t7"), (2, "a b"), (3, "")],
        "doc_id long, text string",
    )
    rows = sorted(
        T.chunk_tokens(df, chunk_size=4, stride=3).collect(),
        key=lambda r: (r["doc_id"], r["chunk_idx"]),
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: starts 1,4,7 -> sizes 4,4,1; overlap token t4 in chunks 0 and 1
    assert [r["n_chunk_tokens"] for r in by_doc[1]] == [4, 4, 1]
    assert [r["chunk_idx"] for r in by_doc[1]] == [0, 1, 2]
    # doc 2: single partial chunk
    assert [r["n_chunk_tokens"] for r in by_doc[2]] == [2]
    # empty doc emits nothing
    assert 3 not in by_doc
    with pytest.raises(ValueError):
        T.chunk_tokens(df, chunk_size=0)


def test_quantize_int8_roundtrip_error_bounds(spark):
    import math

    rows = [(i, [float(i), 100.0 * i, -5.0]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in S.quantize_int8(df).collect()}
    assert len(out) == 8
    # per-dim ranges: [0,7], [0,700], constant -5. Max cell width/2 error:
    # dim0 7/255/2, dim1 700/255/2, dim2 exact 0 -> mse bounded
    max_mse = ((7 / 255 / 2) ** 2 + (700 / 255 / 2) ** 2 + 0.0) / 3
    for r in out.values():
        assert r["recon_mse"] <= max_mse + 1e-9
    # distinct vectors get distinct codes under a grid this coarse
    assert len({r["q_md5"] for r in out.values()}) == 8
    # determinism across partitionings (ordered error fold)
    again = {r["vec_id"]: r for r in S.quantize_int8(df.repartition(5)).collect()}
    assert all(again[k]["recon_mse"] == out[k]["recon_mse"] and
               again[k]["q_md5"] == out[k]["q_md5"] for k in out)


def test_clean_corpus_stages(spark):
    from diepy_spark.operators.corpus import clean_corpus

    good = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [
        (1, good),                                  # clean, unique
        (2, good),                                  # exact dup of 1 -> dropped
        (3, good + " tonight"),                     # near-dup of 1 -> clustered, dropped
        (4, "spam spam spam spam spam spam spam"),  # repetitive -> gate-dropped
        (5, "tiny doc"),                            # < min_tokens -> gate-dropped
        (6, "completely different quality words appear here in this other document thing"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "lang", F.lit("en")
    )
    out = {r["doc_id"]: r for r in
           clean_corpus(df, min_tokens=5, min_score=0.3, max_dup3=0.3,
                        jaccard_threshold=0.5).collect()}
    assert set(out) == {1, 6}
    # doc 1 survived as its cluster's representative
    assert out[1]["cluster"] == 1
    assert out[6]["cluster"] is None
    assert out[1]["n_tokens"] > 5 and 0 < out[1]["score"] <= 1


def test_clean_corpus_cache_lifecycle(spark):
    """Repeated clean_corpus calls must not accumulate CacheManager entries:
    intermediates are LAZY localCheckpoints (materialized by the first CC
    action, blocks GC-reclaimed with the result) or persisted frames
    explicitly released in the finally block — never a lingering cache
    entry. (Lazy, not eager: the eager barrier measured +60% at sf0.1 —
    see corpus.py.)"""
    from diepy_spark.operators.corpus import clean_corpus

    cm = spark._jsparkSession.sharedState().cacheManager()

    def n_cached() -> int:
        return cm.cachedData().size()

    before = n_cached()
    good = "the quick brown fox jumps over the lazy dog and runs far away today"
    for i in range(2):
        df = spark.createDataFrame(
            [(1, good), (2, good), (6, f"different content round {i} with many plain words")],
            "doc_id long, text string",
        ).withColumn("lang", F.lit("en"))
        clean_corpus(df, min_tokens=3, min_score=0.1, max_dup3=0.9).collect()
        assert n_cached() == before, f"cache entries leaked after call {i + 1}"


def test_lm_score_matches_python_reference(spark):
    import math

    texts = {
        1: "the cat sat on the mat",
        2: "the the the the",
        3: "unique words only here",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r["doc_id"]: r for r in T.lm_score(df).collect()}

    toks = {d: t.split() for d, t in texts.items()}
    from collections import Counter
    model = Counter(w for ws in toks.values() for w in ws)
    total = sum(model.values())
    for d, ws in toks.items():
        s = 0.0
        for w in ws:  # token order, like the operator's ordered fold
            s += -math.log(model[w] / total)
        nll = s / len(ws)
        assert got[d]["n_tokens"] == len(ws)
        assert got[d]["nll"] == round(nll, 6)
        assert got[d]["ppl"] == round(math.exp(nll), 4)
    # repetitive doc of common tokens scores LOWER nll than rare-word doc
    assert got[2]["nll"] < got[3]["nll"]


def test_chunk_tokens_total_coverage_property(spark):
    """Every token must land in at least one chunk; chunk sizes follow
    min(chunk_size, n - start + 1) — across assorted doc lengths."""
    import random

    rng = random.Random(11)
    rows = [(i, " ".join(f"t{j}" for j in range(rng.randrange(1, 40))))
            for i in range(1, 25)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    size, stride = 7, 5
    out = T.chunk_tokens(df, chunk_size=size, stride=stride).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, text in rows:
        n = len(text.split())
        chunks = sorted(by_doc[doc_id], key=lambda r: r["chunk_idx"])
        starts = [1 + c["chunk_idx"] * stride for c in chunks]
        # starts cover 1..n with step stride while start <= n
        assert starts == list(range(1, n + 1, stride))
        covered = set()
        for c, s in zip(chunks, starts):
            assert c["n_chunk_tokens"] == min(size, n - s + 1)
            covered.update(range(s, s + c["n_chunk_tokens"]))
        assert covered == set(range(1, n + 1))


def test_hll_registers_match_python_reference(spark):
    """Pin the full register scheme: a pure-Python replica (hashlib md5,
    same bucket/rho/fold arithmetic) must reproduce the Spark estimate
    EXACTLY — the property that makes the sketch engine-portable."""
    import hashlib

    from diepy_spark.operators.sketch import HLL_ALPHA, HLL_M, hll_distinct

    values = [f"v{i}" for i in range(700)]
    df = spark.createDataFrame([("g", v) for v in values], "g string, v string")
    [r] = hll_distinct(df, ["g"], "v").collect()

    regs: dict = {}
    for v in values:
        h = hashlib.md5(v.encode()).hexdigest()
        bucket = int(h[0], 16) * 16 + int(h[1], 16)
        window = h[2:10]
        stripped = window.lstrip("0")
        if not stripped:
            rho = 33
        else:
            clz4 = {"1": 3, "2": 2, "3": 2}.get(
                stripped[0], 1 if stripped[0] in "4567" else 0
            )
            rho = 4 * (8 - len(stripped)) + clz4 + 1
        regs[bucket] = max(regs.get(bucket, 0), rho)
    s = sum(2.0 ** -mr for mr in regs.values())
    nb = len(regs)
    raw = HLL_ALPHA * HLL_M * HLL_M / (s + (HLL_M - nb))
    v0 = HLL_M - nb
    import math
    est = HLL_M * math.log(HLL_M / v0) if (raw <= 2.5 * HLL_M and v0 > 0) else raw
    assert r["hll_estimate"] == round(est, 4)


def test_normalized_dups(spark):
    rows = [
        (1, "Hello, World!"),
        (2, "hello world"),       # same after normalization -> dup of 1
        (3, "HELLO  WORLD?!"),    # same after normalization -> dup of 1
        (4, "different text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["keep_id"]: r["dup_count"] for r in D.normalized_dups(df).collect()}
    assert got == {1: 3, 4: 1}


def test_cross_split_contamination(spark):
    rows = [
        (1, "train", "alpha beta gamma delta epsilon"),
        (2, "valid", "alpha beta gamma delta zeta"),    # shares the 4-gram? no:
        # train grams: 'alpha beta gamma delta', 'beta gamma delta epsilon'
        # valid doc 2 grams: 'alpha beta gamma delta' (shared!), 'beta gamma delta zeta'
        (3, "valid", "totally different words here now"),
        (4, "test", "unrelated content in this document"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, split string, text string")
    got = {
        r["split"]: (r["docs"], r["docs_contaminated"], r["contam_frac"])
        for r in D.cross_split_contamination(df, n=4).collect()
    }
    assert got == {"valid": (2, 1, 0.5), "test": (1, 0, 0.0)}


def test_cross_split_shuffle_fallback_matches(spark):
    rows = [
        (1, "train", "alpha beta gamma delta epsilon"),
        (2, "valid", "alpha beta gamma delta zeta"),
        (3, "valid", "totally different words here now"),
        (4, "test", "unrelated content in this document"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, split string, text string")
    a = sorted(D.cross_split_contamination(df, n=4, broadcast_eval=True).collect())
    b = sorted(D.cross_split_contamination(df, n=4, broadcast_eval=False).collect())
    assert a == b and len(a) == 2


def test_stratified_explicit_fractions_typed_key(spark):
    # explicit-fractions path with a NON-string group column: the fractions
    # frame must take the key type from the source schema, not "string"
    from diepy_spark.operators.sampling import stratified_hash_sample

    df = spark.createDataFrame(
        [(i, i % 2) for i in range(200)], "doc_id long, grp int"
    )
    kept = stratified_hash_sample(
        df, "grp", "doc_id", fractions={0: 1.0, 1: 0.0}, seed="s"
    ).collect()
    assert len(kept) == 100 and all(r["grp"] == 0 for r in kept)


def test_domain_mix(spark):
    rows = [
        (1, "web", "en", "one two three"),
        (2, "web", "en", "four five"),
        (3, "books", "de", "sechs sieben acht neun zehn"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, lang string, text string")
    got = {(r["domain"], r["lang"]): r for r in T.domain_mix(df).collect()}
    assert got[("web", "en")]["docs"] == 2
    assert got[("web", "en")]["tokens"] == 5
    assert got[("books", "de")]["tokens"] == 5
    assert got[("web", "en")]["token_share"] == 0.5
    assert got[("books", "de")]["token_share"] == 0.5


def _brute_spans(docs: dict, L: int):
    """Driver-side reference implementation of duplicated_spans: count
    every L-gram, flag occurrences with corpus count >= 2, merge flagged
    starts whose gap <= L into maximal spans."""
    from collections import Counter

    cnt = Counter()
    grams = {}
    for d, toks in docs.items():
        g = [tuple(toks[i:i + L]) for i in range(len(toks) - L + 1)]
        grams[d] = g
        cnt.update(g)
    out = []
    for d, g in grams.items():
        spans = []
        last_start = None
        for i, gr in enumerate(g, start=1):
            if cnt[gr] < 2:
                continue
            if last_start is not None and i - last_start <= L:
                s, _, n = spans[-1]
                spans[-1] = (s, i, n + 1)
            else:
                spans.append((i, i, 1))
            last_start = i
        out.extend((d, s, e + L - 1, e + L - 1 - s + 1, n) for s, e, n in spans)
    return sorted(out)


def test_duplicated_spans_random_vs_bruteforce(spark):
    # seeded pseudo-random corpora over a tiny vocabulary: duplicated
    # grams are dense, island merges and within-doc repeats are exercised
    # far past the handcrafted cases
    import random

    L = 3
    for seed in (7, 21, 99):
        rng = random.Random(seed)
        docs = {
            d: [rng.choice("abcdef") for _ in range(rng.randint(0, 12))]
            for d in range(1, 21)
        }
        df = spark.createDataFrame(
            [(d, " ".join(t)) for d, t in docs.items()], "doc_id long, text string"
        )
        got = sorted(
            (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"], r["n_grams"])
            for r in D.duplicated_spans(df, L=L).collect()
        )
        assert got == _brute_spans(docs, L), f"seed={seed}"


def test_pack_shards_random_vs_bruteforce(spark):
    import random

    rng = random.Random(5)
    rows = [
        (d, rng.choice(["a", "b"]), " ".join("tok" for _ in range(rng.randint(0, 9))))
        for d in range(1, 41)
    ]
    budget = 10
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["doc_id"]: (r["shard"], r["n_tokens"]) for r in
           T.pack_shards(df, budget_tokens=budget).collect()}
    cum = {}
    for d, src, text in rows:  # id order within group
        n = len(text.split()) if text else 0
        before = cum.get(src, 0)
        assert got[d] == (before // budget, n), d
        cum[src] = before + n


SPAN_DOCS = [
    (1, "a b c d e f g h"),
    (2, "x x a b c d e f z z"),          # shares the 6-token run a..f with doc 1
    (3, "p q r s t u v"),                # unique
    (4, "m n o p z1 z2 m n o p"),        # within-doc repeat of 'm n o p'
]


def test_decode_media_real_codec_path(spark):
    # gated on a real codec being importable: generate a tiny real image,
    # push it through the SAME Arrow plumbing, expect true pixel dims
    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    buf = io.BytesIO()
    PIL_Image.new("RGB", (5, 3)).save(buf, format="PNG")
    df = spark.createDataFrame([(1, buf.getvalue())], "doc_id long, payload binary")
    (row,) = M.decode_media(df, use_codecs=True).collect()
    assert (row["width"], row["height"]) == (5, 3)


def test_decode_media_stub_pinned_without_codecs(spark):
    # use_codecs=False must produce the deterministic stub dims regardless
    # of environment — the declared x6 queries depend on this pin
    df = spark.createDataFrame([(1, b"abcd")], "doc_id long, payload binary")
    (row,) = M.decode_media(df, use_codecs=False).collect()
    assert (row["width"], row["height"]) == (ord("a") % 256, 4 % 256)


def test_ann_multiprobe_recall_monotone(spark, sf_small):
    # multi-probe candidate sets are supersets of the single-probe ones,
    # so recall@k vs the exact ranking must not drop
    import __spark_entry__ as entry

    rec = {
        r["method"]: r["recall"]
        for r in entry.queries()["x3_ann_recall"](spark, sf_small).collect()
    }
    assert set(rec) == {"lsh", "lsh_h1", "ivf", "ivf_p2"}
    assert rec["lsh_h1"] >= rec["lsh"]
    assert rec["ivf_p2"] >= rec["ivf"]


def test_ivf_assign_nprobe_rows(spark):
    import pyspark.sql.functions as SF

    vecs = spark.createDataFrame(
        [(i, [float(i), float(10 - i)]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    cents = vecs.where(SF.col("vec_id") < 3)
    two = S.ivf_assign(vecs, cents, n=2).groupBy("vid").count().collect()
    assert all(r["count"] == 2 for r in two)


def test_pack_shards_first_fit(spark):
    rows = [(i, "g", "a b c") for i in range(1, 5)]  # 3 tokens each
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["doc_id"]: r["shard"] for r in
           T.pack_shards(df, budget_tokens=5).collect()}
    # cum-before: 0,3,6,9 -> shards 0,0,1,1 (shard 0 overflows by one doc)
    assert got == {1: 0, 2: 0, 3: 1, 4: 1}


def test_pack_shards_per_group_and_empty_docs(spark):
    rows = [(1, "a", "x y"), (2, "a", ""), (3, "b", "x y z w")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["doc_id"]: (r["shard"], r["n_tokens"]) for r in
           T.pack_shards(df, budget_tokens=3).collect()}
    # groups pack independently; empty doc consumes no budget
    assert got == {1: (0, 2), 2: (0, 0), 3: (0, 4)}
    with pytest.raises(ValueError):
        T.pack_shards(df, budget_tokens=0)


def test_lang_classify_separable(spark):
    rows = [
        (1, "en", "the quick brown fox and the lazy dog went to the market"),
        (2, "en", "to be or not to be that is the question and the answer"),
        (3, "de", "der schnelle braune fuchs und der faule hund nicht gut"),
        (4, "de", "sein oder nicht sein das ist hier die frage und antwort"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["doc_id"]: r["pred_lang"] for r in T.lang_classify(df, top_n=64).collect()}
    assert got == {1: "en", 2: "en", 3: "de", 4: "de"}


def test_lang_classify_skips_gramless_docs(spark):
    rows = [(1, "en", "the and the and the or"), (2, "en", "ab")]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = T.lang_classify(df).collect()
    assert [r["doc_id"] for r in out] == [1]


def test_duplicated_spans(spark):
    df = spark.createDataFrame(SPAN_DOCS, "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_start"]): (r["span_end"], r["span_tokens"], r["n_grams"])
        for r in D.duplicated_spans(df, L=4).collect()
    }
    assert got == {
        (1, 1): (6, 6, 3),   # grams at 1,2,3 merge -> tokens 1..6
        (2, 3): (8, 6, 3),   # same run shifted by the x x prefix
        (4, 1): (4, 4, 1),   # first 'm n o p'
        (4, 7): (10, 4, 1),  # second occurrence, gap > L -> separate span
    }


def test_duplicated_spans_min_count(spark):
    df = spark.createDataFrame(SPAN_DOCS, "doc_id long, text string")
    # min_count=3: nothing occurs 3 times -> empty report
    assert D.duplicated_spans(df, L=4, min_count=3).count() == 0


def test_strip_duplicated_spans_keeps_canonical(spark):
    df = spark.createDataFrame(SPAN_DOCS, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_tokens"], r["n_removed"])
        for r in D.strip_duplicated_spans(df, L=4).collect()
    }
    assert got[1] == ("a b c d e f g h", 8, 0)       # canonical copy survives
    assert got[2] == ("x x z z", 10, 6)              # shared run cut
    assert got[3] == ("p q r s t u v", 7, 0)         # untouched
    assert got[4] == ("m n o p z1 z2", 10, 4)        # keep first occurrence


def test_strip_duplicated_spans_full_duplicate_empties(spark):
    # an exact duplicate doc is one maximal span, entirely non-canonical
    # -> rebuilds to EMPTY text (not NULL — pinned for the oracle hash)
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")], "doc_id long, text string"
    )
    got = {r["doc_id"]: (r["text"], r["n_removed"]) for r in
           D.strip_duplicated_spans(df, L=4).collect()}
    assert got == {1: ("a b c d e", 0), 2: ("", 5)}


def test_strip_duplicated_spans_short_docs_pass_through(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, "a b")], "doc_id long, text string"
    )
    # docs below L tokens have no grams (L=4): non-empty pass through,
    # zero-token docs are absent by contract
    got = {r["doc_id"]: r for r in D.strip_duplicated_spans(df, L=4).collect()}
    assert set(got) == {1, 3}
    assert got[1]["text"] == "a b" and got[1]["n_removed"] == 0


def test_reservoir_per_group_deterministic(spark):
    from diepy_spark.operators.sampling import reservoir_per_group

    df = spark.createDataFrame(
        [(i, "g1" if i % 2 else "g2") for i in range(100)], "doc_id long, grp string"
    )
    a = {(r["grp"], r["rk"]): r["doc_id"]
         for r in reservoir_per_group(df, "grp", "doc_id", 3, seed="s").collect()}
    # 3 rows per group, stable under repartitioning
    assert len(a) == 6
    b = {(r["grp"], r["rk"]): r["doc_id"]
         for r in reservoir_per_group(df.repartition(7), "grp", "doc_id", 3, seed="s").collect()}
    assert a == b
    # a different seed gives a different sample (overwhelmingly likely)
    c = {(r["grp"], r["rk"]): r["doc_id"]
         for r in reservoir_per_group(df, "grp", "doc_id", 3, seed="other").collect()}
    assert a != c


def test_char_ngram_profile(spark):
    df = spark.createDataFrame(
        [(1, "en", "aaab"), (2, "en", "aab"), (3, "de", "xy")],  # doc 3 too short
        "doc_id long, lang string, text string",
    )
    got = [(r["lang"], r["gram"], r["cnt"], r["rk"])
           for r in T.char_ngram_profile(df, n=3, top_n=2).collect()]
    # 'aaa' x1 + 'aab' x2 (one from each doc) -> aab ranks first
    assert sorted(got) == [("en", "aaa", 1, 2), ("en", "aab", 2, 1)]


def test_pagerank_matches_python_reference(spark):
    """Integer PageRank vs a literal python re-implementation on a small
    asymmetric graph (hub node 1 <- 2,3,4; chain 4 -> 5)."""
    from diepy_spark.operators.clustering import pagerank

    edges = [(2, 1), (3, 1), (4, 1), (4, 5), (1, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["r"] for r in pagerank(df, iterations=5, scale=10**9).collect()}

    scale, it = 10**9, 5
    out = {}
    for u, v in edges:
        out.setdefault(u, []).append(v)
    nodes = {n for e in edges for n in e}
    r = {n: scale for n in nodes}
    teleport = (scale * 15) // 100
    for _ in range(it):
        inflow = {n: 0 for n in nodes}
        for u, vs in out.items():
            c = r[u] // len(vs)
            for v in vs:
                inflow[v] += c
        r = {n: teleport + (85 * inflow[n]) // 100 for n in nodes}
    assert got == r
    # hub collects the most mass; dangling-chain end the least of the linked
    assert max(r, key=r.get) == 1


def test_semdedup_flags_keep_lowest_id(spark):
    from diepy_spark.operators.similarity import semdedup_flags

    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.99, 0.1]),   # cos to v1 ~ 0.995 > 9/10 -> flagged (larger id)
            (3, [0.0, 1.0]),    # orthogonal -> kept
            (4, [-1.0, 0.05]),  # negative dot to v1 -> kept (dot > 0 guard)
        ],
        "vec_id long, embedding array<float>",
    )
    # axis centroids (quantized grid, scale=1000): 1/2 land in cluster 0,
    # 3/4 in cluster 1 — the cross-cluster pair (1,3) is never compared
    cents = [[1000, 0], [0, 1000]]
    got = {
        r["vec_id"]: (r["cluster"], r["is_dup"])
        for r in semdedup_flags(vecs, cents, thr_num=9, thr_den=10).collect()
    }
    assert got == {1: (0, False), 2: (0, True), 3: (1, False), 4: (1, False)}


def test_bfs_distances_multi_source_min(spark):
    from diepy_spark.operators.clustering import bfs_distances

    # path graph 1-2-3-4-5 plus seed 5: node 3 is 2 hops from seed 1 and
    # 2 hops from seed 5 -> min holds; node 4 is 1 hop from 5, not 3 from 1
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    sym = edges.union(edges.selectExpr("dst AS src", "src AS dst"))
    seeds = spark.createDataFrame([(1,), (5,)], "node long")
    got = {r["node"]: r["d"] for r in bfs_distances(sym, seeds, iterations=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 1, 5: 0}
    # iteration bound respected: 1 round from seed 1 only reaches 2
    one = {r["node"]: r["d"] for r in bfs_distances(
        sym, seeds.where(F.col("node") == 1), iterations=1).collect()}
    assert one == {1: 0, 2: 1}


def _random_graph(n_nodes, n_edges, seed):
    import random

    rng = random.Random(seed)
    edges = set()
    while len(edges) < n_edges:
        u, v = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if u != v:
            edges.add((u, v))
    return sorted(edges)


def test_pagerank_is_personalized_pagerank_seeded_everywhere(spark):
    """pagerank and personalized_pagerank share one round loop: with every
    node a seed the personalized ranks are the global ranks."""
    from diepy_spark.operators.clustering import pagerank, personalized_pagerank

    df = spark.createDataFrame(_random_graph(30, 120, 7), "src long, dst long")
    nodes = df.select(F.col("src").alias("node")).union(df.select("dst"))
    got = sorted(pagerank(df, iterations=4).collect())
    ppr = sorted(personalized_pagerank(df, nodes, iterations=4).collect())
    assert got == ppr
    assert len(got) == 30 and len({r["r"] for r in got}) > 1


def test_bfs_matches_python_bfs_with_repeated_seed(spark):
    """per_source_bfs and bfs_distances against a python BFS on a seeded
    random graph whose seed frame repeats a row: every (source, node) pair
    is one row, and bfs_distances is the per-node minimum over sources."""
    from diepy_spark.operators.clustering import bfs_distances, per_source_bfs

    edges = _random_graph(40, 70, 11)
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    sym = spark.createDataFrame(
        edges + [(v, u) for u, v in edges], "src long, dst long"
    )
    seed_ids = [0, 5, 5, 17]
    seeds = spark.createDataFrame([(s,) for s in seed_ids], "node long")
    it = 3

    want = []
    for s in sorted(set(seed_ids)):
        dist, frontier = {s: 0}, [s]
        for t in range(1, it + 1):
            frontier = sorted(
                {m for n in frontier for m in adj.get(n, ())} - dist.keys()
            )
            dist.update((m, t) for m in frontier)
        want += [(s, n, d) for n, d in dist.items()]

    got = [(r["s"], r["node"], r["d"]) for r in per_source_bfs(sym, seeds, it).collect()]
    assert sorted(got) == sorted(want)
    best = {}
    for _, n, d in want:
        best[n] = min(d, best.get(n, d))
    got_min = [(r["node"], r["d"]) for r in bfs_distances(sym, seeds, it).collect()]
    assert sorted(got_min) == sorted(best.items())


def _cosine_fixture(spark):
    """~500 seeded 16-d vectors: ids 0-9 are queries, each near corpus
    vector 100+i, whose exact double 600+i (x2 scales every product and
    norm exactly) scores the same rounded cos, so only cid breaks the
    tie. Ids 900-902 are a zero vector, a NULL embedding and a 3-d
    vector; they are both queries and corpus rows."""
    import random

    rng = random.Random(23)
    dim = 16
    base = {i: [rng.gauss(0.0, 1.0) for _ in range(dim)] for i in range(100, 580)}
    rows = list(base.items())
    rows += [(600 + i, [2.0 * x for x in base[100 + i]]) for i in range(10)]
    rows += [(i, [x + rng.gauss(0.0, 0.05) for x in base[100 + i]]) for i in range(10)]
    rows += [(900, [0.0] * dim), (901, None), (902, [1.0, 2.0, 3.0])]
    v = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = v.where((F.col("vec_id") < 10) | (F.col("vec_id") >= 900))
    corpus = v.where(F.col("vec_id") >= 100)
    return queries, corpus, dim


def _per_pair_topk(pairs, k):
    """Reference ranking: per-pair cosine (both norms inside the pair
    expression) under the same window as the operators."""
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return sorted(
        (tuple(r) for r in pairs.withColumn("cos", F.round(S.cosine("qv", "cv"), 4))
         .withColumn("rk", F.row_number().over(w))
         .where(F.col("rk") <= k)
         .select("qid", "cid", "cos", "rk")
         .collect()),
        key=lambda r: (r[0], r[3]),
    )


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=lambda r: (r[0], r[3]))


def test_topk_scorers_match_per_pair_cosine(spark):
    """Norm-column scoring returns exactly the per-pair formula's rows:
    same cos bits, same tie-break on planted exact ties; a zero, NULL or
    different-length vector scores NULL and ranks last, never raising."""
    from pyspark.sql import Window

    queries, corpus, dim = _cosine_fixture(spark)
    q = queries.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    c = corpus.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    k = 4

    got = _rows(S.cosine_topk(queries, corpus, k=k))
    assert got == _per_pair_topk(c.crossJoin(q), k)
    by_q = {}
    for qid, cid, cos, rk in got:
        by_q.setdefault(qid, []).append((cid, cos))
    for i in range(10):  # planted tie: x and 2x share cos, cid orders them
        (c1, s1), (c2, s2) = by_q[i][:2]
        assert (c1, c2) == (100 + i, 600 + i) and s1 == s2 is not None
    for special in (900, 901):
        assert [s for _, s in by_q[special]] == [None] * k
    # the 3-d vector matches only itself; every 16-d partner scores NULL
    assert by_q[902][0] == (902, 1.0)
    assert [s for _, s in by_q[902][1:]] == [None] * (k - 1)
    assert all(cid < 900 for i in range(10) for cid, _ in by_q[i])

    # IVF: reference cells by per-pair cosine, candidates share a cell
    cents = corpus.where(F.col("vec_id") < 108)
    cv = cents.select(F.col("vec_id").alias("cell"), F.col("embedding").alias("ce"))

    def cells(df, n):
        w = Window.partitionBy("vid").orderBy(F.col("ccos").desc(), F.col("cell"))
        return (
            df.crossJoin(cv)
            .withColumn("ccos", F.round(S.cosine("vv", "ce"), 4))
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= n)
            .select("vid", "cell")
        )

    qc = cells(q.select(F.col("qid").alias("vid"), F.col("qv").alias("vv")), 2)
    cc = cells(c.select(F.col("cid").alias("vid"), F.col("cv").alias("vv")), 1)
    pairs = (
        q.join(qc.withColumnRenamed("vid", "qid"), "qid")
        .join(cc.withColumnRenamed("vid", "cid"), "cell")
        .join(c, "cid")
    )
    got = _rows(S.ivf_topk(queries, corpus, cents, k=k, nprobe=2))
    assert got == _per_pair_topk(pairs, k)

    # LSH: candidates share a bucket (exact bucket and one-flip probes)
    planes = 3
    qb = q.select("qid", S.bucket_expr("qv", dim, planes).alias("bucket"))
    cb = c.select("cid", S.bucket_expr("cv", dim, planes).alias("bucket"))
    exact = q.join(qb, "qid").join(cb, "bucket").join(c, "cid")
    got = _rows(S.ann_topk_lsh(queries, corpus, k=k, num_planes=planes, dim=dim))
    assert got == _per_pair_topk(exact, k)
    probes = qb.select(
        "qid",
        F.explode(F.array("bucket", *[F.col("bucket").bitwiseXOR(1 << p) for p in range(planes)]))
        .alias("bucket"),
    )
    multi = q.join(probes, "qid").join(cb, "bucket").join(c, "cid")
    got = _rows(S.ann_topk_lsh(queries, corpus, k=k, num_planes=planes, dim=dim, hamming=1))
    assert got == _per_pair_topk(multi, k)


def _degenerate_vectors(dim, base):
    """Vectors that score NULL or NaN: zero, all -0.0, NULL, a NULL
    element, a NaN, a different length, empty; and one with a -0.0
    element."""
    nan = float("nan")
    return [
        (base, [0.0] * dim),
        (base + 1, [-0.0] * dim),
        (base + 2, None),
        (base + 3, [None] + [1.0] * (dim - 1)),
        (base + 4, [nan] + [0.5] * (dim - 1)),
        (base + 5, [1.0] * (dim + 1)),
        (base + 6, []),
        (base + 7, [-0.0] + [2.0] * (dim - 1)),
    ]


def _random_vectors(spark, dim, n, seed):
    """`n` seeded Gaussian vectors, planted near-copies of vector 0 whose
    cosines to it differ by less than the 4-digit rounding step (rounding
    ties spread over the whole id range), and `_degenerate_vectors`."""
    import random

    rng = random.Random(seed)
    rows = [(i, [rng.gauss(0.0, 1.0) for _ in range(dim)]) for i in range(n)]
    v0 = rows[0][1]
    for j in range(1, n, max(1, n // 12)):
        eps = rng.uniform(0.0, 0.02)
        rows[j] = (j, [x + eps * rng.gauss(0.0, 1.0) for x in v0])
    rows += _degenerate_vectors(dim, 10 * n)
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _nan_safe(rows):
    return [tuple("NaN" if x != x else x for x in r) for r in rows]


@pytest.mark.parametrize(
    "dim,nq,nc,k",
    [(1, 20, 400, 5), (3, 300, 400, 3), (64, 12, 600, 10), (100, 8, 30, 50)],
)
def test_arrow_topk_matches_per_pair_cosine(spark, dim, nq, nc, k):
    """The vectorized unkeyed scorer (`topk_by_cosine` with on=None, under
    cosine_topk and ivf_assign) returns the per-pair formula's rows bit for
    bit, over many Arrow batches (50 rows each) and, with 300 queries or
    centroids, several query blocks; k above and below the corpus size;
    NULL, NaN, zero and mismatched vectors; planted rounding ties."""
    from pyspark.sql import Window

    v = _random_vectors(spark, dim, nq + nc, seed=dim)
    queries = v.where((F.col("vec_id") < nq) | (F.col("vec_id") >= 10 * (nq + nc)))
    corpus = v.where(F.col("vec_id") >= nq)
    q = queries.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    c = corpus.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    try:
        # unrounded: with k past every pair count no pair is filtered, and
        # each score equals cosine()'s, NULL for NULL and NaN for NaN
        every = S._arrow_topk(c, q, "cv", "qv", "qid", 10 * (nq + nc))
        ref = c.crossJoin(q).select("cid", "qid", S.cosine("qv", "cv").alias("want"))
        joined = every.join(ref, ["cid", "qid"], "full")
        assert every.count() == ref.count() == joined.count()
        assert joined.where(~F.col("cos").eqNullSafe(F.col("want"))).count() == 0

        got = _rows(S.cosine_topk(queries, corpus.repartition(3), k=k))
        assert _nan_safe(got) == _nan_safe(_per_pair_topk(c.crossJoin(q), k))

        # ivf_assign ranks per stream row: corpus vectors over query "cells"
        n = min(k, 4)
        pairs = c.crossJoin(q).select(
            F.col("cid").alias("vid"), F.col("cv").alias("vv"),
            F.col("qid").alias("cell"), F.col("qv").alias("ce"),
        )
        w = Window.partitionBy("vid").orderBy(F.col("cos").desc(), F.col("cell"))
        want = sorted(
            tuple(r) for r in pairs.withColumn("cos", F.round(S.cosine("vv", "ce"), 4))
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= n)
            .select("vid", "cell", "cos", "rk")
            .collect()
        )
        stream = c.select(F.col("cid").alias("vid"), F.col("cv").alias("vv"))
        cells = q.select(F.col("qid").alias("cell"), F.col("qv").alias("ce"))
        scored = S.topk_by_cosine(
            stream, cells, vecs=("vv", "ce"), per="vid", tie="cell", k=n
        ).select("vid", "cell", "cos", "rk")
        assert _nan_safe(sorted(tuple(r) for r in scored.collect())) == _nan_safe(want)
        assigned = S.ivf_assign(corpus, queries, n=n).collect()
        assert sorted(tuple(r) for r in assigned) == sorted(r[:2] for r in want)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
