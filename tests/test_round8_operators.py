"""Round-8 operator tests: held-out BPE compression report and the
OOV path (which never fires on the shared-alphabet corpus — this pins
it firing on crafted input)."""


from diepy_spark.operators.text import bpe_encode, bpe_oov_report


def _report(spark, words, vocab_syms, merges):
    enc = spark.createDataFrame(
        [("en", n, len(w), list(w)) for w, n in words],
        "lang string, n long, chars int, syms array<string>",
    )
    enc = bpe_encode(enc, merges)
    vocab = spark.createDataFrame([(v,) for v in vocab_syms], "v string")
    return bpe_oov_report(enc, vocab).collect()


def test_oov_fires_on_unseen_char(spark):
    # vocabulary trained on {a, b, ab}: word 'abz' has pieces ab|z and
    # z is out-of-vocabulary.
    rows = _report(
        spark,
        words=[("abz", 3), ("ab", 2)],
        vocab_syms=["a", "b", "ab"],
        merges=[("a", "b")],
    )
    assert len(rows) == 1
    r = rows[0]
    # abz -> [ab, z] (2 pieces, 1 OOV) x3; ab -> [ab] x2
    assert r.n_tokens == 5
    assert r.n_chars == 3 * 3 + 2 * 2
    assert r.n_pieces == 3 * 2 + 2 * 1
    assert r.oov_pieces == 3
    assert abs(r.oov_rate - 3 / 8) < 1e-9
    assert abs(r.chars_per_piece - 13 / 8) < 1e-4


def test_zero_oov_when_vocab_covers(spark):
    rows = _report(
        spark,
        words=[("ab", 4), ("ba", 1)],
        vocab_syms=["a", "b", "ab"],
        merges=[("a", "b")],
    )
    assert rows[0].oov_pieces == 0
    assert rows[0].oov_rate == 0.0


def test_compression_heldout_split(spark, sf_oracle):
    from diepy_spark.plans.extended import (
        BPE_EVAL_HOLD,
        BPE_EVAL_MOD,
        x5_bpe_compression,
    )
    from diepy_spark.sources.registry import load_table

    rows = x5_bpe_compression(spark, sf_oracle).collect()
    langs = {
        r.lang
        for r in load_table(spark, sf_oracle, "documents")
        .where(f"doc_id % {BPE_EVAL_MOD} = {BPE_EVAL_HOLD}")
        .select("lang")
        .distinct()
        .collect()
    }
    assert {r.lang for r in rows} == langs
    for r in rows:
        # merges compress: fewer pieces than chars, at least one per token
        assert r.n_tokens <= r.n_pieces < r.n_chars
        assert r.chars_per_piece > 1.0
        # shared alphabet corpus: OOV honestly zero
        assert r.oov_pieces == 0 and r.oov_rate == 0.0


# --- unigram-LM tokenizer (round 8) ---

import math

from diepy_spark.operators.text import (
    UNI_MU,
    unigram_score_from_freq,
    unigram_scores,
    unigram_seed,
    unigram_train_em,
    unigram_viterbi,
)


def test_unigram_ladder_matches_log2():
    # the integer rung count tracks UNI_MU*log2(T/f) within one rung
    for f, t in [(1, 2), (3, 1000), (7, 7), (1, 1 << 20), (123, 456789)]:
        got = -unigram_score_from_freq(f, t)
        want = UNI_MU * math.log2(t / f)
        assert abs(got - want) <= 1.0 + 1e-9, (f, t, got, want)


def test_unigram_viterbi_packing_roundtrip():
    words = [("abab", 10), ("ab", 5), ("cd", 3)]
    scores = unigram_scores(unigram_seed(words))
    for w, _ in words:
        c, pieces = unigram_viterbi(w, scores)
        np_ = (-c) % 64
        s = (c + np_) // 64
        assert np_ == len(pieces)
        assert s == sum(scores[p] for p in pieces)
        assert "".join(pieces) == w


def test_unigram_em_learns_dominant_piece():
    m = dict(unigram_train_em([("abab", 10), ("ab", 5), ("cd", 3)]))
    # 'abab' dominates the corpus: EM keeps it as the best-scoring piece
    assert max(m, key=m.get) == "abab"
    c, pieces = unigram_viterbi("abab", m)
    assert pieces == ["abab"]
    # character coverage survives pruning
    for ch in "abcd":
        assert ch in m


def test_unigram_encode_matches_python_mirror(spark, sf_small):
    """The distributed packed-integer Viterbi must equal the Python
    mirror exactly (same ladder scores, same DP rule) on every word of
    the real dictionary."""
    from diepy_spark.plans.extended import (
        _unigram_words,
        x5_unigram_encode,
    )

    wl = _unigram_words(spark, sf_small).collect()
    full = {}
    for r in wl:
        full[r.w] = full.get(r.w, 0) + r.n
    scores = unigram_scores(unigram_seed(sorted(full.items())))
    want = {}
    for r in wl:
        c, pieces = unigram_viterbi(r.w, scores)
        np_ = (-c) % 64
        s = (c + np_) // 64
        a = want.setdefault(r.lang, [0, 0, 0, 0])
        a[0] += r.n
        a[1] += len(r.w) * r.n
        a[2] += np_ * r.n
        a[3] += s * r.n
    got = x5_unigram_encode(spark, sf_small).collect()
    assert {r.lang for r in got} == set(want)
    for r in got:
        nt, nc, npc, ss = want[r.lang]
        assert (r.n_tokens, r.n_chars, r.n_pieces) == (nt, nc, npc)
        assert abs(r.bits_per_piece - (-ss) / npc / UNI_MU) < 5e-7


# --- closeness centrality + Holt linear (round 8) ---


def test_closeness_path_graph(spark):
    from diepy_spark.operators.clustering import closeness_centrality

    # path 1-2-3-4: closeness(1) over 4-hop ball = 3/(1+2+3)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    sym = edges.unionByName(
        edges.selectExpr("dst AS src", "src AS dst")
    )
    seeds = spark.createDataFrame([(1,), (2,)], "node long")
    rows = {r.node: r for r in closeness_centrality(sym, seeds, 4).collect()}
    assert rows[1].n_reached == 3 and rows[1].sum_dist == 6
    assert abs(rows[1].closeness - 0.5) < 1e-9
    # node 2: dists 1,1,2 -> 3/4
    assert rows[2].sum_dist == 4 and abs(rows[2].closeness - 0.75) < 1e-9


def test_closeness_counts_a_repeated_seed_once(spark):
    from diepy_spark.operators.clustering import closeness_centrality

    # path 1-2-3-4 with seed 1 listed twice: one source, 3 reached nodes
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    sym = edges.unionByName(edges.selectExpr("dst AS src", "src AS dst"))
    seeds = spark.createDataFrame([(1,), (1,)], "node long")
    [r] = closeness_centrality(sym, seeds, 4).collect()
    assert (r.node, r.n_reached, r.sum_dist) == (1, 3, 6)
    assert abs(r.closeness - 0.5) < 1e-9


def test_closeness_isolated_seed(spark):
    from diepy_spark.operators.clustering import closeness_centrality

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    sym = edges.unionByName(edges.selectExpr("dst AS src", "src AS dst"))
    seeds = spark.createDataFrame([(99,)], "node long")
    r = closeness_centrality(sym, seeds, 3).collect()[0]
    assert r.n_reached == 0 and r.sum_dist == 0 and r.closeness == 0.0


def test_holt_matches_python_fold(spark, sf_small):
    from diepy_spark.plans.extended import _daily_cv, x8_holt_linear

    daily = {}
    for r in _daily_cv(spark, sf_small).collect():
        daily.setdefault(r.event_type, []).append((r.day, float(r.v)))
    got = {r.event_type: r for r in x8_holt_linear(spark, sf_small).collect()}
    for et, pts in daily.items():
        vals = [v for _, v in sorted(pts)]
        if len(vals) < 3:
            assert et not in got
            continue
        l, b, sae = vals[1], vals[1] - vals[0], 0.0
        for x in vals[2:]:
            nl = 0.5 * x + 0.5 * (l + b)
            nb = 0.25 * (nl - l) + 0.75 * b
            sae = sae + abs(x - (l + b))
            l, b = nl, nb
        r = got[et]
        assert r.n_days == len(vals)
        assert abs(r.level - round(l, 6)) < 1e-9
        assert abs(r.trend - round(b, 6)) < 1e-9
        assert abs(r.mae - round(sae / (len(vals) - 2), 6)) < 1e-9


def test_cohens_kappa_matches_python(spark, sf_small):
    """kappa from the array-HOF margins must equal a plain-Python
    Counter recomputation over the same (heur, gold) pairs."""
    from collections import Counter

    from diepy_spark.operators.text import lang_id
    from diepy_spark.plans.extended import _docs, x8_cohens_kappa

    d = _docs(spark, sf_small)
    heur = {r.doc_id: r.pred_lang for r in lang_id(d).collect()}
    gold = {r.doc_id: r.lang for r in d.select("doc_id", "lang").collect()}
    pairs = [(heur[i], gold[i]) for i in gold]
    n = len(pairs)
    agree = sum(1 for a, b in pairs if a == b)
    ra = Counter(a for a, _ in pairs)
    rb = Counter(b for _, b in pairs)
    labels = set(ra) | set(rb)
    s = sum(ra[k] * rb[k] for k in labels)

    row = x8_cohens_kappa(spark, sf_small).collect()[0]
    assert row.n == n
    assert row.agree == agree
    assert row.n_labels == len(labels)
    assert abs(row.po - agree / n) < 1e-6
    assert abs(row.pe - s / (n * n)) < 1e-6
    assert abs(row.kappa - (n * agree - s) / (n * n - s)) < 1e-6


def test_cohens_kappa_bounds(spark, sf_small):
    from diepy_spark.plans.extended import x8_cohens_kappa

    row = x8_cohens_kappa(spark, sf_small).collect()[0]
    assert -1.0 <= row.kappa <= 1.0
    assert 0.0 <= row.po <= 1.0
    assert 0.0 < row.pe < 1.0


def test_mcnemar_matches_python(spark, sf_small):
    from diepy_spark.operators.text import lang_id
    from diepy_spark.plans.extended import (
        _docs,
        _langclf_cached,
        x8_mcnemar,
    )

    d = _docs(spark, sf_small)
    heur = {r.doc_id: r.pred_lang for r in lang_id(d).collect()}
    tr = {
        r.doc_id: (r.lang, r.pred_lang)
        for r in _langclf_cached(spark, sf_small).collect()
    }
    b = sum(1 for i, (g, t) in tr.items() if heur[i] == g and t != g)
    c = sum(1 for i, (g, t) in tr.items() if heur[i] != g and t == g)
    both = sum(1 for i, (g, t) in tr.items() if heur[i] == g and t == g)

    row = x8_mcnemar(spark, sf_small).collect()[0]
    assert row.n == len(tr)
    assert row.both_correct == both
    assert row.heur_only == b
    assert row.trained_only == c
    if b + c > 0:
        assert abs(row.chi2 - (b - c) ** 2 / (b + c)) < 1e-6
        assert abs(row.chi2_cc - (abs(b - c) - 1) ** 2 / (b + c)) < 1e-6
    else:
        assert row.chi2 == 0.0 and row.chi2_cc == 0.0


def test_survival_km_matches_python(spark, sf_small):
    """KM curve must equal a plain-Python product-limit recomputation
    over the same per-user durations."""
    import math

    import duckdb

    from diepy_spark.plans.extended import KMSURV_EVENT, x8_survival_km

    con = duckdb.connect()
    users = con.execute(f"""
      WITH e AS (SELECT user_id, event_type,
          CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT) AS day
        FROM '{sf_small}/events.parquet' WHERE user_id IS NOT NULL)
      SELECT CAST(user_id % 3 AS INT) AS cohort,
             coalesce(min(CASE WHEN event_type = '{KMSURV_EVENT}'
                          THEN day END), max(day)) - min(day) AS t,
             CAST(min(CASE WHEN event_type = '{KMSURV_EVENT}'
                      THEN day END) IS NOT NULL AS INT) AS obs
      FROM e GROUP BY user_id
    """).fetchall()

    rows = x8_survival_km(spark, sf_small).collect()
    by_cohort = {}
    for c, t, obs in users:
        by_cohort.setdefault(c, []).append((t, obs))
    for c, durs in by_cohort.items():
        n = len(durs)
        surv = 1.0
        expect = {}
        for t in sorted({t for t, _ in durs}):
            d = sum(1 for tt, o in durs if tt == t and o)
            cens = sum(1 for tt, o in durs if tt == t and not o)
            if d >= n:
                surv = 0.0
            else:
                surv *= (n - d) / n
            expect[t] = (n, d, cens, surv)
            n -= d + cens
        got = {r.t: r for r in rows if r.cohort == c}
        assert set(got) == set(expect)
        for t, (nr, d, cens, surv) in expect.items():
            r = got[t]
            assert r.n_risk == nr and r.converted == d and r.censored == cens
            assert abs(r.survival - surv) < 1e-4, (c, t, r.survival, surv)


def test_survival_km_monotone_nonincreasing(spark, sf_small):
    from diepy_spark.plans.extended import x8_survival_km

    rows = x8_survival_km(spark, sf_small).collect()
    last = {}
    for r in rows:
        assert 0.0 <= r.survival <= 1.0
        if r.cohort in last:
            assert r.survival <= last[r.cohort] + 1e-12
        last[r.cohort] = r.survival


def test_adamic_adar_matches_python(spark, sf_small):
    """AA/RA top-k must equal a plain-Python recomputation over the
    same wedge frame (term-level 6-decimal rounding included)."""
    import math
    from collections import defaultdict

    import duckdb

    from diepy_spark.plans.extended import (
        NJ_MIN_COMMON,
        NJ_PART_MAX,
        NJ_TOP,
        x11_adamic_adar,
    )

    con = duckdb.connect()
    edges = con.execute(
        f"SELECT DISTINCT l_partkey, l_suppkey FROM "
        f"'{sf_small}/lineitem.parquet' WHERE l_partkey < {NJ_PART_MAX}"
    ).fetchall()
    parts_by_supp = defaultdict(list)
    for p, s in edges:
        parts_by_supp[s].append(p)
    scores = defaultdict(lambda: [0, 0.0, 0.0])  # common, aa, ra
    for s, parts in parts_by_supp.items():
        d = len(parts)
        aa_t = round(1 / math.log(d), 6) if d > 1 else None
        for i, pa in enumerate(sorted(parts)):
            for pb in sorted(parts)[i + 1:]:
                cell = scores[(pa, pb)]
                cell[0] += 1
                cell[1] += aa_t
                cell[2] += round(1 / d, 6)
    keep = {
        k: v for k, v in scores.items() if v[0] >= NJ_MIN_COMMON
    }
    expect = sorted(
        ((round(v[1], 6), k[0], k[1], v[0], round(v[2], 6))
         for k, v in keep.items()),
        key=lambda r: (-r[0], r[1], r[2]),
    )[:NJ_TOP]

    rows = x11_adamic_adar(spark, sf_small).collect()
    assert len(rows) == len(expect)
    for r, (aa, pa, pb, common, ra) in zip(rows, expect):
        assert (r.pa, r.pb, r.common) == (pa, pb, common)
        assert abs(r.aa - aa) < 1e-6
        assert abs(r.ra - ra) < 1e-6


def test_source_boilerplate_matches_python(spark, sf_small):
    """Per-source boilerplate census must equal a plain-Python
    recomputation (regex tokenize, bigrams, doc-frequency threshold)."""
    import re
    from collections import defaultdict

    import duckdb

    from diepy_spark.plans.extended import BP_PCT, x5_source_boilerplate

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, source, text FROM '{sf_small}/documents.parquet'"
    ).fetchall()
    by_src = defaultdict(dict)
    for did, src, text in docs:
        toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        grams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        if grams:
            by_src[src][did] = grams

    expect = {}
    for src, dmap in by_src.items():
        ndocs = len(dmap)
        occ = defaultdict(int)
        df = defaultdict(int)
        for grams in dmap.values():
            for s in grams:
                occ[s] += 1
            for s in set(grams):
                df[s] += 1
        boiler = {s for s in df if df[s] * 100 >= BP_PCT * ndocs}
        affected = sum(
            1 for grams in dmap.values() if boiler & set(grams)
        )
        top = (
            min((-df[s], s) for s in boiler) if boiler else None
        )
        expect[src] = (
            ndocs,
            len(df),
            len(boiler),
            affected,
            sum(occ[s] for s in boiler),
            top[1] if top else "",
            -top[0] if top else 0,
        )

    rows = x5_source_boilerplate(spark, sf_small).collect()
    assert {r.source for r in rows} == set(expect)
    for r in rows:
        e = expect[r.source]
        got = (
            r.docs, r.grams, r.boiler_grams, r.affected_docs,
            r.boiler_occ, r.top_gram, r.top_df,
        )
        assert got == e, (r.source, got, e)


def test_friedman_matches_python(spark, sf_small):
    """Friedman chi2 / Kendall's W must equal a plain-Python rank
    recomputation over the same complete day-blocks."""
    from collections import defaultdict

    import duckdb

    from diepy_spark.plans.extended import x8_friedman

    con = duckdb.connect()
    daily = con.execute(f"""
      SELECT event_type, CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
             AS BIGINT) AS day, CAST(sum(CAST(round(value * 100) AS BIGINT))
             AS BIGINT) AS v
      FROM '{sf_small}/events.parquet' WHERE value IS NOT NULL
      GROUP BY 1, 2
    """).fetchall()
    by_day = defaultdict(list)
    for t, day, v in daily:
        by_day[day].append((t, v))
    k = max(len(rows) for rows in by_day.values())
    blocks = {d: rows for d, rows in by_day.items() if len(rows) == k}
    n = len(blocks)
    rsum = defaultdict(float)
    tie = 0
    for rows in blocks.values():
        vals = sorted(v for _, v in rows)
        for t, v in rows:
            before = sum(1 for x in vals if x < v)
            ceq = sum(1 for x in vals if x == v)
            rsum[t] += before + (ceq + 1) / 2
        for v in set(vals):
            c = vals.count(v)
            tie += c ** 3 - c
    sr = sum(r * r for r in rsum.values())
    chi = 12 * sr / (n * k * (k + 1)) - 3 * n * (k + 1)
    corr = chi if tie == 0 else chi / (1 - tie / (n * k * (k * k - 1)))
    w = chi / (n * (k - 1))

    row = x8_friedman(spark, sf_small).collect()[0]
    assert row.n_days == n and row.k == k and row.dof == k - 1
    assert row.tie == tie
    assert abs(row.chi2 - chi) < 1e-4
    assert abs(row.chi2_corrected - corr) < 1e-4
    assert abs(row.kendalls_w - w) < 1e-4


def test_capture_recapture_matches_python(spark, sf_small):
    """Chapman / Lincoln-Petersen / SE must equal a plain-Python
    recomputation over the same per-user day ranges."""
    import math

    import duckdb

    from diepy_spark.plans.extended import x8_capture_recapture

    con = duckdb.connect()
    users = con.execute(f"""
      SELECT user_id,
             min(CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
                 AS BIGINT)) AS d0,
             max(CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
                 AS BIGINT)) AS d1
      FROM '{sf_small}/events.parquet' WHERE user_id IS NOT NULL
      GROUP BY 1
    """).fetchall()
    mid = (min(d0 for _, d0, _ in users) + max(d1 for _, _, d1 in users)) // 2
    m = sum(1 for _, d0, _ in users if d0 <= mid)
    c = sum(1 for _, _, d1 in users if d1 > mid)
    r = sum(1 for _, d0, d1 in users if d0 <= mid and d1 > mid)
    chap = (m + 1) * (c + 1) / (r + 1) - 1
    se = math.sqrt(
        (m + 1) * (c + 1) * (m - r) * (c - r)
        / ((r + 1) ** 2 * (r + 2))
    )

    row = x8_capture_recapture(spark, sf_small).collect()[0]
    assert (row.n_users, row.m, row.c, row.r) == (len(users), m, c, r)
    assert abs(row.chapman - chap) < 1e-6
    if r > 0:
        assert abs(row.lincoln - m * c / r) < 1e-6
    assert abs(row.se - se) < 1e-6
    assert abs(row.ci_low - (chap - 1.96 * se)) < 1e-5
    assert abs(row.ci_high - (chap + 1.96 * se)) < 1e-5
    assert abs(row.err - (chap - len(users))) < 1e-5


def test_katz_path_graph(spark):
    """Hand-checked Katz on the path 1-2-3 (symmetrized), scale=1000,
    alpha=1/4, 2 iterations."""
    from diepy_spark.operators.clustering import katz_centrality

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    sym = edges.unionByName(edges.selectExpr("dst AS src", "src AS dst"))
    rows = {
        r.node: r.x
        for r in katz_centrality(
            sym, iterations=2, scale=1000, alpha_den=4
        ).collect()
    }
    # x0 = 1000 each. x1: node1 = 1000 + 1000//4 = 1250; node2 = 1000 +
    # 2000//4 = 1500; node3 = 1250.
    # x2: node1 = 1000 + 1500//4 = 1375; node2 = 1000 + 2500//4 = 1625;
    # node3 = 1375.
    assert rows == {1: 1375, 2: 1625, 3: 1375}


def test_katz_hub_beats_pagerank_leaf(spark):
    """A leaf attached to a hub outranks an isolated pair's nodes under
    Katz (walk counts), the property the docstring claims."""
    from diepy_spark.operators.clustering import katz_centrality

    # star: 1 is hub of 2,3,4; plus isolated pair 5-6
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (5, 6)], "src long, dst long"
    )
    sym = edges.unionByName(edges.selectExpr("dst AS src", "src AS dst"))
    rows = {
        r.node: r.x
        for r in katz_centrality(
            sym, iterations=3, scale=10**6, alpha_den=8
        ).collect()
    }
    assert rows[2] > rows[5]  # hub-leaf beats pair node
    assert rows[1] > rows[2]  # hub beats its leaves


def test_source_divergence_matches_python(spark, sf_small):
    """Per-source JSD must equal a full-vocabulary plain-Python
    recomputation (including the analytic absent-token fold)."""
    import math
    import re
    from collections import Counter, defaultdict

    import duckdb

    from diepy_spark.plans.extended import x5_source_divergence

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT source, text FROM '{sf_small}/documents.parquet'"
    ).fetchall()
    per_src = defaultdict(Counter)
    for src, text in docs:
        toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        per_src[src].update(toks)
    total = Counter()
    for c in per_src.values():
        total.update(c)
    ng = sum(total.values())

    rows = {r.source: r for r in x5_source_divergence(spark, sf_small).collect()}
    assert set(rows) == set(per_src)
    for src, cnt in per_src.items():
        na = sum(cnt.values())
        # full-vocab JSD (0*ln0 := 0), no rounding tricks — the
        # analytic fold must agree to the rounding tolerance
        jsd = 0.0
        for tok in total:
            p = cnt.get(tok, 0) / na
            q = (total[tok] - cnt.get(tok, 0)) / (ng - na)
            m = (p + q) / 2
            if p > 0:
                jsd += p * math.log(p / m) / 2
            if q > 0:
                jsd += q * math.log(q / m) / 2
        r = rows[src]
        assert r.n_tokens == na
        assert r.vocab == len(cnt)
        assert abs(r.jsd - jsd) < 1e-5
        assert abs(r.jsd_norm - jsd / math.log(2)) < 1e-5
        assert 0.0 <= r.jsd_norm <= 1.0


def test_mmr_matches_python_greedy(spark, sf_small):
    """The unrolled DataFrame greedy must equal a literal Python MMR
    over the same integer-quantized pool."""
    from collections import defaultdict

    import duckdb

    from diepy_spark.plans.extended import (
        KM_SCALE,
        MMR_COMP,
        MMR_K,
        MMR_LAM_NUM,
        MMR_POOL,
        TOPK_QUERY_MAX,
        x3_mmr,
    )

    con = duckdb.connect()
    vecs = {
        vid: [round(float(x) * KM_SCALE) for x in emb]
        for vid, emb in con.execute(
            f"SELECT vec_id, embedding FROM '{sf_small}/embeddings.parquet'"
        ).fetchall()
    }
    queries = sorted(v for v in vecs if v < TOPK_QUERY_MAX)
    cands = sorted(v for v in vecs if v >= TOPK_QUERY_MAX)

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    expect = []
    for qid in queries:
        rels = sorted(
            ((dot(vecs[qid], vecs[c]), c) for c in cands),
            key=lambda t: (-t[0], t[1]),
        )[:MMR_POOL]
        pool = {c: r for r, c in rels}
        sel = []
        for pick in range(1, MMR_K + 1):
            best = None
            for c, r in pool.items():
                if c in [s[0] for s in sel]:
                    continue
                ms = max(
                    (dot(vecs[c], vecs[s]) for s, *_ in sel), default=0
                )
                score = MMR_LAM_NUM * r - MMR_COMP * ms
                key = (-score, c)
                if best is None or key < best[0]:
                    best = (key, c, r, ms, score)
            _, c, r, ms, score = best
            sel.append((c, r, ms, score))
            expect.append((qid, pick, c, r, ms, score))

    rows = x3_mmr(spark, sf_small).collect()
    got = [
        (r.qid, r.pick, r.cid, r.rel, r.maxsim, r.score) for r in rows
    ]
    assert got == expect


def test_mmr_diversifies(spark, sf_small):
    """Later picks must never strictly beat earlier picks on the MMR
    score at their own selection step (greedy sanity)."""
    from diepy_spark.plans.extended import x3_mmr

    rows = x3_mmr(spark, sf_small).collect()
    picks = {}
    for r in rows:
        picks.setdefault(r.qid, []).append(r)
    for qid, rs in picks.items():
        assert [r.pick for r in rs] == list(range(1, len(rs) + 1))
        assert rs[0].maxsim == 0  # first pick is pure relevance


def test_curriculum_cumulative_consistency(spark, sf_small):
    from diepy_spark.plans.extended import CUR_TIERS, x10_curriculum

    rows = x10_curriculum(spark, sf_small).collect()
    assert [r.phase for r in rows] == sorted(r.phase for r in rows)
    cum_d = cum_t = 0
    for r in rows:
        assert r.phase == CUR_TIERS - r.tier
        cum_d += r.docs
        cum_t += r.tokens
        assert r.cum_docs == cum_d and r.cum_tokens == cum_t
    assert abs(rows[-1].cum_frac - 1.0) < 1e-9  # last phase = full corpus


def test_curriculum_tiers_match_scores(spark, sf_small):
    from diepy_spark.operators.text import quality_score
    from diepy_spark.plans.extended import CUR_TIERS, _docs, x10_curriculum

    import math

    scores = [
        r.score
        for r in quality_score(_docs(spark, sf_small)).collect()
    ]
    from collections import Counter

    tiers = Counter(
        min(int(math.floor(s * CUR_TIERS)), CUR_TIERS - 1) for s in scores
    )
    rows = x10_curriculum(spark, sf_small).collect()
    assert {r.tier: r.docs for r in rows} == dict(tiers)


def test_levene_matches_python(spark, sf_small):
    """Brown-Forsythe F must equal a plain-Python recomputation
    (median deviations, exact rational sum-of-squares)."""
    from collections import defaultdict

    import duckdb

    from diepy_spark.plans.extended import x8_levene

    con = duckdb.connect()
    vals = con.execute(f"""
      SELECT event_type, CAST(round(value * 100) AS BIGINT)
      FROM '{sf_small}/events.parquet' WHERE value IS NOT NULL
    """).fetchall()
    groups = defaultdict(list)
    for g, c in vals:
        groups[g].append(c)
    k = len(groups)
    n = sum(len(v) for v in groups.values())
    sb_terms = []
    s_tot = 0
    ssq_terms = 0.0
    q_tot = 0
    for g, xs in sorted(groups.items()):
        xs.sort()
        m = len(xs)
        med2 = xs[(m + 1) // 2 - 1] + xs[m // 2]
        z = [abs(2 * x - med2) for x in xs]
        s_g = sum(z)
        q_tot += sum(v * v for v in z)
        s_tot += s_g
        ssq_terms += (s_g * s_g) / m
    ssb = ssq_terms - (s_tot * s_tot) / n
    ssw = q_tot - ssq_terms
    f = (ssb / (k - 1)) / (ssw / (n - k))

    row = x8_levene(spark, sf_small).collect()[0]
    assert row.k_groups == k and row.n_rows == n and row.s_tot == s_tot
    assert abs(row.ss_between - ssb) < 1e-3 * max(1.0, abs(ssb))
    assert abs(row.ss_within - ssw) < 1e-9 * max(1.0, abs(ssw))
    assert abs(row.f_stat - f) < 1e-5


def test_cohort_retention_matches_python(spark, sf_small):
    from collections import defaultdict

    import duckdb

    from diepy_spark.plans.extended import x8_cohort_retention

    con = duckdb.connect()
    uw = con.execute(f"""
      SELECT DISTINCT user_id,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) // {86400000000 * 7}
                  AS BIGINT) AS week
      FROM '{sf_small}/events.parquet' WHERE user_id IS NOT NULL
    """).fetchall()
    first = {}
    for u, w in uw:
        first[u] = min(first.get(u, w), w)
    tri = defaultdict(int)
    for u, w in uw:
        tri[(first[u], w - first[u])] += 1

    rows = x8_cohort_retention(spark, sf_small).collect()
    assert {(r.cohort_w, r.age): r.users for r in rows} == dict(tri)
    for r in rows:
        assert r.cohort_size == tri[(r.cohort_w, 0)]
        assert abs(r.retention - r.users / r.cohort_size) < 1e-6
        if r.age == 0:
            assert r.retention == 1.0


def test_keyness_matches_python(spark, sf_small):
    """Top-z keyness must equal a plain-Python log-odds recomputation."""
    import math
    import re
    from collections import Counter, defaultdict

    import duckdb

    from diepy_spark.plans.extended import KEY_TOP, x5_keyness

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT source, text FROM '{sf_small}/documents.parquet'"
    ).fetchall()
    per_src = defaultdict(Counter)
    for src, text in docs:
        per_src[src].update(
            t for t in re.split(r"[^a-z0-9]+", text.lower()) if t
        )
    total = Counter()
    for c in per_src.values():
        total.update(c)
    ng = sum(total.values())

    rows = x5_keyness(spark, sf_small).collect()
    by_src = defaultdict(list)
    for r in rows:
        by_src[r.source].append(r)
    for src, rs in by_src.items():
        cnt = per_src[src]
        na = sum(cnt.values())
        nb = ng - na
        scored = []
        for tok, a in cnt.items():
            b = total[tok] - a
            delta = math.log((a + 1) / (na - a + 1)) - math.log(
                (b + 1) / (nb - b + 1)
            )
            var = (
                1 / (a + 1) + 1 / (b + 1)
                + 1 / (na - a + 1) + 1 / (nb - b + 1)
            )
            scored.append((round(delta / math.sqrt(var), 6), tok, a))
        scored.sort(key=lambda t: (-t[0], t[1]))
        expect = scored[:KEY_TOP]
        assert [(r.z, r.tok, r.a) for r in rs] == [
            (z, tok, a) for z, tok, a in expect
        ]


def test_ndcg_bounds_and_perfect_case(spark, sf_small):
    """NDCG in [0,1]; a method returning the exact ranking verbatim
    would have ndcg=1 — pinned via the idcg column equaling dcg when
    hits == k and order matches; also cross-check one method by Python."""
    import math

    from pyspark.sql import functions as F

    from diepy_spark.operators import similarity as S
    from diepy_spark.plans.extended import (
        ANN_NUM_PLANES,
        EMB_DIM,
        TOPK_K,
        TOPK_QUERY_MAX,
        _vecs,
        x3_ndcg,
    )

    rows = x3_ndcg(spark, sf_small).collect()
    assert rows, "ndcg must produce rows"
    for r in rows:
        assert 0.0 <= r.ndcg <= 1.0 + 1e-9
        assert r.hits <= TOPK_K
        assert r.idcg > 0

    # Python recompute for the 'lsh' method
    v = _vecs(spark, sf_small)
    q1 = v.where(F.col("vec_id") < TOPK_QUERY_MAX)
    c1 = v.where(F.col("vec_id") >= TOPK_QUERY_MAX)
    exact = S.cosine_topk(q1, c1, k=TOPK_K).collect()
    ann = S.ann_topk_lsh(
        q1, c1, k=TOPK_K, num_planes=ANN_NUM_PLANES, dim=EMB_DIM
    ).collect()
    rel = {(r.qid, r.cid): TOPK_K + 1 - r.rk for r in exact}
    dcg = {}
    hits = {}
    for r in ann:
        g = rel.get((r.qid, r.cid), 0)
        dcg[r.qid] = dcg.get(r.qid, 0.0) + round(
            g / math.log2(r.rk + 1), 9
        )
        hits[r.qid] = hits.get(r.qid, 0) + (1 if g > 0 else 0)
    idcg = {}
    for r in exact:
        idcg[r.qid] = idcg.get(r.qid, 0.0) + round(
            (TOPK_K + 1 - r.rk) / math.log2(r.rk + 1), 9
        )
    got = {r.qid: r for r in rows if r.method == "lsh"}
    for qid in dcg:
        assert abs(got[qid].dcg - dcg[qid]) < 1e-6
        assert abs(got[qid].ndcg - dcg[qid] / idcg[qid]) < 1e-5
        assert got[qid].hits == hits[qid]


def test_dedup_venn_consistency(spark, sf_small):
    """Venn cells must satisfy set algebra and match the individual
    declared pair frames on the common domain."""
    from pyspark.sql import functions as F

    from diepy_spark.operators import dedup as D
    from diepy_spark.plans.extended import (
        JACCARD_MAX_DF,
        JACCARD_THRESHOLD,
        MEDIA_DOC_MAX,
        _docs,
        _lsh_pairs_cached,
        x2_dedup_venn,
    )

    d = _docs(spark, sf_small)
    dom = lambda df: {
        (r.da, r.db)
        for r in df.collect()
        if r.da < MEDIA_DOC_MAX and r.db < MEDIA_DOC_MAX
    }
    a = dom(D.ngram_jaccard_pairs(
        d, threshold=JACCARD_THRESHOLD, max_df=JACCARD_MAX_DF))
    b = dom(_lsh_pairs_cached(spark, sf_small))
    c = dom(D.simhash_candidate_pairs(
        d.where(F.col("doc_id") < MEDIA_DOC_MAX)))

    r = x2_dedup_venn(spark, sf_small).collect()[0]
    assert r.n_jaccard == len(a)
    assert r.n_lsh == len(b)
    assert r.n_simhash == len(c)
    assert r.jaccard_lsh == len(a & b)
    assert r.jaccard_simhash == len(a & c)
    assert r.lsh_simhash == len(b & c)
    assert r.all_three == len(a & b & c)
    assert r.any_method == len(a | b | c)


def test_mood_median_matches_python(spark, sf_small):
    from collections import defaultdict

    import duckdb

    from diepy_spark.plans.extended import x8_mood_median

    con = duckdb.connect()
    vals = con.execute(f"""
      SELECT event_type, CAST(round(value * 100) AS BIGINT)
      FROM '{sf_small}/events.parquet' WHERE value IS NOT NULL
    """).fetchall()
    xs = sorted(c for _, c in vals)
    n = len(xs)
    med2 = xs[(n + 1) // 2 - 1] + xs[n // 2]
    groups = defaultdict(lambda: [0, 0])  # above, below
    for g, c in vals:
        if 2 * c > med2:
            groups[g][0] += 1
        elif 2 * c < med2:
            groups[g][1] += 1
    k = len(groups)
    nn = sum(a + b for a, b in groups.values())
    ca = sum(a for a, _ in groups.values())
    cb = nn - ca
    chi2 = 0.0
    for a, b in groups.values():
        r = a + b
        for o, col in ((a, ca), (b, cb)):
            chi2 += (o * nn - r * col) ** 2 / (nn * r * col)

    row = x8_mood_median(spark, sf_small).collect()[0]
    assert row.n == nn and row.k == k and row.dof == k - 1
    assert abs(row.chi2 - chi2) < 1e-4


def test_rich_club_matches_python(spark, sf_small):
    from collections import Counter

    import duckdb

    from diepy_spark.plans.extended import RICH_KS, x11_rich_club

    con = duckdb.connect()
    edges = con.execute(f"""
      SELECT DISTINCT l_partkey * 10 + 1, l_suppkey * 10 + 2
      FROM '{sf_small}/lineitem.parquet'
    """).fetchall()
    deg = Counter()
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    rows = {r.k: r for r in x11_rich_club(spark, sf_small).collect()}
    assert set(rows) == set(RICH_KS)
    for k in RICH_KS:
        nodes = sum(1 for d in deg.values() if d > k)
        ek = sum(1 for u, v in edges if deg[u] > k and deg[v] > k)
        r = rows[k]
        assert (r.nodes, r.edges) == (nodes, ek)
        if nodes >= 2:
            assert abs(r.phi - 2 * ek / (nodes * (nodes - 1))) < 1e-6
        else:
            assert r.phi == 0.0


def test_odds_ratio_matches_python(spark, sf_small):
    import math

    import duckdb

    from diepy_spark.plans.extended import KMSURV_EVENT, x8_odds_ratio

    con = duckdb.connect()
    users = con.execute(f"""
      SELECT CAST(user_id % 2 AS INT),
             max(CASE WHEN event_type = '{KMSURV_EVENT}' THEN 1 ELSE 0 END)
      FROM '{sf_small}/events.parquet' WHERE user_id IS NOT NULL
      GROUP BY user_id
    """).fetchall()
    a = sum(1 for arm, c in users if arm == 1 and c == 1)
    b = sum(1 for arm, c in users if arm == 1 and c == 0)
    c_ = sum(1 for arm, c in users if arm == 0 and c == 1)
    d = sum(1 for arm, c in users if arm == 0 and c == 0)
    orx = ((a + 0.5) * (d + 0.5)) / ((b + 0.5) * (c_ + 0.5))
    se = math.sqrt(
        1 / (a + 0.5) + 1 / (b + 0.5) + 1 / (c_ + 0.5) + 1 / (d + 0.5)
    )
    rr = ((a + 0.5) / (a + b + 0.5)) / ((c_ + 0.5) / (c_ + d + 0.5))

    r = x8_odds_ratio(spark, sf_small).collect()[0]
    assert (r.a, r.b, r.c, r.d) == (a, b, c_, d)
    assert abs(r.odds_ratio - orx) < 1e-5
    assert abs(r.relative_risk - rr) < 1e-5
    assert abs(r.ln_or_se - se) < 1e-5
    assert abs(r.or_ci_low - orx * math.exp(-1.96 * se)) < 1e-4
    assert abs(r.or_ci_high - orx * math.exp(1.96 * se)) < 1e-4


def test_ccf_matches_python(spark, sf_small):
    """Cross-correlation at every lag must equal a plain-Python
    recomputation over the same gap-filled spine."""
    import math
    from collections import Counter

    import duckdb

    from diepy_spark.plans.extended import CCF_MAX_LAG, CCF_X, CCF_Y, x8_ccf

    con = duckdb.connect()
    rows_ = con.execute(f"""
      SELECT event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT)
      FROM '{sf_small}/events.parquet'
      WHERE event_type IN ('{CCF_X}', '{CCF_Y}')
    """).fetchall()
    cx, cy = Counter(), Counter()
    for et, day in rows_:
        (cx if et == CCF_X else cy)[day] += 1
    d0 = min(min(cx), min(cy))
    d1 = max(max(cx), max(cy))
    days = list(range(d0, d1 + 1))
    n = len(days)
    xs = [cx.get(d, 0) for d in days]
    ys = [cy.get(d, 0) for d in days]
    u = [n * v - sum(xs) for v in xs]
    v = [n * w - sum(ys) for w in ys]
    den = math.sqrt(sum(a * a for a in u)) * math.sqrt(
        sum(b * b for b in v)
    )

    got = {r.lag: r for r in x8_ccf(spark, sf_small).collect()}
    assert set(got) == set(range(-CCF_MAX_LAG, CCF_MAX_LAG + 1))
    for lag in got:
        num = 0
        np_ = 0
        for i, d in enumerate(days):
            j = d + lag - d0
            if 0 <= j < n:
                num += u[i] * v[j]
                np_ += 1
        r = got[lag]
        assert r.n_pairs == np_
        assert abs(r.r - num / den) < 1e-6
    # zero-lag simultaneity should be the strongest or near it
    assert abs(got[0].r) <= 1.0


def test_payload_entropy_matches_python(spark, sf_small):
    import math
    from collections import Counter

    import duckdb

    from diepy_spark.plans.extended import MEDIA_DOC_MAX, x6_payload_entropy

    con = duckdb.connect()
    docs = con.execute(f"""
      SELECT doc_id, text FROM '{sf_small}/documents.parquet'
      WHERE doc_id < {MEDIA_DOC_MAX} AND length(text) > 0
    """).fetchall()
    rows = {r.doc_id: r for r in x6_payload_entropy(spark, sf_small).collect()}
    assert set(rows) == {d for d, _ in docs}
    for did, text in docs:
        c = Counter(text)
        n = len(text)
        ent = math.log(n) - sum(
            round(v * math.log(v), 9) for v in c.values()
        ) / n
        r = rows[did]
        assert r.n_bytes == n and r.distinct_bytes == len(c)
        assert abs(r.entropy - ent) < 1e-6
        assert abs(r.max_byte_frac - max(c.values()) / n) < 1e-6
        assert 0.0 <= r.entropy <= math.log(256)


def test_loo_ablation_sums(spark, sf_small):
    """Removed + remaining must reconstruct the same global totals on
    every row, and shares must sum to 1."""
    from diepy_spark.plans.extended import x10_loo_ablation

    rows = x10_loo_ablation(spark, sf_small).collect()
    docs_t = {r.docs_removed + r.docs_loo for r in rows}
    toks_t = {r.tokens_removed + r.tokens_loo for r in rows}
    assert len(docs_t) == 1 and len(toks_t) == 1
    assert abs(sum(r.token_share_removed for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert 0.0 < r.stop_ratio_loo < 1.0
        assert r.mean_doc_tokens_loo > 0


def test_trend_proportions_matches_python(spark, sf_small):
    import math
    from collections import defaultdict

    import duckdb

    from diepy_spark.plans.extended import KMSURV_EVENT, x8_trend_proportions

    con = duckdb.connect()
    days = con.execute(f"""
      SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT),
             CAST(event_type = '{KMSURV_EVENT}' AS INT)
      FROM '{sf_small}/events.parquet' WHERE event_type IS NOT NULL
    """).fetchall()
    agg = defaultdict(lambda: [0, 0])
    for d, sflag in days:
        agg[d][0] += 1
        agg[d][1] += sflag
    d0 = min(agg)
    n = sum(v[0] for v in agg.values())
    s = sum(v[1] for v in agg.values())
    sxs = sum((d - d0) * v[1] for d, v in agg.items())
    sxn = sum((d - d0) * v[0] for d, v in agg.items())
    snxx = sum((d - d0) ** 2 * v[0] for d, v in agg.items())
    z = (n * sxs - s * sxn) * math.sqrt(n) / (
        math.sqrt(s * (n - s)) * math.sqrt(n * snxx - sxn * sxn)
    )

    r = x8_trend_proportions(spark, sf_small).collect()[0]
    assert (r.n_days, r.n, r.s) == (len(agg), n, s)
    assert abs(r.z - z) < 1e-5
    assert r.direction == (1 if z > 0 else (-1 if z < 0 else 0))


def test_ktruss_matches_python(spark, sf_small):
    """Fixed-round k-truss pruning must equal a literal Python
    recomputation (canonical edges, common-neighbor support)."""
    from collections import defaultdict

    import duckdb

    from diepy_spark.plans.extended import (
        KT_DENOM,
        KT_K,
        KT_ROUNDS,
        x11_ktruss,
    )

    con = duckdb.connect()
    # data-derived node space (round-9): odd, coprime to 10^k strides,
    # bumped off the hash multipliers' factors {5, 37, 101}
    kt_n = con.execute(
        f"SELECT 2 * (count(*) // {KT_DENOM}) + 1"
        f" FROM '{sf_small}/orders.parquet'"
    ).fetchone()[0]
    for _ in range(3):
        if kt_n % 37 == 0 or kt_n % 101 == 0 or kt_n % 5 == 0:
            kt_n += 2
    raw = con.execute(f"""
      SELECT (o_orderkey * 37 + 11) % {kt_n},
             (o_custkey * 101 + 7) % {kt_n}
      FROM '{sf_small}/orders.parquet'
    """).fetchall()
    edges = {(min(a, b), max(a, b)) for a, b in raw if a != b}

    def supports(es):
        nbr = defaultdict(set)
        for u, v in es:
            nbr[u].add(v)
            nbr[v].add(u)
        return {(u, v): len(nbr[u] & nbr[v]) for u, v in es}

    for _ in range(KT_ROUNDS):
        sup = supports(edges)
        edges = {e for e in edges if sup[e] >= KT_K - 2}
    hist = defaultdict(int)
    final = supports(edges)
    for e in edges:
        hist[final[e]] += 1

    rows = x11_ktruss(spark, sf_small).collect()
    assert {r.support: r.edges for r in rows} == dict(hist)


def test_sign_test_matches_python(spark, sf_small):
    """Exact binomial machinery: CDF numerators must equal
    math.comb sums, p must equal the exact two-sided binomial p."""
    import math
    from collections import defaultdict

    import duckdb

    from diepy_spark.plans.extended import SIGN_LAG_DAYS, x8_sign_test

    con = duckdb.connect()
    daily = dict(con.execute(f"""
      SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT),
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      FROM '{sf_small}/events.parquet' WHERE value IS NOT NULL GROUP BY 1
    """).fetchall())
    pos = ties = m = 0
    for d, v in daily.items():
        w = daily.get(d + SIGN_LAG_DAYS)
        if w is None:
            continue
        if w > v:
            pos += 1
            m += 1
        elif w < v:
            m += 1
        else:
            ties += 1
    num_le = sum(math.comb(m, k) for k in range(pos + 1))
    num_ge = sum(math.comb(m, k) for k in range(m - pos + 1))
    p = min(1.0, 2 * min(num_le, num_ge) / 2 ** m)

    r = x8_sign_test(spark, sf_small).collect()[0]
    assert (r.n_pairs, r.ties, r.s_pos) == (m, ties, pos)
    assert r.num_le == num_le and r.num_ge == num_ge
    assert r.p_two_sided == round(p, 6)


def test_rate_ratio_matches_python(spark, sf_small):
    import math

    import duckdb

    from diepy_spark.plans.extended import x8_rate_ratio

    con = duckdb.connect()
    users = con.execute("""
      SELECT CAST(user_id %% 2 AS INT), CAST(count(*) AS BIGINT),
             max(CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
                 AS BIGINT))
             - min(CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
                 AS BIGINT)) + 1
      FROM '%s/events.parquet' WHERE user_id IS NOT NULL GROUP BY user_id
    """ % sf_small).fetchall()
    k1 = sum(k for a, k, _ in users if a == 1)
    t1 = sum(t for a, _, t in users if a == 1)
    k2 = sum(k for a, k, _ in users if a == 0)
    t2 = sum(t for a, _, t in users if a == 0)
    rr = (k1 / t1) / (k2 / t2)
    se = math.sqrt(1 / k1 + 1 / k2)

    r = x8_rate_ratio(spark, sf_small).collect()[0]
    assert (r.k1, r.t1, r.k2, r.t2) == (k1, t1, k2, t2)
    assert abs(r.rate_ratio - rr) < 1e-5
    assert abs(r.ln_rr_se - se) < 1e-6
    assert abs(r.rr_ci_low - rr * math.exp(-1.96 * se)) < 1e-4
    assert abs(r.rr_ci_high - rr * math.exp(1.96 * se)) < 1e-4


def test_term_dispersion_matches_python(spark, sf_small):
    """DP must equal a full-grid plain-Python recomputation (the
    analytic absent-cell fold included)."""
    import re
    from collections import Counter, defaultdict

    import duckdb

    from diepy_spark.plans.extended import DISP_TOP, x5_term_dispersion

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT source, text FROM '{sf_small}/documents.parquet'"
    ).fetchall()
    per_src = defaultdict(Counter)
    for src, text in docs:
        per_src[src].update(
            t for t in re.split(r"[^a-z0-9]+", text.lower()) if t
        )
    total = Counter()
    for c in per_src.values():
        total.update(c)
    T = sum(total.values())
    shares = {s: sum(c.values()) / T for s, c in per_src.items()}
    top = sorted(total.items(), key=lambda kv: (-kv[1], kv[0]))[:DISP_TOP]

    rows = {r.tok: r for r in x5_term_dispersion(spark, sf_small).collect()}
    assert [r.tok for r in sorted(rows.values(), key=lambda r: r.rk)] == [
        t for t, _ in top
    ]
    for tok, f in top:
        dp = 0.5 * sum(
            abs(per_src[s].get(tok, 0) / f - shares[s]) for s in per_src
        )
        r = rows[tok]
        assert r.f == f
        assert r.n_sources == sum(
            1 for s in per_src if per_src[s].get(tok, 0) > 0
        )
        assert abs(r.dp - dp) < 1e-6
        assert 0.0 <= r.dp < 1.0


def test_cluster_quality_matches_python(spark, sf_small):
    """Purity/MI/NMI must equal a plain-Python recomputation over the
    same integer k-means assignment."""
    import math
    from collections import Counter, defaultdict

    import duckdb

    from diepy_spark.operators.clustering import kmeans_int
    from diepy_spark.plans.extended import (
        KM_ITER,
        KM_K,
        KM_SCALE,
        _vecs,
        x3_cluster_quality,
    )

    v = _vecs(spark, sf_small)
    asg = {
        r.vec_id: r.cluster
        for r in kmeans_int(
            v, k=KM_K, iterations=KM_ITER, scale=KM_SCALE
        ).collect()
    }
    con = duckdb.connect()
    labels = dict(con.execute(
        f"SELECT vec_id, label FROM '{sf_small}/embeddings.parquet'"
    ).fetchall())
    joint = Counter((asg[i], labels[i]) for i in asg)
    n = sum(joint.values())
    rc = Counter()
    sc = Counter()
    for (cl, lb), c in joint.items():
        rc[cl] += c
        sc[lb] += c
    mi = sum(
        (c / n) * math.log(c * n / (rc[cl] * sc[lb]))
        for (cl, lb), c in joint.items()
    )
    hx = -sum((r / n) * math.log(r / n) for r in rc.values())
    hy = -sum((s / n) * math.log(s / n) for s in sc.values())
    best = defaultdict(int)
    for (cl, _), c in joint.items():
        best[cl] = max(best[cl], c)
    purity = sum(best.values()) / n

    r = x3_cluster_quality(spark, sf_small).collect()[0]
    assert (r.n, r.k_clusters, r.n_labels) == (n, len(rc), len(sc))
    assert abs(r.purity - purity) < 1e-6
    assert abs(r.mi - mi) < 1e-5
    assert abs(r.h_cluster - hx) < 1e-5
    assert abs(r.h_label - hy) < 1e-5
    assert abs(r.nmi - mi / math.sqrt(hx * hy)) < 1e-5
    assert 0.0 <= r.nmi <= 1.0 + 1e-9
