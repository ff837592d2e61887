"""Suffix-array tier (operators/suffixes.py): brute-force equivalence.

The brute force sorts actual token-list suffixes (Python list comparison
IS token-wise lexicographic with shorter-prefix-first — the sentinel
order prefix doubling encodes) and walks adjacent LCPs directly; the
operator must reproduce every (da, ia, db, ib, lcp) row exactly.
"""

from __future__ import annotations

import random
import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from diepy_spark.operators.suffixes import (
    adjacent_suffix_lcp,
    block_dense_rank,
    block_row_number,
)


def brute_adjacent_lcp(texts, max_tokens):
    suf = []
    for d, text in texts:
        toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t][:max_tokens]
        for i in range(1, len(toks) + 1):
            suf.append((toks[i - 1 :], d, i))
    suf.sort(key=lambda s: (s[0], s[1], s[2]))
    out = []
    for (ta, da, ia), (tb, db, ib) in zip(suf, suf[1:]):
        lcp = 0
        for x, y in zip(ta, tb):
            if x != y:
                break
            lcp += 1
        out.append((da, ia, db, ib, lcp))
    return sorted(out)


def run_case(spark, texts, max_tokens):
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    want = brute_adjacent_lcp(texts, max_tokens)
    got = sorted(
        tuple(r) for r in adjacent_suffix_lcp(df, max_tokens=max_tokens).collect()
    )
    assert got == want


def test_crafted_edges(spark):
    texts = [
        (1, "a b c a b c a b"),  # internal repeats
        (2, "a b c a b c a b"),  # identical doc (full-length tie)
        (3, "a b c"),  # proper prefix of doc 1's opening
        (4, "zz"),  # singleton token
        (5, "b c a b"),  # suffix overlap from another doc
    ]
    run_case(spark, texts, max_tokens=16)


def test_top_level_identical_suffixes(spark):
    # Docs exactly max_tokens long and identical: the adjacent pair's LCP
    # must be max_tokens itself — the all-equal-window clamp.
    t = " ".join(["w%d" % (i % 3) for i in range(8)])
    run_case(spark, [(1, t), (2, t), (3, t[: len(t) // 2])], max_tokens=8)


@pytest.mark.parametrize("max_tokens", [16, 5])
def test_randomized(spark, max_tokens):
    # 5 is no power of two: the rank ladder's seed rounds down to 4.
    rng = random.Random(41)
    vocab = ["a", "b", "ab", "ba", "c0"]
    texts = [
        (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 20))))
        for d in range(12)
    ]
    run_case(spark, texts, max_tokens=max_tokens)


def test_block_rank_helpers(spark):
    rng = random.Random(7)
    rows = [(rng.randint(0, 30), rng.randint(0, 5), i) for i in range(500)]
    df = spark.createDataFrame(rows, ["k1", "k2", "uid"])
    dr = block_dense_rank(df, ["k1", "k2"], out="r")
    rn = block_row_number(df, ["k1", "k2", "uid"], out="rn")
    w = Window.orderBy("k1", "k2")
    wt = Window.orderBy("k1", "k2", "uid")
    exp_dr = {
        (r["k1"], r["k2"], r["uid"]): r["e"]
        for r in df.withColumn("e", F.dense_rank().over(w)).collect()
    }
    exp_rn = {
        (r["k1"], r["k2"], r["uid"]): r["e"]
        for r in df.withColumn("e", F.row_number().over(wt)).collect()
    }
    for r in dr.collect():
        assert r["r"] == exp_dr[(r["k1"], r["k2"], r["uid"])]
    for r in rn.collect():
        assert r["rn"] == exp_rn[(r["k1"], r["k2"], r["uid"])]
