"""Bloom-filter semi-join: the shuffle-free alternative to a semi join.

A classic semi join (``WHERE key IN (SELECT ...)``) shuffles BOTH sides on
the key. When the probe side is the 100 TB fact table and the build side is
merely large-ish (too big to broadcast raw, small enough to sketch), the
scale-correct plan is: build a Bloom filter over the build side's keys (a
few KB–MB regardless of build-side row width), broadcast the filter, and
bit-test the probe side in a pure projection — no probe-side shuffle at
all. False positives pass through (to be removed by the real join later if
exactness is required); false negatives never occur. This is exactly what
Spark's own runtime-filter optimization (`spark.sql.optimizer.
runtimeFilter.bloomFilter.enabled`) injects for selective joins; this
operator is the EXPLICIT, engine-portable form whose bit pattern is
deterministic — so the same filter can be computed (and the result
hash-verified) in any engine with md5 + integer arithmetic.

Portability contract: positions derive from non-overlapping 4-nibble
slices of ``md5(seed || ':' || key)`` — pure ``instr``/``substr``
arithmetic identical in Spark SQL and DuckDB (operators/sketch.py:
hex_int_sql, the integer sibling of hex_frac_sql).
``m`` must divide 16**4 (slice values are uniform mod m only then).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from diepy_spark.operators.sketch import hex_int_sql

__all__ = ["bloom_build", "bloom_probe", "bloom_position_sql"]


def bloom_position_sql(key_sql: str, seed: str, i: int, m: int) -> str:
    """Bit position of hash function `i` for `key_sql` in an m-bit filter.

    Each hash uses its own 4-nibble slice of one shared md5 — 16 bits per
    slice, so k <= 8 and m must divide 65536."""
    if 16 ** 4 % m != 0:
        raise ValueError(f"m={m} must divide 65536 for uniform slices")
    md5 = f"md5(concat('{seed}:', CAST({key_sql} AS STRING)))"
    return f"({hex_int_sql(md5, 4, 1 + 4 * i)} % {m})"


def bloom_build(
    df: DataFrame, key_col: str, m: int = 16384, k: int = 3, seed: str = "bloom"
) -> DataFrame:
    """Aggregate the keys of `df` into the filter's word table:
    (``word`` int, ``mask`` long) — 32-bit words, ceil(m/32) rows max,
    absent word == all-zero. One shuffle of (word, bit) pairs — map-side
    combined to at most m/32 rows per task regardless of input size. At
    m = 16 Ki bits the table is ~4 KB: broadcast it onto the probe side
    (bloom_probe does)."""
    pos = [
        F.expr(bloom_position_sql(key_col, seed, i, m)).alias(f"p{i}")
        for i in range(k)
    ]
    return (
        df.select(F.explode(F.array(*pos)).alias("pos"))
        .select(
            (F.col("pos") / 32).cast("int").alias("word"),
            F.pow(F.lit(2.0), (F.col("pos") % 32).cast("double"))
            .cast("long")
            .alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("mask"))
    )


def bloom_probe(
    probe: DataFrame,
    key_col: str,
    bloom: DataFrame,
    m: int = 16384,
    k: int = 3,
    seed: str = "bloom",
) -> DataFrame:
    """Filter `probe` to rows whose `key_col` the Bloom filter accepts
    (all k bits set). Plan: ONE md5 per row in a codegen'd projection
    (all k positions slice the same digest), then k BROADCAST hash joins
    on the word index — zero probe-side shuffle, whole-stage codegen
    throughout. (A cross-join against a packed single-row map reads
    nicer, but Catalyst pushes the bit tests into a
    BroadcastNestedLoopJoin condition, which is evaluated interpreted,
    per row, with every md5 re-derived — measured ~10x slower at sf0.1.)
    """
    md5c = F.md5(
        F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string")).cast("binary")
    )
    out = probe.withColumn("__bloom_md5", md5c)
    for i in range(k):
        out = out.withColumn(
            f"__bp{i}", F.expr(hex_int_sql("__bloom_md5", 4, 1 + 4 * i)) % m
        )
    cond = F.lit(True)
    for i in range(k):
        bi = bloom.select(
            F.col("word").alias(f"__bw{i}"), F.col("mask").alias(f"__bk{i}")
        )
        out = out.join(
            F.broadcast(bi),
            (F.col(f"__bp{i}") / 32).cast("int") == F.col(f"__bw{i}"),
            "left",
        )
        bit = F.pow(F.lit(2.0), (F.col(f"__bp{i}") % 32).cast("double")).cast("long")
        cond = cond & F.col(f"__bk{i}").isNotNull() & (
            F.col(f"__bk{i}").bitwiseAND(bit) != 0
        )
    helpers = ["__bloom_md5"] + [
        c for i in range(k) for c in (f"__bp{i}", f"__bw{i}", f"__bk{i}")
    ]
    return out.where(cond).drop(*helpers)
