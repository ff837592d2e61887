"""Output checks: every timed op's result is compared with an answer the
benchmark computed without Spark.

- Imported tables: row count, inferred types and per-column checksums
  (see ``inputs.csv_checksums``) computed by one Spark aggregate.
- Exports: the ``.csv.gz`` read back in Python, with the same checksums.
- ``clean_corpus``: the survivor set from ``clean_corpus_reference``.
- ``cosine_topk``: the ids from ``inputs.topk_reference``.
"""

from __future__ import annotations

import gzip
import hashlib
import re
import zlib
from datetime import date, datetime, timezone

from inputs import CSV_TYPES

# Spark type names each lattice type may read back as (the JDBC store
# returns FLOAT columns as float, the warehouse as double).
_SPARK_TYPES = {
    "int": {"smallint", "int", "bigint"},
    "float": {"float", "double"},
    "date": {"date"},
    "datetime": {"timestamp"},
    "text": {"string"},
}


def table_problems(df, expected: dict) -> list[str]:
    """Compare a stored table with the generated file's answers."""
    from pyspark.sql import functions as F

    problems = []
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for name, kind in CSV_TYPES.items():
        if types.get(name) not in _SPARK_TYPES[kind]:
            problems.append(f"{name}: type {types.get(name)}, expected {kind}")
    if problems:
        return problems
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for name, kind in CSV_TYPES.items():
        c = F.col(name)
        if kind == "int":
            v = c.cast("bigint")
        elif kind == "float":
            v = F.round(c.cast("double") * 100).cast("bigint")
        elif kind == "date":
            v = F.unix_date(c).cast("bigint")
        elif kind == "datetime":
            v = F.unix_seconds(c)
        else:
            v = F.crc32(c.cast("binary"))
        aggs += [F.count(c).alias(f"{name}_n"), F.sum(v).alias(f"{name}_s")]
    row = df.agg(*aggs).collect()[0]
    if row["_rows"] != expected["rows"]:
        problems.append(f"rows {row['_rows']}, expected {expected['rows']}")
    for name, (n, s) in expected["checksums"].items():
        got = (row[f"{name}_n"], row[f"{name}_s"] or 0)
        if got != (n, s):
            problems.append(f"{name}: checksum {got}, expected {(n, s)}")
    return problems


_EPOCH_ORD = date(1970, 1, 1).toordinal()


def _parse(kind: str, v: str) -> int:
    if kind == "int":
        return int(v)
    if kind == "float":
        return round(float(v) * 100)
    if kind == "date":
        return date.fromisoformat(v).toordinal() - _EPOCH_ORD
    if kind == "datetime":
        return int(datetime.fromisoformat(v).replace(tzinfo=timezone.utc).timestamp())
    return zlib.crc32(v.encode())


def export_problems(path: str, expected: dict) -> list[str]:
    """Read an exported .csv.gz back and compare count and checksums
    (generated fields hold no quotes or commas, so a split parses it)."""
    with gzip.open(path, "rt", newline="") as f:
        lines = f.read().splitlines()
    header, rows = lines[0].split(","), [ln.split(",") for ln in lines[1:]]
    if header != list(CSV_TYPES):
        return [f"header {header}"]
    problems = []
    if len(rows) != expected["rows"]:
        problems.append(f"rows {len(rows)}, expected {expected['rows']}")
    for j, (name, kind) in enumerate(CSV_TYPES.items()):
        vals = [_parse(kind, r[j]) for r in rows if r[j] != ""]
        got = (len(vals), sum(vals))
        if got != tuple(expected["checksums"][name]):
            problems.append(f"{name}: checksum {got}, expected {expected['checksums'][name]}")
    return problems


# ---- clean_corpus reference --------------------------------------------------

# Written out rather than imported from diepy_spark, so the reference
# stays independent of the code it checks. Thresholds are clean_corpus's
# defaults, which the benchmark uses, and the x10_clean_corpus constants.
_EN_STOP = {"the", "a", "of", "and", "to", "in", "is", "it", "that", "for"}
_SPLIT = re.compile(r"[^a-z0-9]+")
MIN_TOKENS, MIN_SCORE, MAX_DUP3, JACCARD_THRESHOLD, MAX_DF = 5, 0.5, 0.5, 0.2, 100


def clean_corpus_reference(
    doc_ids: list[int], texts: list[str]
) -> list[tuple[int, int | None, int]]:
    """(doc_id, cluster, n_tokens) of the documents ``clean_corpus``
    keeps, by the semantics of the repo's ``x10_clean_corpus`` DuckDB
    oracle restated in Python: the quality and repetition gate, the
    minimum id per identical text, then one representative (the minimum
    id) per connected component of the word-bigram Jaccard graph over the
    shingles that occur in at most ``MAX_DF`` documents."""
    gated = []
    for d, text in zip(doc_ids, texts):
        toks = [t for t in _SPLIT.split(text.lower()) if t]
        n = len(toks)
        if n < 3:
            continue
        score = (
            0.3 * min(len(text) / 500.0, 1.0)
            + 0.3 * (len(set(toks)) / n)
            + 0.2 * min((sum(t in _EN_STOP for t in toks) / n) * 5, 1.0)
            + 0.2 * min((sum(len(t) for t in toks) / n) / 8, 1.0)
        )
        g3 = [" ".join(toks[j:j + 3]) for j in range(n - 2)]
        dup3 = (len(g3) - len(set(g3))) / len(g3)
        if n >= MIN_TOKENS and score >= MIN_SCORE and dup3 <= MAX_DUP3:
            gated.append((d, text, toks))

    first: dict[bytes, int] = {}
    for d, text, _ in gated:
        fp = hashlib.md5(text.encode()).digest()
        first[fp] = min(first.get(fp, d), d)
    kept_ids = set(first.values())
    docs = [(d, toks) for d, text, toks in gated if d in kept_ids]

    shingles = {d: {f"{a} {b}" for a, b in zip(toks, toks[1:])} for d, toks in docs}
    postings: dict[str, list[int]] = {}
    for d, sh in shingles.items():
        for s in sh:
            postings.setdefault(s, []).append(d)
    kept = {s: ds for s, ds in postings.items() if len(ds) <= MAX_DF}
    size = dict.fromkeys(shingles, 0)
    common: dict[tuple[int, int], int] = {}
    for ds in kept.values():
        ds.sort()
        for d in ds:
            size[d] += 1
        for i, a in enumerate(ds):
            for b in ds[i + 1:]:
                common[(a, b)] = common.get((a, b), 0) + 1

    parent: dict[int, int] = {}

    def root(x: int) -> int:
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for (a, b), c in common.items():
        if c / (size[a] + size[b] - c) >= JACCARD_THRESHOLD:
            ra, rb = root(a), root(b)
            parent.setdefault(ra, ra)
            parent.setdefault(rb, rb)
            parent[max(ra, rb)] = min(ra, rb)
    out = []
    for d, toks in docs:
        if d not in parent:
            out.append((d, None, len(toks)))
        elif root(d) == d:
            out.append((d, d, len(toks)))
    return out
