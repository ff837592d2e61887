"""Seeded input generation for the benchmark.

Everything here runs in the benchmark's own process before the Spark
session starts, so generation never counts in ``setup_s``. The same seed
gives byte-identical files; the program under test only ever sees the
files written here. Each generator also returns the answers the output
checks compare against.
"""

from __future__ import annotations

import os
import zlib

import numpy as np

# Lattice type each generated CSV column must infer to (sample mode).
# flag holds Y/N, which the lattice keeps as text.
CSV_TYPES = {
    "id": "int", "qty": "int", "price": "float", "d": "date",
    "ts": "datetime", "flag": "text", "code": "text", "note": "text",
}
CSV_COLUMNS = list(CSV_TYPES)
EMPTY_SHARE = 0.02

_WORDS = [
    "".join(chr(97 + c) for c in combo)
    for combo in np.random.default_rng(0).integers(0, 26, size=(20_000, 6))
]
_STOP = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]
_EPOCH = np.datetime64("1970-01-01", "D")


def csv_checksums(cols: dict[str, list]) -> dict[str, tuple[int, int]]:
    """Order-insensitive (non-null count, integer sum) per column, from
    Python values: ints as-is, price in cents, dates as epoch days,
    timestamps as epoch seconds, text as summed CRC-32 of its UTF-8."""
    out = {}
    for name, vals in cols.items():
        present = [v for v in vals if v is not None]
        kind = CSV_TYPES[name]
        if kind == "int":
            total = sum(present)
        elif kind == "float":
            total = sum(round(v * 100) for v in present)
        elif kind in ("date", "datetime"):
            total = sum(present)
        else:
            total = sum(zlib.crc32(v.encode()) for v in present)
        out[name] = (len(present), total)
    return out


def write_csv_table(path: str, seed: int, rows: int, first_id: int) -> dict:
    """One CSV with every lattice type and ~2% empty cells (never in id).
    Returns the row count, the file size and the per-column checksums."""
    rng = np.random.default_rng(seed)
    ids = np.arange(first_id, first_id + rows)
    qty = rng.integers(0, 1000, rows)
    cents = rng.integers(100, 1_000_000, rows)
    days = rng.integers(10_957, 20_000, rows)  # 2000-01-01 ..
    # seconds-of-day never 0: a midnight datetime would infer as a date
    secs = rng.integers(10_957, 20_000, rows) * 86_400 + rng.integers(1, 86_400, rows)
    flag = rng.random(rows) < 0.5
    letters = rng.integers(65, 91, (rows, 3)).tolist()
    codes = [f"{chr(a)}{chr(b)}{chr(c)}-{n}" for (a, b, c), n in zip(
        letters, rng.integers(100, 1000, rows).tolist()
    )]
    nwords = rng.integers(2, 6, rows)
    widx = rng.integers(0, len(_WORDS), (rows, 5))
    notes = [" ".join(_WORDS[w] for w in widx[i, : nwords[i]]) for i in range(rows)]
    empty = rng.random((rows, len(CSV_COLUMNS) - 1)) < EMPTY_SHARE

    d_txt = (_EPOCH + days).astype(str)
    ts_txt = np.char.replace(secs.astype("datetime64[s]").astype(str), "T", " ")
    cols: dict[str, list] = {
        "id": ids.tolist(),
        "qty": qty.tolist(),
        "price": (cents / 100).tolist(),
        "d": days.tolist(),
        "ts": secs.tolist(),
        "flag": ["Y" if f else "N" for f in flag],
        "code": codes,
        "note": notes,
    }
    text = {
        "id": [str(v) for v in cols["id"]],
        "qty": [str(v) for v in cols["qty"]],
        "price": [f"{c // 100}.{c % 100:02d}" for c in cents.tolist()],
        "d": d_txt.tolist(),
        "ts": ts_txt.tolist(),
        "flag": list(cols["flag"]),
        "code": list(codes),
        "note": list(notes),
    }
    for j, name in enumerate(CSV_COLUMNS[1:]):
        for i in np.flatnonzero(empty[:, j]).tolist():
            cols[name][i] = None
            text[name][i] = ""
    lines = [",".join(CSV_COLUMNS)]
    lines += [",".join(row) for row in zip(*(text[c] for c in CSV_COLUMNS))]
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return {"path": path, "rows": rows, "bytes": len(data), "checksums": csv_checksums(cols)}


def make_documents(seed: int, n_docs: int) -> dict:
    """Documents of 20-120 tokens: a tenth stop words, the rest drawn
    from a 20,000-word vocabulary. About 10% are exact copies of an earlier
    document, about 10% copies with one token replaced, and about 4% are
    a short phrase repeated, which fails the repetition gate."""
    rng = np.random.default_rng(seed)
    docs: list[str] = []
    originals: list[str] = []
    kind = rng.random(n_docs)
    for i in range(n_docs):
        # copies are taken of originals only: duplicate clusters stay
        # stars, so the oracle's recursive closure converges in a few steps
        if i >= 100 and kind[i] < 0.10:
            docs.append(originals[int(rng.integers(0, len(originals)))])
            continue
        if i >= 100 and kind[i] < 0.20:
            toks = originals[int(rng.integers(0, len(originals)))].split()
            toks[int(rng.integers(0, len(toks)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            docs.append(" ".join(toks))
            continue
        n = int(rng.integers(20, 121))
        if kind[i] > 0.96:
            phrase = [_WORDS[w] for w in rng.integers(0, len(_WORDS), 4)]
            toks = (phrase * (n // 4 + 1))[:n]
        else:
            stop = rng.random(n) < 0.10
            content = rng.integers(0, len(_WORDS), n)
            stopw = rng.integers(0, len(_STOP), n)
            toks = [_STOP[s] if st else _WORDS[c] for st, s, c in zip(stop, stopw, content)]
        docs.append(" ".join(toks))
        originals.append(docs[-1])
    return {"doc_id": list(range(1, n_docs + 1)), "text": docs}


def make_vectors(seed: int, n_corpus: int, n_queries: int, dim: int, k: int) -> dict:
    """Corpus and query embeddings (float32). For each query, k corpus
    vectors are planted at cosine 0.99, 0.98, ... so its top-k is unique
    and well separated from the random rest (whose cosine stays near 0)."""
    rng = np.random.default_rng(seed)
    corpus = rng.standard_normal((n_corpus, dim)).astype(np.float32)
    queries = rng.standard_normal((n_queries, dim)).astype(np.float32)
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    slots = rng.choice(n_corpus, size=(n_queries, k), replace=False)
    for q in range(n_queries):
        for r in range(k):
            target = 0.99 - 0.01 * r
            noise = rng.standard_normal(dim)
            noise -= noise.dot(qn[q]) * qn[q]
            noise /= np.linalg.norm(noise)
            v = target * qn[q] + np.sqrt(1 - target * target) * noise
            corpus[slots[q, r]] = (v * rng.uniform(0.5, 2.0)).astype(np.float32)
    return {"corpus": corpus, "queries": queries}


def topk_reference(corpus: np.ndarray, queries: np.ndarray, k: int) -> list[list[int]]:
    """Brute-force top-k corpus ids (1-based) per query, by cosine."""
    c = corpus.astype(np.float64)
    q = queries.astype(np.float64)
    cos = (q @ c.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(c, axis=1))
    top = np.argsort(-cos, axis=1, kind="stable")[:, :k]
    return (top + 1).tolist()


def write_parquet(path: str, columns: dict) -> int:
    """Write columns (lists or 2-D float32 arrays) as one parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    arrays = {}
    for name, vals in columns.items():
        if isinstance(vals, np.ndarray) and vals.ndim == 2:
            flat = pa.array(vals.reshape(-1), type=pa.float32())
            offsets = pa.array(np.arange(0, vals.size + 1, vals.shape[1], dtype=np.int32))
            arrays[name] = pa.ListArray.from_arrays(offsets, flat)
        else:
            arrays[name] = pa.array(vals)
    pq.write_table(pa.table(arrays), path, compression="snappy")
    return os.path.getsize(path)
