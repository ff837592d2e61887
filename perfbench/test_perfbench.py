"""Self-tests of the benchmark (no Spark). Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402


def _files(tmp_path, name: str, seed: int) -> list[bytes]:
    d = tmp_path / name
    d.mkdir()
    inputs.write_csv_table(str(d / "t.csv"), seed, 3000, 1_000_000)
    docs = inputs.make_documents(seed, 300)
    inputs.write_parquet(str(d / "docs.parquet"), docs)
    v = inputs.make_vectors(seed, 500, 4, 16, 5)
    inputs.write_parquet(str(d / "vec.parquet"), {"vec_id": list(range(500)),
                                                   "embedding": v["corpus"]})
    return [(d / f).read_bytes() for f in ("t.csv", "docs.parquet", "vec.parquet")]


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a, b, c = _files(tmp_path, "a", 7), _files(tmp_path, "b", 7), _files(tmp_path, "c", 8)
    assert a == b
    assert all(x != y for x, y in zip(a, c))


def test_csv_answers_match_file(tmp_path):
    import csv

    meta = inputs.write_csv_table(str(tmp_path / "t.csv"), 3, 2000, 1_000_000)
    with open(tmp_path / "t.csv", newline="") as f:
        rows = list(csv.reader(f))
    assert rows[0] == inputs.CSV_COLUMNS and len(rows) - 1 == meta["rows"]
    for j, (name, kind) in enumerate(inputs.CSV_TYPES.items()):
        vals = [checks._parse(kind, r[j]) for r in rows[1:] if r[j] != ""]
        assert (len(vals), sum(vals)) == meta["checksums"][name], name


def test_topk_reference_finds_planted_neighbours():
    v = inputs.make_vectors(5, 2000, 6, 32, 4)
    top = inputs.topk_reference(v["corpus"], v["queries"], 4)
    assert all(len(set(t)) == 4 for t in top)


def test_clean_corpus_reference_matches_repo_oracle():
    """The Python restatement agrees with the repo's x10_clean_corpus
    DuckDB oracle (small corpus: that oracle is slow on DuckDB 1.0)."""
    duckdb = pytest.importorskip("duckdb")
    import pandas as pd

    from diepy_spark.plans.extended import EXTENDED_ORACLES

    docs = inputs.make_documents(11, 150)
    docs["lang"] = ["en"] * len(docs["doc_id"])
    con = duckdb.connect()
    con.register("docs_df", pd.DataFrame(docs))
    con.execute("CREATE TABLE documents AS SELECT * FROM docs_df")
    oracle = sorted((r[0], r[4], r[2]) for r in con.execute(
        EXTENDED_ORACLES["x10_clean_corpus"]).fetchall())
    mine = sorted(checks.clean_corpus_reference(docs["doc_id"], docs["text"]),
                  key=lambda r: r[0])
    assert mine == oracle
    # the corpus exercises every stage: gate drops, exact and near copies
    assert len(mine) < len(docs["doc_id"])
    assert any(c is not None for _, c, _ in mine)


def test_benchmark_json_lists_what_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
