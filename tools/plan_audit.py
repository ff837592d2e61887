"""Plan-shape audit across the declared query set.

For every (lazily-buildable) query, captures `explain("formatted")` and
tallies the plan-smell counters that predict 100 TB pain:

- parquet scans (re-derived subtrees show up as duplicate scans of the
  same table — the lang_classify/triangle_count disease),
- exchanges (shuffles) net of ReusedExchange (the plan is explained
  with AQE off, because AQE applies exchange reuse only when it runs),
- Generate (explode) nodes — duplicated corpus explodes are the most
  expensive re-derivation,
- BroadcastNestedLoopJoin (the interpreted-condition trap),
- row-at-a-time Python eval nodes (BatchEvalPython — must stay 0),
- per-pair norms: self-zips (`zip_with(x, x, ...)`, a vector's squared
  norm) evaluated above a join, in the same node as a dot product of two
  different vectors — the per-pair `similarity.cosine()` shape, which
  recomputes both norms for every scored pair. Searches compute norms
  once per vector as columns below the join, so this reads 0 for every
  x3 query except `x3_hard_negatives`, whose pairs are a bounded list
  where each vector meets O(1) partners (there the per-pair form is the
  cheaper one).

Queries that EXECUTE during plan construction (streaming replays, file
roundtrips) are skipped — their returned frame is a memory/scratch scan,
not the interesting plan. Queries that TRAIN at build time (k-means /
codebook collects, limit-probes — `TRAINS_AT_BUILD`) still produce an
interesting final plan and are audited by default; pass `--lazy-only`
for a strictly no-execution audit that skips them too.

Usage: python tools/plan_audit.py [--lazy-only] [sf_dir] [query | family_prefix* ...]
Prints one line per query sorted by (scans + exchanges) descending.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout
from fnmatch import fnmatchcase

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SKIP_PREFIXES = ("x7_", "t1_", "t2_", "t3_", "t4_", "t5_")

# Queries whose plan CONSTRUCTION runs driver-side jobs (k-means /
# codebook training collects, limit-probes): still audited — their final
# frame is the interesting plan — but listed here so `--lazy-only` can
# exclude them when a pure no-execution audit is wanted.
TRAINS_AT_BUILD = {
    "x2_semdedup",
    "x2_semdedup_apply",
    "x2_cluster_size_dist",
    "x3_ivf_trained",
    "x3_pq_adc",
    "x3_kmeans",
    "x3_knn_classify",
    "x3_ann_recall",
    "x12_salted_join",
    # round-5 additions that train/count at build time (ADVICE r5):
    "x2_semdedup_probe",
    "x3_ivfpq",
    "x3_cluster_purity",
    "x10_training_corpus",
    "x12_key_discovery",
    # round-6: centroid-trace / merge-table training collects at build time
    "x3_kmeans_stability",
    "x5_bpe_apply",
    "x3_range_query",  # collects the query vector at build
    "x10_pipeline_funnel",  # CC labels + k-means flags materialize at build
    "x3_pq_distortion",  # codebook collect at build
    "x11_cc_twophase",  # star iterations converge (with actions) at build
    "x3_rq_distortion",  # level-1 + residual codebook collects at build
    "x3_rq_adc",  # level-1 + residual codebook collects at build
    "x3_pq_vs_rq_recall",  # codebook collects at build
    "x3_pq_trained_distortion",  # per-subspace Lloyd's trains at build
    # unkeyed cosine top-k collects its query (or centroid) side at build
    "x3_cosine_topk",
    "x3_ivf_topk",
    "x3_ndcg",
}


# Round-6 sweep result (the full-set audit after the x8_sprt fix): the
# only remaining single-partition sorts are over frames BOUNDED BY
# CONSTRUCTION — calendar-days dimensions (r26_lag_window, x8_cusum,
# x12_gaps boundary frame), histogram/bucket dimensions (x5_ppl_buckets,
# x12_entropy, r50_equidepth_binning, x8_ks_test's cents-domain ECDF —
# the x8_mwu bounded-histogram argument), and class-mix reports
# (x12_drift, x12_skew_diag, x5_domain_mix), and partition-count
# dimensions (x1_suffix_array: the block dense-rank/row-number offset
# frames — <= defaultParallelism rows by construction, the same shape as
# x8_sprt's offset pass). No users/corpus-dimension frame passes through
# one task anywhere in the declared set.
def _single_partition_sorts(plan: str) -> int:
    """Count Exchange-SinglePartition nodes that FEED A SORT — the
    global sort/window smell (VERDICT r5 #3: the x8_sprt disease).
    A bare SinglePartition exchange under a scalar aggregate is the
    inherent (and bounded) final-merge step of every global aggregate,
    so it is NOT counted; what funnels a frame through one task is the
    Sort/Window-over-everything shape, which in formatted explain shows
    as `Sort (n)` directly above `Exchange (m)` whose detail block says
    `Arguments: SinglePartition`."""
    ids = set(
        re.findall(
            r"\((\d+)\) Exchange\n[^\n]*\nArguments: SinglePartition", plan
        )
    )
    n = 0
    lines = plan.splitlines()
    for i, line in enumerate(lines[:-1]):
        if re.search(r"\b(Sort|Window) \(\d+\)", line):
            m = re.search(r"Exchange(?:\w*)? \((\d+)\)", lines[i + 1])
            if m and m.group(1) in ids:
                n += 1
    return n


_TREE_NODE = re.compile(r"^([ :|+\-]*)(?:\* )?(\w+)[^()]*\((\d+)\)$")
_DETAIL = re.compile(r"^\((\d+)\) [^\n]*\n(.*?)(?=^\(\d+\) |\Z)", re.M | re.S)
_ZIP = re.compile(r"zip_with\(([\w#]+), ([\w#]+),")


def plan_nodes(plan: str) -> list[tuple[int, str, str]]:
    """(depth, name, detail text) for each node of a formatted plan's tree,
    in tree order, so a node's subtree is the run of deeper nodes after it
    (see `subtree`). The detail text is the node's `(id) Name` block."""
    details = dict(_DETAIL.findall(plan))
    nodes = []
    for line in plan.splitlines():
        m = _TREE_NODE.match(line)
        if m and not line.startswith("("):
            nodes.append((len(m.group(1)), m.group(2), details.get(m.group(3), "")))
    return nodes


def subtree(nodes: list[tuple[int, str, str]], i: int) -> list[tuple[int, str, str]]:
    """The nodes below nodes[i]."""
    out = []
    for node in nodes[i + 1:]:
        if node[0] <= nodes[i][0]:
            break
        out.append(node)
    return out


def _per_pair_norms(plan: str) -> int:
    """Self-zips in nodes that sit above a join AND zip two different
    vectors: a node computing a pair's dot product together with the
    pair's norms."""
    nodes = plan_nodes(plan)
    n = 0
    for i, (_, _, text) in enumerate(nodes):
        zips = _ZIP.findall(text)
        if any(a != b for a, b in zips) and any(
            "Join" in name or name == "CartesianProduct"
            for _, name, _ in subtree(nodes, i)
        ):
            n += sum(a == b for a, b in zips)
    return n


def audit(plan: str) -> dict[str, int]:
    return {
        "scans": len(re.findall(r"Scan parquet", plan)),
        "exchanges": len(re.findall(r"\(\d+\) Exchange", plan)),
        "reused": len(re.findall(r"ReusedExchange", plan)),
        "generates": len(re.findall(r"\) Generate", plan)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "pyeval": len(re.findall(r"BatchEvalPython", plan)),
        # Global sort/window smell (VERDICT r5 #3): every Exchange
        # SinglePartition funnels its whole input through ONE task.
        # Bounded-frame sites (histogram/boundary/partition-count
        # dimensions) are fine; a corpus- or users-dimension one is the
        # x8_sprt disease — sweep any query where this column is >0 and
        # check what frame feeds it.
        "onepart": _single_partition_sorts(plan),
        "per_pair_norm": _per_pair_norms(plan),
    }


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--lazy-only"]
    lazy_only = "--lazy-only" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    from diepy_spark.session import get_spark, scoped_conf

    import __spark_entry__ as entrymod

    spark = get_spark()
    rows = []
    for name, fn in entrymod.queries().items():
        if only and not any(fnmatchcase(name, pat) for pat in only):
            continue
        if not only and name.startswith(SKIP_PREFIXES):
            continue
        if lazy_only and name in TRAINS_AT_BUILD:
            continue
        try:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            # AQE plans exchange reuse only at execution; without it the
            # explained plan shows the static ReusedExchange nodes
            with scoped_conf(spark, "spark.sql.adaptive.enabled", "false"), redirect_stdout(buf):
                df.explain("formatted")
            rows.append((name, audit(buf.getvalue())))
        except Exception as exc:  # noqa: BLE001 - audit must not abort
            print(f"  ERR {name}: {exc}")
    rows.sort(key=lambda r: -(r[1]["scans"] + r[1]["exchanges"]))
    print(f"{'query':34s} scans exch reused gen bnlj pyeval 1part ppnorm")
    for name, a in rows:
        print(
            f"{name:34s} {a['scans']:5d} {a['exchanges']:4d} {a['reused']:6d}"
            f" {a['generates']:3d} {a['bnlj']:4d} {a['pyeval']:6d}"
            f" {a['onepart']:5d} {a['per_pair_norm']:6d}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
