"""diepy-spark benchmark: import/export and corpus workloads.

Run from the root of a checkout:

    python3 perfbench/run.py --workload csv_warehouse --seed 1 --seconds 45 --trace 0

Each run generates its inputs from ``--seed`` (before Spark starts), starts
a session with ``session.get_spark``, warms up one write op and one read
op, then runs a fixed number of write/read rounds (fewer only if
``--seconds`` run out first). Every op's output is checked. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``, with the end-to-end metrics (``--trace 0``) or
the per-layer metrics (``--trace 1``).
In a traced run, odd rounds run with spans on and even rounds without, so
the run also reports what tracing costs; the spans are written to
``.perfbench_out/trace-<workload>-<seed>.json``.

Work files live in ``.perfbench_work/`` and are removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
import procstat  # noqa: E402

# Input sizes per workload. Rows per CSV, documents, and corpus vectors
# searched; see BENCHMARK.json for why each workload exists.
SIZES = {
    "csv_warehouse": {"rows": 40_000, "warmup_rows": 2_000, "distinct_files": 3},
    "jdbc_duckdb": {"rows": 6_000, "warmup_rows": 1_000, "distinct_files": 3},
    "corpus": {"docs": 1_000, "vectors": 4_000, "queries": 32, "dim": 64, "k": 10},
}
WARMUP_ROUNDS = 1
# Measured rounds per workload. A fixed count, not "as many as fit": ops
# still speed up slightly from round to round, so a time-based count let a
# fast run take its median over later, faster rounds.
ROUNDS = {"csv_warehouse": 4, "jdbc_duckdb": 3, "corpus": 3}
MAX_ROUNDS = max(ROUNDS.values()) + 1  # + 1: traced runs need an even count
# Fixed JVM heap (Xms = Xmx): with a growable 8 GB heap, peak RSS followed
# how far G1 happened to expand and varied 40% between corpus runs.
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s", "write_rows_per_s": "1/s", "read_rows_per_s": "1/s",
    "write_s_p50": "s", "read_s_p50": "s", "write_cpu_s_p50": "s", "read_cpu_s_p50": "s",
    "peak_rss_mb": "MB", "stored_bytes_per_input_byte": "ratio", "success_rate": "ratio",
}

# "<span>.<field>" reported by a traced run, per measured round.
_SPAN_FIELDS = {
    "op.write": ("s", "jobs", "tasks", "executor_cpu_s"),
    "op.read": ("s", "jobs", "tasks", "executor_cpu_s"),
    "context.import_file": ("s", "self_s", "self_jobs"),
    "context.export_table": ("s", "self_s"),
    "sources.files.read_untyped_csv": ("s", "jobs", "input_bytes"),
    "sources.files.apply_schema": ("s",),
    "functions.inference.infer_from_dataframe": ("s", "jobs", "sample_rows"),
    "core.database.table_exists": ("s",),
    "core.database.create_table": ("s", "jobs"),
    "core.database.append": ("s", "jobs", "tasks", "rows", "output_bytes", "executor_cpu_s"),
    "core.database.read_table": ("s",),
    "sources.writers.write_csv": ("s", "jobs", "tasks", "input_bytes", "output_bytes",
                                  "executor_cpu_s"),
    "operators.corpus.clean_corpus": ("s", "jobs", "tasks", "executor_cpu_s",
                                      "shuffle_bytes"),
    "operators.dedup.exact_representatives": ("s",),
    "operators.dedup.ngram_jaccard_pairs": ("s", "jobs"),
    "operators.clustering.dedup_corpus": ("s", "jobs", "tasks", "shuffle_bytes",
                                          "executor_cpu_s"),
    "operators.similarity.cosine_topk": ("s", "pairs_scored"),
}
PER_LAYER = (
    ["session.get_spark.s"]
    + [f"{span}.{f}" for span, fields in _SPAN_FIELDS.items() for f in fields]
    + ["jvm.gc_s", "trace.write_overhead_s", "trace.read_overhead_s"]
)
# per-layer field -> key in Tracer.layer_totals
_FIELD_KEY = {"sample_rows": "rows", "rows": "output_rows"}


def _per_layer_unit(name: str) -> str:
    field = name.rsplit(".", 1)[1]
    if field.endswith("_s") or field == "s":
        return "s"
    if field.endswith("_bytes"):
        return "bytes"
    return "count"


class Ops:
    """Timed ops of one run: wall and CPU seconds, rows, check results.
    With a tracer, ops run with ``traced=True`` execute inside an
    ``op.<kind>`` span with the layer wrappers installed."""

    def __init__(self, tracer=None):
        self.records: list[dict] = []
        self.tracer = tracer

    def _call(self, kind: str, op, traced: bool):
        if not traced:
            return op()
        self.tracer.install()
        try:
            with self.tracer.region(f"op.{kind}"):
                return op()
        finally:
            self.tracer.uninstall()

    def run(self, kind: str, rows: int, op, check, traced: bool = False) -> None:
        """Time ``op()``, then run ``check(result)`` (untimed); a raised
        exception or a non-empty problem list counts as a failed op."""
        cpu0, t0 = procstat.cpu_seconds(), time.perf_counter()
        try:
            result = self._call(kind, op, traced)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.records.append({"kind": kind, "ok": False, "traced": traced})
            return
        wall, cpu = time.perf_counter() - t0, procstat.cpu_seconds() - cpu0
        try:
            problems = check(result)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            problems = ["check raised"]
        for p in problems:
            print(f"check failed ({kind}): {p}", file=sys.stderr)
        self.records.append({"kind": kind, "ok": not problems, "wall": wall, "cpu": cpu,
                             "rows": rows, "traced": traced})
        print(f"op {kind} wall={wall:.3f}s cpu={cpu:.3f}s traced={int(traced)} "
              f"ok={int(not problems)}", file=sys.stderr)

    def measured(self, kind: str, traced: bool = False) -> list[dict]:
        return [r for r in self.records
                if r["kind"] == kind and r["ok"] and r["traced"] == traced]


# ---- workloads -----------------------------------------------------------------
#
# Each workload class generates its inputs in __init__ (before the session
# exists); start(spark) binds the session, write/read run round i's ops,
# and stored_ratio() gives stored_bytes_per_input_byte.


class _ImportExport:
    """Write op: ``DiepyContext.import_file`` of a fresh CSV into its own
    table. Read op: ``DiepyContext.export_table`` of that table to .csv.gz."""

    server = ""

    def __init__(self, work: str, seed: int, rows: int, warmup_rows: int, distinct_files: int):
        self.work = work
        os.makedirs(os.path.join(work, "in"))
        # ids start at 10^6 so the inference sample already sees INT range
        self.answers = [
            inputs.write_csv_table(os.path.join(work, "in", f"src{j}.csv"), seed * 1000 + j,
                                   rows, 1_000_000 + j * rows)
            for j in range(distinct_files)
        ]
        self.warmup = [
            inputs.write_csv_table(self._path(i), seed * 1000 + 999 - i, warmup_rows, 1_000_000)
            for i in range(WARMUP_ROUNDS)
        ]
        # measured round i imports orders_<i>.csv, a link to one of the
        # distinct files, so that import_file derives a new table name
        for i in range(WARMUP_ROUNDS, WARMUP_ROUNDS + MAX_ROUNDS):
            os.link(self.answers[i % distinct_files]["path"], self._path(i))
        self.input_bytes = 0
        with open(os.path.join(work, "diepy.ini"), "w") as f:
            f.write(f"[servers]\n{self.server} = {self.store_url()}\n")

    def store_url(self) -> str:
        raise NotImplementedError

    def start(self, spark) -> None:
        from diepy_spark.context import DiepyContext

        self.spark = spark
        self.ctx = DiepyContext(spark, self.server, config=os.path.join(self.work, "diepy.ini"))

    def _path(self, i: int) -> str:
        return os.path.join(self.work, "in", f"orders_{i}.csv")

    def _table(self, i: int) -> tuple[str, dict]:
        if i < WARMUP_ROUNDS:
            return self._path(i), self.warmup[i]
        return self._path(i), self.answers[i % len(self.answers)]

    def write(self, ops: Ops, i: int, traced: bool) -> None:
        path, ans = self._table(i)
        self.input_bytes += ans["bytes"]

        def check(n):
            if n != ans["rows"]:
                return [f"import_file returned {n}, expected {ans['rows']}"]
            return checks.table_problems(self.ctx.backend.read_table(f"orders_{i}"), ans)

        ops.run("write", ans["rows"], lambda: self.ctx.import_file(path), check, traced)

    def read(self, ops: Ops, i: int, traced: bool) -> None:
        _, ans = self._table(i)
        out = os.path.join(self.work, f"orders_{i}.csv.gz")
        ops.run("read", ans["rows"], lambda: self.ctx.export_table(f"orders_{i}", out),
                lambda path: checks.export_problems(path, ans), traced)

    def stored_ratio(self) -> float:
        return _tree_bytes(self.store_path()) / self.input_bytes


class CsvWarehouse(_ImportExport):
    server = "warehouse"

    def store_url(self) -> str:
        return self.store_path()

    def store_path(self) -> str:
        return os.path.join(self.work, "warehouse")


class JdbcDuckdb(_ImportExport):
    server = "duckdb"

    def store_url(self) -> str:
        return f"jdbc:duckdb:{self.store_path()}/bench.db"

    def store_path(self) -> str:
        path = os.path.join(self.work, "duckdb")
        os.makedirs(path, exist_ok=True)
        return path


class Corpus:
    """Write op: ``clean_corpus`` over the document file, survivors written
    to parquet. Read op: ``cosine_topk`` of the queries over the corpus
    vectors, collected."""

    def __init__(self, work: str, seed: int, docs: int, vectors: int, queries: int,
                 dim: int, k: int):
        self.work = work
        self.k = k
        self.n_docs, self.n_vectors, self.n_queries = docs, vectors, queries
        os.makedirs(work)
        d = inputs.make_documents(seed, docs)
        d["lang"] = ["en"] * docs
        self.docs_path = os.path.join(work, "documents.parquet")
        self.input_bytes = inputs.write_parquet(self.docs_path, d)
        self.expected_clean = sorted(checks.clean_corpus_reference(d["doc_id"], d["text"]),
                                     key=lambda r: r[0])
        v = inputs.make_vectors(seed, vectors, queries, dim, k)
        self.vec_path = os.path.join(work, "vectors.parquet")
        self.q_path = os.path.join(work, "queries.parquet")
        inputs.write_parquet(self.vec_path, {"vec_id": list(range(1, vectors + 1)),
                                             "embedding": v["corpus"]})
        inputs.write_parquet(self.q_path, {"vec_id": list(range(1, queries + 1)),
                                           "embedding": v["queries"]})
        self.expected_topk = inputs.topk_reference(v["corpus"], v["queries"], k)
        self.stored_bytes = 0

    def start(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(self.docs_path)
        self.vectors = spark.read.parquet(self.vec_path)
        self.queries = spark.read.parquet(self.q_path)

    def write(self, ops: Ops, i: int, traced: bool) -> None:
        from diepy_spark.operators import corpus

        out = os.path.join(self.work, f"clean_{i}.parquet")

        def op():
            corpus.clean_corpus(self.docs).write.mode("overwrite").parquet(out)
            return out

        def check(path):
            got = sorted(
                (r["doc_id"], r["cluster"], r["n_tokens"])
                for r in self.spark.read.parquet(path).select(
                    "doc_id", "cluster", "n_tokens").collect()
            )
            self.stored_bytes = _tree_bytes(path)
            if got != self.expected_clean:
                return [f"clean_corpus kept {len(got)} docs, expected "
                        f"{len(self.expected_clean)} (or a different set)"]
            return []

        ops.run("write", self.n_docs, op, check, traced)

    def read(self, ops: Ops, i: int, traced: bool) -> None:
        from diepy_spark.operators import similarity

        def op():
            return similarity.cosine_topk(self.queries, self.vectors, k=self.k).collect()

        def check(rows):
            got: dict[int, dict[int, int]] = {}
            for r in rows:
                got.setdefault(r["qid"], {})[r["rk"]] = r["cid"]
            bad = [q for q in range(1, self.n_queries + 1)
                   if [got.get(q, {}).get(rk) for rk in range(1, self.k + 1)]
                   != self.expected_topk[q - 1]]
            return [f"top-{self.k} ids differ for queries {bad}"] if bad else []

        ops.run("read", self.n_vectors, op, check, traced)

    def stored_ratio(self) -> float:
        return self.stored_bytes / self.input_bytes


WORKLOADS = {"csv_warehouse": CsvWarehouse, "jdbc_duckdb": JdbcDuckdb, "corpus": Corpus}


def _tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# ---- run -----------------------------------------------------------------------


def _spark_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -Duser.timezone=UTC -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    )
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # -Xms only for the driver JVM: spark-submit's launcher JVM runs with
    # -Xmx128m and would refuse a larger initial heap
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.driver.extraJavaOptions=-Xms{DRIVER_MEM} pyspark-shell"
    )


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _end_to_end(ops: Ops, setup_s: float, peak_mb: float, stored: float) -> dict:
    out = {"setup_s": setup_s}
    for kind in ("write", "read"):
        recs = ops.measured(kind)
        out[f"{kind}_rows_per_s"] = (
            sum(r["rows"] for r in recs) / sum(r["wall"] for r in recs) if recs else 0.0
        )
        out[f"{kind}_s_p50"] = _median([r["wall"] for r in recs])
        out[f"{kind}_cpu_s_p50"] = _median([r["cpu"] for r in recs])
    out["peak_rss_mb"] = peak_mb
    out["stored_bytes_per_input_byte"] = stored
    attempted = len(ops.records)
    out["success_rate"] = 1 - sum(not r["ok"] for r in ops.records) / attempted
    return out


def _per_layer(tracer, ops: Ops, rounds: int, setup_span_s: float, gc_s: float,
               pairs_per_call: int) -> dict:
    totals = tracer.layer_totals()
    out = {"session.get_spark.s": setup_span_s}
    for span, fields in _SPAN_FIELDS.items():
        t = totals.get(span, {})
        for f in fields:
            if f == "pairs_scored":
                v = t.get("calls", 0) * pairs_per_call
            else:
                v = t.get(_FIELD_KEY.get(f, f), 0)
            out[f"{span}.{f}"] = v / rounds
    out["jvm.gc_s"] = gc_s / rounds
    for kind in ("write", "read"):
        traced = _median([r["wall"] for r in ops.measured(kind, traced=True)])
        plain = _median([r["wall"] for r in ops.measured(kind)])
        out[f"trace.{kind}_overhead_s"] = traced - plain
    return out


def run(workload: str, seed: int, seconds: float, traced: bool, root: str) -> dict:
    work = os.path.join(root, ".perfbench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        _spark_env(work)
        t_gen = time.perf_counter()
        wl = WORKLOADS[workload](os.path.join(work, "data"), seed, **SIZES[workload])
        gen_s = time.perf_counter() - t_gen

        from diepy_spark.session import get_spark

        t_sess = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t_sess
        spark.sparkContext.setLogLevel("ERROR")
        wl.start(spark)
        ops = Ops()
        for i in range(WARMUP_ROUNDS):
            wl.write(ops, i, False)
            wl.read(ops, i, False)
        setup_s = procstat.process_age_s() - gen_s
        print(f"generate={gen_s:.2f}s session={session_s:.2f}s setup={setup_s:.2f}s",
              file=sys.stderr)

        tracer = None
        if traced:
            from spans import Tracer

            tracer = Tracer(spark)
            tracer.record("session.get_spark", t_sess, t_sess + session_s)
            gc0 = tracer.jvm_gc_s()
        measure = Ops(tracer)
        target = ROUNDS[workload] + (ROUNDS[workload] % 2 if traced else 0)
        deadline = time.perf_counter() + seconds
        rounds = 0
        # --seconds caps the measurement only when the machine is far
        # slower than usual; two rounds always run
        while rounds < target and (rounds < 2 or time.perf_counter() < deadline):
            on = traced and rounds % 2 == 1
            wl.write(measure, WARMUP_ROUNDS + rounds, on)
            wl.read(measure, WARMUP_ROUNDS + rounds, on)
            rounds += 1
        peak = procstat.peak_rss_mb()
        records = ops.records + measure.records
        failed = sum(not r["ok"] for r in records)
        if traced:
            metrics = _per_layer(
                tracer, measure, rounds // 2, session_s, tracer.jvm_gc_s() - gc0,
                SIZES[workload].get("queries", 0) * SIZES[workload].get("vectors", 0),
            )
            out_dir = os.path.join(root, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"trace-{workload}-{seed}.json"))
            units = {m: _per_layer_unit(m) for m in PER_LAYER}
        else:
            metrics = _end_to_end(measure, setup_s, peak, wl.stored_ratio())
            units = END_TO_END
        return {
            "correct": failed == 0,
            "attempted": len(records),
            "failed": failed,
            "metrics": {m: {"value": metrics[m], "unit": units[m]} for m in units},
        }
    finally:
        if spark is not None:
            spark.stop()
            _stop_gateway()
        shutil.rmtree(work, ignore_errors=True)


def _stop_gateway() -> None:
    """End the JVM that pyspark launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "diepy_spark", "context.py")):
        print("perfbench: run from the root of a diepy-spark checkout "
              "(diepy_spark/context.py not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), root)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
