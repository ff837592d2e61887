"""Traced mode: spans around the public functions of each layer.

The wrappers are installed from the benchmark, on the module attributes
that ``diepy_spark.context`` and ``diepy_spark.operators.corpus`` look up
at call time, and on the backend classes. Nothing under ``diepy_spark/``
changes. Each span records its name, start, end and parent, plus the
Spark work that ran inside it: jobs, tasks, executor CPU, GC and bytes,
as differences of the driver's status store around the span. Spark is
lazy, so a function that only builds a plan shows time but no jobs; the
jobs appear in whichever span runs the action.

Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import dataclass, field

# span name -> (module path, attribute) to wrap. Names are "<layer>.<fn>";
# the same function is also rebound where a caller imported it by name.
_TARGETS = {
    "context.import_file": ("diepy_spark.context", "DiepyContext.import_file"),
    "context.export_table": ("diepy_spark.context", "DiepyContext.export_table"),
    "sources.files.read_untyped_csv": ("diepy_spark.sources.files", "read_untyped_csv"),
    "sources.files.apply_schema": ("diepy_spark.sources.files", "apply_schema"),
    "sources.writers.write_csv": ("diepy_spark.sources.writers", "write_csv"),
    "functions.inference.infer_from_dataframe": (
        "diepy_spark.functions.inference", "infer_from_dataframe"),
    "core.database.table_exists": ("diepy_spark.core.database", "*.table_exists"),
    "core.database.create_table": ("diepy_spark.core.database", "*.create_table"),
    "core.database.append": ("diepy_spark.core.database", "*.append"),
    "core.database.read_table": ("diepy_spark.core.database", "*.read_table"),
    "operators.corpus.clean_corpus": ("diepy_spark.operators.corpus", "clean_corpus"),
    "operators.dedup.exact_representatives": (
        "diepy_spark.operators.dedup", "exact_representatives"),
    "operators.dedup.ngram_jaccard_pairs": ("diepy_spark.operators.dedup", "ngram_jaccard_pairs"),
    "operators.clustering.dedup_corpus": ("diepy_spark.operators.clustering", "dedup_corpus"),
    "operators.similarity.cosine_topk": ("diepy_spark.operators.similarity", "cosine_topk"),
}
# modules that imported a wrapped function by name
_CALLERS = ("diepy_spark.context", "diepy_spark.operators.corpus")
_BACKENDS = ("JdbcBackend", "WarehouseBackend")
STAGE_FIELDS = (
    "tasks", "executor_cpu_s", "gc_s", "input_bytes", "shuffle_bytes", "output_bytes",
    "output_rows",
)


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    rows: int = 0  # rows collected to the driver (toPandas) inside the span
    work: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        gw = self._sc._gateway
        self._stage_args = (
            None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList()
        )
        self._gc_beans = list(
            gw.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    # ---- status store -----------------------------------------------------

    def _stages(self):
        return self._store.stageList(*self._stage_args)

    def _last_ids(self) -> tuple[int, int]:
        """Highest job and stage id, once every event has been processed
        (the status store is updated from the listener bus, after the
        action that ran the stages has returned)."""
        self._jsc.listenerBus().waitUntilEmpty()
        jobs, stages = self._store.jobsList(None), self._stages()
        return (jobs.apply(0).jobId() if jobs.length() else -1,
                stages.apply(0).stageId() if stages.length() else -1)

    def _stage_work(self, after: int) -> dict:
        """Summed metrics of the stages with id > ``after`` (the list is
        sorted by descending stage id)."""
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        st = self._stages()
        for i in range(st.length()):
            s = st.apply(i)
            if s.stageId() <= after:
                break
            out["tasks"] += s.numTasks()
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["input_bytes"] += s.inputBytes()
            out["shuffle_bytes"] += s.shuffleWriteBytes()
            out["output_bytes"] += s.outputBytes()
            out["output_rows"] += s.outputRecords()
        return out

    def jvm_gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1e3

    # ---- spans ------------------------------------------------------------

    @contextlib.contextmanager
    def region(self, name: str):
        """A span around the enclosed block."""
        job0, stage0 = self._last_ids()
        sp = Span(name, self._stack[-1] if self._stack else None, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()
            job1, _ = self._last_ids()
            sp.work = self._stage_work(stage0)
            sp.work["jobs"] = job1 - job0

    def span(self, name: str, fn):
        """``fn`` wrapped in a span."""
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.region(name):
                return fn(*args, **kwargs)
        return wrapped

    def record(self, name: str, start: float, end: float) -> None:
        """A span timed by the caller, with no Spark work attached (the
        session does not exist before get_spark returns)."""
        self.spans.append(Span(name, None, start, end, work={"jobs": 0}))

    def install(self) -> None:
        """Wrap every target (and the pyspark ``toPandas`` row counter)."""
        import importlib

        from pyspark.sql.classic.dataframe import DataFrame

        for name, (modname, attr) in _TARGETS.items():
            mod = importlib.import_module(modname)
            owner, _, fname = attr.rpartition(".")
            if owner == "*":
                for cls in _BACKENDS:
                    self._patch(getattr(mod, cls), fname, name)
            elif owner:
                self._patch(getattr(mod, owner), fname, name)
            else:
                orig = getattr(mod, fname)
                self._patch(mod, fname, name)
                for caller in _CALLERS:
                    cmod = importlib.import_module(caller)
                    if getattr(cmod, fname, None) is orig:
                        self._set(cmod, fname, getattr(mod, fname))

        to_pandas = DataFrame.toPandas

        @functools.wraps(to_pandas)
        def counted(df, *a, **k):
            pdf = to_pandas(df, *a, **k)
            if self._stack:
                self.spans[self._stack[-1]].rows += len(pdf)
            return pdf

        self._set(DataFrame, "toPandas", counted)

    def _patch(self, owner, attr: str, name: str) -> None:
        self._set(owner, attr, self.span(name, getattr(owner, attr)))

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr] if isinstance(owner, type)
                           else getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, value in reversed(self._undo):
            setattr(owner, attr, value)
        self._undo.clear()

    # ---- results ----------------------------------------------------------

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Per span name: seconds, self seconds, calls, jobs (all, and those
        no child span ran), stage work and rows collected, summed over
        every call."""
        out: dict[str, dict[str, float]] = {}
        for i, sp in enumerate(self.spans):
            t = out.setdefault(sp.name, {"s": 0.0, "self_s": 0.0, "calls": 0, "self_jobs": 0,
                                         "rows": 0, "jobs": 0,
                                         **dict.fromkeys(STAGE_FIELDS, 0.0)})
            kids = [c for c in self.spans if c.parent == i]
            t["s"] += sp.end - sp.start
            t["self_s"] += (sp.end - sp.start) - sum(c.end - c.start for c in kids)
            t["self_jobs"] += sp.work.get("jobs", 0) - sum(c.work.get("jobs", 0) for c in kids)
            t["calls"] += 1
            t["rows"] += sp.rows
            for k, v in sp.work.items():
                t[k] += v
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [{"id": i, "name": s.name, "parent": s.parent, "start": s.start,
                  "end": s.end, "rows": s.rows, **s.work} for i, s in enumerate(self.spans)],
                f,
            )
