"""Untyped-file sources and the typed-cast projection.

Reference behavior: CSV/TSV/TXT (optionally .gz/.zip) are streamed as
string dicts (core.py:234-254); typing happens via the inference lattice +
per-cell cast (core.py:374-389). Spark design: `spark.read.csv` with every
column as string (distributed, splittable for plain/bzip2; .gz decompresses
transparently but single-stream per file — document, don't fight), then one
declarative try_cast projection applies the inferred schema. Everything
stays in whole-stage codegen: each inferred type has one cast. The action
that consumes the projection can also count its rows and the cells whose
cast failed (apply_schema's ``observation``; import_report reads it), and
split_scan gives a file too small for Spark's own split one split per core.
"""

from __future__ import annotations

import contextlib
import os
import re
import tempfile
import zipfile

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DateType

from diepy_spark.functions.inference import (
    _DATE_FORMATS,
    _TIME_FORMATS,
    _TS_FORMATS,
    ColumnSpec,
    normalize_headers,
)
from diepy_spark.session import scoped_conf

# Extension recognition, faithful to the reference's regexes (core.py:18-25).
_EXCEL_RE = re.compile(r".*(\.xlsx|\.xls)(\.gz|\.zip)?(\$.*)?$", re.IGNORECASE)


def is_excel_path(p: str) -> bool:
    return bool(_EXCEL_RE.match(p))


def delimiter_for(path: str, default: str = ",") -> str:
    """Extension decides: .tab/.tsv → tab (reference export rule,
    core.py:314-317). Compression suffixes (.gz/.zip) are transparent."""
    base = path
    for suf in (".gz", ".zip"):
        if base.lower().endswith(suf):
            base = base[: -len(suf)]
    if base.endswith(".tab") or base.endswith(".tsv"):
        return "\t"
    return default


@contextlib.contextmanager
def unzipped(path: str):
    """``path``, or for a ``.zip`` archive the paths of its delimited
    members, extracted to a scratch directory that is removed when the
    block ends, also when it raises.

    The reference's regex admits ``x.csv.zip`` (core.py:18-20) but its
    reader opens the raw bytes — zip import is effectively dead there; we
    implement it for real. Zip is not a splittable stream format, so the
    archive is expanded once driver-side (same single-stream bound as .gz);
    at 100 TB the answer is "don't ship zip", and the expansion makes the
    extracted members splittable plain text for the actual scan."""
    if not path.lower().endswith(".zip"):
        yield path
        return
    with tempfile.TemporaryDirectory(prefix="diepy-zip-") as out, zipfile.ZipFile(path) as zf:
        members = [
            m
            for m in zf.namelist()
            if not m.endswith("/")
            and re.match(r".*(\.csv|\.tab|\.tsv|\.txt)$", m, re.IGNORECASE)
        ]
        if not members:
            raise ValueError(
                f"{path}: zip archive contains no .csv/.tab/.tsv/.txt members"
            )
        for m in members:
            zf.extract(m, out)
        yield [os.path.join(out, m) for m in members]


def _needs_multiline(spark: SparkSession, src: str | list[str]) -> bool:
    """Distributed quote census: embedded newlines can only live inside
    QUOTED fields, so a file containing no quote character at all is safe
    to scan in splittable (non-multiLine) mode. The census reads the file
    as plain text — itself splittable — and early-stops at the first
    quote-bearing line; counting quote characters is line-split-agnostic,
    so the census is correct even when quoted newlines DO break text rows."""
    probe = spark.read.text(src).where(F.col("value").contains('"')).limit(1)
    return len(probe.take(1)) > 0


def read_untyped_csv(
    spark: SparkSession, path: str | list[str], delimiter: str = ","
) -> DataFrame:
    """All-string scan of delimited files with a header row.

    multiLine parsing (needed for quoted embedded newlines — the
    reference's csv module accepts them, core.py:234-254) makes a file
    UNSPLITTABLE: one task parses everything. A cheap distributed quote
    census (_needs_multiline) keeps the scan splittable whenever the file
    provably contains no quoted fields — on a 100 TB import that is the
    difference between a single-core parse and a full-cluster one. Gzip
    decompresses transparently by extension (a single stream per file
    either way); a .zip archive is scanned through its extracted members
    (unzipped), since Hadoop input streams can't unzip."""
    df = (
        spark.read.option("header", True)
        .option("sep", delimiter)
        .option("multiLine", _needs_multiline(spark, path))
        .option("quote", '"')
        .option("escape", '"')
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    fixed = normalize_headers(list(df.columns))
    return df.toDF(*fixed)


def read_untyped_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """All-string scan of a JSON-Lines file — the S1 import contract
    (typing happens in the inference lattice, never in the reader) applied
    to the other ubiquitous pipeline interchange format.

    primitivesAsString keeps Spark's JSON reader from guessing types; the
    trailing cast flattens anything non-primitive (nested objects/arrays
    surface as their JSON text, exactly how an all-string CSV row would
    carry them). JSON-Lines is newline-delimited by construction, so the
    scan is always splittable — no multiLine census needed. Gzip
    decompresses transparently by extension."""
    df = spark.read.option("primitivesAsString", True).json(path)
    out = df.select([F.col(c).cast("string").alias(c) for c in df.columns])
    fixed = normalize_headers(list(out.columns))
    return out.toDF(*fixed)


# Separators and the `T` of the date and time patterns (none is a pattern
# letter in them): a value lacking one that its pattern holds cannot parse,
# and skipping that format spares the parse exception.
_LITERALS = ".:/- T"


def _multi_format_ts(col, formats, raw):
    """The first of `formats` that parses `col`, the trimmed value of the
    cell `raw`. Each format is tried only on cells that hold its pattern's
    literal characters (`T` in either case, as the parser accepts it).
    The test reads the raw cell, which holds every character of its
    trimmed value: a column reference costs nothing to re-read, where
    each test on `col` would evaluate the trim again."""

    def guarded(f):
        ts = F.try_to_timestamp(col, F.lit(f))
        for ch in sorted(set(f) & set(_LITERALS)):
            held = raw.contains(ch) | raw.contains("t") if ch == "T" else raw.contains(ch)
            ts = F.when(held, ts)
        return ts

    return F.coalesce(*[guarded(f) for f in formats])


def _cast(spec: ColumnSpec, raw: str) -> Column:
    """The typed value of all-string column ``raw``: empty string ⇒ NULL
    (core.py:376-377), then the cast of ``spec``'s type."""
    c = F.when(F.col(raw) == "", None).otherwise(F.trim(F.col(raw)))
    t = spec.type or "text"
    if t == "datetime":
        return _multi_format_ts(c, _TS_FORMATS, F.col(raw))
    if t == "date":
        # _TS_FORMATS fallback: the lattice's midnight rule
        # (core.py:605-606) classifies datetime-shaped values with a
        # 00:00:00 time part as dates, so the cast must accept both
        # shapes.
        return _multi_format_ts(c, _DATE_FORMATS + _TS_FORMATS, F.col(raw)).cast(DateType())
    if t == "time":
        # normalized HH:MM:SS string (Spark has no TIME type — SURVEY §7.5)
        return F.date_format(_multi_format_ts(c, _TIME_FORMATS, F.col(raw)), "HH:mm:ss")
    if t == "text":
        return F.when(F.col(raw) == "", None).otherwise(F.col(raw))  # keep raw spacing
    st = spec.spark_type().simpleString()
    if t == "int":
        # Reference-faithful truncation (core.py is_int/int(value)):
        # typed sources (Excel cells arrive as Python floats) can
        # classify a decimal-valued column as int — int(211445.87)
        # succeeds — and the reference's insert then TRUNCATES toward
        # zero. Direct try_cast first (big integers stay exact; a
        # double round-trip would lose precision past 2^53), the
        # double route only for decimal-shaped stragglers.
        return F.coalesce(c.try_cast(st), c.try_cast("double").try_cast(st))
    return c.try_cast(st)


def apply_schema(
    df: DataFrame, specs: list[ColumnSpec], observation: Observation | None = None
) -> DataFrame:
    """Apply inferred ColumnSpecs to an all-string DataFrame as ONE
    projection (_cast per column). try_cast never throws: a non-empty cell
    that does not fit its column's type — a value outside the inference
    sample's range or shape — becomes NULL.

    With ``observation``, the action that consumes the result also counts
    its rows and, per typed column, those rejected cells and the least of
    their raw values, in the same pass (import_report reads them); text
    columns cannot reject."""
    casts = [_cast(spec, raw) for spec, raw in zip(specs, df.columns)]
    if observation is None:
        return df.select(*[c.alias(s.name) for c, s in zip(casts, specs)])
    checked = [i for i, s in enumerate(specs) if (s.type or "text") != "text"]
    wide = df.select(
        *[c.alias(f"_c{i}") for i, c in enumerate(casts)],
        *[F.col(df.columns[i]).alias(f"_raw{i}") for i in checked],
    )
    metrics = [F.count(F.lit(1)).alias("rows")]
    for i in checked:
        raw = F.col(f"_raw{i}")
        bad = (raw != "") & F.col(f"_c{i}").isNull()
        metrics += [
            F.count_if(bad).alias(f"rejected_{i}"),
            F.min(F.when(bad, raw)).alias(f"example_{i}"),
        ]
    return wide.observe(observation, *metrics).select(
        *[F.col(f"_c{i}").alias(s.name) for i, s in enumerate(specs)]
    )


def import_report(observation: Observation, specs: list[ColumnSpec]) -> tuple[int, list[str]]:
    """(rows, one line per column with rejected cells) from the
    ``observation`` of apply_schema, once its action has run."""
    m = observation.get
    problems = [
        f"column {s.name}: {m[f'rejected_{i}']} non-empty cells are not "
        f"{s.sql_type()} and were stored as NULL, e.g. {m[f'example_{i}']!r}"
        for i, s in enumerate(specs)
        if m.get(f"rejected_{i}")
    ]
    return m["rows"], problems


_SPLIT_KEY = "spark.sql.files.maxPartitionBytes"
_MIN_SPLIT = 1 << 20


@contextlib.contextmanager
def split_scan(df: DataFrame):
    """Scan the files under ``df`` on every core while the block runs.

    Spark packs a file smaller than ``openCostInBytes`` (4 MiB) into one
    partition, so a 3.4 MB CSV parses, casts and writes on one core.
    Inside the block ``maxPartitionBytes`` is
    max(1 MiB, ceil(input bytes / defaultParallelism)) when that is below
    its value, which gives about one split per core; files under 1 MiB and
    unsplittable ones (gzip, multiLine) stay one split each, and large
    inputs keep Spark's own split. The input bytes are the sizes of the
    files the scan lists, so any Hadoop filesystem works."""
    spark = df.sparkSession
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    size = sum(
        int(leaves.apply(i).stats().sizeInBytes()) for i in range(leaves.size())
    )
    split = max(_MIN_SPLIT, -(-size // spark.sparkContext.defaultParallelism))
    if split >= spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes():
        yield
        return
    with scoped_conf(spark, _SPLIT_KEY, str(split)):
        yield
