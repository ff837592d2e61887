"""Schema-inference lattice (reference behavior: /root/reference/diepy/core.py:458-630).

The reference samples ≤20,000 rows of an untyped file and folds, per column,
an order-DEPENDENT type lattice:

- first non-empty value picks the initial type, tested in order
  int → float → date → time → datetime → text (core.py:496-508);
- later conflicting values demote *straight to text* — only date/float/int
  have demotion rules, so time/datetime stick forever (core.py:488-494,
  quirks Q5/Q6);
- any empty/None sample ⇒ nullable (core.py:472-474);
- max text length tracked only while the column is text (core.py:478-479);
  int min/max tracked only while int (core.py:481-486);
- emission: int∈[0,1]→SMALLINT, int max≥32768→INT, int→SMALLINT,
  float→FLOAT, datetime/date/time, text→VARCHAR bucket
  50/100/200/500/1000/4000/TEXT (core.py:510-544).

Spark design (not a port of the reference's row loop):

- **sample mode (default, reference-faithful):** `df.limit(sample_size)` is
  collected via Arrow (bounded: ≤20k rows no matter how big the table — the
  same bound the reference uses) and folded column by column in row order.
  Order dependence demands a sequential fold; doing it on ≤20k
  driver-side values is exact and O(sample).
- **full mode (`sample_size=None`):** one distributed aggregate pass over
  the whole table computes order-INSENSITIVE per-column counts
  (int-like/float-like/date-like/... match counts via regex + cast,
  max length, int min/max, empties) and the lattice is folded from counts.
  This scales to any size but, being commutative, cannot reproduce the
  reference's order-dependent demotions (documented divergence: a column
  [1, 2.5] is text in sample mode — Q5 — but float in full mode).

Type detection: is_int/is_float mirror Python int()/float() on the
strings the JVM casts also read (ASCII, no ``_``); Excel's typed cells keep
Python's rules (Q11). Dates, times and timestamps are the shapes of one
table, the JVM patterns `_cast` parses with (_DATE_FORMATS, _TIME_FORMATS,
_TS_FORMATS): is_date/is_time/is_datetime fullmatch one regex per pattern
and range-check its fields, and full mode counts with the same regexes, so
a column infers a date/time type only when the cast can store its cells
(SURVEY §8 Q12). A shape outside the table, even one the reference's
parser read, falls to the next rung of the lattice.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DataType,
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SAMPLE_SIZE_DEFAULT = 20000

# Varchar bucket ladder (core.py:530-544): inferred length < bound → VARCHAR(bound).
VARCHAR_BUCKETS = (50, 100, 200, 500, 1000, 4000)

# Spark type per emitted DDL type (ColumnSpec.spark_type); the rest are strings.
_SPARK_FOR_SQL = {
    "SMALLINT": ShortType(),
    "INT": IntegerType(),
    "BIGINT": LongType(),
    "FLOAT": DoubleType(),
    "TIMESTAMP": TimestampType(),
    "DATE": DateType(),
}

# The date and time shapes of the import: the JVM patterns `_cast` tries
# in order (sources/files.py). The predicates accept exactly the values one
# of them parses, so an inferred type is one the cast can store.
_TS_FORMATS = (
    "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "yyyy-MM-dd'T'HH:mm:ss",
    "MM/dd/yyyy HH:mm:ss",
    "MM/dd/yyyy HH:mm",
    "yyyy-MM-dd HH:mm",
)
_DATE_FORMATS = ("yyyy-MM-dd", "MM/dd/yyyy", "M/d/yyyy", "yyyyMMdd")
_TIME_FORMATS = ("HH:mm:ss", "H:mm:ss", "HH:mm", "H:mm", "hh:mm:ss a", "h:mm a")


def _shape(fmt: str) -> tuple[re.Pattern, str]:
    """The regex of what the JVM parser takes for pattern ``fmt`` before
    its range checks, one group per field, and the fields' letters.

    As the parser reads: ASCII digits only; a doubled letter takes exactly
    that many, a single one 1-19 (``H:mm`` parses ``007:30``), ``SSSSSS``
    1-6; ``a`` (AM/PM, no group) and quoted letters (``'T'``) in either
    case. The regex is valid in Python and Java, so full mode's ``rlike``
    uses it too."""
    rx, letters = "", ""
    for quoted, run, letter, lit in re.findall(r"'([^']*)'|(([A-Za-z])\3*)|(.)", fmt):
        if quoted:
            rx += "".join(f"[{c.upper()}{c.lower()}]" if c.isalpha() else re.escape(c)
                          for c in quoted)
        elif letter == "a":
            rx += "(?:[AaPp][Mm])"
            continue
        elif letter == "S":
            rx += f"([0-9]{{1,{len(run)}}})"
        elif letter:
            rx += f"([0-9]{{{len(run)}}})" if len(run) > 1 else "([0-9]{1,19})"
        else:
            rx += re.escape(lit)
        letters += letter
    return re.compile(rx), letters


_SHAPES = {f: _shape(f) for f in _TS_FORMATS + _DATE_FORMATS + _TIME_FORMATS}


def _fields(formats: tuple[str, ...], v) -> dict | None:
    """The fields (letter -> int) of ``str(v)``, space-trimmed as ``F.trim``
    does, by the first of ``formats`` whose regex it fullmatches and
    whose fields form a real date and time; None when there is none."""
    s = str(v).strip(" ")
    for fmt in formats:
        rx, letters = _SHAPES[fmt]
        m = rx.fullmatch(s)
        if m is None:
            continue
        f = dict(zip(letters, map(int, m.groups())))
        try:
            # the parser takes year 0000, a leap year as 2000 is
            datetime(f.get("y") or 2000, f.get("M", 1), f.get("d", 1),
                     f.get("H", 0), f.get("m", 0), f.get("s", 0))
        except (ValueError, OverflowError):
            continue
        if 1 <= f.get("h", 1) <= 12:
            return f
    return None


def is_int(v) -> bool:
    """Python-int acceptance ('1.0' is NOT int; '+5'/' 5 ' are). A string
    must also hold what the cast reads: ASCII digits, no ``_`` separator."""
    if isinstance(v, str):
        if not v.isascii() or "_" in v:
            return False
    elif isinstance(v, int):  # bool too
        return True
    try:
        int(v)
        return True
    except (TypeError, ValueError):
        return False


def is_float(v) -> bool:
    """Python-float acceptance in what the cast reads (as is_int). The
    cast reads a NaN with a sign only as ``NaN``; any signed NaN is text."""
    s = str(v)
    if not s.isascii() or "_" in s:
        return False
    try:
        x = float(s)
    except ValueError:
        return False
    return x == x or s.strip()[0] not in "+-"


def is_time(v) -> bool:
    """One of _TIME_FORMATS parses the value."""
    return _fields(_TIME_FORMATS, v) is not None


def is_date(v) -> bool:
    """One of _DATE_FORMATS parses the value, or one of _TS_FORMATS does
    and its time is midnight (the reference's fallback, core.py:605-606;
    a fraction of a second is ignored)."""
    if _fields(_DATE_FORMATS, v) is not None:
        return True
    f = _fields(_TS_FORMATS, v)
    return f is not None and f["H"] == f["m"] == f.get("s", 0) == 0


def is_datetime(v) -> bool:
    """One of _TS_FORMATS parses the value."""
    return _fields(_TS_FORMATS, v) is not None


@dataclass
class ColumnSpec:
    """Folded inference state + emission for one column."""

    name: str
    type: str = ""  # '', 'int', 'float', 'date', 'time', 'datetime', 'text'
    nullable: bool = False
    length: int = 0
    min_value: int = 0
    max_value: int = 0
    widen_min: bool = field(default=True, repr=False)  # Q7 correctness fix

    # ---- sequential fold (sample mode) ------------------------------------
    def observe(self, value) -> None:
        if value is None or value == "":
            self.nullable = True
            return
        self._step_type(value)
        if self.type == "text":
            n = len(str(value))
            if n > self.length:
                self.length = n
        elif self.type == "int":
            iv = int(value)
            if iv < self.min_value:
                self.min_value = iv
            if iv > self.max_value:
                self.max_value = iv

    def _step_type(self, value) -> None:
        # demotions: only date/float/int can demote, always straight to text
        if self.type == "date" and not is_date(value):
            self.type = "text"
        if self.type == "float" and not is_float(value):
            self.type = "text"
        if self.type == "int" and not is_int(value):
            self.type = "text"
        if self.type == "":
            for probe, tname in (
                (is_int, "int"),
                (is_float, "float"),
                (is_date, "date"),
                (is_time, "time"),
                (is_datetime, "datetime"),
            ):
                if probe(value):
                    self.type = tname
                    return
            self.type = "text"

    # ---- emission ----------------------------------------------------------
    def _resolved(self) -> str:
        return self.type or "text"

    def spark_type(self) -> DataType:
        """The Spark type of the DDL type: VARCHAR/TEXT, and TIME (Spark has
        no TIME; normalized HH:MM:SS, §7.5), are strings."""
        return _SPARK_FOR_SQL.get(self.sql_type(), StringType())

    def sql_type(self) -> str:
        """Dialect-portable DDL type for JDBC createTableColumnTypes —
        preserves the reference's emitted DDL surface."""
        t = self._resolved()
        if t == "int":
            if self.max_value == 1 and self.min_value == 0:
                return "SMALLINT"  # the 0/1 "bool-ish" bucket stays SMALLINT
            if self.max_value >= 32768 or (self.widen_min and self.min_value <= -32768):
                if self.max_value >= 2**31 or self.min_value < -(2**31):
                    return "BIGINT"  # widen beyond INT (documented divergence)
                return "INT"
            return "SMALLINT"
        if t == "float":
            return "FLOAT"
        if t == "datetime":
            return "TIMESTAMP"
        if t == "date":
            return "DATE"
        if t == "time":
            return "TIME"
        for bound in VARCHAR_BUCKETS:
            if self.length < bound:
                return f"VARCHAR({bound})"
        return "TEXT"

    def struct_field(self) -> StructField:
        meta: dict = {"diepy_type": self._resolved(), "sql_type": self.sql_type()}
        if self._resolved() == "text":
            meta["maxlength"] = next(
                (b for b in VARCHAR_BUCKETS if self.length < b), -1
            )
        return StructField(self.name, self.spark_type(), self.nullable, metadata=meta)


def normalize_headers(headers: list[str | None]) -> list[str]:
    """Strip whitespace + UTF-8 BOM; blank headers become unnamedN (1-based
    counter over blanks — core.py:443-448)."""
    out: list[str] = []
    unnamed = 0
    for h in headers:
        h = (h or "").strip().lstrip("﻿").strip()
        if not h:
            unnamed += 1
            h = f"unnamed{unnamed}"
        out.append(h)
    return out


# ---------------------------------------------------------------------------
# sample mode: exact sequential fold over an Arrow-collected ≤20k-row sample
# ---------------------------------------------------------------------------

def infer_from_dataframe(
    df: DataFrame, sample_size: int | None = SAMPLE_SIZE_DEFAULT
) -> list[ColumnSpec]:
    """Infer ColumnSpecs from an all-string DataFrame.

    sample_size=N → reference-faithful sequential fold over limit(N)
    (default 20,000 — the reference's cap, so driver memory is bounded
    regardless of table size). sample_size=None → distributed full-scan
    aggregate (order-insensitive; see module docstring).
    """
    if sample_size is None:
        return _infer_full_scan(df)
    specs = [ColumnSpec(name) for name in normalize_headers(list(df.columns))]
    pdf = df.limit(sample_size).toPandas()
    for spec, col in zip(specs, df.columns):
        for v in pdf[col]:
            spec.observe(None if v is None else str(v))
    return specs


# ---------------------------------------------------------------------------
# full mode: one distributed aggregate pass, lattice folded from counts
# ---------------------------------------------------------------------------

_INT_RE = r"^\s*[+-]?[0-9]+\s*$"


def _parsed(t: Column, formats: tuple[str, ...]) -> Column:
    """The timestamp of trimmed cell ``t`` by the first of ``formats``
    whose regex it matches and that parses it: the rule of _fields, so
    only matching cells reach the parser."""
    return F.coalesce(*[
        F.when(t.rlike(f"^{_SHAPES[f][0].pattern}$"), F.try_to_timestamp(t, F.lit(f)))
        for f in formats
    ])


def _infer_full_scan(df: DataFrame) -> list[ColumnSpec]:
    """Order-insensitive inference over the ENTIRE table in one aggregate.

    Per column, computed JVM-side (no Python in the row path):
    empties, int-like / float-like counts (regex + try_cast), date / time /
    timestamp counts by the predicates' rule (_parsed, with the midnight
    rule for dates), max length, int min/max. The shuffle carries one row
    per partition (partial aggregation), so this holds at 100 TB.
    """
    aggs = []
    names = list(df.columns)
    for c in names:
        col, t = F.col(c), F.trim(F.col(c))
        nonempty = col.isNotNull() & (col != "")
        ts = _parsed(t, _TS_FORMATS)
        midnight = (F.hour(ts) == 0) & (F.minute(ts) == 0) & (F.second(ts) == 0)
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.count_if(~nonempty).alias(f"{c}__empty"),
            F.count_if(nonempty & col.rlike(_INT_RE)).alias(f"{c}__int"),
            F.count_if(nonempty & col.try_cast("double").isNotNull()).alias(f"{c}__float"),
            F.count_if(
                nonempty & (_parsed(t, _DATE_FORMATS).isNotNull() | midnight)
            ).alias(f"{c}__date"),
            F.count_if(nonempty & ts.isNotNull()).alias(f"{c}__ts"),
            F.count_if(nonempty & _parsed(t, _TIME_FORMATS).isNotNull()).alias(f"{c}__time"),
            F.max(F.length(col)).alias(f"{c}__len"),
            F.min(col.try_cast("long")).alias(f"{c}__min"),
            F.max(col.try_cast("long")).alias(f"{c}__max"),
        ]
    row = df.agg(*aggs).collect()[0].asDict()

    specs = []
    for raw, name in zip(names, normalize_headers(names)):
        n = row[f"{raw}__n"]
        empty = row[f"{raw}__empty"]
        vals = n - empty
        spec = ColumnSpec(name, nullable=empty > 0)
        if vals == 0:
            spec.type = "text"
        elif row[f"{raw}__int"] == vals:
            spec.type = "int"
            spec.min_value = min(row[f"{raw}__min"] or 0, 0)
            spec.max_value = max(row[f"{raw}__max"] or 0, 0)
        elif row[f"{raw}__float"] == vals:
            spec.type = "float"
        elif row[f"{raw}__date"] == vals:
            spec.type = "date"
        elif row[f"{raw}__time"] == vals:
            spec.type = "time"
        elif row[f"{raw}__ts"] == vals:
            spec.type = "datetime"
        else:
            spec.type = "text"
        spec.length = row[f"{raw}__len"] or 0
        specs.append(spec)
    return specs


def to_struct_type(specs: list[ColumnSpec]) -> StructType:
    return StructType([s.struct_field() for s in specs])


def to_create_table_column_types(specs: list[ColumnSpec]) -> str:
    """Value for Spark's JDBC `createTableColumnTypes` option — carries the
    varchar buckets / SMALLINT / TIME surface into the emitted DDL."""
    return ", ".join(f"{s.name} {s.sql_type()}" for s in specs)
