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
  driver-side values is exact and O(sample). The predicates are pure, so
  the fold evaluates each one at most once per distinct value (a memo that
  lives for one `infer_from_dataframe` call); the specs are the same as
  those of the plain `ColumnSpec.observe` loop, which stays as the
  reference.
- **full mode (`sample_size=None`):** one distributed aggregate pass over
  the whole table computes order-INSENSITIVE per-column counts
  (int-like/float-like/date-like/... match counts via regex + try_cast,
  max length, int min/max, empties) and the lattice is folded from counts.
  This scales to any size but, being commutative, cannot reproduce the
  reference's order-dependent demotions (documented divergence: a column
  [1, 2.5] is text in sample mode — Q5 — but float in full mode).

Type detection fidelity: is_int/is_float mirror Python int()/float()
acceptance; is_date/is_time/is_datetime use the reference's dateutil
"two different default dates" trick verbatim in semantics (core.py:575-630).
is_date answers a valid ISO ``yyyy-MM-dd`` without dateutil (the answer
dateutil gives too); every other string still goes through dateutil.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from datetime import datetime

from dateutil.parser import parse as _duparse
from pyspark.sql import DataFrame
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

_D1 = datetime(2000, 1, 1, 12, 34, 56, 123456)
_D2 = datetime(2007, 10, 20, 14, 32, 12, 654321)
_D1_DATE = datetime(2000, 1, 1, 12, 34, 56)
_D2_DATE = datetime(2007, 10, 20, 14, 32, 12)
_ISO_DATE = re.compile(r"([0-9]{4})-([0-9]{2})-([0-9]{2})")


def is_int(v) -> bool:
    """Python-int acceptance ('1.0' is NOT int; '+5'/' 5 ' are)."""
    if isinstance(v, bool):
        return True
    if isinstance(v, int):
        return True
    try:
        int(v)
        return True
    except (TypeError, ValueError):
        return False


def is_float(v) -> bool:
    try:
        float(str(v))
        return True
    except (TypeError, ValueError):
        return False


def is_time(v) -> bool:
    """Time-only: parsing with two different default DATES yields both
    defaults' Y/M/D back (the value supplied no date part)."""
    try:
        s = str(v)
        v1 = _duparse(s, default=_D1)
        v2 = _duparse(s, default=_D2)
        return (
            v1.timetuple()[:3] == _D1.timetuple()[:3]
            and v2.timetuple()[:3] == _D2.timetuple()[:3]
        )
    except (ValueError, OverflowError, TypeError):
        return False


def is_date(v) -> bool:
    """Date-only: parsing with two default TIMES yields both defaults'
    H/M/S back; additionally (reference fallback, core.py:605-606) a value
    whose own time part is exactly midnight counts as a date. A valid ISO
    yyyy-MM-dd is answered without dateutil (tests pin the two paths
    equal); anything else, such as 2001-02-30, goes through dateutil."""
    s = str(v)
    iso = _ISO_DATE.fullmatch(s)
    if iso:
        try:
            datetime(*map(int, iso.groups()))
            return True
        except ValueError:
            pass
    return _dateutil_date(s)


def _dateutil_date(s: str) -> bool:
    try:
        v1 = _duparse(s, default=_D1_DATE)
        v2 = _duparse(s, default=_D2_DATE)
        if (
            v1.timetuple()[3:6] == _D1_DATE.timetuple()[3:6]
            and v2.timetuple()[3:6] == _D2_DATE.timetuple()[3:6]
        ):
            return True
        return _duparse(s).timetuple()[3:6] == (0, 0, 0)
    except (ValueError, OverflowError, TypeError):
        return False


def is_datetime(v) -> bool:
    try:
        s = str(v)
        return _duparse(s, default=_D1) != _D1 and _duparse(s, default=_D2) != _D2
    except (ValueError, OverflowError, TypeError):
        return False


def _call(pred, value) -> bool:
    return pred(value)


def _memo_test():
    """A ``test(pred, value)`` that runs each predicate once per distinct
    value. The predicates are pure, so the answers are the same as
    ``_call``'s; the values must be of one type (the sample's strings), as
    ``1``, ``1.0`` and ``True`` are one key."""
    seen: dict = {}

    def test(pred, value) -> bool:
        key = (pred, value)
        hit = seen.get(key)
        if hit is None:
            hit = seen[key] = pred(value)
        return hit

    return test


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
        self._observe(value, _call)

    def _observe(self, value, test) -> None:
        """One fold step; ``test(pred, value)`` evaluates a predicate."""
        if value is None or value == "":
            self.nullable = True
            return
        self._step_type(value, test)
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

    def _step_type(self, value, test) -> None:
        # demotions: only date/float/int can demote, always straight to text
        if self.type == "date" and not test(is_date, value):
            self.type = "text"
        if self.type == "float" and not test(is_float, value):
            self.type = "text"
        if self.type == "int" and not test(is_int, value):
            self.type = "text"
        if self.type == "":
            for probe, tname in (
                (is_int, "int"),
                (is_float, "float"),
                (is_date, "date"),
                (is_time, "time"),
                (is_datetime, "datetime"),
            ):
                if test(probe, value):
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
    test = _memo_test()
    for i, col in enumerate(df.columns):
        spec = specs[i]
        for v in pdf[col]:
            spec._observe(None if v is None else str(v), test)
    return specs


# ---------------------------------------------------------------------------
# full mode: one distributed aggregate pass, lattice folded from counts
# ---------------------------------------------------------------------------

_INT_RE = r"^\s*[+-]?[0-9]+\s*$"


def _infer_full_scan(df: DataFrame) -> list[ColumnSpec]:
    """Order-insensitive inference over the ENTIRE table in one aggregate.

    Per column, computed JVM-side (no Python in the row path):
    empties, int-like / float-like counts (regex + try_cast), ISO date /
    timestamp counts, max length, int min/max. The shuffle carries one row
    per partition (partial aggregation), so this holds at 100 TB.
    Date/time detection uses Spark's casts (ISO + common forms), not
    dateutil — full mode trades the reference's per-value dateutil
    acceptance for a pure-JVM pass.
    """
    aggs = []
    names = list(df.columns)
    for c in names:
        col = F.col(c)
        nonempty = col.isNotNull() & (col != "")
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.when(~nonempty, 1).otherwise(0)).alias(f"{c}__empty"),
            F.sum(F.when(nonempty & col.rlike(_INT_RE), 1).otherwise(0)).alias(f"{c}__int"),
            F.sum(
                F.when(nonempty & col.try_cast("double").isNotNull(), 1).otherwise(0)
            ).alias(f"{c}__float"),
            F.sum(
                F.when(
                    nonempty
                    & col.try_cast("date").isNotNull()
                    & col.rlike(r"^\s*\d{4}-\d{2}-\d{2}\s*$"),
                    1,
                ).otherwise(0)
            ).alias(f"{c}__date"),
            F.sum(
                F.when(nonempty & col.try_cast("timestamp").isNotNull(), 1).otherwise(0)
            ).alias(f"{c}__ts"),
            F.sum(
                F.when(
                    nonempty & col.rlike(r"^\s*\d{1,2}:\d{2}(:\d{2}(\.\d+)?)?\s*$"), 1
                ).otherwise(0)
            ).alias(f"{c}__time"),
            F.max(F.length(col)).alias(f"{c}__len"),
            F.min(col.try_cast("long")).alias(f"{c}__min"),
            F.max(col.try_cast("long")).alias(f"{c}__max"),
        ]
    row = df.agg(*aggs).collect()[0].asDict()

    specs = []
    for raw, name in zip(names, normalize_headers(names)):
        n = row[f"{raw}__n"]
        empty = row[f"{raw}__empty"] or 0
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
