"""Golden tests for the inference lattice, from FIXTURES.md §1.1/§2
(derived from reference behavior at /root/reference/diepy/core.py:458-630)."""

import pytest
from pyspark.sql.types import (
    DateType,
    DoubleType,
    IntegerType,
    ShortType,
    StringType,
    TimestampType,
)

from diepy_spark.functions.inference import (
    ColumnSpec,
    infer_from_dataframe,
    is_date,
    is_datetime,
    is_float,
    is_int,
    is_time,
    normalize_headers,
)

BASIC_CSV = (
    "string,int,float,datetime,bool,time,date\n"
    'hello,1,2.83,2013-10-11 13:04:05,0,12:01:02,2013-10-11\n'
    '"tricky with the spaces and the, commas",2,4.2435,2000-12-12 14:23:45.132500,1,,2013-12-05\n'
    '"return\n",3,135.134,,,,\n'
)


def fold(values):
    spec = ColumnSpec("c")
    for v in values:
        spec.observe(v)
    return spec


# ---- predicate semantics ----------------------------------------------------

def test_predicates():
    assert is_int("1") and is_int("+5") and not is_int("1.0")
    assert is_time("12:01:02") and not is_time("2013-10-11 13:04:05")
    assert is_date("2013-10-11") and not is_date("13:04:05")
    # reference fallback: midnight datetime counts as date (core.py:605-606)
    assert is_date("2013-10-11 00:00:00")
    assert is_datetime("2013-10-11 13:04:05")
    # shapes the casts do not read (SURVEY §8 Q12)
    assert not is_int("1_000") and not is_float("1_000")
    assert not is_int("١٢٣") and not is_float("١٢٣")
    assert not is_date("11 Oct 2013") and not is_date("2013-1-2")
    assert not is_time("1pm")
    assert not is_datetime("2013-10-11 01:02:03.123456789")
    assert not is_date("2013-02-29") and is_date("2012-02-29")
    assert not is_time("24:00") and not is_time("00:30 AM") and is_time("12:30 am")
    # ... and shapes they do: any case of T and AM/PM, single-letter
    # fields of any width, a fraction ignored by the midnight rule
    assert is_datetime(" 2013-10-11t01:02:03 ") and is_time("007:30")
    assert is_date("2013-10-11 00:00:00.5") and is_time("1:02 pM")


# ---- lattice stress fixtures (FIXTURES.md §2) --------------------------------

def test_mixed_int_float_is_text():  # Q5: no numeric widening
    assert fold(["1", "2.5"]).spark_type() == StringType()


def test_float_like_int_is_float():
    assert fold(["1.0", "2.0"]).spark_type() == DoubleType()


def test_large_int():
    assert fold(["40000"]).spark_type() == IntegerType()


def test_bool_bucket():
    s = fold(["0", "1"])
    assert s.spark_type() == ShortType() and s.sql_type() == "SMALLINT"


def test_neg_overflow_widened():  # Q7 correctness fix: min consulted
    assert fold(["-99999", "5"]).sql_type() == "INT"


def test_time_never_demoted():  # Q6
    s = fold(["12:01:02", "banana"])
    assert s.type == "time" and s.sql_type() == "TIME"


def test_date_demoted_to_text():
    assert fold(["2013-10-11", "banana"]).type == "text"


def test_all_empty_is_nullable_text():
    s = fold(["", ""])
    assert s.nullable and s.sql_type() == "VARCHAR(50)"


@pytest.mark.parametrize(
    "length,expected",
    [(49, "VARCHAR(50)"), (99, "VARCHAR(100)"), (499, "VARCHAR(500)"), (4001, "TEXT")],
)
def test_text_buckets(length, expected):
    assert fold(["x" * length]).sql_type() == expected


def test_unnamed_headers():
    assert normalize_headers(["a", "", "b", None]) == ["a", "unnamed1", "b", "unnamed2"]


def test_bom_header_stripped():
    assert normalize_headers(["﻿string"]) == ["string"]


# ---- golden: basic.csv (FIXTURES.md §1.1) ------------------------------------

@pytest.fixture(scope="module")
def basic_specs(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("basic") / "basic.csv"
    p.write_text(BASIC_CSV)
    from diepy_spark.sources.files import read_untyped_csv

    raw = read_untyped_csv(spark, str(p))
    return {s.name: s for s in infer_from_dataframe(raw)}


def test_basic_csv_golden_schema(basic_specs):
    s = basic_specs
    assert s["string"].spark_type() == StringType() and not s["string"].nullable
    assert s["string"].sql_type() == "VARCHAR(50)"
    assert s["int"].spark_type() == ShortType() and not s["int"].nullable
    assert s["float"].spark_type() == DoubleType() and not s["float"].nullable
    assert s["datetime"].spark_type() == TimestampType() and s["datetime"].nullable
    assert s["bool"].spark_type() == ShortType() and s["bool"].nullable
    assert s["bool"].sql_type() == "SMALLINT"
    assert s["time"].sql_type() == "TIME" and s["time"].nullable
    assert s["date"].spark_type() == DateType() and s["date"].nullable


# ---- full-scan (distributed) mode --------------------------------------------

def test_full_scan_mode(spark, tmp_path):
    p = tmp_path / "full.csv"
    p.write_text(
        "a,b,c,d,e,f,g,h\n"
        "1,1.5,2020-01-01,x,2020-01-01 00:00:00.5,12:30 am,1pm,2013-10-11t01:02:03\n"
        "40000,2.5,2020-01-02,,01/02/2020,007:30,2pm,10/11/2013 13:04\n"
    )
    from diepy_spark.sources.files import read_untyped_csv

    specs = {s.name: s for s in infer_from_dataframe(read_untyped_csv(spark, str(p)), None)}
    assert specs["a"].sql_type() == "INT"
    assert specs["b"].spark_type() == DoubleType()
    assert specs["c"].spark_type() == DateType()
    assert specs["d"].nullable
    # the predicates' table: the midnight rule, the cast's time and
    # timestamp shapes, and text for a shape outside the table
    assert [specs[c].sql_type() for c in "efgh"] == ["DATE", "TIME", "VARCHAR(50)", "TIMESTAMP"]
