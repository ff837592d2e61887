"""Golden round-trip: import basic.csv → typed warehouse table → export CSV
(SURVEY §5.2 item 2), plus gzip, tsv, xlsx, directory import, truncate,
and filename decoration."""

import csv
import gzip
import os
from datetime import datetime

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from diepy_spark.context import DiepyContext
from diepy_spark.sources.writers import decorate_filename
from tests.test_inference import BASIC_CSV


@pytest.fixture()
def ctx(spark, tmp_path):
    ini = tmp_path / "diepy.ini"
    wh = tmp_path / "warehouse"
    ini.write_text(f"[servers]\ntest = {wh}\n")
    return DiepyContext(spark, "test", config=str(ini))


@pytest.fixture()
def basic_file(tmp_path):
    p = tmp_path / "basic.csv"
    p.write_text(BASIC_CSV)
    return str(p)


def test_import_creates_typed_table(ctx, basic_file):
    n = ctx.import_file(basic_file)
    assert n == 3
    df = ctx.backend.read_table("basic")
    types = dict(df.dtypes)
    assert types == {
        "string": "string", "int": "smallint", "float": "double",
        "datetime": "timestamp", "bool": "smallint", "time": "string",
        "date": "date",
    }
    rows = {r["int"]: r for r in df.collect()}
    assert rows[1]["time"] == "12:01:02"
    assert rows[1]["datetime"] == datetime(2013, 10, 11, 13, 4, 5)
    assert rows[2]["datetime"].microsecond == 132500
    assert rows[3]["datetime"] is None and rows[3]["bool"] is None
    assert rows[3]["string"] == "return\n"
    assert rows[2]["string"] == "tricky with the spaces and the, commas"


def test_export_csv_roundtrip(ctx, basic_file, tmp_path):
    ctx.import_file(basic_file)
    out = str(tmp_path / "out.csv")
    ctx.export_table("basic", out, unix=True)
    with open(out, newline="") as f:
        rows = list(csv.DictReader(f))
    assert len(rows) == 3
    byint = {r["int"]: r for r in rows}
    assert byint["1"]["datetime"] == "2013-10-11T13:04:05"  # isoformat, no micros
    assert byint["2"]["datetime"] == "2000-12-12T14:23:45.132500"  # micros kept
    assert byint["3"]["datetime"] == ""  # NULL → empty
    assert byint["1"]["date"] == "2013-10-11"


def test_export_gzip(ctx, basic_file, tmp_path):
    ctx.import_file(basic_file)
    out = str(tmp_path / "out.csv")
    got = ctx.export_table("basic", out, zip=True, unix=True)
    assert got.endswith(".gz")
    with gzip.open(got, "rt") as f:  # documented gzip semantics (Q1 fixed)
        assert f.readline().strip() == "string,int,float,datetime,bool,time,date"


def test_export_tsv_delimiter_by_extension(ctx, basic_file, tmp_path):
    ctx.import_file(basic_file)
    out = str(tmp_path / "out.tsv")
    ctx.export_table("basic", out, unix=True)
    with open(out) as f:
        assert "\t" in f.readline()


def test_truncate_vs_append(ctx, basic_file):
    ctx.import_file(basic_file)
    ctx.import_file(basic_file)  # append
    assert ctx.backend.read_table("basic").count() == 6
    ctx.import_file(basic_file, truncate=True)
    assert ctx.backend.read_table("basic").count() == 3


def test_zip_import(ctx, basic_file, tmp_path):
    """S2: x.csv.zip imports like x.csv (extracted to scratch — Hadoop
    streams can't unzip). The reference admits the extension but reads raw
    bytes (core.py:18-20 vs 237); this path actually works."""
    import zipfile

    src = tmp_path / "basic.csv.zip"
    with zipfile.ZipFile(src, "w") as zf:
        zf.write(basic_file, "basic.csv")
    n = ctx.import_file(str(src))
    assert n == 3
    df = ctx.backend.read_table("basic")
    assert dict(df.dtypes)["int"] == "smallint"
    assert df.count() == 3


def test_zip_without_delimited_members_rejected(ctx, tmp_path):
    import zipfile

    src = tmp_path / "junk.csv.zip"
    with zipfile.ZipFile(src, "w") as zf:
        zf.writestr("readme.md", "hello")
    with pytest.raises(ValueError, match="no .csv"):
        ctx.import_file(str(src))


def test_glob_import_filters_to_csv(ctx, tmp_path):
    d = tmp_path / "g"
    d.mkdir()
    (d / "t3.csv").write_text("a,b\n1,x\n")
    (d / "notes.txt").write_text("a\n1\n")  # glob branch takes only *.csv (cli.py:140-144)
    ctx.import_path(str(d / "*"))
    assert ctx.backend.table_exists("t3")
    assert not ctx.backend.table_exists("notes")


def test_directory_import_table_per_file(ctx, tmp_path):
    d = tmp_path / "data"
    d.mkdir()
    (d / "t1.csv").write_text("a,b\n1,x\n")
    (d / "t2.csv").write_text("a,b\n2,y\n")
    (d / "skip.txt").write_text("a\n1\n")  # dir scan takes only *.csv (core.py:75-77)
    ctx.import_path(str(d))
    assert ctx.backend.table_exists("t1") and ctx.backend.table_exists("t2")
    assert not ctx.backend.table_exists("skip")


def _make_xlsx(path, sheets: dict):
    """Build a fixture workbook: pandas/openpyxl when available, else the
    stdlib bridge — so these tests run (not skip) in openpyxl-less envs."""
    try:
        import openpyxl  # noqa: F401
        import pandas as pd

        with pd.ExcelWriter(path) as w:
            for name, cols in sheets.items():
                pd.DataFrame(cols).to_excel(w, index=False, sheet_name=name)
    except ImportError:
        from diepy_spark.sources import xlsx_lite

        xlsx_lite.write_workbook(
            str(path),
            {
                name: [list(cols)] + [list(r) for r in zip(*cols.values())]
                for name, cols in sheets.items()
            },
        )


def test_xlsx_roundtrip(ctx, basic_file, tmp_path):
    from diepy_spark.sources.excel import read_excel_sheets

    # build an xlsx analog of basic.csv
    src = tmp_path / "book.xlsx"
    _make_xlsx(src, {"people": {"name": ["a", "b"], "n": [1, 40000]}})
    ctx.import_file(str(src))
    df = ctx.backend.read_table("people")
    assert dict(df.dtypes)["n"] == "int"
    assert df.count() == 2

    out = str(tmp_path / "out.xlsx")
    ctx.export_table("people", out)
    back = read_excel_sheets(out, sheet="people")["people"]
    assert sorted(int(v) for v in back["n"].tolist()) == [1, 40000]


def test_write_xlsx_row_guard(spark, tmp_path):
    """One bounded fetch of max_rows + 1 rows: a table of exactly max_rows
    rows exports, one row more raises and writes nothing."""
    from diepy_spark.sources.excel import read_excel_sheets
    from diepy_spark.sources.writers import write_xlsx

    df = spark.range(1, 6).selectExpr("id AS n")
    out = str(tmp_path / "five.xlsx")
    write_xlsx(df, out, "five", max_rows=5)
    back = read_excel_sheets(out, sheet="five")["five"]
    assert sorted(int(v) for v in back["n"].tolist()) == [1, 2, 3, 4, 5]
    with pytest.raises(ValueError, match="more than 4 rows"):
        write_xlsx(df, str(tmp_path / "four.xlsx"), "four", max_rows=4)
    assert not (tmp_path / "four.xlsx").exists()


def test_single_sheet_addressing(ctx, tmp_path):
    src = tmp_path / "book.xlsx"
    _make_xlsx(src, {"one": {"a": [1]}, "two": {"b": [2]}})
    ctx.import_file(f"{src}$two")
    assert ctx.backend.table_exists("two")
    assert not ctx.backend.table_exists("one")


def test_decorate_filename():
    now = datetime(2026, 8, 13, 14, 5)
    assert decorate_filename("out.csv", datestamp=True, now=now) == "out-2026.08.13.csv"
    assert decorate_filename("out.csv", timestamp=True, now=now) == "out-2026.08.13.1405.csv"
    assert decorate_filename("out.csv.gz", datestamp=True, now=now) == "out-2026.08.13.csv.gz"
    assert decorate_filename("out.csv") == "out.csv"


def test_auto_multiline_quote_census(spark, tmp_path):
    from diepy_spark.sources.files import _needs_multiline, read_untyped_csv

    clean = tmp_path / "clean.csv"
    clean.write_text("a,b\n1,x\n2,y\n")
    quoted = tmp_path / "quoted.csv"
    quoted.write_text('a,b\n1,"line one\nline two"\n2,plain\n')

    # census: clean file -> splittable path; quoted file -> multiLine
    assert _needs_multiline(spark, str(clean)) is False
    assert _needs_multiline(spark, str(quoted)) is True

    # both parse correctly
    c = read_untyped_csv(spark, str(clean))
    assert c.count() == 2 and c.columns == ["a", "b"]
    q = read_untyped_csv(spark, str(quoted)).orderBy("a").collect()
    assert len(q) == 2
    assert q[0]["b"] == "line one\nline two"


# ---- one-pass import: rejected cells, row count, split scan ------------------

@pytest.fixture()
def overflow_file(tmp_path):
    """40,000 rows: ids 1..40000 (the 20,000-row sample infers SMALLINT)
    and ISO dates with one impossible date at row 30,000."""
    p = tmp_path / "overflow.csv"
    lines = ["id,d"] + [
        f"{i},{'2001-02-30' if i == 30000 else f'2001-01-{i % 28 + 1:02d}'}"
        for i in range(1, 40001)
    ]
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_rejected_cells_fail_fast(ctx, overflow_file):
    with pytest.raises(ValueError) as err:
        ctx.import_file(overflow_file)
    msg = str(err.value)
    assert "column id: 7233 non-empty cells are not SMALLINT" in msg
    assert "e.g. '32768'" in msg
    assert "column d: 1 non-empty cells are not DATE" in msg and "'2001-02-30'" in msg


def test_rejected_cells_lenient_counts_rows(ctx, overflow_file, caplog):
    ctx.lenient = True
    with caplog.at_level("WARNING", logger="diepy_spark"):
        assert ctx.import_file(overflow_file) == 40000
    assert "column id: 7233 non-empty cells" in caplog.text
    assert ctx.backend.read_table("overflow").where("id IS NULL").count() == 7233


def test_malformed_date_reported(ctx, tmp_path):
    """dateutil accepts '11 Oct 2013' as a date, the JVM cast does not:
    the cell is reported instead of stored as a silent NULL."""
    p = tmp_path / "dates.csv"
    p.write_text("n,d\n1,2013-10-11\n2,11 Oct 2013\n3,\n")
    with pytest.raises(ValueError, match=r"column d: 1 non-empty cells are not DATE.*'11 Oct 2013'"):
        ctx.import_file(str(p))
    ctx.lenient = True
    assert ctx.import_file(str(p), table="dates2") == 3


def test_rejected_import_leaves_table_unchanged(ctx, tmp_path):
    """A fail-fast import stages its write and moves it in only after the
    rejected-cells check passes: on a raise the table keeps exactly its
    old rows and files, with or without truncate, and no staging
    directory is left behind."""
    good = tmp_path / "good.csv"
    good.write_text("n,d\n7,2001-02-03\n8,2001-02-04\n")
    assert ctx.import_file(str(good), table="dates") == 2
    table_dir = os.path.join(ctx.backend.root, "default", "dates")

    def state():
        files = sorted(
            os.path.relpath(os.path.join(root, f), table_dir)
            for root, _, fs in os.walk(table_dir) for f in fs
        )
        return sorted(ctx.backend.read_table("dates").collect()), files

    before = state()
    bad = tmp_path / "bad.csv"
    bad.write_text("n,d\n1,2013-10-11\n2,11 Oct 2013\n3,\n")
    for truncate in (False, True):
        with pytest.raises(ValueError, match="11 Oct 2013"):
            ctx.import_file(str(bad), table="dates", truncate=truncate)
        assert state() == before
    # a passing import still appends, and truncate still replaces
    assert ctx.import_file(str(good), table="dates") == 2
    assert ctx.backend.read_table("dates").count() == 4
    assert ctx.import_file(str(good), table="dates", truncate=True) == 2
    assert sorted(ctx.backend.read_table("dates").collect()) == before[0]
    assert not [f for f in os.listdir(table_dir) if f.startswith("_staging")]


@st.composite
def _datetime_cells(draw):
    """A cell in one of the shapes of `_TS_FORMATS`, `_DATE_FORMATS` or
    `_TIME_FORMATS` (numbers in or just out of range, zero-padded or not),
    or a dateutil-only shape, padded with blanks."""
    def num(lo, hi):  # mostly in range, sometimes one past either end
        return draw(st.one_of(st.integers(lo, hi), st.integers(lo - 1, hi + 1)))

    y, mo, d, h, mi, s = num(1, 9998), num(1, 12), num(1, 28), num(0, 23), num(0, 59), num(0, 59)
    two = "{:02d}".format if draw(st.booleans()) else str
    frac = draw(st.text("0123456789", min_size=1, max_size=9))
    sep = draw(st.sampled_from([" ", "T", "t"]))
    ampm = draw(st.sampled_from(["AM", "pm"]))
    iso, us = f"{y:04d}-{two(mo)}-{two(d)}", f"{two(mo)}/{two(d)}/{y:04d}"
    hms, hm = f"{two(h)}:{two(mi)}:{two(s)}", f"{two(h)}:{two(mi)}"
    shape = draw(st.sampled_from([
        f"{iso}{sep}{hms}.{frac}", f"{iso}{sep}{hms}", f"{iso} {hm}", f"{us} {hms}",
        f"{us} {hm}", iso, us, f"{y:04d}{two(mo)}{two(d)}", hms, hm,
        f"{two(h % 13)}:{two(mi)}:{two(s)} {ampm}", f"{h % 13}:{two(mi)} {ampm}",
        "1pm", "11 Oct 2013", f"Oct {two(d)} {y} {h % 13}:{two(mi)}{ampm}",
    ]))
    pad = draw(st.sampled_from(["", " ", "  "]))
    return pad + shape + pad


@given(st.lists(
    st.one_of(_datetime_cells(), st.text(".:/- Tt0123456789apm", max_size=24)),
    min_size=1, max_size=40,
))
@example(["2013-10-11t01:02:03", " 2013-10-11T01:02:03.5 ", "2013-10-11 01:02:03.123456789",
          "1pm", "11 Oct 2013", "10/11/2013 1:02", " 1:02 pm", "20131011", "10/11/2013",
          "0001-01-01 00:00:00.0"])
@settings(max_examples=40, deadline=None)
def test_format_guard_keeps_datetime_casts(spark, values):
    """Trying a format only on values that hold its literal characters
    gives the same datetime, date and time casts as trying every format."""
    from pyspark.sql import functions as F

    from diepy_spark.functions.inference import ColumnSpec
    from diepy_spark.sources.files import _DATE_FORMATS, _TIME_FORMATS, _TS_FORMATS, _cast

    c = F.when(F.col("raw") == "", None).otherwise(F.trim(F.col("raw")))

    def every(formats):
        return F.coalesce(*[F.try_to_timestamp(c, F.lit(f)) for f in formats])

    want = [
        every(_TS_FORMATS),
        every(_DATE_FORMATS + _TS_FORMATS).cast("date"),
        F.date_format(every(_TIME_FORMATS), "HH:mm:ss"),
    ]
    got = [_cast(ColumnSpec("raw", t), "raw") for t in ("datetime", "date", "time")]
    # Compared in Spark: collect() cannot turn an instant on 0001-01-01
    # into a Python datetime (year 0 is out of range).
    same = [w.eqNullSafe(g) for w, g in zip(want, got)]
    df = spark.createDataFrame([(v,) for v in values], "raw string")
    assert [r.raw for r in df.where(~(same[0] & same[1] & same[2])).collect()] == []


def test_table_schema_independent_of_part_names(ctx, tmp_path):
    """Spark reads a table's schema from one footer, picked by part name.
    The first stored append deletes create_table's placeholder, whose
    footer carries field metadata that Spark's parts lack, so the schema
    is the same whichever way the parts sort."""
    p = tmp_path / "named.csv"
    p.write_text("n,d\n7,2001-02-03\n8,2001-02-04\n")
    assert ctx.import_file(str(p), table="named") == 2
    data = os.path.join(ctx.backend.root, "default", "named", "data")
    schemas = []
    for uid in ("00000000", "ffffffff"):
        for n, f in enumerate(sorted(os.listdir(data))):
            if f.endswith(".parquet") and "empty" not in f:
                os.rename(os.path.join(data, f), os.path.join(data, f"part-{n:05d}-{uid}.parquet"))
        schemas.append(ctx.backend.read_table("named").schema.json())
    assert schemas[0] == schemas[1]
    assert "diepy_type" not in schemas[0]
    assert ctx.backend.read_table("named").count() == 2


def test_import_splits_scan_across_cores(ctx, spark, tmp_path):
    """A ~2 MiB CSV is parsed and written as more than one part with every
    row intact; a small file stays one part; the split conf is restored."""
    from pyspark.sql import functions as F

    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    big = tmp_path / "big.csv"
    ids = range(100_000, 136_000)  # INT from the first row
    big.write_text("id,note\n" + "".join(f"{i},{'x' * 50}\n" for i in ids))
    assert big.stat().st_size > 2 * 10**6
    assert ctx.import_file(str(big)) == 36000
    small = tmp_path / "small.csv"
    small.write_text("id,note\n1,a\n2,b\n")
    assert ctx.import_file(str(small)) == 2
    assert spark.conf.get(key) == before

    def parts(table):
        df = ctx.backend.read_table(table)
        return df.select(F.input_file_name()).distinct().count(), df

    n, df = parts("big")
    assert n > 1
    row = df.agg(F.count("*").alias("n"), F.sum("id").alias("s"), F.countDistinct("id")).first()
    assert (row["n"], row["s"], row[2]) == (36000, sum(ids), 36000)
    assert parts("small")[0] == 1


def test_create_table_schema_matches_spark_write(ctx, spark, tmp_path):
    """create_table writes its empty data file without a Spark job; the
    table reads back with the schema of an empty frame written by Spark."""
    from diepy_spark.functions.inference import ColumnSpec, to_struct_type

    specs = [
        ColumnSpec("s", "int", max_value=1), ColumnSpec("i", "int", max_value=40000),
        ColumnSpec("f", "float", nullable=True), ColumnSpec("d", "date"),
        ColumnSpec("ts", "datetime"), ColumnSpec("t", "text", length=70),
        ColumnSpec("b", "int", max_value=2**40), ColumnSpec("tm", "time"),
    ]
    ctx.backend.create_table("empty", specs)
    ref = str(tmp_path / "ref")
    spark.createDataFrame([], to_struct_type(specs)).write.parquet(ref)
    got, want = ctx.backend.read_table("empty").schema, spark.read.parquet(ref).schema
    assert got.simpleString() == (
        "struct<s:smallint,i:int,f:double,d:date,ts:timestamp,t:string,b:bigint,tm:string>"
    )
    assert got.json() == want.json()
    assert ctx.backend.read_table("empty").count() == 0
