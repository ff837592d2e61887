"""File sinks: CSV/TSV and JSON-Lines (+gzip) and filename decoration.

Reference behavior (core.py:299-336, cli.py:54-82): header row, delimiter by
output extension (.tab/.tsv ⇒ tab), line terminator unix/windows/os-default,
gzip for .gz/--zip (we implement the DOCUMENTED gzip semantics — the
reference has a positional-arg bug, quirk Q1), and --datestamp/--timestamp
filename decoration.

Every export is one file at the exact requested name, as the reference
always wrote: Spark writes a single part (coalesce(1)) into a temp dir
next to it, and the part is moved into place.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from datetime import datetime

from pyspark.sql import DataFrame, DataFrameWriter

from diepy_spark.functions.rendering import render_for_export
from diepy_spark.sources.files import delimiter_for


def decorate_filename(path: str, datestamp: bool = False, timestamp: bool = False, now: datetime | None = None) -> str:
    """--datestamp → name-YYYY.MM.DD.ext; --timestamp → name-YYYY.MM.DD.HHMM.ext
    (cli.py:77-82)."""
    if not (datestamp or timestamp):
        return path
    now = now or datetime.now()
    base, ext = os.path.splitext(path)
    if ext == ".gz":
        base, inner = os.path.splitext(base)
        ext = inner + ext
    stamp = now.strftime("%Y.%m.%d.%H%M") if timestamp else now.strftime("%Y.%m.%d")
    return f"{base}-{stamp}{ext}"


def _line_sep(unix: bool, windows: bool) -> str:
    if unix:
        return "\n"
    if windows:
        return "\r\n"
    return os.linesep


def _write_one_part(writer: DataFrameWriter, path: str) -> str:
    """Save `writer` (of a coalesce(1) frame) into a temp dir beside
    `path`, then move its single part file to `path`."""
    tmp = tempfile.mkdtemp(prefix="diepy-export-", dir=os.path.dirname(os.path.abspath(path)) or ".")
    try:
        writer.mode("overwrite").save(tmp)
        part = glob.glob(os.path.join(tmp, "part-*"))[0]
        shutil.move(part, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def write_csv(
    df: DataFrame,
    path: str,
    unix: bool = False,
    windows: bool = False,
    zip: bool = False,
) -> str:
    """Write a rendered CSV/TSV to exactly `path` (one file, byte-stream
    equivalent to the reference's output), gzip'd when the name says so
    or zip=True."""
    if zip and not path.endswith(".gz"):
        path += ".gz"
    compressed = path.endswith(".gz")
    writer = (
        render_for_export(df).coalesce(1).write.format("csv").options(
            header=True, sep=delimiter_for(path), lineSep=_line_sep(unix, windows),
            emptyValue="", nullValue="",
        ).option("compression", "gzip" if compressed else "none")
    )
    return _write_one_part(writer, path)


def write_xlsx(df: DataFrame, path: str, sheet_name: str, max_rows: int = 1_000_000) -> str:
    """Table → worksheet named after the table; replaces a same-named sheet
    in an existing workbook (core.py:338-358, quirk Q10 preserved).

    Driver-bound by design (xlsx is not a distributed format); guarded by
    max_rows so a cluster-scale table can't flatten the driver: one scan
    fetches at most max_rows + 1 rows, and one row too many raises."""
    pdf = df.limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        raise ValueError(
            f"xlsx export is driver-bound; table has more than {max_rows} rows "
            "(the guard). Export to CSV/parquet instead."
        )
    rows = [list(pdf.columns)] + [
        [v if not (isinstance(v, float) and v != v) else None for v in row]
        for row in pdf.itertuples(index=False, name=None)
    ]
    try:
        import openpyxl
    except ImportError:
        # stdlib fallback: read any existing workbook, replace/append the
        # target sheet (Q10 semantics), rewrite the whole file.
        from diepy_spark.sources import xlsx_lite

        sheets = xlsx_lite.read_workbook(path) if os.path.isfile(path) else {}
        sheets.pop(sheet_name, None)  # replaced sheet moves to the end,
        sheets[sheet_name] = rows     # matching openpyxl del+create_sheet
        return xlsx_lite.write_workbook(path, sheets)

    if os.path.isfile(path):
        wb = openpyxl.load_workbook(path)
        if sheet_name in wb.sheetnames:
            del wb[sheet_name]
        ws = wb.create_sheet(title=sheet_name)
    else:
        wb = openpyxl.Workbook()
        ws = wb.active
        ws.title = sheet_name

    for row in rows:
        ws.append(row)
    wb.save(path)
    return path


def write_jsonl(df: DataFrame, path: str) -> str:
    """JSON-Lines export with the SAME value rendering as write_csv (K7:
    bools as 1/0, Python-isoformat timestamps, NULL fields omitted per the
    JSON convention and read back as NULL) so either format round-trips
    through the inference lattice identically. One file at exactly
    `path`, gzip by filename extension, as with CSV."""
    compressed = path.endswith(".gz")
    writer = render_for_export(df).coalesce(1).write.format("json").option(
        "compression", "gzip" if compressed else "none"
    )
    return _write_one_part(writer, path)
