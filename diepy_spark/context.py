"""DiepyContext — the library API (reference entry points: core.py:53-84,
115-186, 287-297). A thin orchestrator over a SparkSession + backend:

    ctx = DiepyContext(spark, server="test", config="diepy.ini")
    ctx.import_file("data.csv")             # infer → create → load
    ctx.export_table("data", "out.csv.gz")  # scan → render → write

An import reads the file twice: the first 20,000 rows for inference, then
one parse → cast → write action, split across the session's cores
(split_scan). That action also counts the rows it stored and, per column,
the non-empty cells that did not fit the inferred type and were stored as
NULL (apply_schema's observation), so import_file returns the row count
without another scan.

Error policy: fail-fast by default — an import with rejected cells raises
ValueError, naming the column, the count and an example value, and the
parquet warehouse keeps the table as it was (the write is staged and moved
in only after the check; a JDBC database keeps the committed rows).
``lenient=True`` logs the same facts, stores the rows and returns the row
count, and for any other error restores the reference's log-and-continue
behavior (quirk Q2).
"""

from __future__ import annotations

import glob as globmod
import logging
import os

from pyspark.sql import DataFrame, Observation, SparkSession

from diepy_spark.core.database import make_backend
from diepy_spark.functions.inference import infer_from_dataframe
from diepy_spark.sources.excel import read_excel_sheets, sheet_to_untyped_df, split_sheet_address
from diepy_spark.sources.files import (
    apply_schema,
    import_report,
    is_excel_path,
    read_untyped_csv,
    split_scan,
    unzipped,
)
from diepy_spark.sources.writers import write_csv, write_xlsx

logger = logging.getLogger("diepy_spark")


class DiepyContext:
    def __init__(
        self,
        spark: SparkSession,
        server: str,
        database: str | None = None,
        config: str | None = None,
        lenient: bool = False,
    ):
        self.spark = spark
        self.backend = make_backend(spark, server, database, config)
        self.lenient = lenient

    # ---- import ------------------------------------------------------------

    def import_path(
        self, src: str, table: str | None = None, schema: str | None = None,
        delimiter: str = ",", truncate: bool = False,
    ) -> None:
        """File / directory / glob routing (cli.py:132-144, core.py:71-79)."""
        if os.path.isfile(src) or "$" in src:
            self.import_file(src, table, schema, delimiter, truncate)
        elif os.path.isdir(src):
            for p in sorted(os.listdir(src)):
                full = os.path.join(src, p)
                if not full.endswith(".csv"):
                    continue
                logger.info("Importing: %s", full)
                self.import_file(full, None, schema, delimiter, truncate)
        else:
            for full in sorted(globmod.glob(src)):
                # the reference's glob branch imports only .csv matches
                # (cli.py:140-144), same as the directory branch
                if not full.endswith(".csv"):
                    continue
                self.import_file(full, None, schema, delimiter, truncate)

    def import_file(
        self, filepath: str, table: str | None = None, schema: str | None = None,
        delimiter: str = ",", truncate: bool = False,
    ) -> int | None:
        """Infer, create (when missing) and load ``filepath`` into
        ``table``; returns the rows stored. Cells that do not fit their
        inferred type raise ValueError unless lenient (see the module
        docstring). On the parquet warehouse that check runs before the
        rows become visible, so a raising import leaves the table as it
        was, old rows included under ``truncate``. On a JDBC database
        the rows have been committed by then and stay."""
        try:
            if is_excel_path(filepath):
                return self._import_excel(filepath, table, schema, truncate)
            if not table:
                table = os.path.splitext(os.path.basename(filepath))[0]
                if table.endswith((".csv", ".tab", ".tsv", ".txt")):  # x.csv.gz
                    table = os.path.splitext(table)[0]
            with unzipped(filepath) as src:
                raw = read_untyped_csv(self.spark, src, delimiter)
                specs = infer_from_dataframe(raw)
                if not self.backend.table_exists(table, schema):
                    self.backend.create_table(table, specs, schema)
                obs = Observation()
                typed = apply_schema(raw, specs, obs)
                with split_scan(raw):
                    return self.backend.append(
                        typed, table, schema, truncate=truncate,
                        check=lambda: self._stored(obs, specs, filepath),
                    )
        except Exception:
            if self.lenient:
                logger.exception("Had some trouble storing %s", filepath)
                return None
            raise

    def _import_excel(
        self, filepath: str, table: str | None, schema: str | None, truncate: bool
    ) -> int | None:
        path, sheet = split_sheet_address(filepath)
        sheets = read_excel_sheets(path, sheet)
        total = 0
        for sheet_name, pdf in sheets.items():
            try:
                tname = table or sheet_name
                if len(pdf) == 0 and len(pdf.columns) == 0:
                    logger.warning("No data found.")
                    continue
                sdf, specs = sheet_to_untyped_df(self.spark, pdf)
                if not self.backend.table_exists(tname, schema):
                    self.backend.create_table(tname, specs, schema)
                obs = Observation()
                typed = apply_schema(sdf, specs, obs)
                total += self.backend.append(
                    typed, tname, schema, truncate=truncate,
                    check=lambda: self._stored(obs, specs, f"{path}${sheet_name}"),
                )
            except Exception:
                if self.lenient:
                    logger.exception("Had trouble importing worksheet: %s", sheet_name)
                    continue
                raise
        return total

    def _stored(self, obs: Observation, specs: list, source: str) -> int:
        """Rows the append stored; its rejected cells raise ValueError, or
        are logged when lenient."""
        rows, problems = import_report(obs, specs)
        if problems:
            msg = f"{source}: " + "; ".join(problems)
            if not self.lenient:
                raise ValueError(msg)
            logger.warning(msg)
        return rows

    # ---- export ------------------------------------------------------------

    def export_table(
        self, table: str, filename: str, schema: str | None = None,
        unix: bool = False, windows: bool = False, zip: bool = False,
    ) -> str:
        df: DataFrame = self.backend.read_table(table, schema)
        if is_excel_path(filename):
            return write_xlsx(df, filename, sheet_name=table)
        return write_csv(df, filename, unix=unix, windows=windows, zip=zip)
