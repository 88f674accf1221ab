"""File-format scans: suffix-dispatched Spectrum reader + JSON dict scan.

Reference semantics:

- S2/S1 Spectrum file scan with suffix dispatch (parquet / csv / xlsx) —
  ``update_pnls_report_with_spectrum_path/utils.py:27-65``.
- S8 JSON dict scan → two-column mapping DataFrame —
  ``update_pnls_report/extract_naomi_data.py:134-143``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from hiv_data_integration_spark.io.excel import excel_sheet_to_spark, read_excel_sheet

__all__ = [
    "read_spectrum",
    "json_dict_source",
    "read_jsonl_corpus",
]


def read_spectrum(spark: SparkSession, path: str) -> DataFrame:
    """Suffix-dispatched scan: ``.parquet`` / ``.csv`` / ``.xlsx``.

    CSV reads with header + schema inference (the reference relies on
    polars inference the same way); xlsx goes through the driver-side
    stdlib Excel codec.
    """
    suffix = os.path.splitext(path)[1].lower()
    if suffix in (".parquet", ".pq"):
        return spark.read.parquet(path)
    if suffix == ".csv":
        return spark.read.csv(path, header=True, inferSchema=True)
    if suffix == ".xlsx":
        return excel_sheet_to_spark(spark, read_excel_sheet(path))
    if suffix == ".xls":
        # the stdlib xlsx codec cannot parse legacy binary .xls (BIFF) —
        # fail with the real reason before the Excel path is tried
        raise ValueError("legacy .xls is not supported (requires xlrd); convert to .xlsx")
    raise ValueError(f"unsupported spectrum file format: {suffix!r}")


def json_dict_source(
    spark: SparkSession,
    path: str,
    key_col: str = "code",
    value_col: str = "organisation_unit_id",
) -> DataFrame:
    """``{"key": "value", ...}`` JSON file → two-column mapping DataFrame
    (broadcast-scale dim; the NAOMI district↔DHIS2 mapping shape)."""
    with open(path) as fh:
        mapping = json.load(fh)
    # mapping files in the wild mix string and numeric ids — stringify both
    # sides instead of crashing type verification on the declared schema
    rows = [
        (str(k), None if v is None else str(v)) for k, v in mapping.items()
    ]
    return spark.createDataFrame(rows, f"{key_col} string, {value_col} string")


def read_jsonl_corpus(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """Newline-delimited JSON corpus scan — the interchange format of LLM
    training data (one document object per line).

    With ``schema`` given (DDL string) the read is a single distributed
    pass with no inference job; without it Spark samples to infer (fine
    interactively, avoid on 100 TB). JSONL splits by line, so a directory
    of .jsonl files parallelizes like any text source; corrupt lines land
    in ``_corrupt_record`` instead of failing the scan (PERMISSIVE mode).
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)
