"""Sinks: per-period CSV export, Excel review sheet.

Reference semantics (K1-K3):

- K1 per-period CSV export (``update_pnls_report/utils.py:395-418``): one
  ``<period>.csv`` file per distinct month.
- K2 parquet state write (``update_pnls_report/extract_chu_data.py:381,
  502``) lives in ``operators.fuzzy.upsert_parquet_state`` (atomic
  read-modify-write).
- K3 Excel template writer (``update_pnls_report/utils.py:186-194``):
  flagged review rows into a pre-styled workbook — driver-side, through
  the stdlib xlsx codec.

``export_csv_per_period`` reproduces the reference's exact
one-file-per-period naming with a driver-side loop over the (bounded,
≤ dozens) period set — each iteration is a pushed-down filter +
single-file write of one month's slice.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hiv_data_integration_spark.io.excel import write_xlsx_cells

__all__ = [
    "export_csv_per_period",
    "write_excel_review",
    "run_notebook_hook",
    "export_training_shards",
]


def export_csv_per_period(
    df: DataFrame, period_col: str, out_dir: str, fmt: str = "%s.csv"
) -> list[str]:
    """Reference-exact naming: one ``<period>.csv`` per distinct period.

    The distinct-period list is collected (bounded: monthly periods), then
    each month writes via ``coalesce(1)`` into a staging dir whose single
    part file is renamed into place. Returns the written paths sorted.
    """
    os.makedirs(out_dir, exist_ok=True)
    # persist: the distinct-period scan plus one filtered write per period
    # would otherwise re-execute the full upstream plan N+1 times (and on
    # a changing source could produce mutually inconsistent files)
    df = df.persist()
    try:
        periods = [
            r[0]
            for r in df.select(
                F.col(period_col).cast("string")
            ).distinct().collect()
            if r[0] is not None
        ]
        written: list[str] = []
        for p in sorted(periods):
            staging = os.path.join(out_dir, f".__{p}_staging__")
            (
                df.filter(F.col(period_col).cast("string") == p)
                .coalesce(1)
                .write.mode("overwrite")
                .option("header", True)
                .csv(staging)
            )
            part = glob.glob(os.path.join(staging, "part-*.csv"))[0]
            final = os.path.join(out_dir, fmt % p)
            shutil.move(part, final)
            shutil.rmtree(staging)
            written.append(final)
        return written
    finally:
        df.unpersist()


def write_excel_review(
    df: DataFrame,
    template_path: str,
    sheet: str,
    output_path: str,
    start_row: int = 6,
) -> None:
    """Write flagged review rows into a pre-styled workbook sheet starting
    at ``start_row`` (row 4 for PTME sheets in the reference), saving to
    ``output_path`` — never back over the template, which must stay
    pristine across runs (a re-run with fewer flagged rows would otherwise
    leave the previous run's stale rows in the sheet). Driver-side
    ``toPandas`` is correct here: review extracts are human-scale.

    Cells go through the stdlib template-preserving writer
    (``io.excel.write_xlsx_cells``) — every untouched workbook part is
    copied byte-identical, so the template's styling survives."""
    pdf = df.toPandas()
    rows = [list(t) for t in pdf.itertuples(index=False)]
    write_xlsx_cells(template_path, sheet, output_path, rows, start_row)


def run_notebook_hook(
    input_path: str,
    output_path: str,
    parameters: dict | None = None,
    use_subprocess: bool = False,
) -> None:
    """K4 notebook-execution sink: the reference's post-export papermill
    refresh (``update_pnls_report/pipeline.py:410-453``). Pure
    ORCHESTRATION, deliberately outside the engine (SURVEY.md §2.2): it
    runs after all DataFrames are written and touches no Spark state.

    In-process ``papermill.execute_notebook`` when importable; with
    ``use_subprocess`` the module CLI (``python -m papermill``) runs
    isolated from the driver's Python (kernel crashes can't take down the
    Spark driver). Gated with a clear error when papermill isn't shipped.
    """
    os.makedirs(os.path.dirname(output_path) or ".", exist_ok=True)
    if use_subprocess:
        import subprocess
        import sys

        cmd = [sys.executable, "-m", "papermill", input_path, output_path]
        for k, v in (parameters or {}).items():
            cmd += ["-p", str(k), str(v)]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        if proc.returncode != 0:
            raise RuntimeError(
                f"papermill subprocess failed ({proc.returncode}): "
                f"{proc.stderr.strip()[-500:]}"
            )
        return
    try:
        import papermill as pm  # noqa: PLC0415
    except ImportError as e:  # pragma: no cover - papermill absent here
        raise NotImplementedError(
            "notebook execution needs papermill (not shipped in this "
            "container); install it or call with use_subprocess=True on a "
            "host that has it"
        ) from e
    pm.execute_notebook(  # pragma: no cover
        input_path=input_path, output_path=output_path,
        parameters=parameters or {},
    )


def export_training_shards(
    df: DataFrame,
    id_col: str,
    out_dir: str,
    n_shards: int = 16,
    fmt: str = "parquet",
) -> None:
    """Export a corpus as ``n_shards`` deterministic shards for training
    ingestion: shard = ``floor(hash_bucket(id) * n / 65536)`` — a pure
    function of the row id (operators.sampling math), so re-runs, appends,
    and different cluster sizes always route a document to the same shard
    (resumable exports, reproducible data order across epochs).

    One shuffle-free ``partitionBy`` write: each task appends to the shard
    directories it sees — no repartition, no sampled range boundaries
    (``repartitionByRange`` samples, which would make shard contents
    run-dependent). ``fmt`` is ``parquet`` or ``json`` (JSONL).
    """
    from hiv_data_integration_spark.operators.sampling import BUCKETS, hash_bucket

    if not 1 <= n_shards <= BUCKETS:
        raise ValueError(f"n_shards must be in [1, {BUCKETS}]")
    shard = F.floor(
        hash_bucket(F.col(id_col), salt="shard:") * n_shards / BUCKETS
    ).cast("int")
    (
        df.withColumn("shard", shard)
        .write.partitionBy("shard")
        .format(fmt)
        .mode("overwrite")
        .save(out_dir)
    )
