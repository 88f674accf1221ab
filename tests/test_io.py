"""IO adapter tests: driver-side REST fetch (retry/drop), NAOMI JSON
flatten, Excel nested-header surgery, per-period CSV export."""

from __future__ import annotations

import csv
import json
import logging
import os
import threading
from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hiv_data_integration_spark.io import excel, rest, sinks


# --- REST fan-out ----------------------------------------------------------


def test_dhis2_analytics_source_grid(spark):
    def fake_analytics_fetch(param: dict) -> list[dict]:
        de, pe = param["data_element"], param["period"]
        return [
            {
                "data_element_id": de,
                "category_option_combo_id": "coc1",
                "organisation_unit_id": f"ou{i}",
                "period": pe,
                "value": str(10 * i),
            }
            for i in (1, 2)
        ]

    out = rest.dhis2_analytics_source(
        spark,
        fake_analytics_fetch,
        data_elements=["deA", "deB"],
        periods=["202401", "202402"],
        retry_sleep=0.0,
    )
    rows = out.collect()
    assert len(rows) == 2 * 2 * 2  # de x period x 2 org units
    assert out.columns == [
        "data_element_id",
        "category_option_combo_id",
        "organisation_unit_id",
        "period",
        "value",
    ]
    assert {r.period for r in rows} == {"202401", "202402"}


def _flaky_fetch(attempts: Counter, lock: threading.Lock):
    """deB fails on its first call and then succeeds; deC always fails."""

    def fetch(param: dict) -> list[dict]:
        de = param["data_element"]
        with lock:  # fetchers run on several threads at once
            attempts[de] += 1
            n = attempts[de]
        if de == "deC" or (de == "deB" and n == 1):
            raise RuntimeError(f"{de} down")
        return [
            {
                "data_element_id": de,
                "category_option_combo_id": "c",
                "organisation_unit_id": "ou",
                "period": param["period"],
                "value": "1",
            }
        ]

    return fetch


def test_fetch_retry_then_success_and_drop(spark):
    """deB is retried through; deC is dropped after its retries. Every
    request runs when the source is called, and only then."""
    attempts: Counter = Counter()
    max_retries = 2
    out = rest.dhis2_analytics_source(
        spark,
        _flaky_fetch(attempts, threading.Lock()),
        data_elements=["deA", "deB", "deC"],
        periods=["202401"],
        max_retries=max_retries,
        retry_sleep=0.0,
    )
    expected = {"deA": 1, "deB": 2, "deC": max_retries + 1}
    assert attempts == expected
    got = {r.data_element_id for r in out.collect()}
    assert got == {"deA", "deB"}  # deC dropped, deB retried through
    assert attempts == expected  # evaluating the frame fetches nothing


def test_fetch_drops_are_logged(spark, caplog):
    """One warning per source call names the dropped count and params."""
    with caplog.at_level(logging.WARNING, logger=rest.__name__):
        rest.dhis2_analytics_source(
            spark,
            _flaky_fetch(Counter(), threading.Lock()),
            data_elements=["deA", "deB", "deC"],
            periods=["202401", "202402"],
            retry_sleep=0.0,
        )
    warnings = [r for r in caplog.records if r.name == rest.__name__]
    assert len(warnings) == 1 and warnings[0].levelno == logging.WARNING
    msg = warnings[0].getMessage()
    assert "dropped 2 of 6 requests" in msg
    for pe in ("202401", "202402"):
        assert str({"data_element": "deC", "period": pe, "org_unit_level": 4}) in msg
    assert "'deA'" not in msg and "'deB'" not in msg


def test_naomi_source_flattens_nested_json(spark):
    def fake_naomi_fetch(param: dict) -> list[dict]:
        payload = [
            {
                "subareas": [
                    {
                        "subareas": [
                            {"code": "CIV_2_101", "name": "abobo", "mean": 11.0},
                            {"code": "CIV_2_102", "name": "cocody", "mean": 22.0},
                        ]
                    }
                ]
            }
        ]
        return [
            {
                "indicator": param["indicator"],
                "coc_name": f"{param['age_code']}, {param['sex']}",
                "payload_json": json.dumps(payload),
            }
        ]

    out = rest.naomi_source(spark, fake_naomi_fetch, retry_sleep=0.0)
    rows = out.collect()
    # 28 grid cells x 2 leaf districts
    assert len(rows) == 56
    assert out.columns == ["code", "name", "mean", "indicator", "coc_name"]
    sample = {(r.code, r.mean) for r in rows}
    assert ("CIV_2_101", 11.0) in sample and ("CIV_2_102", 22.0) in sample


# --- Excel header surgery --------------------------------------------------


def test_flatten_two_row_header():
    pdf = pd.DataFrame(
        {
            "Formations sanitaires": ["", "", "CHU Cocody", "CHU Treichville"],
            "indicateur_11": ["0-4 ans", "M", "5", "7"],
            "__UNNAMED__2": ["0-4 ans", "F", "6", "8"],
            "__UNNAMED__3": ["5-9 ans", None, "9", "10"],
        }
    )
    out = excel.flatten_two_row_header(pdf)
    assert list(out.columns) == [
        "Formations sanitaires",
        "indicateur_11_0-4 ans_M",
        "indicateur_11_0-4 ans_F",
        "indicateur_11_5-9 ans",
    ]
    assert len(out) == 2
    assert out.iloc[0]["indicateur_11_0-4 ans_F"] == "6"


def test_flatten_requires_label_rows():
    with pytest.raises(ValueError):
        excel.flatten_two_row_header(pd.DataFrame({"a": [1]}))


def test_excel_sheet_to_spark_roundtrip(spark):
    pdf = pd.DataFrame(
        {
            "Etablissements": ["", "", "CHU A"],
            "indicateur_1": ["<15 ans", "M", "3"],
            "__UNNAMED__2": ["<15 ans", "F", ""],
        }
    )
    sdf = excel.excel_sheet_to_spark(spark, pdf, flatten_nested_header=True)
    assert sdf.count() == 1
    assert "indicateur_1_<15 ans_M" in sdf.columns


def test_read_excel_sheet_gating():
    """.xlsx reads go through the stdlib codec; only legacy binary .xls
    stays gated with a clear message."""
    with pytest.raises(NotImplementedError, match="xls"):
        excel.read_excel_sheet("/nonexistent.xls")
    # .xlsx goes to the stdlib codec (missing file -> normal file error)
    with pytest.raises(FileNotFoundError):
        excel.read_excel_sheet("/nonexistent.xlsx")


# --- Sinks -----------------------------------------------------------------


def test_export_csv_per_period(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", "202401", 1), ("b", "202401", 2), ("c", "202402", 3)],
        "site string, periode string, v int",
    )
    out_dir = str(tmp_path / "csv")
    written = sinks.export_csv_per_period(df, "periode", out_dir)
    assert [os.path.basename(p) for p in written] == ["202401.csv", "202402.csv"]
    with open(written[0]) as fh:
        rows = list(csv.DictReader(fh))
    assert {r["site"] for r in rows} == {"a", "b"}
    # no staging debris
    assert not [p for p in os.listdir(out_dir) if "staging" in p]


def test_read_spectrum_dispatch(spark, tmp_path):
    from hiv_data_integration_spark.io import files

    df = spark.createDataFrame(
        [("CIV_1", "f1", "202412", 10)],
        "code string, organisation_unit_id string, period string, v int",
    )
    pq = str(tmp_path / "spectrum.parquet")
    cv = str(tmp_path / "spectrum.csv")
    df.write.parquet(pq)
    df.coalesce(1).write.option("header", True).csv(cv)
    assert files.read_spectrum(spark, pq).count() == 1
    back = files.read_spectrum(spark, cv)
    assert back.count() == 1 and back.collect()[0].code == "CIV_1"
    with pytest.raises(ValueError, match="unsupported"):
        files.read_spectrum(spark, "/x/spectrum.feather")


def test_json_dict_source(spark, tmp_path):
    from hiv_data_integration_spark.io import files

    p = str(tmp_path / "mapping.json")
    with open(p, "w") as fh:
        json.dump({"CIV_2_101": "ouA", "CIV_2_102": "ouB"}, fh)
    df = files.json_dict_source(spark, p)
    assert df.columns == ["code", "organisation_unit_id"]
    assert {(r.code, r.organisation_unit_id) for r in df.collect()} == {
        ("CIV_2_101", "ouA"),
        ("CIV_2_102", "ouB"),
    }


def test_partitioned_layout_prunes_partitions(spark, tmp_path):
    """The partitionBy layout must turn an event_type filter into a
    PartitionFilter (directory pruning), not a post-scan predicate — the
    property COVERAGE.md claims for battery:partitioned_parquet_pruning."""
    import re

    import pyspark.sql.functions as F

    base = str(tmp_path / "pev")
    ev = spark.createDataFrame(
        [("click", 1, 1.0), ("view", 2, 2.0), ("click", 3, 3.0)],
        "event_type string, user_id long, value double",
    )
    ev.write.mode("overwrite").partitionBy("event_type").parquet(base)
    scan = spark.read.parquet(base).filter(F.col("event_type") == "click")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*event_type[^\]]*\]", plan)
    assert m, plan
    assert scan.count() == 2


def test_notebook_hook_gated_message(tmp_path):
    """K4 orchestration hook: clear gating when papermill is absent."""
    with pytest.raises(NotImplementedError, match="papermill"):
        sinks.run_notebook_hook(
            str(tmp_path / "in.ipynb"), str(tmp_path / "out" / "o.ipynb")
        )
    # the subprocess variant surfaces the module's own failure, not a crash
    with pytest.raises(RuntimeError, match="papermill subprocess failed"):
        sinks.run_notebook_hook(
            str(tmp_path / "in.ipynb"),
            str(tmp_path / "out" / "o.ipynb"),
            parameters={"year": 2024},
            use_subprocess=True,
        )
    # output dir was prepared either way (reference mkdir parents semantics)
    assert (tmp_path / "out").is_dir()


def _make_xlsx(path, sheets):
    """Minimal hand-rolled .xlsx builder (zip of XML parts) for tests:
    strings go through sharedStrings (cell t='s'), numbers are plain
    <v> cells, None leaves a gap. Independent of the reader under test."""
    import zipfile

    shared: list[str] = []

    def sref(s):
        if s not in shared:
            shared.append(s)
        return shared.index(s)

    def col_letter(n0):
        n, out = n0 + 1, ""
        while n > 0:
            n, rem = divmod(n - 1, 26)
            out = chr(ord("A") + rem) + out
        return out

    sheet_xmls = []
    for grid in sheets.values():
        rows_xml = []
        for r, row in enumerate(grid, start=1):
            cells = []
            for c, val in enumerate(row):
                if val is None:
                    continue
                ref = f"{col_letter(c)}{r}"
                if isinstance(val, str):
                    cells.append(f'<c r="{ref}" t="s"><v>{sref(val)}</v></c>')
                else:
                    cells.append(f'<c r="{ref}"><v>{val}</v></c>')
            rows_xml.append(f'<row r="{r}">{"".join(cells)}</row>')
        sheet_xmls.append(
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/'
            'spreadsheetml/2006/main"><sheetData>'
            + "".join(rows_xml)
            + "</sheetData></worksheet>"
        )

    ns_main = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    ns_rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    sheets_el = "".join(
        f'<sheet name="{name}" sheetId="{i+1}" r:id="rId{i+1}"/>'
        for i, name in enumerate(sheets)
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{ns_main}" xmlns:r="{ns_rel}">'
        f"<sheets>{sheets_el}</sheets></workbook>"
    )
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
        '2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i+1}" Type="{ns_rel}/worksheet" '
            f'Target="worksheets/sheet{i+1}.xml"/>'
            for i in range(len(sheets))
        )
        + f'<Relationship Id="rId{len(sheets)+1}" Type="{ns_rel}/sharedStrings" '
        'Target="sharedStrings.xml"/></Relationships>'
    )
    sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<sst xmlns="{ns_main}" count="{len(shared)}" uniqueCount="{len(shared)}">'
        + "".join(f"<si><t>{s}</t></si>" for s in shared)
        + "</sst>"
    )
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/sharedStrings.xml", sst)
        for i, xml in enumerate(sheet_xmls):
            zf.writestr(f"xl/worksheets/sheet{i+1}.xml", xml)


def test_stdlib_xlsx_read_roundtrip(tmp_path):
    """S3 ungated: a real .xlsx (built independently) read through
    read_excel_sheet's stdlib codec — headers, Unnamed placeholders,
    shared strings, numbers, gaps."""
    path = str(tmp_path / "chu.xlsx")
    _make_xlsx(
        path,
        {
            "PEC": [
                ["Etablissements", "indicateur_11", None, "Mois"],
                ["CHU de Cocody", 5.0, "x", "202401"],
                ["CSU Abobo", None, "y", "202402"],
            ],
            "CD": [["a"], [1.0]],
        },
    )
    from hiv_data_integration_spark.io import excel

    assert excel.xlsx_sheet_names(path) == ["PEC", "CD"]
    pdf = excel.read_excel_sheet(path, "PEC")
    assert list(pdf.columns) == [
        "Etablissements", "indicateur_11", "Unnamed: 2", "Mois",
    ]
    assert pdf.iloc[0].tolist() == ["CHU de Cocody", 5.0, "x", "202401"]
    assert pd.isna(pdf.iloc[1]["indicateur_11"])  # gap -> NaN (pandas float col)
    # by-index selection + clear error on a missing sheet
    assert excel.read_excel_sheet(path, 1).columns.tolist() == ["a"]
    with pytest.raises(ValueError, match="available"):
        excel.read_excel_sheet(path, "Inconnu")


def test_stdlib_xlsx_review_write_preserves_template(spark, tmp_path):
    """K3 ungated: flagged rows written into a template workbook through
    the stdlib writer; untouched parts (other sheets, shared strings) stay
    byte-identical and existing rows outside the block survive."""
    import zipfile

    template = str(tmp_path / "template.xlsx")
    out = str(tmp_path / "review.xlsx")
    _make_xlsx(
        template,
        {
            "IST": [
                ["Region", "District", "Facility", "Valeur"],
                ["header2", None, None, None],
            ],
            "Autres": [["keep"], ["me"]],
        },
    )
    flagged = spark.createDataFrame(
        [("R1", "D1", "F1", 7.0), ("R1", "D2", "F2", 9.5)],
        "region string, district string, facility string, v double",
    )
    sinks.write_excel_review(flagged, template, "IST", out, start_row=6)

    from hiv_data_integration_spark.io import excel

    pdf = excel.read_excel_sheet(out, "IST")
    # rows 6-7 landed (pandas-side: header row consumed, so data index 4/5)
    assert pdf.iloc[4].tolist() == ["R1", "D1", "F1", 7.0]
    assert pdf.iloc[5].tolist() == ["R1", "D2", "F2", 9.5]
    # pre-existing row survived
    assert pdf.iloc[0]["Region"] == "header2"
    # untouched zip parts are byte-identical
    with zipfile.ZipFile(template) as a, zipfile.ZipFile(out) as b:
        for name in a.namelist():
            if name != "xl/worksheets/sheet1.xml":
                assert a.read(name) == b.read(name), name


def test_pipeline_c_from_xlsx_file(spark, tmp_path):
    """Entry point C from REAL workbook bytes, no Excel library: a two-row
    nested-header CHU sheet (merged-cell Unnamed placeholders) read via the
    stdlib codec, flattened, surgered, and run through the full pipeline."""
    from hiv_data_integration_spark.io.headers import standardize_chu_columns
    from hiv_data_integration_spark.pipeline import run_pipeline_c

    ROOT = "ZD44Asc0bAk"
    path = str(tmp_path / "chu.xlsx")
    # top header row: indicator label spans two columns (second is a gap ->
    # Unnamed placeholder); data rows 1-2 carry the age/sex sub-labels
    _make_xlsx(
        path,
        {
            "PEC": [
                ["Etablissements", "Mois", "indicateur_11", None],
                [None, None, "age_0_4_ans", "age_0_4_ans"],
                [None, None, "F", "M"],
                ["CHU de Cocody", "202401", 4.0, 6.0],
            ],
        },
    )
    from hiv_data_integration_spark.io import excel

    pdf = excel.read_excel_sheet(path, "PEC")
    sdf = excel.excel_sheet_to_spark(spark, pdf, flatten_nested_header=True)
    sheet, _ = standardize_chu_columns(sdf, sheet_name="PEC")
    assert "indicateur_11_age_0_4_ans_F" in sheet.columns
    assert "indicateur_11_age_0_4_ans_M" in sheet.columns

    org_units = spark.createDataFrame(
        [
            ("d1", "DS Cocody", 3, f"/{ROOT}/r1/d1", None),
            ("f1", "CHU de Cocody", 4, f"/{ROOT}/r1/d1/f1", None),
        ],
        "id string, name string, level long, path string, geometry string",
    )
    report, _ = run_pipeline_c(
        spark,
        sheets={"PEC": (sheet, {"indicateur_11_": 11})},
        facility_col="formations_sanitaires",
        period_col="periode",
        registry_path=str(tmp_path / "reg.parquet"),
        org_units=org_units,
        report_value_columns=["F_0-4 ans", "M_0-4 ans"],
    )
    rows = {(r.idsite, r.Indicateur): r for r in report.collect()}
    r = rows[("r1_d1_f1", 11)]
    assert (r["F_0-4 ans"], r["M_0-4 ans"]) == (4, 6)


def test_stdlib_writer_numeric_types_and_cell_merge(spark, tmp_path):
    """Codec hardening: numpy scalars write as NUMBERS (not text), NaN
    writes nothing, and writing into an existing row keeps that row's
    cells outside the written block."""
    import zipfile

    import numpy as np

    template = str(tmp_path / "t.xlsx")
    out = str(tmp_path / "o.xlsx")
    # row 6 pre-exists with a cell in column E (outside the written A-C)
    _make_xlsx(
        template,
        {"S": [["h1", "h2", "h3", None, "keep-col"],
               *[[None] * 5 for _ in range(4)],
               [None, None, None, None, "survivor"]]},
    )
    from hiv_data_integration_spark.io import excel

    excel.write_xlsx_cells(
        template, "S", out,
        rows=[[np.int64(7), np.float64(2.5), float("nan")]],
        start_row=6,
    )
    # numbers came back as floats (numeric cells), NaN left a gap
    pdf = excel.read_xlsx_stdlib(out, "S")
    row = pdf.iloc[4]
    assert row["h1"] == 7.0 and row["h2"] == 2.5
    assert pd.isna(row["h3"])
    # the pre-existing cell in the same row survived the write
    assert row["keep-col"] == "survivor"
    # raw XML: the numpy int is a plain numeric cell, not inlineStr
    with zipfile.ZipFile(out) as z:
        xml = z.read("xl/worksheets/sheet1.xml").decode()
    assert '<c r="A6"><v>7</v></c>' in xml.replace("\n", "")


def test_stdlib_reader_error_and_sequential_cells(tmp_path):
    """Formula-error cells surface as literal text instead of crashing,
    and rows/cells without r attributes position sequentially."""
    import zipfile

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    nsr = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    sheet_xml = (
        '<?xml version="1.0"?>'
        f'<worksheet xmlns="{ns}"><sheetData>'
        '<row><c t="str"><v>head1</v></c><c t="str"><v>head2</v></c></row>'
        '<row><c t="e"><v>#DIV/0!</v></c><c><v>3.5</v></c></row>'
        "</sheetData></worksheet>"
    )
    path = str(tmp_path / "seq.xlsx")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(
            "xl/workbook.xml",
            f'<workbook xmlns="{ns}" xmlns:r="{nsr}"><sheets>'
            '<sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>',
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            '<Relationships xmlns="http://schemas.openxmlformats.org/'
            'package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{nsr}/worksheet" '
            'Target="worksheets/sheet1.xml"/></Relationships>',
        )
        zf.writestr("xl/worksheets/sheet1.xml", sheet_xml)
    from hiv_data_integration_spark.io import excel

    pdf = excel.read_xlsx_stdlib(path, "S")
    assert list(pdf.columns) == ["head1", "head2"]
    assert pdf.iloc[0].tolist() == ["#DIV/0!", 3.5]
    # helpful error for an out-of-range index too
    with pytest.raises(ValueError, match="available"):
        excel.read_xlsx_stdlib(path, 5)


def test_export_training_shards_deterministic_routing(spark, tmp_path):
    from hiv_data_integration_spark.io.files import read_jsonl_corpus
    from hiv_data_integration_spark.io.sinks import export_training_shards

    df = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    out1 = str(tmp_path / "a")
    out2 = str(tmp_path / "b")
    export_training_shards(df, "doc_id", out1, n_shards=4, fmt="json")
    # different partitioning, same routing
    export_training_shards(df.repartition(13), "doc_id", out2, n_shards=4, fmt="json")

    def routing(path):
        back = read_jsonl_corpus(spark, path, schema="doc_id long")
        import pyspark.sql.functions as F  # noqa: N812

        back = back.withColumn(
            "shard",
            F.regexp_extract(F.input_file_name(), r"shard=(\d+)", 1).cast("int"),
        )
        return {r.doc_id: r.shard for r in back.collect()}

    r1, r2 = routing(out1), routing(out2)
    assert r1 == r2
    assert len(r1) == 200
    assert set(r1.values()) == {0, 1, 2, 3}
    import pytest as _pt

    with _pt.raises(ValueError, match="n_shards"):
        export_training_shards(df, "doc_id", str(tmp_path / "c"), n_shards=0)
