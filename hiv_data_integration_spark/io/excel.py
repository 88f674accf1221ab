"""Excel ingest: sheet scan + two-row nested-header flattening.

Reference semantics (S3 + R4op):

- sheet discovery / typed sheet read — ``update_pnls_report/
  extract_chu_data.py:36,182`` (polars ``read_excel`` + pandas
  ``ExcelFile``).
- two-row nested-header flatten — ``update_pnls_report/
  extract_chu_data.py:213-242``: header columns named ``__UNNAMED__*``
  inherit the last explicitly-named ancestor column, suffixed with the
  age/sex labels found in the first two data rows, producing
  ``<indicator>_<age>_<sex>`` wide names; the two label rows are then
  dropped.

Spark design: CHU workbooks are small per-hospital review files, so the
byte parsing is **driver-side** (the stdlib zip/XML codec below) and the
result enters the engine via ``spark.createDataFrame`` — distributed
processing starts at the DataFrame boundary. The header surgery itself is
pure-Python column-name logic, fully testable without any Excel library.
"""

from __future__ import annotations

from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "flatten_two_row_header",
    "read_excel_sheet",
    "excel_sheet_to_spark",
    "read_xlsx_stdlib",
    "xlsx_sheet_names",
    "write_xlsx_cells",
    "write_xlsx_workbook",
]

_UNNAMED_MARKERS = ("__UNNAMED__", "Unnamed:")


def _is_unnamed(col: str) -> bool:
    return any(str(col).startswith(m) for m in _UNNAMED_MARKERS)


def flatten_two_row_header(pdf: pd.DataFrame) -> pd.DataFrame:
    """Flatten a two-row nested header into flat ``parent_label0_label1``
    column names and drop the two label rows.

    Input contract (matching the reference's post-read shape): the frame's
    columns carry the top header row (with ``__UNNAMED__``/``Unnamed:``
    placeholders under merged cells), and data rows 0-1 carry the two
    sub-header label rows. Named columns keep their name; unnamed columns
    get ``<last_named_ancestor>_<row0_label>_<row1_label>`` (labels that
    are missing/NaN are skipped).
    """
    if len(pdf) < 2:
        raise ValueError("expected >= 2 label rows before data")
    labels0 = pdf.iloc[0]
    labels1 = pdf.iloc[1]

    new_cols: list[str] = []
    ancestor: str | None = None
    for col in pdf.columns:
        col_s = str(col)
        if not _is_unnamed(col_s):
            ancestor = col_s.strip()
            parts: list[Any] = [ancestor]
        else:
            parts = [ancestor if ancestor is not None else "col"]
        for lab in (labels0[col], labels1[col]):
            if lab is not None and not (isinstance(lab, float) and pd.isna(lab)):
                s = str(lab).strip()
                if s:
                    parts.append(s)
        new_cols.append("_".join(str(p) for p in parts))

    out = pdf.iloc[2:].reset_index(drop=True).copy()
    out.columns = new_cols
    return out


def read_excel_sheet(path: str, sheet_name: str | int = 0) -> pd.DataFrame:
    """Read one worksheet into pandas (driver-side) through the stdlib
    zip/XML codec below. Legacy binary ``.xls`` (BIFF) is refused with a
    clear message."""
    if str(path).lower().endswith(".xls"):
        raise NotImplementedError(
            "legacy .xls (BIFF) is not supported; re-save it as .xlsx"
        )
    return read_xlsx_stdlib(path, sheet_name)


def excel_sheet_to_spark(
    spark: SparkSession,
    pdf: pd.DataFrame,
    flatten_nested_header: bool = False,
) -> DataFrame:
    """Driver-side pandas sheet → distributed DataFrame (the engine
    boundary for Excel sources). All-object pandas columns are stringified
    so Spark infers a stable schema from ragged Excel input."""
    if flatten_nested_header:
        pdf = flatten_two_row_header(pdf)
    pdf = pdf.copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].map(lambda x: None if pd.isna(x) else str(x))
    return spark.createDataFrame(pdf)


# ---------------------------------------------------------------------------
# Stdlib XLSX codec: an .xlsx file is a zip of XML parts, so basic reading
# (and template-preserving cell writes) need no external library. It is
# the only xlsx reader and writer, so every host runs the same codec.
# ---------------------------------------------------------------------------

_SSML = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_RELNS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"


def _col_index(cell_ref: str) -> int:
    """'BC12' -> 0-based column index of 'BC'."""
    n = 0
    for ch in cell_ref:
        if not ch.isalpha():
            break
        n = n * 26 + (ord(ch.upper()) - ord("A") + 1)
    return n - 1


def _xlsx_parts(path: str):
    """(zipfile, {sheet_name: part_path}, shared_strings) for a workbook.
    The zip handle is closed on ANY parse failure — callers only own it
    after a successful return."""
    import xml.etree.ElementTree as ET
    import zipfile

    zf = zipfile.ZipFile(path)
    try:
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
        rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
        rid_to_target = {
            r.get("Id"): r.get("Target")
            for r in rels
            if r.get("Target", "").startswith(("worksheets/", "/xl/worksheets/"))
        }
        sheet_parts: dict[str, str] = {}
        for sh in wb.find(f"{_SSML}sheets"):
            target = rid_to_target.get(sh.get(f"{_RELNS}id"), "")
            if target:
                sheet_parts[sh.get("name")] = (
                    target.lstrip("/") if target.startswith("/") else f"xl/{target}"
                )
        shared: list[str] = []
        if "xl/sharedStrings.xml" in zf.namelist():
            sst = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            for si in sst:
                shared.append(
                    "".join(t.text or "" for t in si.iter(f"{_SSML}t"))
                )
    except Exception:
        zf.close()
        raise
    return zf, sheet_parts, shared


def _resolve_sheet_part(sheet_parts: dict, sheet_name: str | int) -> str:
    """Sheet selector → part path, with the available names in every error
    (index and name selectors get the same diagnostics)."""
    if isinstance(sheet_name, int):
        parts = list(sheet_parts.values())
        if not 0 <= sheet_name < len(parts):
            raise ValueError(
                f"sheet index {sheet_name} out of range; available: "
                f"{list(sheet_parts)}"
            )
        return parts[sheet_name]
    if sheet_name not in sheet_parts:
        raise ValueError(
            f"sheet {sheet_name!r} not found; available: {list(sheet_parts)}"
        )
    return sheet_parts[sheet_name]


def xlsx_sheet_names(path: str) -> list[str]:
    """Workbook sheet names via the stdlib codec (pd.ExcelFile twin)."""
    zf, sheet_parts, _ = _xlsx_parts(path)
    zf.close()
    return list(sheet_parts)


def read_xlsx_stdlib(path: str, sheet_name: str | int = 0) -> pd.DataFrame:
    """Read one worksheet into pandas using only the stdlib zip/XML codec.

    Mirrors ``pd.read_excel`` defaults for the shapes the pipelines use:
    row 1 becomes the header (missing header cells get ``Unnamed: <i>``
    placeholders — the marker the nested-header flattener keys on), cells
    hold shared/inline strings or floats, gaps are None.
    """
    import xml.etree.ElementTree as ET

    zf, sheet_parts, shared = _xlsx_parts(path)
    try:
        part = _resolve_sheet_part(sheet_parts, sheet_name)
        root = ET.fromstring(zf.read(part))
    finally:
        zf.close()

    rows: dict[int, dict[int, object]] = {}
    max_col = -1
    prev_row = -1
    for row in root.iter(f"{_SSML}row"):
        # the r attributes are OPTIONAL per ECMA-376: streaming writers
        # position rows/cells sequentially — fall back to running counters
        r_attr = row.get("r")
        r_idx = int(r_attr) - 1 if r_attr else prev_row + 1
        prev_row = r_idx
        prev_col = -1
        for cell in row:
            ref = cell.get("r")
            c_idx = _col_index(ref) if ref else prev_col + 1
            prev_col = c_idx
            t = cell.get("t", "n")
            if t == "inlineStr":
                is_el = cell.find(f"{_SSML}is")
                val: object = (
                    "".join(x.text or "" for x in is_el.iter(f"{_SSML}t"))
                    if is_el is not None
                    else None
                )
            else:
                v = cell.find(f"{_SSML}v")
                if v is None or v.text is None:
                    val = None
                elif t == "s":
                    val = shared[int(v.text)]
                elif t in ("str", "e", "d"):
                    # cached formula strings, formula ERRORS ("#DIV/0!"),
                    # and ISO dates all surface as their literal text —
                    # crashing the whole ingest on one bad cell is worse
                    val = v.text
                elif t == "b":
                    val = bool(int(v.text))
                else:
                    try:
                        val = float(v.text)
                    except ValueError:
                        val = v.text  # malformed numeric cell -> literal
            if val is not None:
                rows.setdefault(r_idx, {})[c_idx] = val
                max_col = max(max_col, c_idx)

    if not rows:
        return pd.DataFrame()
    n_rows = max(rows) + 1
    grid = [
        [rows.get(r, {}).get(c) for c in range(max_col + 1)]
        for r in range(n_rows)
    ]
    header = [
        str(h) if h is not None else f"Unnamed: {i}"
        for i, h in enumerate(grid[0])
    ]
    return pd.DataFrame(grid[1:], columns=header)


def write_xlsx_cells(
    template_path: str,
    sheet: str,
    output_path: str,
    rows: list[list[object]],
    start_row: int = 6,
    start_col: int = 1,
) -> None:
    """Write a block of values into a sheet of an existing workbook,
    template-preserving: every zip part except the target sheet's XML is
    copied byte-identical (styles, merged cells, other sheets untouched),
    and inside the target sheet only the ADDRESSED cells change — existing
    rows keep their attributes and any cells outside the written block
    (formulas, styled cells), matching the openpyxl cell-by-cell behavior
    — the K3 review-sheet shape (update_pnls_report/utils.py:186-194)
    without openpyxl. Strings become inline strings; real numbers (incl.
    numpy scalars) plain ``<v>`` cells; None/NaN/inf write nothing.
    """
    import math
    import numbers
    import re as _re
    import xml.etree.ElementTree as ET
    import zipfile

    zf, sheet_parts, _ = _xlsx_parts(template_path)
    try:
        if sheet not in sheet_parts:
            raise ValueError(
                f"sheet {sheet!r} not found; available: {list(sheet_parts)}"
            )
        part = sheet_parts[sheet]
        raw = zf.read(part)
        # preserve the document's own namespace prefixes (x14ac, xr, ...):
        # ET would otherwise rebind them (ns1:...) while mc:Ignorable still
        # names the old prefixes — strict consumers reject that. (ET
        # namespace registration is process-global by design.)
        head = raw[:4096].decode("utf-8", "replace")
        for prefix, uri in _re.findall(r'xmlns:(\w+)="([^"]+)"', head):
            if prefix != "xml":
                ET.register_namespace(prefix, uri)
        ET.register_namespace("", _SSML.strip("{}"))
        root = ET.fromstring(raw)
        sheet_data = root.find(f"{_SSML}sheetData")
        if sheet_data is None:
            raise ValueError(f"{part} has no sheetData element")

        def col_letter(n0: int) -> str:
            n, out = n0 + 1, ""
            while n > 0:
                n, rem = divmod(n - 1, 26)
                out = chr(ord("A") + rem) + out
            return out

        def make_cell(ref: str, val) -> ET.Element | None:
            if val is None:
                return None
            if isinstance(val, numbers.Number) and not isinstance(val, bool):
                fv = float(val)
                if math.isnan(fv) or math.isinf(fv):
                    return None  # no valid xlsx numeric form — leave blank
                c = ET.Element(f"{_SSML}c", {"r": ref})
                v = ET.SubElement(c, f"{_SSML}v")
                v.text = (
                    str(int(val))
                    if isinstance(val, numbers.Integral)
                    else repr(fv)
                )
                return c
            c = ET.Element(f"{_SSML}c", {"r": ref, "t": "inlineStr"})
            is_el = ET.SubElement(c, f"{_SSML}is")
            t = ET.SubElement(is_el, f"{_SSML}t")
            t.text = str(val)
            return c

        # target cells keyed (row, ref)
        new_cells: dict[int, dict[str, ET.Element]] = {}
        for r_off, values in enumerate(rows):
            r = start_row + r_off
            new_cells[r] = {}
            for c_off, val in enumerate(values):
                ref = f"{col_letter(start_col - 1 + c_off)}{r}"
                cell = make_cell(ref, val)
                if cell is not None:
                    new_cells[r][ref] = cell

        existing = {
            int(el.get("r", 0)): el for el in list(sheet_data) if el.get("r")
        }
        for r, cells in new_cells.items():
            if r in existing:
                # CELL-level merge: keep attributes and any cells outside
                # the written refs (formulas / styled cells survive)
                row_el = existing[r]
                for c_el in list(row_el):
                    if c_el.get("r") in cells:
                        row_el.remove(c_el)
                for c_el in cells.values():
                    row_el.append(c_el)
                row_el[:] = sorted(
                    row_el, key=lambda c: _col_index(c.get("r") or "A")
                )
            else:
                row_el = ET.Element(f"{_SSML}row", {"r": str(r)})
                for c_el in sorted(
                    cells.values(), key=lambda c: _col_index(c.get("r"))
                ):
                    row_el.append(c_el)
                sheet_data.append(row_el)
        sheet_data[:] = sorted(
            sheet_data, key=lambda e: int(e.get("r", 0))
        )
        new_xml = ET.tostring(root, xml_declaration=True, encoding="UTF-8")

        with zipfile.ZipFile(output_path, "w", zipfile.ZIP_DEFLATED) as out:
            for item in zf.infolist():
                data = new_xml if item.filename == part else zf.read(item)
                out.writestr(item, data)
    finally:
        zf.close()


def write_xlsx_workbook(
    path: str, sheets: dict[str, list[list[object]]]
) -> None:
    """Create a NEW .xlsx workbook from scratch (stdlib zip/XML, no
    openpyxl): ``sheets`` maps sheet name -> row grid. Strings become
    inline strings, real numbers plain ``<v>`` cells, booleans ``t="b"``,
    None leaves a gap — the same cell conventions ``write_xlsx_cells``
    emits, so a workbook written here reads back through
    ``read_xlsx_stdlib`` AND through openpyxl/Excel (full part set:
    [Content_Types], package rels, workbook rels).

    This completes K3 (reference ``update_pnls_report/utils.py:186-194``
    writes into a pre-styled template; pipelines also need to CREATE the
    report file on first run) without any Excel library. Driver-side by
    design — review workbooks are human-scale.
    """
    import math
    import numbers
    import zipfile
    from xml.sax.saxutils import escape

    ns_main = _SSML.strip("{}")
    ns_rel = _RELNS.strip("{}")
    ns_pkg = "http://schemas.openxmlformats.org/package/2006/relationships"

    def col_letter(n0: int) -> str:
        n, out = n0 + 1, ""
        while n > 0:
            n, rem = divmod(n - 1, 26)
            out = chr(ord("A") + rem) + out
        return out

    def cell_xml(ref: str, val: object) -> str:
        if val is None:
            return ""
        if isinstance(val, bool):
            return f'<c r="{ref}" t="b"><v>{int(val)}</v></c>'
        if isinstance(val, numbers.Number):
            fv = float(val)
            if math.isnan(fv) or math.isinf(fv):
                return ""
            v = repr(int(val)) if float(val).is_integer() and not isinstance(
                val, float
            ) else repr(fv)
            return f'<c r="{ref}"><v>{v}</v></c>'
        return (
            f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
            f"{escape(str(val))}</t></is></c>"
        )

    sheet_xmls = []
    for grid in sheets.values():
        rows_xml = []
        for r, row in enumerate(grid, start=1):
            cells = "".join(
                cell_xml(f"{col_letter(c)}{r}", v) for c, v in enumerate(row)
            )
            rows_xml.append(f'<row r="{r}">{cells}</row>')
        sheet_xmls.append(
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<worksheet xmlns="{ns_main}"><sheetData>'
            + "".join(rows_xml)
            + "</sheetData></worksheet>"
        )

    sheets_el = "".join(
        # attribute value: escape() alone leaves '"' unescaped, which would
        # corrupt the workbook for quoted sheet names
        f'<sheet name="{escape(name, {chr(34): "&quot;"})}" '
        f'sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, name in enumerate(sheets)
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{ns_main}" xmlns:r="{ns_rel}">'
        f"<sheets>{sheets_el}</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{ns_pkg}">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" Type="{ns_rel}/worksheet" '
            f'Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(sheets))
        )
        + "</Relationships>"
    )
    pkg_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{ns_pkg}">'
        f'<Relationship Id="rId1" Type="{ns_rel}/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>'
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types">'
        '<Default Extension="rels" ContentType="application/vnd.'
        'openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        + "".join(
            f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
            'ContentType="application/vnd.openxmlformats-officedocument.'
            'spreadsheetml.worksheet+xml"/>'
            for i in range(len(sheets))
        )
        + "</Types>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", content_types)
        zf.writestr("_rels/.rels", pkg_rels)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        for i, xml in enumerate(sheet_xmls):
            zf.writestr(f"xl/worksheets/sheet{i + 1}.xml", xml)
