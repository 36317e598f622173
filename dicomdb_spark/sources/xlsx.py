"""XLSX review-sheet source (SURVEY.md §2 S4, feeding R10).

The reference read review spreadsheets with xlrd (common.py:507-531,
``readxls_relecture_files``): for every sheet, every row after the
header, a row counts as *reviewed* when its 4th column (comment) is
non-empty — then (proto, examdate, sujname, comment) are collected —
and a row with a subject name but no comment is flagged with a
"subject define but not reviewed" warning.

xlrd / openpyxl are absent from this environment, but the modern
spreadsheet container (Office Open XML, ECMA-376) is just a zip of
XML parts, so a minimal reader needs only the standard library:

- ``xl/workbook.xml``      — sheet names + relationship ids
- ``xl/_rels/workbook.xml.rels`` — rel id → worksheet part path
- ``xl/sharedStrings.xml`` — the shared-string table (``<si><t>``,
  including rich-text runs ``<si><r><t>``)
- ``xl/worksheets/sheetN.xml`` — rows of cells; cell types handled:
  ``t="s"`` shared string, ``t="inlineStr"``, ``t="str"`` (formula
  cache), ``t="b"`` boolean, default numeric.

The reader is driver-side (review sheets are a handful of rows — the
reference's are human-curated lists); distribution happens the moment
the rows land in ``spark.createDataFrame`` and join exam frames
(R10).  A matching writer exists so tests can round-trip real bytes
without any external library.
"""

from __future__ import annotations

import re
import zipfile
from io import BytesIO
from typing import Iterable
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame, SparkSession

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_NS_R = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_CELL_REF = re.compile(r"^([A-Z]+)(\d+)$")


def _col_index(ref: str) -> int:
    """``A1`` → 0, ``D7`` → 3 (base-26 letters part of the cell ref)."""
    m = _CELL_REF.match(ref)
    if not m:
        return 0
    acc = 0
    for ch in m.group(1):
        acc = acc * 26 + (ord(ch) - ord("A") + 1)
    return acc - 1


def _canon_number(text: str) -> str:
    """Render a numeric cell the way the engine's string schema wants
    it: integral floats lose the trailing ``.0`` (spreadsheet cells
    store every number as a double; ``2024.0`` as an exam-date year
    should read back as ``2024``)."""
    try:
        f = float(text)
    except ValueError:
        return text
    # 2^53 = the double exact-integer bound: below it, f == int(f)
    # means the cell genuinely holds that integer (an arbitrary 1e15
    # cutoff left 16-digit IDs rendered as "...0.0" — caught by
    # tests/test_codec_properties.py)
    if f == int(f) and abs(f) <= 2**53:
        return str(int(f))
    return repr(f)


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        raw = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    out: list[str] = []
    for si in ET.fromstring(raw).iter(f"{_NS}si"):
        # plain <t> or rich-text runs <r><t>; concatenate all text nodes
        out.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
    return out


def _sheet_parts(zf: zipfile.ZipFile) -> list[tuple[str, str]]:
    """(sheet_name, zip_part_path) in workbook order."""
    rels = {}
    for rel in ET.fromstring(zf.read("xl/_rels/workbook.xml.rels")):
        target = rel.get("Target", "")
        if target.startswith("/"):
            target = target.lstrip("/")
        else:
            target = "xl/" + target
        rels[rel.get("Id")] = target
    parts = []
    wb = ET.fromstring(zf.read("xl/workbook.xml"))
    for sheet in wb.iter(f"{_NS}sheet"):
        rid = sheet.get(f"{_NS_R}id")
        if rid in rels:
            parts.append((sheet.get("name", ""), rels[rid]))
    return parts


def _cell_value(cell: ET.Element, shared: list[str]) -> str | None:
    ctype = cell.get("t", "n")
    if ctype == "inlineStr":
        is_el = cell.find(f"{_NS}is")
        if is_el is None:
            return None
        return "".join(t.text or "" for t in is_el.iter(f"{_NS}t")) or None
    v = cell.find(f"{_NS}v")
    if v is None or v.text is None:
        return None
    if ctype == "s":
        idx = int(v.text)
        return shared[idx] if 0 <= idx < len(shared) else None
    if ctype == "b":
        return "1" if v.text.strip() == "1" else "0"
    if ctype == "str":
        return v.text
    return _canon_number(v.text)


def read_xlsx_rows(data: bytes) -> list[tuple[str, int, list[str | None]]]:
    """All rows of every sheet: (sheet_name, row_number_1based, cells).

    ``cells`` is dense up to the right-most populated column of that
    row; absent cells are None (spreadsheets store sparse rows —
    ``<c r="D7">`` may follow ``<c r="A7">`` directly)."""
    out: list[tuple[str, int, list[str | None]]] = []
    with zipfile.ZipFile(BytesIO(data)) as zf:
        shared = _shared_strings(zf)
        for sheet_name, part in _sheet_parts(zf):
            root = ET.fromstring(zf.read(part))
            for row in root.iter(f"{_NS}row"):
                rnum = int(row.get("r", "0") or 0)
                cells: list[str | None] = []
                for cell in row.iter(f"{_NS}c"):
                    idx = _col_index(cell.get("r", ""))
                    while len(cells) <= idx:
                        cells.append(None)
                    cells[idx] = _cell_value(cell, shared)
                out.append((sheet_name, rnum, cells))
    return out


REVIEW_COLUMNS = ("proto", "examdate", "sujname", "comment")


def read_review_rows(data: bytes) -> tuple[list[dict], list[dict]]:
    """The reference's review-sheet contract (common.py:507-531):
    returns (reviewed, not_reviewed) — reviewed rows have a non-empty
    comment column (index 3) and carry proto/examdate/sujname/comment;
    rows with a subject but no comment land in the warning list the
    reference only printed."""
    reviewed: list[dict] = []
    flagged: list[dict] = []
    for sheet, rnum, cells in read_xlsx_rows(data):
        if rnum <= 1:  # header row, same skip as xlrd range(1, nrows)
            continue
        get = lambda i: cells[i] if i < len(cells) else None
        if get(3):  # 4th column non-empty == reviewed
            reviewed.append({k: get(i) for i, k in enumerate(REVIEW_COLUMNS)})
        elif get(2):
            flagged.append({"sheet": sheet, "row": rnum, "sujname": get(2)})
    return reviewed, flagged


def read_review_sheet(spark: SparkSession, path: str) -> DataFrame:
    """S4 as a Spark source: one xlsx file (or a list of paths) →
    DataFrame(proto, examdate, sujname, comment) of reviewed rows,
    ready for the R10 (eid, name) lookup join."""
    paths: Iterable[str] = [path] if isinstance(path, str) else path
    rows: list[dict] = []
    for p in paths:
        with open(p, "rb") as fh:
            reviewed, _ = read_review_rows(fh.read())
        rows.extend(reviewed)
    return spark.createDataFrame(
        [tuple(r[k] for k in REVIEW_COLUMNS) for r in rows],
        schema="proto string, examdate string, sujname string, comment string",
    )


# ---------------------------------------------------------------- writer


def _esc(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def _col_letter(idx: int) -> str:
    letters = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        letters = chr(ord("A") + rem) + letters
    return letters


def write_xlsx(sheets: dict[str, list[list[object]]]) -> bytes:
    """Minimal single-part-per-sheet xlsx writer (inline strings only;
    numbers written as numeric cells).  Exists so tests exercise the
    reader on genuine zip+XML bytes, not mocks."""
    sheet_xml = {}
    for si, (name, rows) in enumerate(sheets.items(), start=1):
        body = []
        for ri, row in enumerate(rows, start=1):
            cells = []
            for ci, val in enumerate(row):
                if val is None:
                    continue
                ref = f"{_col_letter(ci)}{ri}"
                if isinstance(val, (int, float)) and not isinstance(val, bool):
                    cells.append(f'<c r="{ref}"><v>{val}</v></c>')
                else:
                    cells.append(
                        f'<c r="{ref}" t="inlineStr"><is><t>{_esc(str(val))}</t></is></c>'
                    )
            body.append(f'<row r="{ri}">{"".join(cells)}</row>')
        sheet_xml[f"xl/worksheets/sheet{si}.xml"] = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            f'<sheetData>{"".join(body)}</sheetData></worksheet>'
        )

    sheet_entries = "".join(
        f'<sheet name="{_esc(name)}" sheetId="{i}" r:id="rId{i}"/>'
        for i, name in enumerate(sheets, start=1)
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f"<sheets>{sheet_entries}</sheets></workbook>"
    )
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i}" '
            'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
            f'Target="worksheets/sheet{i}.xml"/>'
            for i in range(1, len(sheets) + 1)
        )
        + "</Relationships>"
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" '
        'ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        + "".join(
            f'<Override PartName="/xl/worksheets/sheet{i}.xml" '
            'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            for i in range(1, len(sheets) + 1)
        )
        + "</Types>"
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>'
    )

    buf = BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", content_types)
        zf.writestr("_rels/.rels", root_rels)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        for part, xml in sheet_xml.items():
            zf.writestr(part, xml)
    return buf.getvalue()


# UDF closures in this module must ship by value (see package __init__)
import sys as _sys  # noqa: E402

from dicomdb_spark import register_for_udf_pickling as _reg  # noqa: E402

_reg(_sys.modules[__name__])
