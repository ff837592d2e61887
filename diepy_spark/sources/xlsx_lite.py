"""Dependency-free xlsx bridge (stdlib zipfile + xml.etree).

xlsx is a zip of XML parts; the reference reads/writes workbooks through
openpyxl (core.py:153-169,338-358), which is absent in some deployments.
This module implements the subset the import/export surface needs so the
Excel path works everywhere:

- read: sheet names + cell values (shared strings, inline strings, formula
  string results, booleans, numbers). Date-STYLED numeric cells are
  converted from their Excel serial to datetime/time exactly as openpyxl
  does (1899-12-30 epoch, +1 day below serial 60 for the 1900 leap-year
  bug, pure fractions -> time), via the minimal styles-part read:
  cellXfs numFmtId in the builtin date ranges (14-22, 45-47) or a custom
  numFmt whose code contains date tokens outside quotes/brackets.
- write: minimal valid workbook with inline strings (no sharedStrings
  part), one worksheet per sheet; readable by Excel, openpyxl and pandas.

Driver-bound by design, like every xlsx path in this repo: the format is
not distributable, and writers.write_xlsx guards row counts before
reaching here.
"""

from __future__ import annotations

import datetime
import os
import re
import zipfile
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

_NS_MAIN = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_NS_REL_DOC = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_NS_PKG_REL = "http://schemas.openxmlformats.org/package/2006/relationships"
_NS_CT = "http://schemas.openxmlformats.org/package/2006/content-types"


def _col_index(ref: str) -> int:
    """'A1' -> 0, 'AB3' -> 27. Zero-based column from an A1-style ref."""
    n = 0
    for ch in ref:
        if ch.isalpha():
            n = n * 26 + (ord(ch.upper()) - ord("A") + 1)
        else:
            break
    return n - 1


def _col_letter(idx: int) -> str:
    """0 -> 'A', 27 -> 'AB'. Inverse of _col_index."""
    letters = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        letters = chr(ord("A") + rem) + letters
    return letters


# Builtin numFmtIds that render as dates/times (ECMA-376 §18.8.30).
_BUILTIN_DATE_FMTS = set(range(14, 23)) | set(range(45, 48))
_EXCEL_EPOCH = datetime.datetime(1899, 12, 30)


def _is_date_format(code: str) -> bool:
    """True when a custom format code renders as a date/time: contains a
    y/m/d/h/s token outside quoted literals and [bracketed] sections."""
    bare = re.sub(r'"[^"]*"|\[[^\]]*\]|\\.', "", code)
    return bool(re.search(r"[ymdhsYMDHS]", bare))


def _date_styles(zf: zipfile.ZipFile) -> set[int]:
    """Indices into cellXfs (the cell `s` attribute) whose number format is
    a date/time format — the minimal styles-part read needed to match
    openpyxl's typed cell values."""
    try:
        root = ET.fromstring(zf.read("xl/styles.xml"))
    except KeyError:
        return set()
    custom_date = {
        int(nf.get("numFmtId"))
        for nf in root.iter(f"{{{_NS_MAIN}}}numFmt")
        if _is_date_format(nf.get("formatCode") or "")
    }
    date_ids = _BUILTIN_DATE_FMTS | custom_date
    out = set()
    cellxfs = root.find(f"{{{_NS_MAIN}}}cellXfs")
    if cellxfs is None:
        return out
    for i, xf in enumerate(cellxfs.findall(f"{{{_NS_MAIN}}}xf")):
        if int(xf.get("numFmtId", "0")) in date_ids:
            out.add(i)
    return out


def _serial_to_datetime(serial: float):
    """Excel serial -> datetime/time, matching openpyxl.utils.datetime
    .from_excel: 1899-12-30 epoch, +1 day for serials below 60 (Excel's
    phantom 1900-02-29), pure fractions -> time-of-day."""
    if 0 <= serial < 1:
        us = round(serial * 86_400_000_000)
        return (datetime.datetime.min + datetime.timedelta(microseconds=us)).time()
    day, frac = divmod(serial, 1)
    if serial < 60:
        day += 1
    us = round(frac * 86_400_000_000)
    return _EXCEL_EPOCH + datetime.timedelta(days=day, microseconds=us)


def _string_item(item: ET.Element | None) -> str:
    """Text of a shared (``si``) or inline (``is``) string: its own
    ``<t>``, then the ``<t>`` of each ``<r>`` run (the schema's order).
    The ``<t>`` inside ``<rPh>`` phonetic runs is a reading guide, not
    part of the value."""
    if item is None:
        return ""
    t, r = f"{{{_NS_MAIN}}}t", f"{{{_NS_MAIN}}}r"
    return "".join(el.text or "" for el in item.findall(t) + item.findall(f"{r}/{t}"))


def _cell_value(c: ET.Element, shared: list[str], date_styles: frozenset[int] | set[int] = frozenset()):
    t = c.get("t", "n")
    if t == "inlineStr":
        return _string_item(c.find(f"{{{_NS_MAIN}}}is"))
    v = c.find(f"{{{_NS_MAIN}}}v")
    if v is None or v.text is None:
        return None
    if t == "s":
        return shared[int(v.text)]
    if t in ("str",):
        return v.text
    if t == "b":
        return v.text == "1"
    if t == "e":  # error cell: surface the error literal
        return v.text
    # numeric: int when integral so '40000' doesn't become 40000.0
    txt = v.text
    try:
        f = float(txt)
    except ValueError:
        return txt
    s_attr = c.get("s")
    if s_attr is not None and int(s_attr) in date_styles and f >= 0:
        return _serial_to_datetime(f)
    return int(f) if f == int(f) and ("." not in txt and "e" not in txt.lower()) else f


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        data = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    root = ET.fromstring(data)
    return [_string_item(si) for si in root.iter(f"{{{_NS_MAIN}}}si")]


def _sheet_targets(zf: zipfile.ZipFile) -> list[tuple[str, str]]:
    """[(sheet_name, zip_member_path)] in workbook order."""
    wb = ET.fromstring(zf.read("xl/workbook.xml"))
    rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    by_rid = {}
    for rel in rels.iter(f"{{{_NS_PKG_REL}}}Relationship"):
        target = rel.get("Target", "")
        if target.startswith("/"):
            target = target.lstrip("/")
        elif not target.startswith("xl/"):
            target = "xl/" + target
        by_rid[rel.get("Id")] = target
    out = []
    for sh in wb.iter(f"{{{_NS_MAIN}}}sheet"):
        rid = sh.get(f"{{{_NS_REL_DOC}}}id")
        if rid in by_rid:
            out.append((sh.get("name"), by_rid[rid]))
    return out


def read_workbook(path: str) -> dict[str, list[list[object]]]:
    """{sheet_name: rows} where each row is a list of cell values padded to
    the sheet's max width. Values: str | int | float | bool | None, plus
    datetime.datetime / datetime.time for cells whose style carries a
    date/time number format (matching openpyxl's typed values).

    Known heuristic edge: _is_date_format flags any custom format with a
    bare y/m/d/h/s letter outside quotes/brackets, so an exotic TEXT
    format like ``0"d"`` escapes correctly but ``0d`` (unquoted literal d)
    would misread its numeric cells as dates — quote literal letters in
    custom formats, as Excel itself requires."""
    with zipfile.ZipFile(path) as zf:
        shared = _shared_strings(zf)
        date_styles = _date_styles(zf)
        sheets: dict[str, list[list[object]]] = {}
        for name, member in _sheet_targets(zf):
            root = ET.fromstring(zf.read(member))
            rows: list[list[object]] = []
            for row in root.iter(f"{{{_NS_MAIN}}}row"):
                cells: list[object] = []
                next_idx = 0
                for c in row.iter(f"{{{_NS_MAIN}}}c"):
                    ref = c.get("r")
                    idx = _col_index(ref) if ref else next_idx
                    while len(cells) < idx:
                        cells.append(None)
                    cells.append(_cell_value(c, shared, date_styles))
                    next_idx = idx + 1
                rows.append(cells)
            width = max((len(r) for r in rows), default=0)
            for r in rows:
                r.extend([None] * (width - len(r)))
            sheets[name] = rows
        return sheets


def _cell_xml(ref: str, v) -> str:
    if v is None or (isinstance(v, float) and v != v):
        return ""
    if isinstance(v, bool):
        return f'<c r="{ref}" t="b"><v>{1 if v else 0}</v></c>'
    if isinstance(v, (int, float)):
        return f'<c r="{ref}"><v>{v!r}</v></c>'
    return f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">{escape(str(v))}</t></is></c>'


def _sheet_xml(rows: list[list[object]]) -> str:
    body = []
    for ri, row in enumerate(rows, start=1):
        cells = "".join(
            _cell_xml(f"{_col_letter(ci)}{ri}", v) for ci, v in enumerate(row)
        )
        body.append(f'<row r="{ri}">{cells}</row>')
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{_NS_MAIN}"><sheetData>{"".join(body)}</sheetData></worksheet>'
    )


def write_workbook(path: str, sheets: dict[str, list[list[object]]]) -> str:
    """Write {sheet_name: rows} as a minimal xlsx. Overwrites `path`."""
    if not sheets:
        raise ValueError("write_workbook: at least one sheet required")
    names = list(sheets)
    overrides = "".join(
        f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.'
        'spreadsheetml.worksheet+xml"/>'
        for i in range(len(names))
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Types xmlns="{_NS_CT}">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        f"{overrides}</Types>"
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_NS_PKG_REL}">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    )
    sheet_entries = "".join(
        f'<sheet name="{escape(n)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, n in enumerate(names)
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{_NS_MAIN}" xmlns:r="{_NS_REL_DOC}">'
        f"<sheets>{sheet_entries}</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_NS_PKG_REL}">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" Type="http://schemas.openxmlformats.org/'
            f'officeDocument/2006/relationships/worksheet" Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(names))
        )
        + "</Relationships>"
    )
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", content_types)
        zf.writestr("_rels/.rels", root_rels)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        for i, n in enumerate(names):
            zf.writestr(f"xl/worksheets/sheet{i + 1}.xml", _sheet_xml(sheets[n]))
    os.replace(tmp, path)
    return path
