"""Unit tests for the stdlib xlsx bridge (sources/xlsx_lite.py): writer →
reader roundtrip, shared-strings decoding (hand-built zip, since our own
writer emits inline strings), missing-cell padding, and the raw part
structure a foreign reader needs."""

import zipfile

from diepy_spark.sources import xlsx_lite


def test_write_read_roundtrip(tmp_path):
    p = str(tmp_path / "book.xlsx")
    rows = [
        ["name", "n", "f", "flag"],
        ["a", 1, 1.5, True],
        ["<b&c>", 40000, -2.25, False],
        [None, None, None, None],
    ]
    xlsx_lite.write_workbook(p, {"people": rows, "empty": [["x"]]})
    back = xlsx_lite.read_workbook(p)
    assert list(back) == ["people", "empty"]
    assert back["people"][0] == rows[0]
    assert back["people"][1] == ["a", 1, 1.5, True]
    assert back["people"][2] == ["<b&c>", 40000, -2.25, False]
    assert back["people"][3] == [None, None, None, None]
    assert back["empty"] == [["x"]]


def test_parts_structure(tmp_path):
    p = str(tmp_path / "book.xlsx")
    xlsx_lite.write_workbook(p, {"s1": [["a"], [1]], "s2": [["b"], [2]]})
    with zipfile.ZipFile(p) as zf:
        names = set(zf.namelist())
    assert {
        "[Content_Types].xml",
        "_rels/.rels",
        "xl/workbook.xml",
        "xl/_rels/workbook.xml.rels",
        "xl/worksheets/sheet1.xml",
        "xl/worksheets/sheet2.xml",
    } <= names


def test_shared_strings_and_sparse_cells(tmp_path):
    """A foreign-writer workbook: shared strings, skipped cells (explicit
    refs with gaps), bare relationship targets."""
    p = str(tmp_path / "foreign.xlsx")
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr(
            "[Content_Types].xml",
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/></Types>',
        )
        zf.writestr(
            "_rels/.rels",
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>",
        )
        zf.writestr(
            "xl/workbook.xml",
            f'<workbook xmlns="{ns}" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            '<sheets><sheet name="data" sheetId="1" r:id="rId1"/></sheets></workbook>',
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/>'
            "</Relationships>",
        )
        zf.writestr(
            "xl/sharedStrings.xml",
            f'<sst xmlns="{ns}"><si><t>hello</t></si><si><t>wor</t><t>ld</t></si></sst>',
        )
        zf.writestr(
            "xl/worksheets/sheet1.xml",
            f'<worksheet xmlns="{ns}"><sheetData>'
            '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="C1" t="s"><v>1</v></c></row>'
            '<row r="2"><c r="B2"><v>3.14</v></c></row>'
            "</sheetData></worksheet>",
        )
    back = xlsx_lite.read_workbook(p)
    assert back["data"][0] == ["hello", None, "world"]
    assert back["data"][1] == [None, 3.14, None]


def test_sheet_replace_appends_at_end(tmp_path):
    p = str(tmp_path / "book.xlsx")
    xlsx_lite.write_workbook(p, {"one": [["a"], [1]], "two": [["b"], [2]]})
    sheets = xlsx_lite.read_workbook(p)
    sheets.pop("one", None)
    sheets["one"] = [["a"], [9]]
    xlsx_lite.write_workbook(p, sheets)
    back = xlsx_lite.read_workbook(p)
    assert list(back) == ["two", "one"]
    assert back["one"][1] == [9]


def test_date_styled_cells(tmp_path):
    """Date-STYLED numeric cells convert from Excel serials to
    datetime/time the way openpyxl does (1899-12-30 epoch, +1 day below
    serial 60, fractions -> time); unstyled and non-date-styled numerics
    stay numeric. Covers builtin date ids, a custom date numFmt, and a
    custom non-date numFmt."""
    import datetime

    p = str(tmp_path / "dates.xlsx")
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr(
            "[Content_Types].xml",
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/></Types>',
        )
        zf.writestr(
            "_rels/.rels",
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="t" Target="xl/workbook.xml"/>'
            "</Relationships>",
        )
        zf.writestr(
            "xl/workbook.xml",
            f'<workbook xmlns="{ns}" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            '<sheets><sheet name="d" sheetId="1" r:id="rId1"/></sheets></workbook>',
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/>'
            "</Relationships>",
        )
        # xf 0: general; xf 1: builtin date (14); xf 2: custom date (164);
        # xf 3: custom NON-date (165 — 'm' only inside quotes); xf 4: time (21)
        zf.writestr(
            "xl/styles.xml",
            f'<styleSheet xmlns="{ns}">'
            '<numFmts count="2">'
            '<numFmt numFmtId="164" formatCode="yyyy\\-mm\\-dd"/>'
            '<numFmt numFmtId="165" formatCode="0.00&quot;mm&quot;"/>'
            "</numFmts>"
            "<cellXfs count=\"5\">"
            '<xf numFmtId="0"/><xf numFmtId="14"/><xf numFmtId="164"/>'
            '<xf numFmtId="165"/><xf numFmtId="21"/>'
            "</cellXfs></styleSheet>",
        )
        zf.writestr(
            "xl/worksheets/sheet1.xml",
            f'<worksheet xmlns="{ns}"><sheetData>'
            # 45000 = 2023-03-15; 45000.5 adds 12h; 59 = 1900-02-28 (leap-bug
            # boundary); 61 = 1900-03-01; 0.75 = 18:00:00
            '<row r="1">'
            '<c r="A1" s="1"><v>45000</v></c>'
            '<c r="B1" s="2"><v>45000.5</v></c>'
            '<c r="C1" s="1"><v>59</v></c>'
            '<c r="D1" s="1"><v>61</v></c>'
            '<c r="E1" s="4"><v>0.75</v></c>'
            '<c r="F1" s="3"><v>45000</v></c>'
            '<c r="G1"><v>45000</v></c>'
            "</row></sheetData></worksheet>",
        )
    row = xlsx_lite.read_workbook(p)["d"][0]
    assert row[0] == datetime.datetime(2023, 3, 15)
    assert row[1] == datetime.datetime(2023, 3, 15, 12, 0)
    assert row[2] == datetime.datetime(1900, 2, 28)
    assert row[3] == datetime.datetime(1900, 3, 1)
    assert row[4] == datetime.time(18, 0)
    assert row[5] == 45000  # custom format with quoted 'mm' is NOT a date
    assert row[6] == 45000  # unstyled stays numeric


def test_phonetic_runs_are_not_cell_text(tmp_path):
    """A string's <rPh> phonetic reading is not part of its value (as
    openpyxl reads it), for a shared string and an inline string; rich
    text <r> runs still join."""
    p = str(tmp_path / "phonetic.xlsx")
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel = "http://schemas.openxmlformats.org/package/2006/relationships"
    rph = '<rPh sb="0" eb="2"><t>トウキョウ</t></rPh><phoneticPr fontId="1"/>'
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr("_rels/.rels", f'<Relationships xmlns="{rel}">'
                    '<Relationship Id="rId1" Type="t" Target="xl/workbook.xml"/></Relationships>')
        zf.writestr(
            "xl/workbook.xml",
            f'<workbook xmlns="{ns}" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            '<sheets><sheet name="p" sheetId="1" r:id="rId1"/></sheets></workbook>',
        )
        zf.writestr("xl/_rels/workbook.xml.rels", f'<Relationships xmlns="{rel}">'
                    '<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>')
        zf.writestr(
            "xl/sharedStrings.xml",
            f'<sst xmlns="{ns}"><si><t>東京</t>{rph}</si>'
            f'<si><r><t>東</t></r><r><rPr><b/></rPr><t>京</t></r>{rph}</si></sst>',
        )
        zf.writestr(
            "xl/worksheets/sheet1.xml",
            f'<worksheet xmlns="{ns}"><sheetData><row r="1">'
            '<c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>'
            f'<c r="C1" t="inlineStr"><is><t>東京</t>{rph}</is></c>'
            '</row></sheetData></worksheet>',
        )
    assert xlsx_lite.read_workbook(p)["p"] == [["東京", "東京", "東京"]]
