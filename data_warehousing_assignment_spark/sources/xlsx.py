"""Native .xlsx ingestion with the standard library only.

The reference's primary extract is ``pd.read_excel`` (ref
``02_Extract_and_transform_raw_data/A2_hr_etl.py:14``,
``ET_combined.py:16,169,286``). OSS Spark has no xlsx data source and
this environment has neither openpyxl nor xlrd — but xlsx is just a zip
of XML (ECMA-376 SpreadsheetML), so a minimal ``zipfile`` +
``xml.etree`` reader closes the gap without any dependency. It parses
the parts pandas/openpyxl would: workbook sheet list, shared strings
(including rich-text runs), and per-cell types (shared string, inline
string, formula-cached string, boolean, number, blank), placing cells by
their ``r="D7"`` reference so sparse rows keep their columns.

Scale position: xlsx is a SMALL-FILE format — one zip, not splittable,
driver-side parse by design (exactly where ``pd.read_excel`` runs in the
reference). At 100 TB, spreadsheets are edge inputs (seed dims, manual
mappings): land them through this reader into parquet once, then scan
the parquet. Never the fact path.

Deliberate non-goal: cells stored as Excel DATE SERIALS (a number plus a
date style in styles.xml) surface as numbers — style-table resolution is
out of scope. The reference's dirty fixtures carry their (mixed-format)
dates as strings, which round-trip exactly; ``tests/test_xlsx.py`` pins
this against the real reference workbook when present.
"""

from __future__ import annotations

import re
import zipfile
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_CELL_REF = re.compile(r"^([A-Z]+)(\d+)$")


def _col_index(letters: str) -> int:
    """'A' -> 0, 'Z' -> 25, 'AA' -> 26 (base-26, no zero digit)."""
    n = 0
    for ch in letters:
        n = n * 26 + (ord(ch) - ord("A") + 1)
    return n - 1


def _col_letters(idx: int) -> str:
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def _text_of(el: ET.Element) -> str:
    """Concatenated <t> descendants — handles rich-text runs
    (<si><r><t>a</t></r><r><t>b</t></r></si>) and plain <si><t>."""
    return "".join(t.text or "" for t in el.iter(f"{_NS}t"))


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        data = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    return [_text_of(si) for si in ET.fromstring(data).iter(f"{_NS}si")]


def _sheet_paths(zf: zipfile.ZipFile) -> dict[str, str]:
    """sheet name -> zip path, resolved through the workbook rels."""
    rels = {}
    rel_ns = "{http://schemas.openxmlformats.org/package/2006/relationships}"
    for rel in ET.fromstring(zf.read("xl/_rels/workbook.xml.rels")).iter(
        f"{rel_ns}Relationship"
    ):
        target = rel.get("Target", "")
        rels[rel.get("Id")] = (
            target[1:] if target.startswith("/") else f"xl/{target}"
        )
    doc_ns = (
        "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
    )
    out = {}
    for sheet in ET.fromstring(zf.read("xl/workbook.xml")).iter(f"{_NS}sheet"):
        rid = sheet.get(f"{doc_ns}id")
        if rid in rels:
            out[sheet.get("name", "")] = rels[rid]
    return out


def _number(raw: str):
    f = float(raw)
    return int(f) if f.is_integer() and abs(f) < 2**53 else f


def read_xlsx_rows(
    path: str, sheet: str | None = None
) -> tuple[list[str], list[list[object]]]:
    """Parse one worksheet into (header, rows) with Python values:
    str for (shared/inline/formula) strings, int/float for numbers,
    bool for booleans, None for blank/absent cells. Row 1 is the header
    (the ``pd.read_excel`` default the reference relies on)."""
    with zipfile.ZipFile(path) as zf:
        strings = _shared_strings(zf)
        sheets = _sheet_paths(zf)
        if not sheets:
            raise ValueError(f"{path}: workbook declares no sheets")
        if sheet is None:
            sheet_path = next(iter(sheets.values()))  # workbook order
        elif sheet in sheets:
            sheet_path = sheets[sheet]
        else:
            raise ValueError(f"{path}: no sheet {sheet!r} in {list(sheets)}")

        grid: dict[int, dict[int, object]] = {}
        n_cols = 0
        for row in ET.fromstring(zf.read(sheet_path)).iter(f"{_NS}row"):
            r_idx = int(row.get("r", len(grid) + 1)) - 1
            cells = grid.setdefault(r_idx, {})
            implicit_col = 0
            for c in row.iter(f"{_NS}c"):
                m = _CELL_REF.match(c.get("r", ""))
                col = _col_index(m.group(1)) if m else implicit_col
                implicit_col = col + 1
                ctype = c.get("t", "n")
                if ctype == "inlineStr":
                    is_el = c.find(f"{_NS}is")
                    val: object = _text_of(is_el) if is_el is not None else ""
                else:
                    v_el = c.find(f"{_NS}v")
                    if v_el is None or v_el.text is None:
                        continue  # blank cell
                    raw = v_el.text
                    if ctype == "s":
                        val = strings[int(raw)]
                    elif ctype == "b":
                        val = raw.strip() == "1"
                    elif ctype in ("str", "e"):  # formula cache / error text
                        val = raw
                    else:  # "n" — number (date serials surface as numbers)
                        val = _number(raw)
                cells[col] = val
                n_cols = max(n_cols, col + 1)

    if not grid:
        return [], []
    ordered = [grid.get(i, {}) for i in range(max(grid) + 1)]
    dense = [[row.get(j) for j in range(n_cols)] for row in ordered]
    header = ["" if v is None else str(v) for v in dense[0]]
    return header, dense[1:]


def read_excel(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
) -> DataFrame:
    """op-scan-excel: xlsx → DataFrame of the workbook's first sheet.
    Cells arrive as strings (the
    reference's TEXT-heavy staging contract — cleaning casts them later);
    pass ``schema`` to cast columns immediately. Blank cells → NULL."""
    header, rows = read_xlsx_rows(path)
    str_rows = [
        [None if v is None else str(v) for v in row] for row in rows
    ]
    # Explicit all-string schema: every cell is str-or-None by
    # construction, so inference would only ever fail (empty sheets,
    # fully-blank columns raise "can not infer schema") — never help.
    str_schema = StructType(
        [StructField(name, StringType(), True) for name in header]
    )
    df = spark.createDataFrame(str_rows, schema=str_schema)
    if schema is not None:
        df = df.select(
            [F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        )
    return df


# -- writer (fixture generation + the sink half of the round-trip) ---------

_CT = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
</Types>"""

_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

_WB = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
<sheets><sheet name="{name}" sheetId="1" r:id="rId1"/></sheets>
</workbook>"""

_WB_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>
</Relationships>"""


def _xml_escape(s: str) -> str:
    # Quote/apostrophe must be escaped too: sheet_name lands inside the
    # name="..." attribute of workbook.xml, where a literal '"' would
    # produce malformed XML.
    return (
        s.replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
        .replace("'", "&apos;")
    )


def write_xlsx(
    path: str,
    header: list[str],
    rows: list[list[object]],
    sheet_name: str = "Sheet1",
) -> None:
    """Write a minimal valid xlsx: strings go through sharedStrings (the
    layout real producers emit, so the reader's ``t="s"`` path is what
    the round-trip exercises), numbers/bools inline, None omitted."""
    strings: list[str] = []
    sindex: dict[str, int] = {}

    def sref(s: str) -> int:
        if s not in sindex:
            sindex[s] = len(strings)
            strings.append(s)
        return sindex[s]

    def cell_xml(r: int, c: int, v: object) -> str:
        ref = f"{_col_letters(c)}{r + 1}"
        if v is None:
            return ""
        if isinstance(v, bool):
            return f'<c r="{ref}" t="b"><v>{int(v)}</v></c>'
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v!r}</v></c>'
        return f'<c r="{ref}" t="s"><v>{sref(str(v))}</v></c>'

    body = []
    for r, vals in enumerate([list(header)] + [list(x) for x in rows]):
        cells = "".join(cell_xml(r, c, v) for c, v in enumerate(vals))
        body.append(f'<row r="{r + 1}">{cells}</row>')
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f"<sheetData>{''.join(body)}</sheetData></worksheet>"
    )
    sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        f'count="{len(strings)}" uniqueCount="{len(strings)}">'
        + "".join(f"<si><t>{_xml_escape(s)}</t></si>" for s in strings)
        + "</sst>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", _CT)
        zf.writestr("_rels/.rels", _RELS)
        zf.writestr("xl/workbook.xml", _WB.format(name=_xml_escape(sheet_name)))
        zf.writestr("xl/_rels/workbook.xml.rels", _WB_RELS)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
        zf.writestr("xl/sharedStrings.xml", sst)
