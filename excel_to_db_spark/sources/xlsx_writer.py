"""Minimal .xlsx writer — test-fixture support only.

Writes a single-sheet workbook whose text cells index a sharedStrings
part (``t="s"``), as Excel itself does, enough for the reader and
ingest tests to round-trip arbitrary cell grids without any third-party
Excel library.
"""

from __future__ import annotations

import re
import zipfile
from typing import Any, Iterable
from xml.sax.saxutils import escape, quoteattr

# XML 1.0 forbids control chars other than \t \n \r; real Excel encodes
# them as _xHHHH_ escapes — out of scope for a fixture writer, so strip.
_XML_INVALID = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f]")

_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
</Types>"""

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

_WB_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>
</Relationships>"""


def _col_letter(idx: int) -> str:
    s = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        s = chr(ord("A") + rem) + s
    return s


def _cell_xml(ref: str, value: Any, shared: dict[str, int]) -> str:
    """One cell; a text cell's string is added to ``shared`` (text ->
    index, in first-seen order) and the cell holds its index."""
    if value is None:
        return ""
    if isinstance(value, bool):
        return f'<c r="{ref}" t="b"><v>{1 if value else 0}</v></c>'
    if isinstance(value, (int, float)):
        return f'<c r="{ref}"><v>{value!r}</v></c>'
    idx = shared.setdefault(_XML_INVALID.sub("", str(value)), len(shared))
    return f'<c r="{ref}" t="s"><v>{idx}</v></c>'


def write_xlsx(path: str, rows: Iterable[Iterable[Any]], sheet_name: str = "Sheet1") -> str:
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        # quoteattr, not escape: attribute context also needs double
        # quotes escaped or a sheet name like My "Q1" corrupts the XML
        f'<sheets><sheet name={quoteattr(sheet_name)} sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    body = []
    shared: dict[str, int] = {}
    for ri, row in enumerate(rows, start=1):
        cells = "".join(
            _cell_xml(f"{_col_letter(ci)}{ri}", v, shared)
            for ci, v in enumerate(row)
        )
        body.append(f'<row r="{ri}">{cells}</row>')
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f'<sheetData>{"".join(body)}</sheetData></worksheet>'
    )
    strings = "".join(f'<si><t xml:space="preserve">{escape(t)}</t></si>'
                      for t in shared)
    sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        f'uniqueCount="{len(shared)}">{strings}</sst>'
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", _CONTENT_TYPES)
        zf.writestr("_rels/.rels", _ROOT_RELS)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", _WB_RELS)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
        zf.writestr("xl/sharedStrings.xml", sst)
    return path
