"""Seeded .xlsx generator shaped like a real Excel export of excel_rows.

The workbooks mimic what Excel writes, not what the package's own
fixture writer writes:

- every text cell (header and body) is a ``t="s"`` index into an
  ``xl/sharedStrings.xml`` table;
- empty cells are omitted from the row (the ``r`` attribute carries the
  column), so the reader has to re-densify;
- row 1 holds display names ("Average 95%", ...), which the loader
  skips positionally;
- a fixed share of the body is dirty: text in numeric columns,
  fractional ``count`` values, and rows with no ``service_name``.

Alongside each workbook the generator returns the rows the loader must
produce under the reference coercion rules, derived from what it chose
to write (never by calling the package), plus column totals in exact
integer units.
"""

from __future__ import annotations

import random
import zipfile
from dataclasses import dataclass, field
from xml.sax.saxutils import escape

HEADER = ("Service Name", "Average 95%", "Count", "Max Average 95%",
          "Min Average 95%")

# Shares of body rows (per mille) that carry each kind of dirt.
MISSING_NAME = 8        # service_name cell omitted -> row dropped
TEXT_IN_NUMBER = 15     # a numeric column holds text -> 0.0 / parsed int
FRACTIONAL_COUNT = 20   # count written as x.y -> truncated toward zero
EMPTY_NUMBER = 10       # a numeric cell omitted -> 0.0 / 0

_WORDS = ("auth", "billing", "cart", "search", "gateway", "ledger",
          "notify", "media", "profile", "quota", "report", "session")
_JUNK = ("n/a", "-", "TBD", "err", "12.5ms", "  ")

_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
    '</Types>')
_ROOT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
    '</Relationships>')
_WB_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
    '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
    '</Relationships>')
_WORKBOOK = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<workbook xmlns="{_NS}" '
    'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
    '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>')


@dataclass
class Totals:
    """Exact column totals of coerced rows: doubles in integer cents."""
    rows: int = 0
    count: int = 0
    avg_cents: int = 0
    max_cents: int = 0
    min_cents: int = 0

    def add(self, row: tuple) -> None:
        self.rows += 1
        self.count += row[2]
        self.avg_cents += round(row[1] * 100)
        self.max_cents += round(row[3] * 100)
        self.min_cents += round(row[4] * 100)

    def merged(self, other: "Totals") -> "Totals":
        return Totals(*(a + b for a, b in zip(self.as_tuple(),
                                              other.as_tuple())))

    def as_tuple(self) -> tuple[int, ...]:
        return (self.rows, self.count, self.avg_cents, self.max_cents,
                self.min_cents)


@dataclass
class Sheet:
    path: str
    expected: list[tuple] = field(default_factory=list)
    totals: Totals = field(default_factory=Totals)


def _ms(rng: random.Random, lo: float, hi: float) -> float:
    """A latency in ms with two decimals, like the demo sheet's values."""
    return round(rng.uniform(lo, hi), 2)


def _body_row(rng: random.Random, name: str) -> tuple[list, tuple | None]:
    """(cells as written, expected coerced tuple or None if dropped)."""
    avg = _ms(rng, 5, 20_000)
    mx = round(avg + _ms(rng, 0, 5_000), 2)
    mn = _ms(rng, 0, avg)
    cnt: object = rng.randint(0, 100_000)
    written: list = [name, avg, cnt, mx, mn]
    expected = [name, avg, cnt, mx, mn]
    roll = rng.randrange(1000)
    if roll < MISSING_NAME:
        written[0] = None
        expected = None
    elif roll < MISSING_NAME + TEXT_IN_NUMBER:
        col = rng.randrange(1, 5)
        if col == 2 and rng.random() < 0.5:
            # count stored as numeric text: the loader parses it
            written[2] = f" {cnt} "
        else:
            written[col] = rng.choice(_JUNK)
            expected[col] = 0 if col == 2 else 0.0
    elif roll < MISSING_NAME + TEXT_IN_NUMBER + FRACTIONAL_COUNT:
        frac = rng.randint(1, 99) / 100
        written[2] = cnt + frac
        expected[2] = cnt      # truncated toward zero (counts are >= 0)
    elif roll < MISSING_NAME + TEXT_IN_NUMBER + FRACTIONAL_COUNT + EMPTY_NUMBER:
        col = rng.randrange(1, 5)
        written[col] = None
        expected[col] = 0 if col == 2 else 0.0
    if expected is not None:
        expected = (expected[0], float(expected[1]), int(expected[2]),
                    float(expected[3]), float(expected[4]))
    return written, expected


def service_name(rng: random.Random, prefix: str, i: int) -> str:
    return f"ent_{prefix}{rng.choice(_WORDS)}_{i:06x}_V{rng.randint(1, 3)}"


def generate(path: str, n_rows: int, seed: int, prefix: str = "") -> Sheet:
    """Write one workbook of ``n_rows`` body rows; names are unique
    within ``prefix``."""
    rng = random.Random(seed)
    sheet = Sheet(path=path)
    strings: dict[str, int] = {}

    def sst(text: str) -> int:
        idx = strings.get(text)
        if idx is None:
            idx = strings[text] = len(strings)
        return idx

    letters = "ABCDE"
    rows_xml = []
    for r, values in enumerate(_rows(rng, n_rows, prefix, sheet), start=1):
        parts = [f'<row r="{r}">']
        for ci, v in enumerate(values):
            if v is None:
                continue
            ref = f"{letters[ci]}{r}"
            if isinstance(v, str):
                parts.append(f'<c r="{ref}" t="s"><v>{sst(v)}</v></c>')
            else:
                parts.append(f'<c r="{ref}"><v>{v!r}</v></c>')
        parts.append("</row>")
        rows_xml.append("".join(parts))
    sheet_xml = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{_NS}"><dimension ref="A1:E{n_rows + 1}"/>'
        f'<sheetData>{"".join(rows_xml)}</sheetData></worksheet>')
    sst_xml = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<sst xmlns="{_NS}" count="{len(strings)}" uniqueCount="{len(strings)}">'
        + "".join(f'<si><t xml:space="preserve">{escape(s)}</t></si>'
                  for s in strings)
        + "</sst>")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", _CONTENT_TYPES)
        zf.writestr("_rels/.rels", _ROOT_RELS)
        zf.writestr("xl/workbook.xml", _WORKBOOK)
        zf.writestr("xl/_rels/workbook.xml.rels", _WB_RELS)
        zf.writestr("xl/sharedStrings.xml", sst_xml)
        zf.writestr("xl/worksheets/sheet1.xml", sheet_xml)
    return sheet


def _rows(rng: random.Random, n_rows: int, prefix: str, sheet: Sheet):
    yield list(HEADER)
    for i in range(n_rows):
        written, expected = _body_row(rng, service_name(rng, prefix, i))
        if expected is not None:
            sheet.expected.append(expected)
            sheet.totals.add(expected)
        yield written
