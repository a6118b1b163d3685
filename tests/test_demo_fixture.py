"""The paper's demo workbook, kept in the package as
``excel_to_db_spark/data/demo.xlsx`` (``queries.parity.DEMO_XLSX``).

It is a rebuild, not the Excel-made original: the header of display
names (SURVEY.md §1) and the two golden rows (FIXTURES.md §1) written
with ``sources.xlsx_writer.write_xlsx``, which stores text in a
sharedStrings part as Excel does. To rebuild it:

    python -c "from tests.test_demo_fixture import DEMO_ROWS; \\
        from excel_to_db_spark.queries.parity import DEMO_XLSX; \\
        from excel_to_db_spark.sources.xlsx_writer import write_xlsx; \\
        write_xlsx(DEMO_XLSX, DEMO_ROWS)"
"""

from __future__ import annotations

import zipfile

from excel_to_db_spark.queries.parity import DEMO_XLSX
from excel_to_db_spark.sources.xlsx import read_xlsx_rows, sheet_names
from excel_to_db_spark.sources.xlsx_writer import write_xlsx

DEMO_ROWS = [
    ["Service Name", "Average 95%", "Count", "Max Average 95%",
     "Min Average 95%"],
    ["ent_XXX_V2", 12001.12, 100, 12001.12, 11],
    ["ent_XXX_YYY_V2", 12001.12, 100, 12001.12, 10],
]


def test_committed_demo_matches_rebuild(tmp_path):
    rebuilt = str(tmp_path / "demo.xlsx")
    write_xlsx(rebuilt, DEMO_ROWS)
    assert read_xlsx_rows(DEMO_XLSX) == read_xlsx_rows(rebuilt) == DEMO_ROWS
    assert sheet_names(DEMO_XLSX) == sheet_names(rebuilt) == ["Sheet1"]


def test_demo_text_cells_are_shared_strings():
    with zipfile.ZipFile(DEMO_XLSX) as zf:
        sheet = zf.read("xl/worksheets/sheet1.xml").decode()
        assert "xl/sharedStrings.xml" in zf.namelist()
    assert 't="s"' in sheet and "inlineStr" not in sheet


def test_demo_is_package_data():
    import fnmatch
    import os
    import tomllib

    pkg = os.path.dirname(os.path.dirname(DEMO_XLSX))
    with open(os.path.join(os.path.dirname(pkg), "pyproject.toml"), "rb") as f:
        globs = tomllib.load(f)["tool"]["setuptools"]["package-data"][
            "excel_to_db_spark"]
    rel = os.path.relpath(DEMO_XLSX, pkg)
    assert any(fnmatch.fnmatch(rel, g) for g in globs)
