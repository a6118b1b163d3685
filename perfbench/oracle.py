"""Output checks that run outside the timed spans.

- :func:`catalog_expected` runs each registry key's DuckDB oracle SQL
  on the generated fixture and returns its rows as the normalised
  multiset ``tools/check.py`` compares (type-faithful, floats to 12
  significant digits, columns sorted by name).
- :func:`replay_script` replays a REPL script on stdlib ``sqlite3``
  ``:memory:`` (the reference's own engine) and returns, per line, the
  displayed table, the exported CSV text, or the DML row count.

Both are called in a child process so their memory never counts toward
the measured process's peak RSS.
"""

from __future__ import annotations

import csv
import io
import os
import sqlite3
import sys

from sqlscript import Line

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

DISPLAY_CAP = 1000      # the REPL's default row cap


def row_multiset(cols: list[str], rows) -> tuple:
    """(sorted column names, normalised row multiset) as tools/check.py
    compares them. Imported on first use: check.py imports duckdb, which
    must not count toward the measured process's memory."""
    from check import _row_multiset

    return sorted(cols), _row_multiset(cols, rows)


def catalog_expected(fixture_dir: str, oracles: dict[str, str]) -> dict:
    """key -> (sorted column names, normalised row multiset)."""
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(fixture_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(fixture_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
        out = {}
        for key, sql in oracles.items():
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[key] = row_multiset(cols, cur.fetchall())
        return out
    finally:
        con.close()


# ---------------------------------------------------------------- REPL


def format_cell(v) -> str:
    """The reference's display rule: NULL literal, thousands
    separators on integers and reals, text as is."""
    if v is None:
        return "NULL"
    if isinstance(v, (int, float)):
        return f"{v:,}"
    return str(v)


def expected_display(cols: list[str], rows: list[tuple]) -> list[list[str]]:
    """Header plus the capped body as cell lists; a trailing marker row
    notes truncation."""
    body = [[format_cell(v) for v in r] for r in rows[:DISPLAY_CAP]]
    out = [list(cols)] + body
    if len(rows) > DISPLAY_CAP:
        out.append([f"capped at {DISPLAY_CAP}"])
    return out


def parse_display(text: str) -> list[list[str]]:
    """Inverse of the REPL's ASCII table: header plus body cells, and
    the truncation marker as one trailing row."""
    out: list[list[str]] = []
    for line in text.splitlines():
        if line.startswith("| "):
            out.append([c.strip() for c in line[2:-2].split(" | ")])
        elif line.startswith("-- output capped at "):
            out.append([f"capped at {line.split()[4]}"])
    return out


def expected_csv(cols: list[str], rows: list[tuple]) -> str:
    buf = io.StringIO(newline="")
    w = csv.writer(buf)
    w.writerow(cols)
    for r in rows:
        w.writerow(["" if v is None else v for v in r])
    return buf.getvalue()


def replay_script(rows: list[tuple], lines: list[Line]) -> list:
    """Replay ``lines`` on a table of ``rows``. Per line:
    ("display", cells), ("csv", text, cells) or ("dml", rowcount)."""
    con = sqlite3.connect(":memory:")
    try:
        con.execute(
            "CREATE TABLE excel_rows (service_name TEXT NOT NULL, "
            "average_response_time_95_ms REAL NOT NULL, "
            "count INTEGER NOT NULL, max_response_time_95_ms REAL NOT NULL, "
            "min_response_time_95_ms REAL NOT NULL)")
        con.executemany("INSERT INTO excel_rows VALUES (?, ?, ?, ?, ?)",
                        rows)
        out = []
        for line in lines:
            cur = con.execute(line.sql)
            if line.kind == "dml":
                out.append(("dml", cur.rowcount))
                continue
            cols = [d[0] for d in cur.description]
            got = cur.fetchall()
            cells = expected_display(cols, got)
            if line.kind == "export":
                out.append(("csv", expected_csv(cols, got), cells))
            else:
                out.append(("display", cells))
        return out
    finally:
        con.close()
