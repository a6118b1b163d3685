"""Pretty-table display sink with the reference's cell formatting.

Reference (src/main.rs:222-262): column headers from statement metadata;
NULL -> literal "NULL", blob -> "BLOB", integers and reals rendered with
thousands separators, ASCII table to stdout.

One deliberate divergence: the reference materializes the ENTIRE result
into driver memory with no cap (src/main.rs:236-261). At Spark scale an
uncapped collect is the one thing we refuse to copy — rows are capped
(configurable) and the cap is reported.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, Row

DEFAULT_ROW_CAP = 1000


def format_cell(v: object) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, (bytes, bytearray)):
        return "BLOB"
    if isinstance(v, bool):
        return str(int(v))  # SQLite has no bool; renders 0/1
    if isinstance(v, int):
        return f"{v:,}"
    if isinstance(v, (float, Decimal)):
        return f"{v:,}"
    return str(v)


def render_table(header: list[str], rows: list[list[str]]) -> str:
    widths = [len(h) for h in header]
    for row in rows:
        for i, cell in enumerate(row):
            widths[i] = max(widths[i], len(cell))
    sep = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
    def line(cells: list[str]) -> str:
        return "| " + " | ".join(c.ljust(w) for c, w in zip(cells, widths)) + " |"
    out = [sep, line(header), sep]
    out += [line(r) for r in rows]
    out.append(sep)
    return "\n".join(out)


def collect_formatted(df: DataFrame, row_cap: int = DEFAULT_ROW_CAP,
                      rows: list[Row] | None = None
                      ) -> tuple[list[str], list[list[str]], bool]:
    """Returns (header, formatted rows, truncated?). ``rows`` is the
    first ``row_cap + 1`` rows of df's result when the caller already
    streams it (the REPL's ``|out=`` line). Without it, df runs with
    that limit."""
    header = list(df.columns)
    raw = df.limit(row_cap + 1).collect() if rows is None else rows
    truncated = len(raw) > row_cap
    cells = [[format_cell(v) for v in r] for r in raw[:row_cap]]
    return header, cells, truncated


def show(df: DataFrame, row_cap: int = DEFAULT_ROW_CAP,
         rows: list[Row] | None = None) -> str:
    header, cells, truncated = collect_formatted(df, row_cap, rows)
    text = render_table(header, cells)
    if truncated:
        text += f"\n-- output capped at {row_cap} rows --"
    print(text)
    return text
