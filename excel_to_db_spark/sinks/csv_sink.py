"""CSV export sink.

Reference (src/main.rs:264-286): re-serializes the *rendered* display
table (header row included) to one CSV file, stripping every comma from
every cell — an artifact of undoing thousands separators that also
corrupts commas inside text (SURVEY.md §2.A defect 4).

One single-file output, as the reference writes, streamed from the
result with ``toLocalIterator`` (the pattern sinks/db.py:write_sqlite
uses) instead of collected whole. That runs one Spark job per result
partition, one after another; prefetching the next partition while the
current one is written overlaps them, so the driver holds at most two
partitions. A result split into many small partitions still exports
slower than one parallel collect would (4 cores, 200k rows: 16
partitions 1.3 s against 1.6 s, 64 partitions 2.0 s against 1.6 s).
Two modes:

- intended (default): values written from the DataFrame, proper CSV
  quoting.
- bug_compat: reproduce the rendered-table path, thousands separators
  stripped by comma-removal, exactly like the reference.
"""

from __future__ import annotations

import csv
from typing import Iterable

from pyspark.sql import DataFrame, Row

from .display import format_cell


def export_csv(df: DataFrame, path: str, *, bug_compat: bool = False,
               rows: Iterable[Row] | None = None) -> None:
    """Write df's result to ``path``. ``rows`` is that result when the
    caller already streams it (the REPL's ``|out=`` line, which shows
    its head first); without it, df runs here."""
    rows = df.toLocalIterator(prefetchPartitions=True) if rows is None else rows
    header = list(df.columns)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        if bug_compat:
            w.writerow([h.replace(",", "") for h in header])
            for r in rows:
                w.writerow([format_cell(v).replace(",", "") for v in r])
            return
        w.writerow(header)
        for r in rows:
            w.writerow(["" if v is None else v for v in r])
