"""The workloads.

Each workload has four parts:

- ``prepare`` (child process, before set-up): generate the seeded
  inputs and every expected output;
- ``warm_up`` (after set-up, untimed): pays the session's one-time
  costs, so that timed ops measure steady work;
- ``run_pass``: one pass over the workload's fixed op list; passes
  repeat until the run's time is up;
- ``check``: compare the outputs kept for the end with their oracle.

Ops call the package's public functions exactly as the CLI or a
registry consumer does.
"""

from __future__ import annotations

import contextlib
import io
import os
import pickle
import re
import sqlite3

import oracle
import sheetgen
import sqlscript
import tablegen

# Sizes are fixed per workload; only the seed varies the values.
SHEET_ROWS = 20_000              # the CLI's sheet
DIR_FILES, DIR_ROWS = 16, 1_250  # the datasource's workbook directory
CATALOG_SF = 0.01
# One key per catalog target: the scale-gated graph keys, the fact-join
# graph family, Fellegi-Sunter plan cost, fuzzy matching and the Arrow
# MinHash kernel.
CATALOG_KEYS = ("graph_kcore", "graph_bipartite_projection", "graph_hits",
                "linkage_fellegi_sunter", "str_fuzzy_match", "dedup_minhash")

# Row count and column totals, doubles in integer cents; the same SQL
# runs on Spark and on SQLite.
_TOTALS = ("COUNT(*)", "SUM(count)") + tuple(
    f"SUM(CAST(ROUND({c} * 100) AS BIGINT))"
    for c in ("average_response_time_95_ms", "max_response_time_95_ms",
              "min_response_time_95_ms"))
_DML_COUNT = re.compile(r"^-- (\d+) row\(s\) ", re.M)


def spark_totals(df) -> tuple[int, ...]:
    row = df.selectExpr(*_TOTALS).collect()[0]
    return tuple(int(v or 0) for v in row)


def sqlite_totals(path: str, table: str = "excel_rows") -> tuple[int, ...]:
    con = sqlite3.connect(path)
    try:
        row = con.execute(f"SELECT {', '.join(_TOTALS)} FROM {table}"
                          ).fetchone()
        return tuple(int(v or 0) for v in row)
    finally:
        con.close()


# -------------------------------------------------------------- CLI


class CliSession:
    """One CLI session over a generated sheet: the load before the first
    prompt, the ``--to-sqlite`` write, a ``spark.read.format("xlsx")``
    scan of a workbook directory, then a REPL script of display reads,
    ``|out=`` exports and DML, one line at a time."""

    name = "cli_session"
    app = "excel_to_db_spark-repl"
    sqlite_compat = True

    @staticmethod
    def prepare(work: str, seed: int) -> dict:
        sheet = sheetgen.generate(os.path.join(work, "sheet.xlsx"),
                                  SHEET_ROWS, seed)
        books = os.path.join(work, "books")
        os.makedirs(books)
        books_totals = sheetgen.Totals()
        for f in range(DIR_FILES):
            part = sheetgen.generate(os.path.join(books, f"book{f:02d}.xlsx"),
                                     DIR_ROWS, seed * 100 + f, prefix=f"f{f:02d}")
            books_totals = books_totals.merged(part.totals)
        script = sqlscript.generate(seed, [r[0] for r in sheet.expected])
        expected = os.path.join(work, "expected.pickle")
        with open(expected, "wb") as fh:
            pickle.dump(oracle.replay_script(sheet.expected, script), fh)
        return {"sheet": sheet.path, "sheet_totals": sheet.totals.as_tuple(),
                "books": books, "books_totals": books_totals.as_tuple(),
                "script": script, "expected": expected}

    @staticmethod
    def warm_up(run) -> None:
        """Register the xlsx data source, then take each path of a pass
        once on small inputs: four of the directory's workbooks through
        the data source (one Python worker per core), one of them
        through the loader and the SQLite sink, and the script's first
        line of each kind. Python workers, JIT compilation and Spark's
        lazy per-session set-up are then not charged to the first timed
        ops, which makes those steady."""
        from excel_to_db_spark import ingest, repl
        from excel_to_db_spark.sinks import db
        from excel_to_db_spark.sources.datasource import XlsxDataSource

        spark, inp = run.spark, run.inputs
        spark.dataSource.register(XlsxDataSource)
        spark.read.format("xlsx").option(
            "path", os.path.join(inp["books"], "book0[0-3].xlsx")
        ).load().count()
        df = ingest.load_excel_table(
            spark, os.path.join(inp["books"], "book00.xlsx"))
        df.count()
        db.write_sqlite(df, os.path.join(run.work, "warm-up.db"),
                        "excel_rows", unique_key="service_name")
        firsts = {}
        for line in inp["script"]:
            firsts.setdefault(line.kind, line)
        for line in firsts.values():
            text = line.sql
            if line.kind == "export":
                text += f" |out={os.path.join(run.work, 'warm-up.csv')}"
            with contextlib.redirect_stdout(io.StringIO()):
                repl.run_line(spark, text, sqlite_compat=True)
        spark.catalog.clearCache()

    @staticmethod
    def run_pass(run, p: int) -> None:
        from excel_to_db_spark import ingest, repl
        from excel_to_db_spark.sinks import db

        spark, inp = run.spark, run.inputs

        def load():
            df = ingest.load_excel_table(spark, inp["sheet"])
            return df, df.count()

        loaded = run.op("load", load)
        if loaded is not None:
            df, n = loaded
            run.layer("ingest.rows_out", n)
            run.expect(f"pass {p} load", spark_totals(df), inp["sheet_totals"])
            path = os.path.join(run.work, f"pass{p}.db")
            n = run.op("sqlite_write", lambda: db.write_sqlite(
                df, path, "excel_rows", unique_key="service_name"))
            if n is not None:
                run.layer("db.rows", n)
                run.layer("db.jobs", run.last.jobs)
                run.expect(f"pass {p} sqlite", sqlite_totals(path),
                           inp["sheet_totals"])
        scanned = run.op("scan", lambda: spark_totals(
            spark.read.format("xlsx").option("path", inp["books"]).load()))
        if scanned is not None:
            run.layer("datasource.rows", scanned[0])
            run.layer("datasource.task_run_s", run.last.executor_run_s)
            run.expect(f"pass {p} scan", scanned, inp["books_totals"])
            if run.traced:
                run.layer("datasource.partitions",
                          spark.read.format("xlsx").option("path", inp["books"])
                          .load().rdd.getNumPartitions())
        out_dir = os.path.join(run.work, f"pass{p}")
        os.makedirs(out_dir)
        captured = []
        for i, line in enumerate(inp["script"]):
            text, out = line.sql, os.path.join(out_dir, f"line{i:03d}.csv")
            if line.kind == "export":
                text += f" |out={out}"
            buf = io.StringIO()

            def run_line(text=text, buf=buf):
                with contextlib.redirect_stdout(buf):
                    repl.run_line(spark, text, sqlite_compat=True)

            run.op(line.kind, run_line)
            captured.append(buf.getvalue())
            if line.kind == "read":
                run.layer("display.rows_rendered",
                          max(0, len(oracle.parse_display(buf.getvalue())) - 1))
            elif line.kind == "export" and os.path.exists(out):
                with open(out, newline="") as fh:
                    run.layer("csv.rows_written", fh.read().count("\r\n") - 1)
                run.layer("csv.jobs_per_export", run.last.jobs, per_op=True)
            run.layer("repl.spark_job_s", run.last.job_s)
            run.layer("repl.driver_s", run.last_s - run.last.job_s)
        run.outputs.append((out_dir, captured))
        if run.traced:
            plan = spark.table("excel_rows")._jdf.queryExecution().analyzed()
            run.layer("dml.view_plan_nodes", len(plan.treeString().splitlines()))
        spark.catalog.clearCache()

    @staticmethod
    def check(run) -> None:
        with open(run.inputs["expected"], "rb") as fh:
            expected = pickle.load(fh)
        for out_dir, captured in run.outputs:
            for i, (line, got, exp) in enumerate(
                    zip(run.inputs["script"], captured, expected)):
                where = f"{os.path.basename(out_dir)} line {i} ({line.kind})"
                if exp[0] == "dml":
                    m = _DML_COUNT.search(got)
                    run.expect(where, int(m.group(1)) if m else None, exp[1])
                    continue
                run.expect(where + " display", oracle.parse_display(got), exp[-1])
                if exp[0] == "csv":
                    path = os.path.join(out_dir, f"line{i:03d}.csv")
                    text = None
                    if os.path.exists(path):
                        with open(path, newline="") as fh:
                            text = fh.read()
                    run.expect(where + " csv", text, exp[1])


# ---------------------------------------------------------------- catalog


class Catalog:
    """Registry keys on a generated sf0.01 fixture; no xlsx code runs."""

    name = "catalog_sf001"
    app = "excel_to_db_spark"
    sqlite_compat = None

    @staticmethod
    def prepare(work: str, seed: int) -> dict:
        from excel_to_db_spark.queries import REGISTRY

        fixture = os.path.join(work, "fixture")
        tablegen.generate(fixture, CATALOG_SF, seed)
        expected = os.path.join(work, "expected.pickle")
        with open(expected, "wb") as fh:
            pickle.dump(oracle.catalog_expected(
                fixture, {k: REGISTRY[k].oracle for k in CATALOG_KEYS}), fh)
        return {"fixture": fixture, "expected": expected}

    @staticmethod
    def warm_up(run) -> None:
        """bench.py's warm-up: touch every table, then spin up the
        Python worker pool and the ``createDataFrame`` path, so the
        first key is not charged for them."""
        from excel_to_db_spark.tables import load_table

        spark = run.spark
        for t in tablegen.TABLES:
            load_table(spark, run.inputs["fixture"], t).count()
        spark.range(2).mapInPandas(lambda it: it, "id bigint").count()
        spark.createDataFrame([(1,)], "x int").count()

    @staticmethod
    def run_pass(run, p: int) -> None:
        from excel_to_db_spark.queries import REGISTRY
        from excel_to_db_spark.tables import load_table

        spark, fixture = run.spark, run.inputs["fixture"]
        run.op("load", lambda: [load_table(spark, fixture, t).count()
                                for t in tablegen.TABLES])
        for key in CATALOG_KEYS:
            fn = REGISTRY[key].fn

            def key_op(key=key, fn=fn):
                with run.tracer.span(f"catalog.{key}.build"):
                    df = fn(spark, fixture)
                with run.tracer.span(f"catalog.{key}.action"):
                    return df.columns, df.collect()

            got = run.op("key", key_op, name=key)
            if got is not None:
                run.outputs.append((key, got))
                c = run.last
                run.layer(f"catalog.{key}.stages", c.stages, per_op=True)
                run.layer(f"catalog.{key}.tasks", c.tasks, per_op=True)
                run.layer(f"catalog.{key}.shuffle_bytes",
                          c.shuffle_write_bytes, per_op=True)
                run.layer(f"catalog.{key}.cpu_s", c.executor_cpu_s, per_op=True)
            spark.catalog.clearCache()

    @staticmethod
    def check(run) -> None:
        with open(run.inputs["expected"], "rb") as fh:
            expected = pickle.load(fh)
        for key, (cols, rows) in run.outputs:
            run.expect(f"{key} rows", oracle.row_multiset(cols, rows),
                       expected[key])


WORKLOADS = {w.name: w for w in (CliSession, Catalog)}
