"""One benchmark run: set-up, timed passes, checks and metrics."""

from __future__ import annotations

import json
import os
import platform
import resource
import statistics
import time
from collections import defaultdict

from sparkstats import Counters, StatusStore
from spans import Tracer
from workloads import CATALOG_KEYS

PASS = "pass/"          # op-id prefix of timed work
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SPARK = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
          "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics, as
    BENCHMARK.json defines them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _contention_probe(spark, cores: int) -> float:
    """bench.py's CPU-bound probe, smaller: best of three."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 20_000_000, 1, cores).selectExpr(
            "sum(id * 3 + (id % 7)) AS s").collect()
        best = min(best, time.perf_counter() - t0)
    return best


class Run:
    """State of one run. Workloads call :meth:`op` for each timed
    operation, :meth:`layer` to record a per-layer value and
    :meth:`expect` to check an output."""

    def __init__(self, workload, work: str, inputs: dict, traced: bool):
        self.workload, self.work, self.inputs = workload, work, inputs
        self.traced = traced
        self.tracer = Tracer(traced)
        self.spark = None
        self.stats: StatusStore | None = None
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.mismatches: list[str] = []
        self.latency: dict[str, list[float]] = defaultdict(list)
        self.latency_by_name: dict[str, list[float]] = defaultdict(list)
        self.pass_s: list[float] = []
        self.pass_counters: list[Counters] = []
        self.sums: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.outputs: list = []
        self.last = Counters()
        self.last_s = 0.0
        self.overhead_s = 0.0
        self.warm_up_s = 0.0
        self.phases: dict[str, float] = {}
        self._pass = 0

    # ------------------------------------------------------- workload API

    def op(self, kind: str, fn, name: str | None = None):
        """Time ``fn()`` as one op; returns its result, or None if it
        raised (the failure is counted and named)."""
        name = name or kind
        self.attempted += 1
        self.tracer.op = f"{PASS}{self._pass}/{self.attempted}:{name}"
        if self.stats is not None:
            t = time.perf_counter()
            self.stats.mark()
            self.overhead_s += time.perf_counter() - t
        out = None
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}", op_name=name):
                out = fn()
        except Exception as exc:   # an op failure is data, not a crash
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(f"pass {self._pass} op {name}: "
                                   f"{type(exc).__name__}: {exc}"[:800])
        dt = time.perf_counter() - t0
        self.last_s = dt
        self.latency[kind].append(dt)
        self.latency_by_name[name].append(dt)
        self.pass_s[-1] += dt
        if self.stats is not None:
            t = time.perf_counter()
            self.last = self.stats.delta()
            self.pass_counters[-1] += self.last
            self.overhead_s += time.perf_counter() - t
        return out

    def layer(self, name: str, value: float, per_op: bool = False) -> None:
        """Record a per-layer value: summed per pass, or (``per_op``) one
        sample per op, reported as the median."""
        if per_op:
            self.samples[name].append(value)
        else:
            self.sums[name] += value

    def expect(self, where: str, got, want) -> None:
        if got != want:
            self.mismatches.append(f"{where}: got {str(got)[:300]} "
                                   f"want {str(want)[:300]}")

    # ---------------------------------------------------------- the run

    def _patch(self) -> None:
        from pyspark.sql import SparkSession

        from excel_to_db_spark import ingest, repl, session
        from excel_to_db_spark.sinks import db

        t = self.tracer
        t.wrap(session, "get_spark", "session.get_spark")
        t.wrap(ingest, "load_excel_table", "ingest.load_excel_table")
        t.wrap_rows(ingest, "iter_xlsx_rows", "xlsx.parse")
        t.wrap(ingest, "coerce_row", "ingest.coerce_row", per_call=True)
        t.wrap(SparkSession, "createDataFrame", "ingest.create_df")
        t.wrap(ingest, "check_unique_key", "ingest.check_unique_key")
        t.wrap(repl, "rewrite", "dialect.rewrite")
        t.wrap(repl, "try_dml", "dml.try_dml")
        t.wrap(repl, "show", "display.show")
        t.wrap(repl, "export_csv", "csv.export")
        t.wrap(db, "write_sqlite", "db.write_sqlite")

    def _setup(self) -> float:
        """Start the session once, on a new JVM, as the CLI does:
        ``get_spark`` plus, for the CLI workloads, the CLI's dialect
        mode. Returns the time it took."""
        from excel_to_db_spark import session
        from excel_to_db_spark.compat.sqlite_dialect import apply_session_mode

        wl = self.workload
        self.tracer.op = "setup"
        t0 = time.perf_counter()
        spark = self.spark = session.get_spark(wl.app)
        if wl.sqlite_compat is not None:
            apply_session_mode(spark, wl.sqlite_compat)
        setup_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        self.tracer.op = "warm-up"
        t0 = time.perf_counter()
        wl.warm_up(self)
        self.warm_up_s = time.perf_counter() - t0
        return setup_s

    def execute(self, seconds: float) -> dict:
        """Set up, run passes for ``seconds``, check."""
        import pyspark

        self.phases["start"] = time.perf_counter()
        self._patch()
        setup_s = self._setup()
        self.phases["set_up"] = time.perf_counter()
        cores = self.spark.sparkContext.defaultParallelism
        if self.traced:
            self.stats = StatusStore(self.spark)
        start = time.perf_counter()
        while True:
            self._pass += 1
            self.pass_s.append(0.0)
            self.pass_counters.append(Counters())
            failed = self.failed
            self.workload.run_pass(self, self._pass)
            if self._pass == 1:
                # Peak up to here: the same work whatever the pass count.
                rss_mb = resource.getrusage(
                    resource.RUSAGE_SELF).ru_maxrss / 1024
            if time.perf_counter() - start >= seconds or self.failed > failed:
                break
        measured_s = time.perf_counter() - start
        self.phases["passes"] = time.perf_counter()
        probe = _contention_probe(self.spark, cores)
        self.tracer.op = "check"
        self.workload.check(self)
        self.phases["check"] = time.perf_counter()
        conditions = {
            "nproc": len(os.sched_getaffinity(0)),
            "spark_cores": cores,
            "spark_master": self.spark.sparkContext.master,
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": self.spark.sparkContext._jvm.System.getProperty(
                "java.version"),
            "platform": platform.platform(),
            "contention_probe_s": probe,
        }
        e2e = {
            "setup_s": setup_s,
            "load_s": _median(self.latency["load"]),
            "pass_s": _median(self.pass_s),
            "py_peak_rss_mb": rss_mb,
        }
        record = {
            "conditions": conditions,
            "passes": len(self.pass_s),
            "measured_s": measured_s,
            "attempted": self.attempted,
            "failed": self.failed,
            "error_rate": self.failed / max(1, self.attempted),
            "errors": self.errors,
            "mismatches": self.mismatches,
            "setup_s": setup_s,
            "warm_up_s": self.warm_up_s,
            "phases": self.phases,
            "pass_s": self.pass_s,
            "latency_s": dict(self.latency_by_name),
            "end_to_end": {k: {"value": e2e[k], "unit": u}
                           for k, u in metric_units("end_to_end").items()},
        }
        if self.traced:
            layers = self._per_layer()
            record["per_layer"] = {
                k: {"value": layers.get(k, 0.0), "unit": u}
                for k, u in metric_units("per_layer").items()}
            record["spans"] = self.tracer.dump()
        return record

    def _per_layer(self) -> dict[str, float]:
        t = self.tracer
        n = len(self.pass_s)
        own = t.self_times(PASS)
        lat = self.latency
        out = {k: v / n for k, v in self.sums.items()}
        out.update({k: _median(v) for k, v in self.samples.items()})
        parse_s, rows, cells = t.totals("xlsx.parse", PASS)
        loads = len(t.durations("ingest.load_excel_table", PASS))
        out.update({
            "session.get_spark_s": _median(
                t.durations("session.get_spark", "setup")),
            "xlsx.parse_s": parse_s / n,
            "xlsx.rows": rows / n,
            "xlsx.cells": cells / n,
            "ingest.coerce_s": t.totals("ingest.coerce_row", PASS)[0] / n,
            "ingest.rows_dropped":
                max(0.0, (rows - loads) / n - out.get("ingest.rows_out", 0)),
            "op.load_s": _median(lat["load"]),
            "op.scan_s": _median(lat["scan"]),
            "op.sqlite_write_s": _median(lat["sqlite_write"]),
            "op.read_p50_s": _median(lat["read"]),
            "op.export_p50_s": _median(lat["export"]),
            "op.dml_p50_s": _median(lat["dml"]),
            "op.catalog_s": sum(_median(v) for k, v in
                                self.latency_by_name.items()
                                if k in CATALOG_KEYS),
            "trace.pass_s": _median(self.pass_s),
            "trace.overhead_s": self.overhead_s / n,
            "trace.spans": sum(1 for s in t.spans
                               if (s.op or "").startswith(PASS)) / n,
        })
        for span, metric in (("ingest.create_df", "ingest.create_df_s"),
                             ("ingest.check_unique_key", "ingest.unique_check_s"),
                             ("db.write_sqlite", "db.write_s"),
                             ("dialect.rewrite", "dialect.rewrite_s"),
                             ("dml.try_dml", "dml.try_dml_s"),
                             ("display.show", "display.show_s"),
                             ("csv.export", "csv.export_s")):
            out[metric] = own.get(span, 0.0) / n
        for k in CATALOG_KEYS:
            for part in ("build", "action"):
                out[f"catalog.{k}.{part}_s"] = _median(
                    t.durations(f"catalog.{k}.{part}", PASS))
        for c in _SPARK:
            out[f"spark.{c}"] = _median([getattr(pc, c)
                                         for pc in self.pass_counters])
        return out

    def close(self) -> None:
        self.tracer.restore()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
