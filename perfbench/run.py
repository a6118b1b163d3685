"""Benchmark of the excel_to_db_spark package: one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run

1. generates the workload's inputs and expected outputs from ``--seed``
   in a child process (so they never count toward the measured memory)
   and waits for them;
2. starts the session once on a new JVM, as the CLI does
   (``session.get_spark`` plus the CLI's dialect mode): ``setup_s``;
3. runs the workload's untimed warm-up, then repeats passes over its
   fixed op list until ``--seconds`` have passed (at least one pass),
   one client, closed loop;
4. checks every output against its oracle, and prints one JSON line:
   the end-to-end metrics with ``--trace 0``, the per-layer metrics
   (from spans around the package's public functions and Spark's
   status store) with ``--trace 1``.

On every way out it stops the JVM and waits until each process it
started has ended, the JVM's Python workers included: the run is a
child subreaper (Linux), so those workers become its children when the
JVM exits, and it reaps them.

Scratch files live under ``.perfbench/`` in the checkout; the run
record (run conditions, every op latency and, when traced, the spans)
is written to ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import pickle
import shutil
import signal
import subprocess
import sys
import time

STARTED = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and let Python workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options '-Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData' pyspark-shell"),
    })
    import tempfile

    tempfile.tempdir = tmp


def _package_present() -> bool:
    sys.path.insert(0, ROOT)
    try:
        import excel_to_db_spark
    except ImportError:
        return False
    return os.path.dirname(os.path.dirname(
        os.path.abspath(excel_to_db_spark.__file__))) == ROOT


_PR_SET_CHILD_SUBREAPER = 36

# Runs in the child that generates the inputs: workload, work dir, seed
# and output file come as arguments; the inputs dict is pickled.
_PREPARE = ("import pickle, sys\n"
            "from workloads import WORKLOADS\n"
            "name, work, seed, out = sys.argv[1:]\n"
            "inputs = WORKLOADS[name].prepare(work, int(seed))\n"
            "with open(out, 'wb') as fh:\n"
            "    pickle.dump(inputs, fh)\n")


def _become_subreaper() -> None:
    """Adopt every orphaned descendant, so _reap_children can wait for
    processes the JVM starts and leaves behind."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(
            _PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _prepare(workload, work: str, seed: int) -> dict:
    """Generate the inputs in a child process, so that neither the
    generator's nor the oracles' memory counts toward py_peak_rss_mb."""
    out = os.path.join(work, "inputs.pickle")
    subprocess.run([sys.executable, "-c", _PREPARE, workload.name, work,
                    str(seed), out], cwd=HERE, check=True)
    with open(out, "rb") as fh:
        return pickle.load(fh)


def _stop_jvm() -> None:
    """Stop the Py4J gateway JVM and wait for it to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    SparkContext._gateway = None
    SparkContext._jvm = None
    try:
        gw.shutdown()
    finally:
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _children() -> list[int]:
    me, pids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            pids.append(int(entry))
    return pids


def _reap_children(grace_s: float = 30.0) -> None:
    """Wait until every child (adopted ones included) has ended; kill
    what is still running after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in _children():
                try:
                    os.kill(child, signal.SIGKILL)
                except OSError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


def main(argv=None) -> int:
    args = _parse(argv)
    if not _package_present():
        print(f"perfbench: package excel_to_db_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    workload = WORKLOADS.get(args.workload)
    if workload is None:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _become_subreaper()
    try:
        _environment(work)
        from harness import Run

        inputs = _prepare(workload, work, args.seed)
        run = Run(workload, work, inputs, traced=bool(args.trace))
        try:
            record = run.execute(args.seconds)
        finally:
            run.close()
            _stop_jvm()
        run.phases["stopped"] = time.perf_counter()
        record.update(workload=workload.name, seed=args.seed,
                      seconds=args.seconds, trace=args.trace,
                      phases={k: v - STARTED for k, v in run.phases.items()})
        out_dir = os.path.join(base, "out")
        os.makedirs(out_dir, exist_ok=True)
        out = os.path.join(out_dir, f"{workload.name}-seed{args.seed}"
                                    f"-trace{args.trace}.json")
        with open(out, "w") as fh:
            json.dump(record, fh, indent=1, default=str)
    finally:
        try:
            _stop_jvm()
        finally:
            _reap_children()
            shutil.rmtree(work, ignore_errors=True)
    for problem in record["errors"] + record["mismatches"]:
        print(f"perfbench: {problem}", file=sys.stderr)
    print(f"perfbench: {record['passes']} passes, "
          f"{record['attempted']} ops, record in {out}", file=sys.stderr)
    result = {
        "correct": not record["mismatches"] and not record["failed"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": record["per_layer" if args.trace else "end_to_end"],
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
