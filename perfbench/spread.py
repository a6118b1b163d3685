"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload cli_session --seeds 1-10 [--trace 1]

For every metric it prints the median and the distance between the first
and third quartile (``statistics.quantiles(values, n=4)``) as a share of
the median, next to the bound from BENCHMARK.json; and, per run, the
wall time, so the whole budget can be checked, and the run's contention
probe from its record. A run whose probe is more than 1.5 times the
set's median probe ran while the host was slow, and is flagged.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi) + 1)) if hi else [int(s) for s in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="a-b or a,b,c")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    cmd = bench["command"] + ["--workload", args.workload,
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", args.trace]
    values: dict[str, list[float]] = {}
    walls, probes = [], {}
    bad = 0
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(cmd + ["--seed", str(seed)], cwd=ROOT,
                              capture_output=True, text=True)
        walls.append(time.perf_counter() - t0)
        lines = proc.stdout.strip().splitlines()
        try:
            result = json.loads(lines[-1])
        except (IndexError, ValueError):
            bad += 1
            print(f"seed {seed}: exit {proc.returncode}, no result\n"
                  f"{proc.stderr[-2000:]}")
            continue
        bad += not result["correct"] or proc.returncode != 0
        shown = " ".join(f"{k}={v['value']:.4g}"
                         for k, v in result["metrics"].items() if k in bounds)
        record = os.path.join(ROOT, ".perfbench", "out", f"{args.workload}"
                              f"-seed{seed}-trace{args.trace}.json")
        with open(record) as fh:
            probes[seed] = json.load(fh)["conditions"]["contention_probe_s"]
        print(f"seed {seed}: exit {proc.returncode} wall {walls[-1]:.1f}s "
              f"probe {probes[seed]:.3f}s "
              f"correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']} {shown}", flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"runs {len(walls)}, wall total {sum(walls):.0f}s, "
          f"mean {statistics.mean(walls):.1f}s, max {max(walls):.1f}s")
    if probes:
        typical = statistics.median(probes.values())
        slow = [s for s, p in probes.items() if p > 1.5 * typical]
        print(f"contention probe median {typical:.3f}s; "
              f"slow-host runs: {slow or 'none'}")
    for k, vs in values.items():
        if len(vs) < 2 or (args.trace == "1" and k not in bounds
                           and not k.startswith(("op.", "trace."))):
            continue
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4)
        spread = (q[2] - q[0]) / med if med else 0.0
        bound = f" bound {bounds[k]}" if k in bounds else ""
        print(f"{k:24s} median {med:10.4g}  iqr/median {spread:6.3f}{bound}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
