"""Benchmark self-check: run a short form of each workload twice and compare.

    python3 perfbench/selfcheck.py [--seed 7] [--seconds 1]

For each workload it makes two traced runs and two untraced runs with the
same seed.  Counts (jobs, stages, tasks, files) and store bytes must
repeat exactly; shuffle and spill bytes within 0.1 %, since compressed
shuffle blocks depend on the order rows reach a task; each end-to-end
time must agree between the two runs within its bound in
``BENCHMARK.json``.  It prints the measured spread of every metric and
exits 1 if a check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXACT_UNITS = {"count", "B", "B/point"}
# byte counts of compressed shuffle or spill blocks: within NEAR
NEAR_EXACT, NEAR = ("shuffle", "spill"), 0.001


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        raise RuntimeError(f"{workload} trace {trace} exited {p.returncode}:\n"
                           f"{p.stderr[-2000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise RuntimeError(f"{workload} trace {trace}: output checks failed")
    return result["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=1.0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    problems = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (1, 0):
            a, b = (run_once(w, args.seed, args.seconds, trace) for _ in range(2))
            for name, ma in a.items():
                va, vb, unit = ma["value"], b[name]["value"], ma["unit"]
                spread = abs(va - vb) / max(abs(va), abs(vb), 1e-12)
                if unit in EXACT_UNITS:
                    near = any(k in name for k in NEAR_EXACT)
                    ok = spread <= NEAR if near else va == vb
                elif trace == 0:
                    ok = spread <= bounds[name]
                else:
                    ok = True       # per-layer times have no bound
                print(f"{w:12s} {name:32s} {va:14.4f} {vb:14.4f} "
                      f"{unit:8s} spread {spread:6.3f} {'ok' if ok else 'FAIL'}")
                if not ok:
                    problems.append(f"{w} {name}: {va} vs {vb}")
    for p in problems:
        print(f"selfcheck: {p}", file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
