#!/usr/bin/env python3
"""Run the benchmark on several seeds, one fresh process each, and report
each run's elapsed time and every metric's median and quartile spread
(Q3 - Q1 as a share of the median) next to its bound in BENCHMARK.json.

    python3 cdcbench/spread.py --workload batch_queries --seeds 1 2 3 4 5 [--trace 0]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for seed in args.seeds:
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", str(args.trace)]
        t = time.monotonic()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        elapsed = time.monotonic() - t
        if p.returncode != 0:
            print(p.stderr[-2000:], file=sys.stderr)
            return 1
        res = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append(res)
        print(json.dumps({"seed": seed, "elapsed_s": round(elapsed, 1), **res}), flush=True)
    print(f"correct in every run: {all(r['correct'] for r in runs)}; failed shares: "
          f"{sorted({r['failed'] / r['attempted'] for r in runs})}")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(name)
        flag = "" if bound is None else f"bound {bound}  {'OK' if spread < bound / 3 else 'WIDE'}"
        print(f"{name:40s} median {med:14.4f}  spread {spread:7.3f}  {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
