"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload dashboard_reads --seeds 1-10 \\
        --seconds 12 --out perfbench/results/set1-dashboard_reads.json

For every metric: the median and the quartile spread, (Q3 - Q1) / median
with quartiles from ``statistics.quantiles(values, n=4)``. Each run's
run-environment record (host steal, host-speed probe, sample count, run
wall) is kept next to its metrics, so a disagreement between two sets can
be traced to the host or to the program.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    run_py = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    runs = []
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, run_py, "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True)
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                  file=sys.stderr)
            return 1
        env, result = json.loads(lines[-2])["env"], json.loads(lines[-1])
        env["run_wall_s"] = wall
        runs.append({"seed": seed, "env": env, "result": result})
        print(json.dumps({"seed": seed, "wall_s": round(wall, 1),
                          "correct": result["correct"],
                          **{k: round(v["value"], 3)
                             for k, v in result["metrics"].items()}}), flush=True)

    summary = {}
    for name in runs[0]["result"]["metrics"]:
        values = [r["result"]["metrics"][name]["value"] for r in runs]
        med = statistics.median(values)
        q = statistics.quantiles(values, n=4) if len(values) > 1 else [med] * 3
        summary[name] = {
            "median": med, "q1": q[0], "q3": q[2],
            "spread": (q[2] - q[0]) / med if med else 0.0,
            "values": values,
        }
    out = {"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
           "all_correct": all(r["result"]["correct"] for r in runs),
           "metrics": summary, "runs": runs}
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    for name, s in summary.items():
        print(f"{name:16s} median {s['median']:.4g}  spread {s['spread']:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
