#!/usr/bin/env python3
"""Run every workload on several seeds and print each metric side by side.

    python3 perfbench/compare.py                      # seeds 1 and 2
    python3 perfbench/compare.py --seeds 3 4 5 6 7    # adds median, IQR/median
    python3 perfbench/compare.py --trace              # per-layer metrics too

One line per metric with its unit: the end-to-end metrics of BENCHMARK.json,
then the per-operation details and failed_ratio from each run's record.
A claim made on one seed must also hold on a seed not used while it was
written. With --trace each workload and seed also gets a traced run; the
tracing overhead is the traced pass wall over the untraced one, minus 1.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=REPO, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}")
    result = json.loads(lines[-1])
    with open(os.path.join(HERE, "_results",
                           f"{workload}-s{seed}-t{trace}.json")) as f:
        result["record"] = json.load(f)
    return result


def _fmt(v) -> str:
    if v is None:
        return "-"
    if isinstance(v, float):
        return f"{v:.4g}"
    return str(v)


def _spread(values) -> str:
    vals = [v for v in values if isinstance(v, (int, float))]
    if len(vals) < 3:
        return ""
    q1, med, q3 = statistics.quantiles(vals, n=4)
    if not med:
        return f"  median {med:.4g}"
    return f"  median {med:.4g}  IQR/median {(q3 - q1) / med:.3f}"


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2])
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    header = "".join(f"{'seed ' + str(s):>12s}" for s in args.seeds)
    for wl in args.workloads:
        runs = [run_once(wl, s, args.seconds, 0) for s in args.seeds]
        print(f"\n== {wl}\n{'metric':36s} {'unit':6s}{header}")
        for name, unit in units.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            print(f"{name:36s} {unit:6s}"
                  + "".join(f"{_fmt(v):>12s}" for v in vals) + _spread(vals))
        for name in sorted(runs[0]["record"]["details"]):
            vals = [r["record"]["details"].get(name) for r in runs]
            print(f"  {name:34s} {'':6s}"
                  + "".join(f"{_fmt(v):>12s}" for v in vals) + _spread(vals))
        print(f"  {'correct':34s} {'':6s}"
              + "".join(f"{str(r['correct']):>12s}" for r in runs))
        if not args.trace:
            continue
        traced = [run_once(wl, s, args.seconds, 1) for s in args.seeds]
        for m in spec["per_layer"]:
            vals = [r["metrics"][m["name"]]["value"] for r in traced]
            print(f"  {m['name']:34s} {m['unit']:6s}"
                  + "".join(f"{_fmt(v):>12s}" for v in vals))
        over = [
            t["metrics"]["trace.pass_wall_s"]["value"]
            / r["metrics"]["pass_wall_s"]["value"] - 1
            for t, r in zip(traced, runs)
        ]
        print(f"  {'tracing overhead':34s} {'ratio':6s}"
              + "".join(f"{_fmt(v):>12s}" for v in over))
    return 0


if __name__ == "__main__":
    sys.exit(main())
