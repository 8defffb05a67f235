#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, the way they are judged.

    python3 perfbench/spread.py --workload clinic_reports --seeds 1-10

Runs ``run.py`` once per seed, one after another, and prints for each
metric its median and (Q3 - Q1) / median over the runs, beside each run's
host steal share. ``--out`` keeps every result line as JSON lines.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import quartile_spread  # noqa: E402


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    bench = json.load(open(os.path.join(os.path.dirname(HERE),
                                        "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for seed in args.seeds:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", "0"],
            capture_output=True, text=True, check=True)
        lines = proc.stdout.strip().splitlines()
        run, result = json.loads(lines[-2])["run"], json.loads(lines[-1])
        runs.append({"seed": seed, "run": run, "result": result})
        print(f"seed {seed}: steal {run['host']['steal_share']:.4f} "
              f"wall {run['wall_s']:.1f}s " + " ".join(
                  f"{k}={v['value']:.4g}"
                  for k, v in result["metrics"].items()), flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps(runs[-1]) + "\n")
    for name in runs[0]["result"]["metrics"]:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        spread = quartile_spread(vals) if len(vals) > 1 else 0.0
        print(f"{name}: median {statistics.median(vals):.6g} "
              f"spread {spread:.4f} bound {bounds.get(name)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
