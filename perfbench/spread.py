#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each end-to-end metric's
median, quartiles and quartile spread (IQR / median) against its bound.

    python3 perfbench/spread.py WORKLOAD [--seeds 1-10] [--trace 0]

Run from the repository root. Each seed is one fresh ``run.py`` process with
``run_seconds`` from BENCHMARK.json. Raw result lines go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        cfg = json.load(f)
    bounds = {m["name"]: m["bound"] for m in cfg["end_to_end"]}
    lo, hi = (int(x) for x in args.seeds.split("-"))
    values: dict[str, list[float]] = {}
    for seed in range(lo, hi + 1):
        cmd = cfg["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(cfg["run_seconds"]), "--trace", str(args.trace),
        ]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True).stdout
        line = out.strip().splitlines()[-1]
        print(f"seed {seed}: {line}", file=sys.stderr, flush=True)
        res = json.loads(line)
        if not res["correct"]:
            print(f"seed {seed}: incorrect, {res['failed']} failed", file=sys.stderr)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(k)
        note = "" if bound is None else f" bound {bound} ({'ok' if spread < bound / 3 else 'WIDE'})"
        print(f"{args.workload} {k}: median {med:.4f} q1 {q1:.4f} q3 {q3:.4f} spread {spread:.3f}{note}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
