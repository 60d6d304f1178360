#!/usr/bin/env python3
"""The benchmark's own smoke test: every query of every workload on its small
tier (sf0.001; warehouse_10x on the 10x replica of sf0.001), untraced and
traced. Fails unless every metric is printed with its unit and no query
fails its (rows, checksum) check.

    python3 perfbench/smoke.py [WORKLOAD ...]
"""

from __future__ import annotations

import sys

import run as R
import workloads as W

SMOKE_LIMIT_S = 600.0


def main(names: list[str]) -> int:
    bad = 0
    for w in names or list(W.WORKLOADS):
        for trace, want in ((False, R.END_TO_END), (True, R.layer_units(w))):
            out = R.bench(w, seed=0, seconds=1e6, trace=trace, smoke=True, limit_s=SMOKE_LIMIT_S)
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            for k, v in out["metrics"].items():
                print(f"{w} trace={int(trace)} {k} = {v['value']:.6g} {v['unit']}")
            frac = out["failed"] / out["attempted"]
            print(f"{w} trace={int(trace)} attempted={out['attempted']} failed_frac={frac}")
            if got != want or out["failed"] or not out["correct"]:
                print(f"SMOKE FAILED: {w} trace={int(trace)}", file=sys.stderr)
                bad += 1
    print("smoke ok" if not bad else f"smoke: {bad} failure(s)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
