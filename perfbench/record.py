#!/usr/bin/env python3
"""Record each query's expected (rows, checksum).

    python3 perfbench/record.py fleet corpus warehouse_10x [--smoke]

For every named workload, runs all of its batch queries twice in fresh
sessions, once in name order and once shuffled, and writes
``expected/<tier>.json``: ``rows``, ``checksum`` and ``module``. A query whose
checksum differs between the two passes keeps its row-count check only and
is marked ``rows_only``; one that raises is reported and not recorded.
"""

from __future__ import annotations

import json
import os
import random
import sys

import run as R
import workloads as W

RECORD_LIMIT_S = 1800.0


def record(workload: str, smoke: bool) -> None:
    sys.path.insert(0, W.ROOT)
    from rvi_big_data_api_spark.registry import REGISTRY

    wl = W.WORKLOADS[workload]
    tier = wl.smoke_tier if smoke else wl.tier
    R.prepare(tier)
    modules = W.workload_queries(wl, REGISTRY)
    names = sorted(modules)
    shuffled = list(names)
    random.Random(7).shuffle(shuffled)
    passes = []
    for tag, order in (("sorted", names), ("shuffled", shuffled)):
        spec = {
            "run_id": f"record-{workload}-{tag}",
            "sf_dir": W.TIERS[tier].path,
            "cached": wl.cached,
            "queries": {n: modules[n] for n in order},
            "trace": False,
            "setup_reps": 1,
        }
        res = R.run_worker(spec, RECORD_LIMIT_S)
        passes.append({r["name"]: r for r in res["queries"]})
        print(f"{workload} {tier} {tag}: pass {res['pass_s']:.1f} s, setup {res['setup_s']:.1f} s", file=sys.stderr)
    expected = W.load_expected(tier)
    for name in names:
        a, b = passes[0][name], passes[1][name]
        if "error" in a or "error" in b:
            print(f"  {name} raised: {a.get('error') or b.get('error')}", file=sys.stderr)
            expected.pop(name, None)
            continue
        if a["rows"] != b["rows"]:
            print(f"  {name} row count unstable: {a['rows']} vs {b['rows']}", file=sys.stderr)
            expected.pop(name, None)
            continue
        entry = {"module": a["module"], "rows": a["rows"], "checksum": a["checksum"]}
        if a["checksum"] != b["checksum"]:
            print(f"  {name} checksum unstable, checked by row count", file=sys.stderr)
            entry["rows_only"] = True
        expected[name] = entry
    os.makedirs(W.EXPECTED, exist_ok=True)
    with open(os.path.join(W.EXPECTED, f"{tier}.json"), "w") as f:
        json.dump(dict(sorted(expected.items())), f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if a != "--smoke"]
    for w in args or sorted(W.WORKLOADS):
        record(w, "--smoke" in sys.argv)
