#!/usr/bin/env python3
"""spark-graft benchmark: one closed-loop session over a workload's queries.

    python3 perfbench/run.py --workload fleet --seed 1 --seconds 8 --trace 0

Run from the repository root. Each run starts ``worker.py`` in a fresh
interpreter with its own ``TMPDIR`` and ``SPARK_LOCAL_DIRS`` under
``perfbench/.runs/``, runs the workload's query sample once in the order the
seed sets, checks every query's (rows, checksum) against
``expected/<tier>.json`` and deletes the run directory. The last stdout line
is one JSON object: end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``. A ``# box`` line before it records the machine state.
README.md explains the workloads and every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import worker  # noqa: E402
import workloads as W  # noqa: E402

RUN_LIMIT_S = 170.0  # the worker is killed past this, so a run ends within 180 s
SETUP_REPS = 3
MB = 1024 * 1024

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_gmean_s": "s",
    "cpu_s": "s",
    "disk_mb": "MB",
    "ok_frac": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "io.cache_fill_s": "s",
    "io.input_mb": "MB",
    "io.output_mb": "MB",
    "build.s": "s",
    "build.jobs": "count",
    "memo.rebuild_s": "s",
    "memo.rebuild_jobs": "count",
    "plan.s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.peak_stage_mem_mb": "MB",
    "exec.failed_tasks": "count",
    "exec.core_busy_frac": "ratio",
    "pyworker.plan_nodes": "count",
    "pass.self_s": "s",
    "trace.overhead_s": "s",
}


def layer_units(workload: str) -> dict[str, str]:
    """PER_LAYER plus build and exec time per module, for the modules of
    every workload BENCHMARK.json names and of ``workload`` itself, so each
    benchmarked workload reports the same names."""
    names = dict.fromkeys(W.benchmarked() + [workload])
    mods = [m for w in names for m in W.WORKLOADS[w].modules]
    return {
        **PER_LAYER,
        **{f"build.{m}_s": "s" for m in mods},
        **{f"exec.{m}_s": "s" for m in mods},
    }


class BenchError(RuntimeError):
    """The benchmark cannot run here (no package, no data, no expectations)."""


def _session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``: the worker, its JVM and the Python
    worker daemon, which moves to its own process group but not session."""
    return [pid for pid, f in worker.proc_stats().items() if int(f[3]) == sid and f[0] != "Z"]


def _reap_session(sid: int, grace_s: float) -> None:
    """Wait for every process of the session to end, killing what is left
    after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while _session_pids(sid) and time.monotonic() < deadline:
        time.sleep(0.1)
    while pids := _session_pids(sid):
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def run_worker(spec: dict, limit_s: float = RUN_LIMIT_S) -> dict:
    """Run worker.py on ``spec`` in a fresh process and per-run directory,
    and return the result it wrote."""
    runs = os.path.join(HERE, ".runs")
    run_dir = os.path.join(runs, f"{spec['run_id']}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    spec = dict(spec, run_dir=run_dir)
    spec_path, out_path = os.path.join(run_dir, "spec.json"), os.path.join(run_dir, "out.json")
    log_path = os.path.join(run_dir, "worker.log")
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        # Spark's Python workers import the package from any directory.
        PYTHONPATH=os.pathsep.join(p for p in (W.ROOT, env.get("PYTHONPATH")) if p),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
    )
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    try:
        spec["spawn_time"] = time.time()
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), spec_path, out_path],
                cwd=W.ROOT,
                env=env,
                stdout=log,
                stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            code = None
            try:
                code = proc.wait(timeout=limit_s)
            except subprocess.TimeoutExpired:
                pass
            finally:
                # A clean exit lets the JVM stop by itself; a timeout, crash
                # or signal to this process kills the worker's session now.
                _reap_session(proc.pid, 10.0 if code == 0 else 0.0)
                proc.wait()
        if code != 0 or not os.path.exists(out_path):
            with open(log_path, errors="replace") as f:
                tail = "".join(f.readlines()[-25:])
            why = "timed out" if code is None else f"exited with {code}"
            raise BenchError(f"worker {why}; log tail:\n{tail}")
        with open(out_path) as f:
            return json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def prepare(tier_name: str) -> float:
    """Make sure the tier's data exists; return seconds spent generating it."""
    tier = W.TIERS[tier_name]
    if tier.source is None:
        if not os.path.isdir(tier.path):
            raise BenchError(f"missing fixture directory {tier.path}")
        return 0.0
    import datagen

    spent = prepare(tier.source)
    os.makedirs(W.CACHE, exist_ok=True)
    return spent + datagen.ensure_replica(W.TIERS[tier.source].path, tier.path, tier.replicas)


def check(recs: list[dict], expected: dict) -> int:
    """Count queries that raised or whose (rows, checksum) differs."""
    failed = 0
    for r in recs:
        exp = expected.get(r["name"])
        bad = "error" in r or exp is None or r["rows"] != exp["rows"]
        if not bad and not exp.get("rows_only"):
            bad = r["checksum"] != exp["checksum"]
        if bad:
            failed += 1
            got = r.get("error") or (r.get("rows"), r.get("checksum"))
            want = exp and (exp["rows"], exp["checksum"])
            print(f"# FAILED {r['name']}: got {got}, expected {want}", file=sys.stderr)
    return failed


def end_to_end(res: dict, failed: int) -> dict[str, float]:
    lat = [r["latency_s"] for r in res["queries"]]
    return {
        "setup_s": res["setup_s"],
        "pass_s": res["pass_s"],
        "query_gmean_s": statistics.geometric_mean(lat),
        "cpu_s": res["cpu_s"],
        "disk_mb": res["disk_mb"],
        "ok_frac": 1.0 - failed / len(lat),
    }


def per_layer(res: dict, cores: int, units: dict[str, str]) -> dict[str, float]:
    recs = res["queries"]
    m: dict[str, float] = {k: 0.0 for k in units}
    for r in recs:
        mod = r["module"]
        m["build.s"] += r["build_s"]
        m["plan.s"] += r["plan_s"]
        m["exec.s"] += r["exec_s"]
        m[f"build.{mod}_s"] += r["build_s"]
        m[f"exec.{mod}_s"] += r["exec_s"]
        m["pyworker.plan_nodes"] += r.get("pyworker_nodes", 0)
        b, e = r.get("build", {}), r.get("exec", {})
        m["build.jobs"] += b.get("jobs", 0)
        m["exec.jobs"] += e.get("jobs", 0)
        for c in (b, e):
            m["io.input_mb"] += c.get("input_b", 0) / MB
            m["io.output_mb"] += c.get("output_b", 0) / MB
        m["exec.stages"] += e.get("stages", 0)
        m["exec.tasks"] += e.get("tasks", 0)
        m["exec.failed_tasks"] += e.get("failed_tasks", 0)
        m["exec.task_run_s"] += e.get("task_run_ms", 0) / 1e3
        m["exec.task_cpu_s"] += e.get("task_cpu_ns", 0) / 1e9
        m["exec.gc_s"] += e.get("gc_ms", 0) / 1e3
        m["exec.shuffle_read_mb"] += e.get("shuffle_read_b", 0) / MB
        m["exec.shuffle_write_mb"] += e.get("shuffle_write_b", 0) / MB
        m["exec.spill_mb"] += e.get("spill_b", 0) / MB
        m["exec.peak_stage_mem_mb"] = max(m["exec.peak_stage_mem_mb"], e.get("peak_stage_mem_b", 0) / MB)
    m["exec.core_busy_frac"] = m["exec.task_run_s"] / (m["exec.s"] * cores) if m["exec.s"] else 0.0
    m["session.start_s"] = res["session_start_s"]
    m["io.cache_fill_s"] = statistics.median(s["cache_fill_s"] for s in res["setups"])
    m["memo.rebuild_s"] = res["memo_rebuild_s"]
    m["memo.rebuild_jobs"] = res["memo_rebuild_jobs"]
    m["pass.self_s"] = res["pass_self_s"]
    m["trace.overhead_s"] = res["trace_overhead_s"]
    return m


def bench(
    workload: str, seed: int, seconds: float, trace: bool, smoke: bool = False, limit_s: float = RUN_LIMIT_S
) -> dict:
    """One run; returns the result object printed as the last line.
    ``smoke`` runs on the workload's small tier."""
    if not os.path.isfile(os.path.join(W.ROOT, "rvi_big_data_api_spark", "__init__.py")):
        raise BenchError(f"package rvi_big_data_api_spark not found under {W.ROOT}")
    wl = W.WORKLOADS[workload]
    tier = wl.smoke_tier if smoke else wl.tier
    expected = W.load_expected(tier)
    if not expected:
        raise BenchError(f"no recorded expectations for tier {tier} (run perfbench/record.py)")
    datagen_s = prepare(tier)
    names = {n: e["module"] for n, e in expected.items() if e["module"] in wl.modules}
    order = W.canonical_order(wl, names)
    picked = W.sample(wl, order, seconds, seed)
    res = run_worker(
        {
            "run_id": f"{workload}-s{seed}-t{int(trace)}",
            "sf_dir": W.TIERS[tier].path,
            "cached": wl.cached,
            "queries": {n: names[n] for n in picked},
            "trace": trace,
            "setup_reps": SETUP_REPS,
        },
        limit_s,
    )
    failed = check(res["queries"], expected)
    box = {
        "workload": workload,
        "tier": tier,
        "queries": len(picked),
        "pass_s": round(res["pass_s"], 3),
        "probe_s": round(res["setups"][-1]["probe_s"], 4),
        "steal_s": round(res["steal_s"], 2),
        "cpus": res["cpus"],
        "heap": res["heap"],
        "peak_rss_mb": round(res["peak_rss_mb"], 1),
        "live_mb": round(res["live_mb"], 1),
        "datagen_s": round(datagen_s, 2),
    }
    print("# box " + json.dumps(box), flush=True)
    if trace:
        units = layer_units(workload)
        metrics = per_layer(res, res["cpus"], units)
        _save_trace(res, workload, seed)
    else:
        metrics, units = end_to_end(res, failed), END_TO_END
    return {
        "correct": failed == 0,
        "attempted": len(picked),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def _save_trace(res: dict, workload: str, seed: int) -> None:
    out = os.path.join(HERE, ".results")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"trace-{workload}-s{seed}.json"), "w") as f:
        json.dump({"spans": res["spans"], "queries": res["queries"]}, f)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through run_worker's cleanup


def main() -> int:
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        result = bench(args.workload, args.seed, args.seconds, bool(args.trace))
    except BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
