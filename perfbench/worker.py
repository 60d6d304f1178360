"""One measured session: set up, run the query list once, report.

``run.py`` starts this file in a fresh interpreter with ``TMPDIR`` and
``SPARK_LOCAL_DIRS`` pointing at a per-run directory, and reads the JSON it
writes. All timing wraps public calls of the package from outside:
``get_spark``, ``io.load``, the registered query function, the planner
(``queryExecution().executedPlan()``) and the checksum action.

Usage: worker.py SPEC_JSON OUT_JSON
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
from collections import defaultdict

CLK_TCK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024
PROBE_QUERY = "agg_pricing_summary"
# Physical operators that run Python code in Spark's Python workers.
PYWORKER_NODES = re.compile(
    r"\b(MapInPandas|MapInArrow|PythonMapInArrow|ArrowEvalPython|BatchEvalPython"
    r"|FlatMapGroupsInPandas|FlatMapGroupsInArrow|FlatMapCoGroupsInPandas"
    r"|FlatMapCoGroupsInArrow|AggregateInPandas|WindowInPandas|ArrowWindowPython)"
)


# --------------------------------------------------------------------------
# Box state from /proc
# --------------------------------------------------------------------------


def proc_stats() -> dict[int, list[str]]:
    """pid -> the fields of /proc/<pid>/stat after the command name, so
    [0] is the state, [1] the parent, [3] the session, [11:15] CPU ticks."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                out[int(pid)] = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
    return out


def _tree(root: int, stats: dict[int, list[str]]) -> list[int]:
    kids = defaultdict(list)
    for pid, fields in stats.items():
        kids[int(fields[1])].append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids[pid])
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process and every descendant (JVM, Python workers)."""
    stats = proc_stats()
    ticks = sum(int(x) for p in _tree(os.getpid(), stats) if p in stats for x in stats[p][11:15])
    return ticks / CLK_TCK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


def peak_rss_mb() -> float:
    """Peak resident memory of this Python driver plus its JVM."""
    stats = proc_stats()
    pids = [os.getpid()] + [p for p in _tree(os.getpid(), stats) if _is_jvm(p)]
    return sum(_status_kb(p, "VmHWM:") for p in pids) / 1024


def live_mb(spark) -> float:
    """JVM heap in use after a full collection, plus this Python driver's
    resident memory. Called after ``settled_dir_mb``, whose collections let
    Spark's cleaner drop unreferenced broadcast and shuffle blocks; this
    collection frees their memory, so what is left is what the session still
    holds: cached tables, memos, Spark's own state."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return heap / MB + _status_kb(os.getpid(), "VmRSS:") / 1024


def steal_s() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def settled_dir_mb(spark, path: str) -> float:
    """Size of ``path`` once the session has dropped what it no longer
    references: collect Python frames, then the JVM heap (twice, so py4j's
    deferred releases are seen), and wait until Spark's context cleaner has
    stopped deleting checkpoint files for two polls in a row (at most 3 s)."""
    import gc

    for _ in range(2):
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.25)
    size, still, deadline = dir_mb(path), 0, time.monotonic() + 3.0
    while still < 2 and time.monotonic() < deadline:
        time.sleep(0.25)
        now = dir_mb(path)
        still = still + 1 if now == size else 0
        size = now
    return size


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                pass
    return total / MB


# --------------------------------------------------------------------------
# The checksum action
# --------------------------------------------------------------------------


def _hashable(col, dtype):
    """xxhash64 rejects maps (and the spatial and variant types); hash those
    through a canonical string instead."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, MapType, StructType

    def has_map(t) -> bool:
        if isinstance(t, MapType):
            return True
        if isinstance(t, ArrayType):
            return has_map(t.elementType)
        if isinstance(t, StructType):
            return any(has_map(f.dataType) for f in t.fields)
        return False

    if has_map(dtype):
        return F.to_json(col)
    if dtype.typeName() in ("geometry", "geography", "variant"):
        return col.cast("string")
    return col


def checksum_frame(df):
    """One row: the row count and sum(xxhash64(every output column)), so the
    whole output the user would receive has to be computed."""
    from pyspark.sql import functions as F

    cols = [f"c{i}" for i in range(len(df.columns))]
    renamed = df.toDF(*cols)
    hashed = [_hashable(F.col(c), f.dataType) for c, f in zip(cols, renamed.schema.fields)]
    return renamed.agg(F.count(F.lit(1)).alias("rows"), F.sum(F.xxhash64(*hashed)).alias("checksum"))


# --------------------------------------------------------------------------
# Tracing: spans and status-store counters, kept in memory
# --------------------------------------------------------------------------


class Tracer:
    """Spans (name, start, end, parent, run id) and per-job-group counters.

    A disabled tracer still times each query's build, plan and exec phases
    (three clock reads) but sets no job group and reads no counters."""

    STAGE_FIELDS = {
        "tasks": "numTasks",
        "failed_tasks": "numFailedTasks",
        "task_run_ms": "executorRunTime",
        "task_cpu_ns": "executorCpuTime",
        "gc_ms": "jvmGcTime",
        "shuffle_read_b": "shuffleReadBytes",
        "shuffle_write_b": "shuffleWriteBytes",
        "spill_b": "diskBytesSpilled",
        "input_b": "inputBytes",
        "output_b": "outputBytes",
    }

    def __init__(self, spark, run_id: str, enabled: bool):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self.sc = spark.sparkContext
        if enabled:
            jsc = self.sc._jsc.sc()
            self.store = jsc.statusStore()
            self.bus = jsc.listenerBus()
            self.tracker = self.sc.statusTracker()
            self.empty = self.sc._gateway.new_array(self.sc._jvm.double, 0)
            self.no_status = self.sc._jvm.java.util.ArrayList()

    def span(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        self.spans.append({"name": name, "start": start, "end": end, "parent": parent, "run": self.run_id})
        return len(self.spans) - 1

    def group(self, group: str) -> None:
        if self.enabled:
            t0 = time.perf_counter()
            self.sc.setJobGroup(group, group)
            self.overhead_s += time.perf_counter() - t0

    def counters(self, group: str) -> dict[str, float]:
        """Sum stage metrics over the jobs of one job group."""
        if not self.enabled:
            return {}
        t0 = time.perf_counter()
        self.bus.waitUntilEmpty()
        out: dict[str, float] = defaultdict(float)
        for job in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(job)
            out["jobs"] += 1
            if info is None:
                continue
            for sid in info.stageIds:
                attempts = self.store.stageData(sid, False, self.no_status, False, self.empty)
                for i in range(attempts.size()):
                    st = attempts.apply(i)
                    if st.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    for key, attr in self.STAGE_FIELDS.items():
                        out[key] += getattr(st, attr)()
                    out["peak_stage_mem_b"] = max(out["peak_stage_mem_b"], st.peakExecutionMemory())
        self.overhead_s += time.perf_counter() - t0
        return dict(out)

    def clear_group(self) -> None:
        if self.enabled:
            self.sc._jsc.clearJobGroup()


# --------------------------------------------------------------------------
# The session
# --------------------------------------------------------------------------


def setup(spark, sf_dir: str, cached: bool, queries: dict) -> dict:
    """bench.py's posture: cache every base table where the workload caches,
    then run the fixed probe once. Three setups in a run make bench.py's
    three warm-up probes; the last one's probe is ``probe_s``."""
    from rvi_big_data_api_spark.io import load
    from rvi_big_data_api_spark.schemas import TABLES

    t0 = time.perf_counter()
    if cached:
        for t in TABLES:
            load(spark, sf_dir, t).cache().count()
    t1 = time.perf_counter()
    queries[PROBE_QUERY](spark, sf_dir).count()
    t2 = time.perf_counter()
    return {"cache_fill_s": t1 - t0, "probe_s": t2 - t1, "s": t2 - t0}


def run_query(spark, tracer: Tracer, queries: dict, name: str, sf_dir: str, tag: str, parent: int) -> dict:
    rec: dict = {"name": name}
    tracer.group(f"{tag}:build")
    t0 = time.perf_counter()
    t1 = t2 = None
    try:
        df = queries[name](spark, sf_dir)
        t1 = time.perf_counter()
        tracer.group(f"{tag}:exec")
        chk = checksum_frame(df)
        chk._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        row = chk.collect()[0]
        t3 = time.perf_counter()
        rec["rows"], rec["checksum"] = int(row["rows"]), row["checksum"]
        if tracer.enabled:
            p0 = time.perf_counter()
            # After execution the adaptive plan prints its final plan first.
            final = chk._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
            rec["pyworker_nodes"] = len(PYWORKER_NODES.findall(final))
            tracer.overhead_s += time.perf_counter() - p0
    except Exception as exc:  # a failing query is counted, not fatal
        t3 = time.perf_counter()
        rec["error"] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300] if str(exc) else ''}"
    tracer.clear_group()
    rec["latency_s"] = t3 - t0
    rec["build_s"] = (t1 or t3) - t0
    rec["plan_s"] = (t2 or t3) - (t1 or t3)
    rec["exec_s"] = t3 - (t2 or t3)
    q = tracer.span(f"query:{name}", t0, t3, parent)
    tracer.span("build", t0, t1 or t3, q)
    if t1 is not None:
        tracer.span("plan", t1, t2 or t3, q)
    if t2 is not None:
        tracer.span("exec", t2, t3, q)
    if tracer.enabled:
        rec["build"] = tracer.counters(f"{tag}:build")
        rec["exec"] = tracer.counters(f"{tag}:exec")
    return rec


def main(spec_path: str, out_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    import rvi_big_data_api_spark as engine

    spark = engine.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.time() - spec["spawn_time"]
    sf_dir = spec["sf_dir"]
    queries = engine.queries()

    setups = []
    for i in range(spec["setup_reps"]):
        if i:
            spark.catalog.clearCache()
        setups.append(setup(spark, sf_dir, spec["cached"], queries))

    tracer = Tracer(spark, spec["run_id"], spec["trace"])
    cpu0, steal0 = tree_cpu_s(), steal_s()
    t0 = time.perf_counter()
    pass_span = tracer.span("pass", t0, t0)
    recs = []
    for i, (name, module) in enumerate(spec["queries"].items()):
        rec = run_query(spark, tracer, queries, name, sf_dir, f"{spec['run_id']}:{i}", pass_span)
        rec["module"] = module
        recs.append(rec)
        if "error" in rec:
            print(f"# {name}: {rec['error']}", file=sys.stderr)
    pass_s = time.perf_counter() - t0
    tracer.spans[pass_span]["end"] = t0 + pass_s
    result = {
        "session_start_s": session_start_s,
        "setups": setups,
        "setup_s": session_start_s + statistics.median(s["s"] for s in setups),
        "queries": recs,
        "pass_s": pass_s,
        # The pass span's self time: the loop and, when traced, the tracer.
        "pass_self_s": pass_s - sum(r["latency_s"] for r in recs),
        "cpu_s": tree_cpu_s() - cpu0,
        "steal_s": steal_s() - steal0,
        "peak_rss_mb": peak_rss_mb(),
        # TMPDIR only: shuffle files under SPARK_LOCAL_DIRS go when a JVM
        # collection drops their plan, which no settling makes repeatable.
        "disk_mb": settled_dir_mb(spark, os.path.join(spec["run_dir"], "tmp")),
        "live_mb": live_mb(spark),
        "cpus": spark.sparkContext.defaultParallelism,
        "heap": spark.sparkContext.getConf().get("spark.driver.memory"),
        "trace_overhead_s": tracer.overhead_s,
    }
    if spec["trace"]:
        # Memo rebuild: build every query of the pass once more. A session
        # memo hit launches no job, so jobs here are memo misses and eager
        # collects the build cannot avoid.
        rebuild_s, rebuild_jobs = 0.0, 0.0
        for i, name in enumerate(spec["queries"]):
            group = f"{spec['run_id']}:rebuild:{i}"
            tracer.group(group)
            b0 = time.perf_counter()
            try:
                queries[name](spark, sf_dir)
            except Exception as exc:
                print(f"# rebuild {name}: {type(exc).__name__}", file=sys.stderr)
            tracer.span(f"rebuild:{name}", b0, time.perf_counter())
            rebuild_s += time.perf_counter() - b0
            tracer.clear_group()
            rebuild_jobs += tracer.counters(group).get("jobs", 0)
        result["memo_rebuild_s"] = rebuild_s
        result["memo_rebuild_jobs"] = rebuild_jobs
        result["spans"] = tracer.spans
    with open(out_path, "w") as f:
        json.dump(result, f)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
