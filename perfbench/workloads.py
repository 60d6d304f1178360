"""Workload definitions, data tiers and the per-run query sample.

A workload is a set of registered batch queries (chosen by the module that
registers them), one data tier and a cache posture. README.md records why
each workload exists and what it stresses.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
CACHE = os.path.join(HERE, ".cache")
EXPECTED = os.path.join(HERE, "expected")

# Streaming queries pay fixed micro-batch latency and are left out, as in
# bench.py.
STREAM_PREFIXES = ("stream_", "source_stream", "sink_stream")


@dataclass(frozen=True)
class Tier:
    """A data directory: vendored fixtures, or a key-shifted replica of one."""

    name: str
    source: str | None = None  # tier this one replicates
    replicas: int = 1

    @property
    def path(self) -> str:
        if self.source is None:
            return os.path.join(DATA, self.name)
        return os.path.join(CACHE, self.name)


TIERS = {
    t.name: t
    for t in (
        Tier("sf0.1"),
        Tier("sf0.001"),
        Tier("sf0.1x10", source="sf0.1", replicas=10),
        Tier("sf0.001x10", source="sf0.001", replicas=10),
    )
}


@dataclass(frozen=True)
class Workload:
    name: str
    modules: tuple[str, ...]  # last component of the registering module
    tier: str
    smoke_tier: str
    cached: bool
    # Queries per second of pass time, measured on the reference box
    # (README.md). A whole pass over a workload takes longer than one run may,
    # so a run of ``--seconds`` measures the first ``rate * seconds`` queries
    # of the canonical order.
    rate: float
    # Queries that open every run, in this order, because the workload exists
    # to measure them: cheap queries that build a session memo, take a gate,
    # run Python workers, or stand for a module too small to reach the
    # sample otherwise. Multi-second outliers are left to the interleave,
    # where they would take most of a short run.
    anchors: tuple[str, ...] = ()


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "fleet",
            ("telemetry", "windows", "ml_eval"),
            tier="sf0.1",
            smoke_tier="sf0.001",
            cached=True,
            rate=0.56,
            anchors=("trip_sessionize", "geo_nearest_poi", "ts_holt_winters"),
        ),
        Workload(
            "corpus",
            ("llm_text", "llm_dedup", "llm_sim"),
            tier="sf0.1",
            smoke_tier="sf0.001",
            cached=True,
            rate=0.28,
            anchors=("text_bpe_train", "dedup_cluster", "graph_kcore"),
        ),
        Workload(
            "warehouse_10x",
            ("aggregates", "joins", "filters", "sorts", "setops", "formats"),
            tier="sf0.1x10",
            smoke_tier="sf0.001x10",
            cached=False,
            rate=0.39,
            anchors=("set_union_all", "sort_multi"),
        ),
    )
}


def benchmarked() -> list[str]:
    """The workloads BENCHMARK.json names, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [w["name"] for w in json.load(f)["workloads"]]


def module_of(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


def workload_queries(workload: Workload, registry: dict) -> dict[str, str]:
    """Every batch query the workload covers, mapped to its module."""
    out = {}
    for name, spec in registry.items():
        if name.startswith(STREAM_PREFIXES):
            continue
        mod = module_of(spec.fn)
        if mod in workload.modules:
            out[name] = mod
    return out


def canonical_order(workload: Workload, names: dict[str, str]) -> list[str]:
    """Anchors first, then every other query interleaved in proportion to its
    module's size, each module's queries in md5 order. Every prefix spreads
    over the modules as the whole workload does, and the order does not depend
    on the run's seed."""
    head = [a for a in workload.anchors if a in names]
    key: dict[str, tuple[float, int]] = {}
    for mi, m in enumerate(workload.modules):
        members = sorted(
            (n for n, nm in names.items() if nm == m and n not in head),
            key=lambda n: hashlib.md5(n.encode()).hexdigest(),
        )
        for i, n in enumerate(members):
            key[n] = ((i + 0.5) / len(members), mi)
    return head + sorted(key, key=key.__getitem__)


def load_expected(tier: str) -> dict:
    path = os.path.join(EXPECTED, f"{tier}.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def sample(workload: Workload, order: list[str], seconds: float, seed: int) -> list[str]:
    """The first ``workload.rate * seconds`` queries of ``order``: the
    anchors in their fixed order, then the rest shuffled by ``seed``. The set
    of queries depends only on the workload and ``seconds``; the seed sets
    the order the non-anchor queries run in."""
    picked = order[: max(1, round(workload.rate * seconds))]
    head = [n for n in picked if n in workload.anchors]
    rest = [n for n in picked if n not in workload.anchors]
    random.Random(seed).shuffle(rest)
    return head + rest
