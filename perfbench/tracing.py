"""Spans around calls into the package's layers, and Spark-side
per-query counters, for the traced run.

Spans are recorded from the benchmark's own files only: ``Tracer``
wraps a layer's public function by patching the module attribute its
callers look up at call time (``dsl.Relation.load`` imports
``sources.load`` when called; ``queries.q87_dedup_groups`` imports
``graph.connected_components`` inside its body; the Latin translator
imports ``sources.store`` and ``multisink.multi_store`` per STORE).
Spans are held in memory and written out once, when the run ends.

``SparkCounters`` reads the status tracker and the local REST API
(``/api/v1``) for the jobs of one query's job groups, after the
listener bus has drained, so every counter is attributed to the query
that launched it.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import re
import time
import urllib.request
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    qid: str
    parent: int | None
    end: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder plus wrappers around the layer entry
    points. ``install`` patches, ``uninstall`` restores."""

    # (module, attribute, span name)
    TARGETS = (
        ("pig_spark.sources", "load", "sources.load"),
        ("pig_spark.sources", "store", "sources.store"),
        ("pig_spark.latin", "run", "latin.run"),
        ("pig_spark.operators.multisink", "multi_store", "operators.multisink"),
        ("pig_spark.operators.graph", "connected_components", "operators.cc"),
    )

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.qid = ""
        self.counts: dict[str, float] = defaultdict(float)
        self._saved: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------
    def open(self, name: str) -> int:
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(name, time.perf_counter(), self.qid, parent))
        i = len(self.spans) - 1
        if parent is not None:
            self.spans[parent].children.append(i)
        self.stack.append(i)
        return i

    def close(self, i: int) -> None:
        self.spans[i].end = time.perf_counter()
        self.stack.pop()

    def call(self, name: str, fn, *args, **kwargs):
        i = self.open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(i)

    def self_time(self, i: int) -> float:
        """Span duration minus the time its child spans cover."""
        s = self.spans[i]
        covered, cursor = 0.0, s.start
        for c in sorted((self.spans[j] for j in s.children), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return s.duration - covered

    # -- wrappers ----------------------------------------------------
    def install(self) -> None:
        for mod_name, attr, span in self.TARGETS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrapper(span, orig))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._saved):
            setattr(mod, attr, orig)
        self._saved.clear()

    def _wrapper(self, span: str, orig):
        extra = {
            "sources.store": self._store,
            "operators.multisink": self._multisink,
            "operators.cc": self._cc,
        }.get(span)

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            if extra is not None:
                return extra(span, orig, *args, **kwargs)
            return self.call(span, orig, *args, **kwargs)

        return wrapped

    def _store(self, span, orig, df, path, *args, **kwargs):
        out = self.call(span, orig, df, path, *args, **kwargs)
        self.counts["sources.store_bytes"] += _tree_bytes(path)
        return out

    def _multisink(self, span, orig, sinks, shared=None, *args, **kwargs):
        from pig_spark.operators.multisink import find_shared_subplans

        i = self.open(span)
        try:
            if shared is None:
                shared = find_shared_subplans([df for df, _ in sinks])
            self.counts["operators.shared_subplans"] += len(shared)
            with self._job_group("x"):
                for df, _ in sinks:
                    self.call("spark.plan", force_plan, df)
                return orig(sinks, shared, *args, **kwargs)
        finally:
            self.close(i)

    def _cc(self, span, orig, *args, **kwargs):
        with self._job_group("cc"):
            return self.call(span, orig, *args, **kwargs)

    @contextlib.contextmanager
    def _job_group(self, role: str):
        """Attribute the Spark jobs launched inside to ``role:<qid>``."""
        sc = self.spark.sparkContext
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(f"{role}:{self.qid}", self.qid)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", outer)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump([
                {"id": i, "name": s.name, "qid": s.qid, "parent": s.parent,
                 "start": s.start, "end": s.end, "self_s": self.self_time(i)}
                for i, s in enumerate(self.spans)
            ], f)


def force_plan(df) -> None:
    """Force physical planning (Catalyst optimize + plan + AQE setup)."""
    df._jdf.queryExecution().executedPlan()


def _tree_bytes(path: str) -> int:
    path = path.removeprefix("file:")
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_sql_metric(value: str) -> float:
    """A SQL UI metric value as a number: ``'71,402'``, ``'488.3 KiB'``,
    or the aggregated form ``'total (min, med, max ...)\\n1.2 MiB (...)'``."""
    text = value.split("\n", 1)[-1]
    m = re.match(r"\s*([\d,.]+)\s*([KMGT]?i?B)?", text)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _SIZE_UNITS.get(m.group(2) or "B", 1)


class SparkCounters:
    """Per-query engine counters from the status tracker and REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.sc = sc
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
        self._sql_seen = len(self._get("/sql?details=false"))
        self._stages_seen: set[int] = set()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def collect(self, groups: dict[str, str]) -> dict[str, float]:
        """Counters for the jobs of ``groups`` (role -> job group id).
        Roles: ``build`` (jobs launched while the DataFrame was built),
        ``cc`` (inside connected components, also built), ``run``."""
        self.drain()
        out: dict[str, float] = defaultdict(float)
        for role, group in groups.items():
            for jid in self.sc.statusTracker().getJobIdsForGroup(group):
                job = self._get(f"/jobs/{jid}")
                out["jobs"] += 1
                out[f"{role}_jobs"] += 1
                out["stages"] += len(job["stageIds"])
                out["skipped_stages"] += job.get("numSkippedStages", 0)
                for sid in job["stageIds"]:
                    if sid not in self._stages_seen:
                        self._stage(sid, out)
        for ex in self._get(f"/sql?details=true&planDescription=false&offset={self._sql_seen}&length=100000"):
            self._sql_seen += 1
            for node in ex.get("nodes", []):
                if "EvalPython" not in node.get("nodeName", ""):
                    continue
                for m in node.get("metrics", []):
                    if m["name"] == "number of output rows":
                        out["python_rows"] += parse_sql_metric(m["value"])
                    elif m["name"].startswith("data ") and "Python" in m["name"]:
                        out["python_bytes"] += parse_sql_metric(m["value"])
        return out

    def _stage(self, sid: int, out: dict[str, float]) -> None:
        attempts = self._get(f"/stages/{sid}?details=true")
        if all(a["status"] == "SKIPPED" for a in attempts):
            return
        self._stages_seen.add(sid)
        for a in attempts:
            out["tasks"] += a.get("numCompleteTasks", 0) + a.get("numFailedTasks", 0)
            out["failed_tasks"] += a.get("numFailedTasks", 0)
            out["executor_cpu_s"] += a.get("executorCpuTime", 0) / 1e9
            out["executor_run_s"] += a.get("executorRunTime", 0) / 1e3
            out["gc_s"] += a.get("jvmGcTime", 0) / 1e3
            out["input_bytes"] += a.get("inputBytes", 0)
            out["input_records"] += a.get("inputRecords", 0)
            out["shuffle_write_bytes"] += a.get("shuffleWriteBytes", 0)
            out["spill_bytes"] += a.get("diskBytesSpilled", 0)
            for t in (a.get("tasks") or {}).values():
                out["scheduler_delay_s"] += t.get("schedulerDelay", 0) / 1e3
