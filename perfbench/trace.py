"""Traced-run support: spans recorded by the benchmark around its own
calls, and a folder that turns Spark's JSON event log into per-layer
numbers.

Nothing here edits the engine. Spans are marked with
``SparkContext.setJobGroup`` so every job a span triggers carries the
span's id. :class:`ModuleTagger` wraps py4j's call path so every job
also carries the engine modules on the Python stack of the call that
started it, and times how long the driver spent in each module. Task metrics
(``SparkListenerTaskEnd``) and SQL node metrics (accumulator ids
resolved through the SQL plan trees) are folded per span and per module.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024 * 1024
ENGINE_PKG = "etl_sendas_spark"
MODULE_PROP = "perfbench.module"


def engine_module(path: str) -> str | None:
    """``'/x/etl_sendas_spark/plans/corpus_refresh.py'`` ->
    ``'plans.corpus_refresh'``; None for files outside the engine."""
    parts = path.split(os.sep)
    if ENGINE_PKG not in parts or not path.endswith(".py"):
        return None
    mod = parts[parts.index(ENGINE_PKG) + 1:]
    mod[-1] = mod[-1][:-3]
    return ".".join(mod)


class ModuleTagger:
    """While installed, every py4j call made from the installing thread
    first sets the ``perfbench.module`` local property to the engine
    modules on the Python stack (innermost first, ``>``-joined; only
    when that chain changes), so every job the call starts is tagged
    with them. ``wall_s`` accumulates, per module, the driver time spent
    with that module on the stack. Both are inclusive: a job run by
    ``materialize`` on behalf of ``operators.dedupe`` counts for both."""

    def __init__(self, sc):
        self.sc = sc
        self.wall_s: dict[str, float] = {}
        self._files: dict[str, str | None] = {}
        self._chain: str | None = None
        self._since = time.perf_counter()
        self._busy = False
        self._thread = threading.get_ident()
        self._orig = None

    def _chain_of(self, frame) -> str | None:
        mods: list[str] = []
        while frame is not None:
            fn = frame.f_code.co_filename
            mod = self._files.get(fn, 0)
            if mod == 0:
                mod = self._files[fn] = engine_module(fn)
            if mod and mod not in mods:
                mods.append(mod)
            frame = frame.f_back
        return ">".join(mods) or None

    def _switch(self, chain: str | None) -> None:
        now = time.perf_counter()
        for mod in (self._chain or "").split(">"):
            if mod:
                self.wall_s[mod] = self.wall_s.get(mod, 0.0) + now - self._since
        self._chain, self._since = chain, now
        self._busy = True
        try:
            self.sc.setLocalProperty(MODULE_PROP, chain)
        finally:
            self._busy = False

    def install(self) -> None:
        import py4j.java_gateway as jg

        orig = self._orig = jg.JavaMember.__call__
        tagger = self

        def call(member, *args):
            if not tagger._busy and threading.get_ident() == tagger._thread:
                chain = tagger._chain_of(sys._getframe(1))
                if chain != tagger._chain:
                    tagger._switch(chain)
            return orig(member, *args)

        jg.JavaMember.__call__ = call

    def uninstall(self) -> None:
        import py4j.java_gateway as jg

        if self._orig is not None:
            self._switch(None)
            jg.JavaMember.__call__ = self._orig
            self._orig = None


class Spans:
    """In-memory span recorder; each span is one Spark job group."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, op: int):
        gid = f"pb-{len(self.spans)}"
        self.sc.setJobGroup(gid, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append({"id": gid, "name": name, "op": op, "start": t0, "end": time.time()})
            self.sc.setJobGroup("pb-idle", "idle")

    def self_s(self, name: str) -> float:
        """Seconds spent in spans called ``name``, per traced op."""
        ops = {s["op"] for s in self.spans}
        total = sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)
        return total / max(1, len(ops))


def _walk_plan(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"])
    for c in node.get("children", []):
        _walk_plan(c, out)


def fold_event_log(path: str) -> dict:
    """Fold one uncompressed, non-rolling event log (a file, or a
    directory holding exactly one) into totals keyed three ways:
    ``by_group[job group]``, ``by_module[engine module]`` and ``all``.

    Module totals are inclusive (see :class:`ModuleTagger`). Each
    totals dict carries: jobs, job_s, tasks, task_cpu_s, gc_s,
    fetch_wait_s, scheduler_delay_s (task launch minus stage
    submission: time a ready task waited for a core), spill_mb,
    shuffle_write_mb, output_mb, and ``sql:<node>:<metric>`` sums.
    """
    if os.path.isdir(path):
        files = [f for f in glob.glob(os.path.join(path, "*")) if os.path.isfile(f)]
        if len(files) != 1:
            raise ValueError(f"expected one event log under {path}, found {files}")
        path = files[0]
    acc_names: dict[int, tuple[str, str]] = {}
    job_keys: dict[int, tuple[str, list[str]]] = {}
    job_start: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[tuple[int, int], float] = {}
    by_group: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    by_module: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    total: dict = defaultdict(float)

    def add(job: int | None, key: str, v: float) -> None:
        total[key] += v
        if job is None or job not in job_keys:
            return
        group, modules = job_keys[job]
        by_group[group][key] += v
        for mod in modules:
            by_module[mod][key] += v

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"].rsplit(".", 1)[-1]
            if kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
                _walk_plan(e["sparkPlanInfo"], acc_names)
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                job = e["Job ID"]
                job_keys[job] = (
                    props.get("spark.jobGroup.id", ""),
                    [m for m in (props.get(MODULE_PROP) or "").split(">") if m],
                )
                job_start[job] = e["Submission Time"] / 1000
                for s in e.get("Stage IDs", []):
                    stage_job[s] = job
                add(job, "jobs", 1)
            elif kind == "SparkListenerJobEnd":
                job = e["Job ID"]
                if job in job_start:
                    add(job, "job_s", e["Completion Time"] / 1000 - job_start[job])
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                sub = info.get("Submission Time")
                if sub is not None:
                    stage_submit[(info["Stage ID"], info["Stage Attempt ID"])] = sub / 1000
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(e["Stage ID"])
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                add(job, "tasks", 1)
                add(job, "task_cpu_s", m.get("Executor CPU Time", 0) / 1e9)
                add(job, "gc_s", m.get("JVM GC Time", 0) / 1000)
                add(job, "fetch_wait_s", (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1000)
                add(job, "spill_mb", (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB)
                add(job, "shuffle_write_mb", (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB)
                add(job, "output_mb", (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB)
                sub = stage_submit.get((e["Stage ID"], e["Stage Attempt ID"]))
                if sub is not None:
                    add(job, "scheduler_delay_s", max(0.0, info["Launch Time"] / 1000 - sub))
                for a in info.get("Accumulables", []):
                    name = acc_names.get(a.get("ID"))
                    if name and a.get("Metadata") == "sql":
                        try:
                            add(job, f"sql:{name[0]}:{name[1]}", float(a["Update"]))
                        except (TypeError, ValueError):
                            pass
    return {"by_group": dict(by_group), "by_module": dict(by_module), "all": dict(total)}


def groups_total(folded: dict, group_ids: set[str]) -> dict:
    out: dict = defaultdict(float)
    for g in group_ids:
        for k, v in folded["by_group"].get(g, {}).items():
            out[k] += v
    return out


def python_metrics(totals: dict, node: str) -> tuple[float, float]:
    """(rows returned, MB sent + returned) of the ``node`` Python operator."""
    rows = totals.get(f"sql:{node}:number of output rows", 0.0)
    mb = (totals.get(f"sql:{node}:data sent to Python workers", 0.0)
          + totals.get(f"sql:{node}:data returned from Python workers", 0.0)) / MB
    return rows, mb


def engine_wide(totals: dict, per: int) -> dict:
    """The engine-wide per-layer metrics, divided over ``per`` ops."""
    per = max(1, per)
    return {
        "spark.tasks": totals.get("tasks", 0.0) / per,
        "spark.task_cpu_s": totals.get("task_cpu_s", 0.0) / per,
        "spark.gc_s": totals.get("gc_s", 0.0) / per,
        "spark.fetch_wait_s": totals.get("fetch_wait_s", 0.0) / per,
        "spark.scheduler_delay_s": totals.get("scheduler_delay_s", 0.0) / per,
        "spark.spill_mb": totals.get("spill_mb", 0.0) / per,
    }
