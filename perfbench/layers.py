"""Traced passes: timing wrappers around the engine layers' public functions
plus a roll-up of Spark's event log.

Nothing here runs in an untraced pass. ``Tracer.install`` swaps each wrapped
function into every engine module that holds a reference to it (call sites
import some of them by name), and ``Tracer.remove`` puts the originals back.
The event log is switched on per SparkContext through JVM system
properties, which every new context reads at start.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import sys
import time
from collections import defaultdict

PKG = "aws_etl_microservice_redshift_datalake_spark"

# (module, attribute, span name) for every wrapped public function.
WRAPPED = (
    ("session", "get_session", "session.start"),
    ("sources.io", "load_table", "sources.scan_call"),
    ("sources.io", "unload", "sources.write"),
    ("sources.io", "compact", "sources.write"),
    ("sources.maintenance", "clustered_write", "sources.write"),
    ("operators._memo", "session_memo", "memo.call"),
    ("operators.dedup", "connected_components", "dedup.cc"),
    ("operators.vectors", "build_ivf_index", "vectors.ivf_build"),
    ("streaming.streams", "run_stream", "streaming.run"),
)


class Tracer:
    """Spans (name, start, end) in wall-clock seconds, kept in memory."""

    def __init__(self, event_dir: str):
        self.event_dir = event_dir
        self.spans: list[tuple[str, float, float]] = []
        self.memo_builds: list[tuple[float, float]] = []
        self._saved: list[tuple[object, str, object]] = []

    def _timed(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if name == "memo.call":  # session_memo(memo, spark, sf_dir, sig, build)
                args = (*args[:4], self._timed_build(args[4]), *args[5:])
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self.spans.append((name, t0, time.time()))

        return wrapper

    def _timed_build(self, build):
        def timed():
            t0 = time.time()
            try:
                return build()
            finally:
                self.memo_builds.append((t0, time.time()))

        return timed

    def install(self) -> None:
        """Wrap the layer functions and turn the event log on for every
        SparkContext started from now on."""
        from pyspark import SparkContext

        for mod, attr, name in WRAPPED:
            orig = getattr(importlib.import_module(f"{PKG}.{mod}"), attr)
            wrapped = self._timed(orig, name)
            for m in [m for k, m in list(sys.modules.items()) if k.startswith(PKG)]:
                if getattr(m, attr, None) is orig:
                    self._saved.append((m, attr, orig))
                    setattr(m, attr, wrapped)
        os.makedirs(self.event_dir, exist_ok=True)
        props = SparkContext._jvm.java.lang.System
        props.setProperty("spark.eventLog.enabled", "true")
        props.setProperty("spark.eventLog.dir", "file://" + os.path.abspath(self.event_dir))
        props.setProperty("spark.eventLog.compress", "false")

    def remove(self) -> None:
        from pyspark import SparkContext

        for m, attr, orig in reversed(self._saved):
            setattr(m, attr, orig)
        self._saved.clear()
        SparkContext._jvm.java.lang.System.clearProperty("spark.eventLog.enabled")


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def read_events(event_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(event_dir, "*", "events_*"))):
        with open(path) as f:
            events.extend(json.loads(line) for line in f)
    return events


class OpWindow:
    """One operation of a traced pass, in wall-clock seconds."""

    def __init__(self, group: str, op: str, t0: float, t_built: float, t1: float):
        self.group, self.op, self.t0, self.t_built, self.t1 = group, op, t0, t_built, t1


def rollup(events: list[dict], ops: list[OpWindow], tracer: Tracer, cores: int,
           pipeline_stages: list, pass_s: float) -> tuple[dict, dict]:
    """Per-layer metrics of one traced pass, plus the plan texts of the
    pass's SQL executions keyed by operation name."""
    by_group = {o.group: o for o in ops}

    def op_at(t: float):
        for o in ops:
            if o.t0 <= t <= o.t1:
                return o
        return None

    job_phase: dict[int, str] = {}  # job id -> "build" | "exec"
    job_time: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        if e["Event"] != "SparkListenerJobStart":
            continue
        t = e["Submission Time"] / 1000
        o = by_group.get(e.get("Properties", {}).get("spark.jobGroup.id")) or op_at(t)
        if o is None:
            continue
        job_phase[e["Job ID"]] = "build" if t < o.t_built else "exec"
        job_time[e["Job ID"]] = t
        for s in e["Stage IDs"]:
            stage_job[s] = e["Job ID"]

    def phase(stage_id):
        return job_phase.get(stage_job.get(stage_id))

    m = defaultdict(float)
    stage_iv = defaultdict(list)  # op group -> stage intervals
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if phase(info["Stage ID"]) is None or "Completion Time" not in info:
                continue
            o = op_at(job_time[stage_job[info["Stage ID"]]])
            stage_iv[o.group].append((info["Submission Time"] / 1000, info["Completion Time"] / 1000))
            if phase(info["Stage ID"]) == "exec":
                m["exec.stages"] += 1
                m["exec.tasks"] += info["Number of Tasks"]
        elif ev == "SparkListenerTaskEnd" and e.get("Task Metrics") and phase(e["Stage ID"]):
            tm = e["Task Metrics"]
            m["sources.scan_rows"] += tm["Input Metrics"]["Records Read"]
            m["sources.scan_bytes"] += tm["Input Metrics"]["Bytes Read"]
            m["sources.write_bytes"] += tm["Output Metrics"]["Bytes Written"]
            sr = tm["Shuffle Read Metrics"]
            m["shuffle.read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            m["shuffle.write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            m["shuffle.spill_bytes"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
            if phase(e["Stage ID"]) == "exec":
                m["exec.executor_run_s"] += tm["Executor Run Time"] / 1000
                m["exec.executor_cpu_s"] += tm["Executor CPU Time"] / 1e9
                m["exec.gc_s"] += tm["JVM GC Time"] / 1000
    m["exec.jobs"] = sum(1 for p in job_phase.values() if p == "exec")
    m["registry.build_jobs"] = sum(1 for p in job_phase.values() if p == "build")
    m["registry.build_s"] = sum(o.t_built - o.t0 for o in ops)
    m["exec.s"] = sum(o.t1 - o.t_built for o in ops)
    m["exec.driver_gap_s"] = sum(max(0.0, (o.t1 - o.t0) - _union(stage_iv[o.group])) for o in ops)
    m["exec.cpu_util"] = m["exec.executor_cpu_s"] / (m["exec.s"] * cores) if m["exec.s"] else 0.0

    files, plans = _sql_metrics(events, by_group, op_at)
    m["sources.write_files"] = files

    def spans(name):
        return [(s, e) for n, s, e in tracer.spans if n == name]

    m["sources.write_s"] = _union(spans("sources.write"))
    m["memo.calls"] = len(spans("memo.call"))
    m["memo.builds"] = len(tracer.memo_builds)
    m["memo.hit_ratio"] = (m["memo.calls"] - m["memo.builds"]) / m["memo.calls"] if m["memo.calls"] else 0.0
    m["memo.build_s"] = _union(tracer.memo_builds)
    cc = spans("dedup.cc")
    m["dedup.cc_s"] = _union(cc)
    m["dedup.cc_jobs"] = sum(1 for t in job_time.values() if any(s <= t <= e for s, e in cc))
    m["vectors.ivf_build_s"] = _union(spans("vectors.ivf_build"))
    m["streaming.run_s"] = _union(spans("streaming.run"))
    for kind in ("ingest", "transform", "sink"):
        m[f"pipeline.{kind}_s"] = sum(s.seconds for s in pipeline_stages if s.kind == kind)
    m["pass_s"] = pass_s
    return dict(m), plans


def _sql_metrics(events, by_group, op_at) -> tuple[int, dict]:
    """Files written (the write commands' driver-side SQL metric) and each
    operation's physical plan texts."""
    names: dict[int, str] = {}

    def walk(node):
        for mt in node.get("metrics", []):
            names[mt["accumulatorId"]] = mt["name"]
        for child in node.get("children", []):
            walk(child)

    plans: dict[str, list[str]] = defaultdict(list)
    files = 0
    for e in events:
        ev = e["Event"]
        if ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            walk(e["sparkPlanInfo"])
            if ev.endswith("Start"):
                o = by_group.get(e.get("jobGroupId")) or op_at(e["time"] / 1000)
                if o is not None:
                    plans[o.op].append(e["physicalPlanDescription"])
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            files += sum(v for k, v in e["accumUpdates"] if names.get(k) == "number of written files")
    return files, plans
