"""Spans and the Spark-side counters a traced run reads.

Spans are recorded around the benchmark's own calls into the program's
public functions: name, start, end, parent and the statement id that all
spans of one statement share. They stay in memory and are written out
when the run ends. The Spark counters come from three places Spark
already fills: the query's phase tracker, the executed plan's SQL
metrics (walked like ``engine.render_profile``) and an uncompressed
event log filtered by the job group set per statement.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory spans; a span's parent is the innermost open span of the
    same thread, and it inherits that parent's statement id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, stmt: str | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {
            "id": None,
            "name": name,
            "stmt": stmt if stmt is not None else (parent["stmt"] if parent else None),
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: duration minus the union of the
    intervals its children cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children[s["id"]]):
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["name"]] += (s["end"] - s["start"]) - covered
    return dict(out)


# ---------------------------------------------------------------------------
# executed-plan SQL metrics

_PY_MARKERS = ("Python", "InPandas", "InArrow")


def _metric_seconds_or_value(metric) -> float:
    kind = metric.metricType()
    v = float(metric.value())
    if kind == "timing":
        return v / 1e3
    if kind == "nsTiming":
        return v / 1e9
    return v


def plan_counters(df) -> dict[str, float]:
    """Walk the final adaptive plan (AQE wrappers, query stages and reused
    exchanges descended as ``engine.render_profile`` does, plus the plan
    behind each persisted seam) and sum the counters the per-layer report
    needs."""
    c = defaultdict(float)
    cached_seen = set()

    def metric(node, key):
        opt = node.metrics().get(key)
        return _metric_seconds_or_value(opt.get()) if opt.isDefined() else 0.0

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        if cls == "ReusedExchangeExec":
            return  # its subtree is counted where it first ran
        if cls in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
            c["exchanges"] += 1
        if cls == "BroadcastExchangeExec":
            c["broadcast_collect_s"] += metric(node, "collectTime")
        if cls in ("FileSourceScanExec", "BatchScanExec"):
            c["rows_scanned"] += metric(node, "numOutputRows")
        if cls == "InMemoryTableScanExec":
            c["inmemory_scans"] += 1
            # a seam's own plan ran inside this statement (the benchmark
            # clears the cache between statements): count it once
            cached = node.relation().cachedPlan()
            key = cached.hashCode()
            if key not in cached_seen:
                cached_seen.add(key)
                walk(cached)
        if any(m in cls for m in _PY_MARKERS):
            c["python_nodes"] += 1
            c["python_boot_s"] += metric(node, "pythonBootTime")
            c["python_init_s"] += metric(node, "pythonInitTime")
            c["python_total_s"] += metric(node, "pythonTotalTime")
            c["python_sent_bytes"] += metric(node, "pythonDataSent")
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return dict(c)


def phase_seconds(df) -> dict[str, float]:
    """Catalyst phase durations from the query's QueryPlanningTracker."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in out:
            out[kv._1()] += kv._2().durationMs() / 1e3
    return out


def seam_counters(spark) -> dict[str, float]:
    """Persistent RDDs still registered and the memory they hold."""
    jsc = spark.sparkContext._jsc
    held = jsc.getPersistentRDDs().size()
    infos = jsc.sc().getRDDStorageInfo()
    cached = sum(infos[i].memSize() + infos[i].diskSize() for i in range(len(infos)))
    return {"held_rdds": float(held), "cached_bytes": float(cached)}


# ---------------------------------------------------------------------------
# event log


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def event_log_counters(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks and summed task metrics.

    Jobs that Spark runs under its own group on behalf of a statement
    (broadcast exchanges) carry the statement's SQL execution id, so an
    execution id seen under a statement's group pulls them in too."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    jobs = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = (
                props.get("spark.jobGroup.id"),
                props.get("spark.sql.execution.root.id") or props.get("spark.sql.execution.id"),
                e.get("Stage IDs", []),
            )
    exec_group = {x: g for g, x, _ in jobs.values() if g and x is not None}
    stage_group = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for group, xid, stages in jobs.values():
        group = exec_group.get(xid, group) if xid is not None else group
        if not group:
            continue
        out[group]["jobs"] += 1
        for sid in stages:
            stage_group[sid] = group
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerStageCompleted":
            g = stage_group.get(e["Stage Info"]["Stage ID"])
            if g:
                out[g]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"])
            if not g:
                continue
            o = out[g]
            o["tasks"] += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                o["failed_tasks"] += 1
            m = e.get("Task Metrics") or {}
            o["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            o["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            o["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            o["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            o["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            o["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            o["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {g: dict(v) for g, v in out.items()}


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
