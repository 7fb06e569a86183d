"""Spans around calls into the engine, and the Spark event log folded
into per-layer metrics.

A span records name, start, end, parent and run id in memory. When the
tracer is live it also tags every Spark job started inside the span with
the span's job group, so the event log attributes each job, stage and
task to the innermost span that caused it. ``parse_event_log`` reads the
uncompressed JSON-lines log Spark writes when ``spark.eventLog.enabled``
is set, and ``fold`` sums task metrics and final (AQE) plan operators
per span.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict

# Physical operators that run Python code in worker processes.
PYTHON_NODE_MARKERS = ("Python", "Pandas", "InArrow")
CHECKPOINT_SCAN = "Scan ExistingRDD"
EXCHANGE, REUSED, BROADCAST = "Exchange", "ReusedExchange", "BroadcastExchange"


class Tracer:
    """Collects spans. ``sc`` set means live: job groups are tagged."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self.sc is not None:
            self.sc.setJobGroup(group_id(rec), name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(group_id(parent), parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def adopt(self, group: str) -> None:
        """Charge jobs of another job group to the innermost open span
        (a streaming query runs its batches under its own run id)."""
        self._stack[-1].setdefault("groups", []).append(group)


def group_id(span: dict) -> str:
    return f"{span['run_id']}-s{span['id']}"


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_time(span: dict, spans: list[dict]) -> float:
    """Span duration minus the part of it covered by its children."""
    kids = sorted(
        (s["start"], s["end"]) for s in spans if s["parent"] == span["id"]
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return duration(span) - covered


def _plan_nodes(info: dict, out: list[str]) -> list[str]:
    out.append(info.get("nodeName", ""))
    for child in info.get("children", []):
        _plan_nodes(child, out)
    return out


def _is_python_node(name: str) -> bool:
    return any(m in name for m in PYTHON_NODE_MARKERS)


def parse_event_log(lines) -> dict:
    """Jobs, stages, tasks and final plans from event-log JSON lines."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: {"tasks": [], "scopes": set()})
    plans: dict[int, list[str]] = {}
    exec_group: dict[int, str] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "stages": list(ev.get("Stage IDs", [])),
                "exec": int(exec_id) if exec_id not in (None, "") else None,
            }
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages[info["Stage ID"]]
            st["completed"] = True
            for rdd in info.get("RDD Info", []):
                scope = rdd.get("Scope")
                if scope:
                    try:
                        st["scopes"].add(json.loads(scope).get("name", ""))
                    except ValueError:
                        pass
        elif kind == "SparkListenerTaskEnd":
            stages[ev["Stage ID"]]["tasks"].append(_task(ev))
        elif kind == "SparkListenerSQLExecutionStart":
            plans[ev["executionId"]] = _plan_nodes(ev.get("sparkPlanInfo", {}), [])
            if ev.get("jobGroupId"):
                exec_group[ev["executionId"]] = ev["jobGroupId"]
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            plans[ev["executionId"]] = _plan_nodes(ev.get("sparkPlanInfo", {}), [])
    return {"jobs": jobs, "stages": dict(stages), "plans": plans, "exec_group": exec_group}


def _task(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    return {
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "in_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "in_records": (m.get("Input Metrics") or {}).get("Records Read", 0),
        "out_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "sw_bytes": sw.get("Shuffle Bytes Written", 0),
        "sr_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "spill": m.get("Disk Bytes Spilled", 0),
        "peak_mem": m.get("Peak Execution Memory", 0),
        "failed": reason != "Success",
    }


def fold(parsed: dict, spans: list[dict]) -> dict:
    """Per-span totals: every job is charged to its job group's span."""
    by_group = {group_id(s): s["id"] for s in spans}
    by_group.update({g: s["id"] for s in spans for g in s.get("groups", ())})
    per_span: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    skew = 1.0
    peak_mem = 0
    stage_owner: dict[int, int] = {}
    for job in parsed["jobs"].values():
        sid = by_group.get(job["group"])
        if sid is None:
            continue
        per_span[sid]["jobs"] += 1
        for st in job["stages"]:
            stage_owner.setdefault(st, sid)
    for st_id, st in parsed["stages"].items():
        sid = stage_owner.get(st_id)
        if sid is None or not st.get("completed"):
            continue
        tasks = st["tasks"]
        acc = per_span[sid]
        acc["stages"] += 1
        stage_in = sum(t["in_bytes"] for t in tasks)
        python_stage = any(_is_python_node(n) for n in st["scopes"])
        for t in tasks:
            acc["tasks"] += 1
            acc["tasks_failed"] += t["failed"]
            acc["task_run_s"] += t["run_ms"] / 1e3
            acc["task_cpu_s"] += t["cpu_ns"] / 1e9
            acc["gc_s"] += t["gc_ms"] / 1e3
            acc["scan_bytes"] += t["in_bytes"]
            acc["scan_records"] += t["in_records"]
            acc["bytes_written"] += t["out_bytes"]
            acc["shuffle_write_bytes"] += t["sw_bytes"]
            acc["shuffle_read_bytes"] += t["sr_bytes"]
            acc["spill_bytes"] += t["spill"]
            if stage_in > 0:
                acc["scan_task_s"] += t["run_ms"] / 1e3
            if python_stage:
                acc["python_udf_stage_task_s"] += t["run_ms"] / 1e3
            peak_mem = max(peak_mem, t["peak_mem"])
        runs = [t["run_ms"] for t in tasks]
        if len(runs) >= 2:
            med = statistics.median(runs)
            if med > 0:
                skew = max(skew, max(runs) / med)
    exec_span: dict[int, int] = {}
    for ex, grp in parsed["exec_group"].items():
        if grp in by_group:
            exec_span[ex] = by_group[grp]
    for job in parsed["jobs"].values():
        if job["exec"] is not None and job["group"] in by_group:
            exec_span.setdefault(job["exec"], by_group[job["group"]])
    for ex, nodes in parsed["plans"].items():
        sid = exec_span.get(ex)
        if sid is None:
            continue
        acc = per_span[sid]
        acc["exchanges"] += nodes.count(EXCHANGE)
        acc["reused_exchanges"] += nodes.count(REUSED)
        acc["broadcast_exchanges"] += nodes.count(BROADCAST)
        acc["python_udf_nodes"] += sum(_is_python_node(n) for n in nodes)
        acc["checkpoint_scans"] += nodes.count(CHECKPOINT_SCAN)
    return {"per_span": per_span, "stage_skew": skew, "peak_exec_mem_bytes": peak_mem}


def subtree_totals(span_id: int, spans: list[dict], per_span: dict) -> dict:
    """Sum of a span's own counters and all its descendants'."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s["id"])
    out: dict[str, float] = defaultdict(float)
    todo = [span_id]
    while todo:
        sid = todo.pop()
        for k, v in per_span.get(sid, {}).items():
            out[k] += v
        todo.extend(children[sid])
    return out


def write_spans(path: str, spans: list[dict]) -> None:
    with open(path, "w") as f:
        json.dump(spans, f, indent=1)
