"""Benchmark entry point.

    python3 perfbench/run.py --workload hr_pipeline --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Inputs are made from ``--seed``; the
timed phase runs for about ``--seconds``. The last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics (and the
tracing overhead) with ``--trace 1``. The line before it carries the
host stamp, sample counts, percentiles and every failure. Spans are
written to ``.perfbench/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import host, stats  # noqa: E402
from perfbench.engine import Engine, setup_cycles  # noqa: E402
from perfbench.tracing import (  # noqa: E402
    Tracer, duration, fold, parse_event_log, subtree_totals, write_spans)
from perfbench.workloads import WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "heap_live_bytes": "bytes",
    "wall_p50_s": "s",
    "throughput_per_s": "1/s",
}
PER_LAYER = {
    "session.build_s": "s",
    "session.warmup_s": "s",
    "sources.scan_bytes": "bytes",
    "sources.scan_records": "count",
    "sources.scan_task_s": "s",
    "sources.sinks.write_s": "s",
    "sources.sinks.bytes_written": "bytes",
    "sources.sinks.bytes_per_input_byte": "ratio",
    "plans.construct_s": "s",
    "plans.construct_jobs": "count",
    "plans.execute_s": "s",
    "plans.jobs_per_query": "count",
    "plans.stages_per_query": "count",
    "plans.exchanges": "count",
    "plans.reused_exchanges": "count",
    "plans.exchange_reuse_ratio": "ratio",
    "plans.broadcast_exchanges": "count",
    "plans.pipeline.self_s": "s",
    "plans.validation.s": "s",
    "plans.validation.jobs": "count",
    "plans.reporting.s": "s",
    "plans.reporting.jobs": "count",
    "plans.pipeline.cache_bytes": "bytes",
    "operators.task_run_s": "s",
    "operators.task_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.tasks": "count",
    "operators.tasks_failed": "count",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.stage_skew": "ratio",
    "operators.python_udf_nodes": "count",
    "operators.python_udf_stage_task_s": "s",
    "operators.checkpoint_scans": "count",
    "operators.pinned_bytes_peak": "bytes",
    "operators.peak_exec_mem_bytes": "bytes",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.get_batch_s": "s",
    "streaming.input_vs_processed": "ratio",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes",
    "streaming.watermark_lag_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_frac": "ratio",
    "trace.span_gap_s": "s",
}
# Per-operation sums folded from the event log: metric -> counter.
PER_OP = {
    "sources.scan_bytes": "scan_bytes",
    "sources.scan_records": "scan_records",
    "sources.scan_task_s": "scan_task_s",
    "plans.jobs_per_query": "jobs",
    "plans.stages_per_query": "stages",
    "plans.exchanges": "exchanges",
    "plans.reused_exchanges": "reused_exchanges",
    "plans.broadcast_exchanges": "broadcast_exchanges",
    "operators.task_run_s": "task_run_s",
    "operators.task_cpu_s": "task_cpu_s",
    "operators.gc_s": "gc_s",
    "operators.tasks": "tasks",
    "operators.tasks_failed": "tasks_failed",
    "operators.shuffle_write_bytes": "shuffle_write_bytes",
    "operators.shuffle_read_bytes": "shuffle_read_bytes",
    "operators.spill_bytes": "spill_bytes",
    "operators.python_udf_nodes": "python_udf_nodes",
    "operators.python_udf_stage_task_s": "python_udf_stage_task_s",
    "operators.checkpoint_scans": "checkpoint_scans",
}
SETUP_CYCLES = 5


class Ctx:
    """What a workload needs: inputs, session and failure accounting."""

    def __init__(self, work: str, seed: int, seconds: float, engine):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.engine = engine
        self.attempted = 0
        self.failures: list[dict] = []

    def attempt(self, name: str, fn):
        """Run one operation; an exception or wrong output is a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # every operation failure is counted, never skipped
            msg = str(exc).strip().splitlines()
            self.failures.append({
                "op": name,
                "error": f"{type(exc).__name__}: {msg[0][:400] if msg else ''}",
            })
            traceback.print_exc(file=sys.stderr)
            return None


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate_env(work: str, slots: int) -> str:
    """Keep every temporary file inside the checkout and pin the
    engine's settings: only the local parallelism is set, to ``slots``."""
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(slots)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM (launcher, driver, `java -version`) would otherwise keep
    # its performance-counter file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    return tmp


def per_layer_metrics(wl, ctx, setup, warmup_s, untraced, traced, spans, folded, phase_wall):
    ops = [s for s in spans if s.get("kind") == "op"]
    n_ops = len(ops) or 1
    totals: dict[str, float] = {}
    for s in ops:
        for k, v in subtree_totals(s["id"], spans, folded["per_span"]).items():
            totals[k] = totals.get(k, 0.0) + v
    out = {name: 0.0 for name in PER_LAYER}
    out["session.build_s"] = setup["build_s"]
    out["session.warmup_s"] = warmup_s
    for name, key in PER_OP.items():
        out[name] = totals.get(key, 0.0) / n_ops
    n_exch = sum(totals.get(k, 0.0) for k in ("exchanges", "reused_exchanges", "broadcast_exchanges"))
    out["plans.exchange_reuse_ratio"] = totals.get("reused_exchanges", 0.0) / n_exch if n_exch else 0.0
    out["operators.stage_skew"] = folded["stage_skew"]
    out["operators.peak_exec_mem_bytes"] = folded["peak_exec_mem_bytes"]
    out.update(wl.layer_metrics(ctx, spans, folded["per_span"]))
    p_untraced = stats.summarize(untraced["latencies"])["p50"]
    p_traced = stats.summarize(traced["latencies"])["p50"]
    out["trace.overhead_s"] = p_traced - p_untraced
    out["trace.overhead_frac"] = (p_traced - p_untraced) / p_untraced
    out["trace.span_gap_s"] = phase_wall - sum(duration(s) for s in ops)
    return out


def op_breakdown(spans, per_span) -> list[dict]:
    """One row per traced operation: wall, construct/execute split and
    the counters its jobs produced."""
    rows = []
    for s in spans:
        if s.get("kind") != "op":
            continue
        row = {"op": s.get("query") or s["name"], "wall_s": duration(s)}
        for c in spans:
            if c["parent"] == s["id"] and c.get("phase"):
                row[f"{c['phase']}_s"] = duration(c)
                row[f"{c['phase']}_jobs"] = subtree_totals(c["id"], spans, per_span)["jobs"]
        tot = subtree_totals(s["id"], spans, per_span)
        row.update({k: tot[k] for k in ("jobs", "stages", "task_run_s", "exchanges",
                                        "reused_exchanges", "python_udf_nodes",
                                        "checkpoint_scans", "scan_bytes")})
        rows.append(row)
    return rows


def run(args) -> int:
    work = os.path.join(ROOT, ".perfbench")
    slots = host.task_slots()
    tmp = isolate_env(work, slots)
    stamp_before = host.stamp(ROOT)

    wl = WORKLOADS[args.workload]()
    engine = Engine(tmp)
    ctx = Ctx(work, args.seed, args.seconds, engine)
    t0 = time.perf_counter()
    wl.prepare(ctx)
    inputs_s = time.perf_counter() - t0
    detail: dict = {"workload": wl.name, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "inputs_s": inputs_s}
    tracers = [Tracer("warmup"), Tracer("measure")]
    try:
        setup = setup_cycles(engine, SETUP_CYCLES, slots)
        t0 = time.perf_counter()
        wl.warmup(ctx, tracers[0])
        warmup_s = time.perf_counter() - t0
        untraced = wl.measure(ctx, tracers[1])
        # read after the timed loop, so that its forced collections
        # cannot change what the timed operations find on the heap
        detail["heap_readings_bytes"] = engine.live_heap_readings(slots)
        heap_live = min(detail["heap_readings_bytes"])
        traced = spans = folded = None
        if args.trace:
            evdir = os.path.join(tmp, "eventlog")
            os.makedirs(evdir)
            engine.stop()
            engine.build(event_log_dir=evdir)
            tracer = Tracer("traced", sc=engine.spark.sparkContext)
            tracers.append(tracer)
            t0 = time.perf_counter()
            traced = wl.measure(ctx, tracer)
            phase_wall = time.perf_counter() - t0
            spans = tracer.spans
        detail["jvm_peak_rss_bytes"] = engine.peak_rss_bytes()
    finally:
        engine.shutdown()
    if args.trace:
        logs = [os.path.join(evdir, f) for f in os.listdir(evdir) if not f.endswith(".inprogress")]
        if len(logs) != 1:
            raise RuntimeError(f"expected one finished event log, found {logs}")
        with open(logs[0]) as f:
            folded = fold(parse_event_log(f), spans)

    samples = untraced["latencies"]
    if not samples or (args.trace and not traced["latencies"]):
        print(json.dumps({"failures": ctx.failures}), file=sys.stderr)
        print("perfbench: no operation completed; no result", file=sys.stderr)
        return 1
    summary = stats.summarize(samples)
    if args.trace:
        values = per_layer_metrics(wl, ctx, setup, warmup_s, untraced, traced, spans, folded, phase_wall)
        detail["ops"] = op_breakdown(spans, folded["per_span"])
        units = PER_LAYER
    else:
        values = {
            "setup_s": setup["setup_s"],
            "heap_live_bytes": heap_live,
            "wall_p50_s": summary["p50"],
            "throughput_per_s": untraced["throughput_per_s"],
        }
        units = END_TO_END
    detail.update({
        "setup": setup,
        "warmup_s": warmup_s,
        "wall": summary,
        "failures": ctx.failures,
        "host_before": stamp_before,
        "loadavg_after": host.loadavg(),
        "cpu_steal_after_s": host.cpu_steal_s(),
        "mem_available_after_bytes": host.mem_available_bytes(),
    })
    os.makedirs(os.path.join(work, "traces"), exist_ok=True)
    write_spans(
        os.path.join(work, "traces", f"{wl.name}-seed{args.seed}-trace{args.trace}.json"),
        [s for t in tracers for s in t.spans],
    )
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": not ctx.failures,
        "attempted": ctx.attempted,
        "failed": len(ctx.failures),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if importlib.util.find_spec("employee_analytics_etl_spark") is None:
        print("perfbench: the employee_analytics_etl_spark package is not in this "
              "checkout; nothing to measure", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
