import json

from perfbench import tracing


def _spans():
    # op(0) -> construct(1), execute(2); a second op(3) with no children
    return [
        {"id": 0, "name": "query", "parent": None, "run_id": "t", "start": 0.0, "end": 10.0,
         "kind": "op"},
        {"id": 1, "name": "construct", "parent": 0, "run_id": "t", "start": 1.0, "end": 4.0},
        {"id": 2, "name": "execute", "parent": 0, "run_id": "t", "start": 3.0, "end": 8.0},
        {"id": 3, "name": "query", "parent": None, "run_id": "t", "start": 11.0, "end": 12.0,
         "kind": "op"},
    ]


def _task(stage, run_ms, in_bytes=0, sw=0, failed=False, peak=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": 1, "Peak Execution Memory": peak,
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 7,
            "Input Metrics": {"Bytes Read": in_bytes, "Records Read": in_bytes // 10},
            "Output Metrics": {"Bytes Written": 0, "Records Written": 0},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 5},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
        },
    }


def _plan(*names):
    node = {"nodeName": names[-1], "children": []}
    for n in reversed(names[:-1]):
        node = {"nodeName": n, "children": [node]}
    return node


CANNED = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
     "Properties": {"spark.jobGroup.id": "t-s1"}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
     "Properties": {"spark.jobGroup.id": "t-s2", "spark.sql.execution.id": "4"}},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
     "Properties": {"spark.jobGroup.id": "someone-else"}},
    _task(0, 100, in_bytes=1000),
    _task(1, 100, sw=50), _task(1, 100, sw=50), _task(1, 400, sw=50, failed=True),
    _task(2, 10, peak=99),
    _task(3, 5000),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "RDD Info": []}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "RDD Info": [
        {"Scope": json.dumps({"id": "3", "name": "ArrowEvalPython"})}]}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2, "RDD Info": []}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3, "RDD Info": []}},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "executionId": 4, "sparkPlanInfo": _plan("AdaptiveSparkPlan", "Exchange", "Scan parquet ")},
    # the AQE-final plan replaces the initial one
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
     "executionId": 4, "sparkPlanInfo": _plan(
         "AdaptiveSparkPlan", "BroadcastHashJoin", "Exchange", "ReusedExchange",
         "BroadcastExchange", "ArrowEvalPython", "Scan ExistingRDD")},
]


def _folded():
    lines = [json.dumps(e) for e in CANNED] + [""]
    return tracing.fold(tracing.parse_event_log(lines), _spans())


def test_jobs_stages_and_tasks_are_charged_to_their_span():
    f = _folded()
    construct, execute = f["per_span"][1], f["per_span"][2]
    assert construct["jobs"] == 1 and construct["stages"] == 1
    assert construct["scan_bytes"] == 1000 and construct["scan_records"] == 100
    assert construct["scan_task_s"] == 0.1
    assert execute["jobs"] == 1 and execute["stages"] == 2 and execute["tasks"] == 4
    assert execute["tasks_failed"] == 1
    assert execute["shuffle_write_bytes"] == 150 and execute["shuffle_read_bytes"] == 20
    assert execute["spill_bytes"] == 28
    assert abs(execute["task_run_s"] - 0.61) < 1e-9
    assert abs(execute["python_udf_stage_task_s"] - 0.6) < 1e-9
    # the foreign job group is not charged anywhere
    assert sum(v["jobs"] for v in f["per_span"].values()) == 2


def test_final_plan_operators_are_counted():
    execute = _folded()["per_span"][2]
    assert execute["exchanges"] == 1
    assert execute["reused_exchanges"] == 1
    assert execute["broadcast_exchanges"] == 1
    assert execute["python_udf_nodes"] == 1
    assert execute["checkpoint_scans"] == 1


def test_adopted_group_is_charged_to_the_span():
    spans = _spans()
    spans[2]["groups"] = ["someone-else"]
    lines = [json.dumps(e) for e in CANNED]
    f = tracing.fold(tracing.parse_event_log(lines), spans)
    assert f["per_span"][2]["jobs"] == 2
    assert f["per_span"][2]["task_run_s"] == 0.61 + 5.0


def test_skew_and_peak_memory():
    f = _folded()
    # stage 1: runs 100, 100, 400 -> max / median = 4; stage 3 is foreign
    assert f["stage_skew"] == 4.0
    assert f["peak_exec_mem_bytes"] == 99


def test_subtree_totals_add_children():
    f = _folded()
    tot = tracing.subtree_totals(0, _spans(), f["per_span"])
    assert tot["jobs"] == 2 and tot["stages"] == 3


def test_self_time_subtracts_child_coverage_once():
    spans = _spans()
    # children cover [1, 8] (overlapping) of the op's [0, 10]
    assert tracing.self_time(spans[0], spans) == 3.0
    assert tracing.self_time(spans[3], spans) == 1.0


def test_tracer_nests_spans_without_spark():
    t = tracing.Tracer("r")
    with t.span("outer", kind="op"):
        with t.span("inner"):
            t.adopt("stream-run-id")
    outer, inner = t.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert tracing.group_id(inner) == "r-s1"
    assert inner["groups"] == ["stream-run-id"] and "groups" not in outer
