import datetime as dt
import json
import os

import pandas as pd

from perfbench import oracle, run
from perfbench.workloads import WORKLOADS, whole_ops

BENCHMARK = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


def _benchmark():
    with open(BENCHMARK) as f:
        return json.load(f)


def test_emitted_metric_names_and_units_match_benchmark_json():
    b = _benchmark()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in _benchmark()["workloads"]] == list(WORKLOADS)


def test_per_op_metrics_are_per_layer_metrics():
    assert set(run.PER_OP) <= set(run.PER_LAYER)


def test_oracle_compare_accepts_spark_dates_against_duckdb_timestamps():
    got = pd.DataFrame({"d": [dt.date(2020, 1, 2)], "x": [1.5]})
    want = pd.DataFrame({"x": [1.5], "d": pd.to_datetime(["2020-01-02"])})
    assert oracle.compare(got, want) == []


def test_oracle_compare_flags_dtype_rows_and_values():
    base = pd.DataFrame({"k": pd.Series([1, 2], dtype="int64"), "v": [0.1, 0.2]})
    assert "dtypes" in oracle.compare(base.astype({"k": "int32"}), base)[0]
    assert "rows" in oracle.compare(base.iloc[:1], base)[0]
    changed = base.assign(v=[0.1, 0.2 + 1e-12])
    assert oracle.compare(changed, base) == ["values: 1 rows differ"]
    assert oracle.compare(base.iloc[::-1], base) == []


def test_closed_loop_op_count_depends_only_on_seconds():
    assert whole_ops(1, 7.5) == 1
    assert whole_ops(6, 7.5) == 1
    assert whole_ops(20, 6.5) == 3
