"""Golden parity: the Spark pipeline's summary tables and cleaned
employees against ``perfbench.hrgen.golden``, the pandas derivation of
the reference's transform semantics (reference scripts/transform.py,
as_of pinned to 2025-12-29 — SURVEY.md §5.2 item 3: the committed
goldens are stale, so goldens are derived from semantics, not files).

Each test checks three inputs: the ``hr`` fixture's CSVs (every
FIXTURES.md edge row) and two generated inputs, reusing the pipeline
runs of the ``hr_run`` and ``generated_runs`` fixtures.

Rounded columns compare with atol=5.1e-3, or differ by exactly one unit
in the last place at a half-up tie (pandas rounds half-to-even, Spark
half-up — SURVEY.md C11); everything else compares exactly.
"""

from __future__ import annotations

import pytest
from pandas.testing import assert_frame_equal

from perfbench import hrgen

ROUNDED_ATOL = 5.1e-3  # the same rounded value, up to float noise
# Spark rounds the decimal repr half-up and pandas the binary value
# half-to-even, so at a tie (2.225: Spark 2.23, pandas 2.22) the two
# differ by exactly one unit in the last place, never by more.


@pytest.fixture(scope="module")
def runs(hr_raw_dir, hr_run, generated_runs):
    """input name -> (the run's output DataFrames, hrgen goldens)."""
    out = {"hr_fixture": (hr_run[0]["outputs"], hrgen.golden(hr_raw_dir))}
    for seed, run in generated_runs.items():
        out[f"generated_seed_{seed}"] = (run.res["outputs"], run.want)
    return out


def _assert_summary(runs, name: str, to_timestamp=()):
    key, rounded = hrgen.SUMMARIES[name]
    for label, (outputs, golden) in runs.items():
        sdf = outputs[name]
        for c in to_timestamp:
            sdf = sdf.withColumn(c, sdf[c].cast("timestamp"))
        got = sdf.toPandas().sort_values(key).reset_index(drop=True)
        want = golden[name].sort_values(key).reset_index(drop=True)
        assert list(got.columns) == list(want.columns), label
        exact = [c for c in got.columns if c not in rounded]
        assert_frame_equal(got[exact], want[exact], check_dtype=False,
                           rtol=0, atol=1e-9, obj=f"{label} {name}")
        for c, decimals in rounded.items():
            delta = (got[c] - want[c]).abs()
            tie = (delta - 10.0 ** -decimals).abs() <= 1e-9
            ok = (delta <= ROUNDED_ATOL) | tie | (got[c].isna() & want[c].isna())
            assert ok.all(), f"{label} {name}.{c}:\n{got[~ok]}\n{want[~ok]}"


class TestReferenceParity:
    def test_dept_summary(self, runs):
        _assert_summary(runs, "summary_dept_metrics")

    def test_emp_performance(self, runs):
        _assert_summary(runs, "summary_emp_performance", to_timestamp=["latest_review_date"])

    def test_project_workload(self, runs):
        _assert_summary(runs, "summary_project_workload")

    def test_dim_employees_cleaning(self, runs):
        for label, (outputs, golden) in runs.items():
            got = outputs["dim_employees"].toPandas()
            assert sorted(got["employee_id"]) == sorted(golden["employees"]["employee_id"]), label
            assert (got["salary"] != 0).all(), label
