"""Summary-builder tests — the aggregation/join tier (A1-A4, J1-J5,
W1-W2, C12), including the reference unit test's dept-summary-vs-empty-
projects case (reference scripts/test_etl.py:56-67)."""

import pytest

from employee_analytics_etl_spark.operators.cleaning import (
    clean_assignments,
    clean_employees,
    clean_projects,
    clean_reviews,
)
from employee_analytics_etl_spark.operators.summaries import (
    dept_summary,
    emp_performance,
    project_workload,
)
from employee_analytics_etl_spark.plans.reporting import employee_insights
from tests.conftest import AS_OF


@pytest.fixture(scope="module")
def cleaned(spark, hr):
    return {
        "emp": clean_employees(hr["employees"], AS_OF),
        "rev": clean_reviews(hr["performance_reviews"]),
        "proj": clean_projects(hr["projects"], AS_OF),
        "asn": clean_assignments(hr["project_assignments"]),
        "dept": hr["departments"],
    }


class TestDeptSummary:
    @pytest.fixture(scope="class")
    def ds(self, cleaned):
        rows = dept_summary(
            cleaned["dept"], cleaned["emp"], cleaned["proj"], AS_OF
        ).collect()
        return {r["department_id"]: r for r in rows}

    def test_counts_and_avg(self, ds):
        # dept 101 after cleaning: Alice(40000) + Ivan(72000)
        assert ds[101]["total_employees"] == 2
        assert ds[101]["avg_salary"] == 56000.0

    def test_empty_dept_nullfill(self, ds):
        # dept 104: no employees, no projects → zero-filled (C12)
        assert ds[104]["total_employees"] == 0
        assert ds[104]["avg_salary"] == 0.0
        assert ds[104]["active_projects"] == 0

    def test_active_projects(self, ds):
        # dept 102: project 2 ended 2024 (inactive), project 3 ends
        # 2026-06-01 > as_of (active); dept 101: project 1 ongoing (null end)
        assert ds[102]["active_projects"] == 1
        assert ds[102]["total_project_budget"] == 365000.0
        assert ds[101]["active_projects"] == 1

    def test_empty_projects_frame(self, spark, cleaned):
        # reference test case: summary against an EMPTY projects frame
        empty = cleaned["proj"].limit(0)
        rows = dept_summary(cleaned["dept"], cleaned["emp"], empty, AS_OF).collect()
        assert all(r["active_projects"] == 0 for r in rows)


class TestEmpPerformance:
    @pytest.fixture(scope="class")
    def ep(self, cleaned):
        rows = emp_performance(
            cleaned["emp"], cleaned["dept"], cleaned["rev"]
        ).collect()
        return {r["employee_id"]: r for r in rows}

    def test_ghost_department_unknown(self, ep):
        assert ep[6]["department_name"] == "Unknown"  # dept 999 not in dims
        assert ep[5]["department_name"] == "Unknown"  # null dept → -1 sentinel

    def test_review_stats(self, ep):
        assert ep[1]["review_count"] == 2
        assert ep[1]["avg_rating"] == 4.2  # (4.6+3.8)/2
        assert ep[1]["latest_rating"] == 3.8  # max_by review_date

    def test_zero_reviews_path(self, ep):
        assert ep[10]["review_count"] == 0
        assert ep[10]["avg_rating"] is None


class TestEmployeeInsights:
    def test_ties_break_by_employee_id(self, spark):
        """T2/T4 on a summary whose tied rows sit in two partitions, the
        higher ids in the one read first: the lower id wins each tie."""
        rows = [
            (9, "Ivy", 5.0, 8.0), (7, "Gus", 5.0, 8.0), (6, "Fay", 4.0, 1.0),
            (4, "Dee", 5.0, 8.0), (2, "Bo", 5.0, 8.0), (1, "Al", None, 2.0),
        ]
        summary = spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 2),
            "employee_id int, name string, avg_rating double, tenure_years double",
        )
        assert summary.rdd.glom().map(len).collect() == [3, 3]
        got = employee_insights(summary)
        assert [r["employee_id"] for r in got["top5"]] == [2, 4, 7, 9, 6]
        assert [r["employee_id"] for r in got["top_tenure"]] == [2]


class TestProjectWorkload:
    def test_workload(self, cleaned):
        rows = project_workload(cleaned["proj"], cleaned["asn"]).collect()
        w = {r["project_id"]: r for r in rows}
        # project 3: assignments 5 (emp 4) + 7 (emp 99) survive cleaning
        assert w[3]["total_team_size"] == 2
        assert w[3]["total_allocation"] == 90.0
        # project 1: assignment 1 only (6 filtered by date sanity)
        assert w[1]["total_team_size"] == 1
        # project with no assignments → zero-filled... all have some here
        assert set(w) == {1, 2, 3}
