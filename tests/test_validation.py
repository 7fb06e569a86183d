"""Validation-suite tests (V1-V9): fused checks, null-tolerant enum
parity, hash anti-join RI, dq_stats shape — including the reference's
null-name unit test (reference scripts/test_etl.py:43-54)."""

from pyspark.sql import functions as F

from employee_analytics_etl_spark.plans import validation as V


class TestChecks:
    def test_null_name_detected(self, spark, hr):
        bad = hr["employees"].withColumn(
            "name", F.when(F.col("employee_id") == 1, None).otherwise(F.col("name"))
        )
        rep = V.validate_employees(bad)
        assert rep.results["complete_name"] == 1
        assert "employees: complete_name: 1 violating rows" in rep.issues

    def test_enum_null_flagged(self, spark, hr):
        # pandas-parity: NULL status counts as invalid enum (V6)
        rep = V.validate_employees(hr["employees"])
        assert rep.results["enum_status"] == 1  # Ivan's null status

    def test_active_zero_salary_conditional(self, spark, hr):
        rep = V.validate_employees(hr["employees"])
        assert rep.results["active_salary_positive"] == 1  # Grace

    def test_pk_unique(self, spark, hr):
        dup = hr["employees"].unionByName(hr["employees"].limit(1))
        rep = V.validate_employees(dup)
        assert rep.results["pk_unique_employee_id"] == 1
        assert "pk_unique_employee_id" in rep.critical

    def test_ri_anti_join(self, spark, hr):
        # assignment 7 references employee 99
        n = V.ri_violations(
            hr["project_assignments"], "employee_id", hr["employees"], "employee_id"
        )
        assert n == 1

    def test_ri_sentinel_exempt(self, spark, hr):
        emp_with_sentinel = hr["employees"].withColumn(
            "department_id", F.coalesce("department_id", F.lit(-1))
        )
        n = V.ri_violations(
            emp_with_sentinel, "department_id", hr["departments"], "department_id"
        )
        assert n == 1  # ghost dept 999 only; -1 sentinel exempt

    def test_rating_range(self, spark, hr):
        rep = V.validate_reviews(hr["performance_reviews"], employees=hr["employees"])
        assert rep.results["range_rating"] == 2  # 6.0 and 0.5
        assert rep.results["ri_employee_id"] == 0

    def test_dq_stats_shape(self, spark, hr):
        reports = [
            V.validate_employees(hr["employees"]),
            V.validate_projects(hr["projects"]),
        ]
        stats = V.dq_stats(reports)
        assert stats["total_checks"] == len(reports[0].results) + len(reports[1].results)
        assert stats["passed"] + stats["failed"] == stats["total_checks"]
        assert stats["failed"] >= 2  # enum_status + active_salary + budget

    def test_one_action_validator_matches_the_wrappers(self, spark, hr):
        asn, emp, proj = hr["project_assignments"], hr["employees"], hr["projects"]
        rep = V.validate_assignments(asn, employees=emp, projects=proj)
        checks = V.run_checks(asn, "project_assignments", [
            V.pk_complete("assignment_id"),
            V.in_range("allocation_percentage", 0.0, 100.0),
        ])
        assert rep.total_rows == checks.total_rows == asn.count()
        assert rep.results == {
            **checks.results,
            "ri_employee_id": V.ri_violations(asn, "employee_id", emp, "employee_id"),
            "ri_project_id": V.ri_violations(asn, "project_id", proj, "project_id"),
        }
        emp_rep = V.validate_employees(emp)
        assert emp_rep.results["pk_unique_employee_id"] == V.pk_unique_violations(
            emp, "employee_id"
        )
