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
        rep = V.validate_assignments(
            hr["project_assignments"], hr["employees"], hr["projects"]
        )
        assert rep.results["ri_employee_id"] == 1
        assert rep.results["ri_project_id"] == 0

    def test_ri_sentinel_exempt(self, spark, hr):
        asn = hr["project_assignments"].withColumn(
            "employee_id",
            F.when(F.col("assignment_id") == 1, -1).otherwise(F.col("employee_id")),
        )
        rep = V.validate_assignments(asn, hr["employees"], hr["projects"])
        assert rep.results["ri_employee_id"] == 1  # employee 99 only; -1 sentinel exempt

    def test_rating_range(self, spark, hr):
        rep = V.validate_reviews(hr["performance_reviews"], hr["employees"])
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

    def test_one_action_validator_matches_the_wrappers(self, spark, hr, monkeypatch):
        """Each validator's one fused action gives the counts that its
        checks give when each is collected as its own action (what the
        former one-check wrappers did)."""
        asn, emp, proj = hr["project_assignments"], hr["employees"], hr["projects"]

        def alone(frame):
            return frame.collect()[0]["n"]

        checks = V._check_frame(asn, [
            V.pk_complete("assignment_id"),
            V.in_range("allocation_percentage", 0.0, 100.0),
        ]).collect()[0].asDict()
        expect = {
            "pk_complete_assignment_id": checks["pk_complete_assignment_id"],
            "range_allocation_percentage": checks["range_allocation_percentage"],
            "ri_employee_id": alone(V._ri_frame(asn, "employee_id", emp, "employee_id")),
            "ri_project_id": alone(V._ri_frame(asn, "project_id", proj, "project_id")),
        }
        assert expect == {
            "pk_complete_assignment_id": 0,
            "range_allocation_percentage": 1,  # assignment 4 at 120%
            "ri_employee_id": 1,  # employee 99
            "ri_project_id": 0,
        }
        dup = emp.unionByName(emp.limit(1))
        expect_dup = alone(V._pk_dup_frame(dup, "employee_id"))

        cls = type(asn)
        orig, actions = cls.collect, []

        def spy(self):
            actions.append(1)
            return orig(self)

        monkeypatch.setattr(cls, "collect", spy)
        rep = V.validate_assignments(asn, emp, proj)
        assert actions == [1]
        assert rep.total_rows == checks["__total"] == 7
        assert rep.results == expect
        assert V.validate_employees(dup).results["pk_unique_employee_id"] == expect_dup == 1
