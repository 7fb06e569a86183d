"""Validation-suite tests (V1-V9): fused row checks, null-tolerant enum
parity, the grouped key pass for PK duplicates and RI, dq_stats shape —
including the reference's null-name unit test (reference
scripts/test_etl.py:43-54)."""

import pandas as pd
from pyspark.sql import functions as F

from employee_analytics_etl_spark.plans import validation as V


def validate(hr, **replaced) -> dict[str, V.TableReport]:
    """The four validators' reports over the ``hr`` fixture tables, with
    ``replaced`` frames in their place. The counts come as in
    ``run_pipeline``: each table's row checks as one aggregate, the key
    checks from the one grouped pass."""
    tables = {**hr, **replaced}
    keys = V.key_violations(tables)

    def checks_and_counts(t):
        checks = V.ROW_CHECKS[t]()
        row = tables[t].agg(*V.row_check_metrics(checks)).collect()[0].asDict()
        return checks, {**row, **keys.get(t, {})}

    return {
        "employees": V.validate_employees(*checks_and_counts("employees")),
        "performance_reviews": V.validate_reviews(*checks_and_counts("performance_reviews")),
        "projects": V.validate_projects(*checks_and_counts("projects")),
        "project_assignments": V.validate_assignments(*checks_and_counts("project_assignments")),
    }


class TestChecks:
    def test_null_name_detected(self, spark, hr):
        bad = hr["employees"].withColumn(
            "name", F.when(F.col("employee_id") == 1, None).otherwise(F.col("name"))
        )
        rep = validate(hr, employees=bad)["employees"]
        assert rep.results["complete_name"] == 1
        assert "employees: complete_name: 1 violating rows" in rep.issues

    def test_enum_null_flagged(self, spark, hr):
        # pandas-parity: NULL status counts as invalid enum (V6)
        rep = validate(hr)["employees"]
        assert rep.results["enum_status"] == 1  # Ivan's null status

    def test_active_zero_salary_conditional(self, spark, hr):
        rep = validate(hr)["employees"]
        assert rep.results["active_salary_positive"] == 1  # Grace

    def test_pk_unique(self, spark, hr):
        dup = hr["employees"].unionByName(hr["employees"].limit(1))
        rep = validate(hr, employees=dup)["employees"]
        assert rep.total_rows == 11
        assert rep.results["pk_unique_employee_id"] == 1
        assert "pk_unique_employee_id" in rep.critical

    def test_ri_anti_join(self, spark, hr):
        # assignment 7 references employee 99
        rep = validate(hr)["project_assignments"]
        assert rep.results["ri_employee_id"] == 1
        assert rep.results["ri_project_id"] == 0

    def test_ri_sentinel_exempt(self, spark, hr):
        asn = hr["project_assignments"].withColumn(
            "employee_id",
            F.when(F.col("assignment_id") == 1, -1).otherwise(F.col("employee_id")),
        )
        rep = validate(hr, project_assignments=asn)["project_assignments"]
        assert rep.results["ri_employee_id"] == 1  # employee 99 only; -1 sentinel exempt

    def test_rating_range(self, spark, hr):
        rep = validate(hr)["performance_reviews"]
        assert rep.results["range_rating"] == 2  # 6.0 and 0.5
        assert rep.results["ri_employee_id"] == 0

    def test_dq_stats_shape(self, spark, hr):
        reps = validate(hr)
        reports = [reps["employees"], reps["projects"]]
        stats = V.dq_stats(reports)
        assert stats["total_checks"] == len(reports[0].results) + len(reports[1].results)
        assert stats["passed"] + stats["failed"] == stats["total_checks"]
        assert stats["failed"] >= 2  # enum_status + active_salary + budget

    def test_key_pass_matches_pandas(self, spark, monkeypatch):
        """The grouped key pass gives, in one action, the counts pandas
        gives for each V2 and V4 check: a PK value held three times
        counts once, several null PKs count once (one null group, as
        a ``groupBy`` makes), null and −1 child keys are exempt, a −1
        parent key is a key like any other, and an orphan child key
        counts once however often it appears."""
        cols = {
            "employees": {"employee_id": [1, 2, 2, 2, None, None, None, -1, 5]},
            "performance_reviews": {
                "review_id": [10, 11, 11, None, 12],
                "employee_id": [1, None, -1, 7, 7],
            },
            "projects": {"project_id": [100, 101, 101, None]},
            "project_assignments": {
                "employee_id": [1, 2, 8, 8, -1, None, 5],
                "project_id": [100, 102, None, -1, 101, 103, 103],
            },
        }
        pdfs = {t: pd.DataFrame(c, dtype="Int64") for t, c in cols.items()}
        tables = {
            t: spark.createDataFrame(
                [tuple(None if pd.isna(v) else int(v) for v in row) for row in p.itertuples(index=False)],
                ", ".join(f"{c} long" for c in p.columns),
            )
            for t, p in pdfs.items()
        }

        def dup_keys(s):
            return int((s.value_counts(dropna=False) > 1).sum())

        def orphans(child, parent):
            return len(set(child.dropna()) - {-1} - set(parent.dropna()))

        emp, rev = pdfs["employees"], pdfs["performance_reviews"]
        proj, asn = pdfs["projects"], pdfs["project_assignments"]
        want = {
            "employees": {"pk_unique_employee_id": dup_keys(emp["employee_id"])},
            "performance_reviews": {
                "pk_unique_review_id": dup_keys(rev["review_id"]),
                "ri_employee_id": orphans(rev["employee_id"], emp["employee_id"]),
            },
            "projects": {"pk_unique_project_id": dup_keys(proj["project_id"])},
            "project_assignments": {
                "ri_employee_id": orphans(asn["employee_id"], emp["employee_id"]),
                "ri_project_id": orphans(asn["project_id"], proj["project_id"]),
            },
        }
        assert want == {
            "employees": {"pk_unique_employee_id": 2},  # 2 and null
            "performance_reviews": {"pk_unique_review_id": 1, "ri_employee_id": 1},  # 7
            "projects": {"pk_unique_project_id": 1},
            "project_assignments": {"ri_employee_id": 1, "ri_project_id": 2},  # 8; 102, 103
        }

        cls = type(tables["employees"])
        orig, actions = cls.collect, []

        def spy(self):
            actions.append(1)
            return orig(self)

        monkeypatch.setattr(cls, "collect", spy)
        assert V.key_violations(tables) == want
        assert actions == [1]
