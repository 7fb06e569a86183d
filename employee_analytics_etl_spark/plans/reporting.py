"""Business-insights report (SURVEY.md §2.7 T1-T4, A5; reference
scripts/reporting.py).

Each insight is a top-k query — Spark compiles ``orderBy(...).limit(k)``
to TakeOrderedAndProject (no global sort at scale). pandas sorts NaN
last in descending sorts; Spark's ``desc`` puts nulls first, so every
insight uses ``desc_nulls_last`` for parity (SURVEY.md T2 caveat). The
department insights break ties by ``department_id``, as pandas' stable
descending sort keeps the department table's order; without it a tie
(the ``hr`` test fixture has one on active projects) picks whichever
department the plan reads first, which changes from run to run.

``run_pipeline`` collects T1/T3 and T2/T4 from the cached department and
employee summaries, each in the thread that writes that summary, and
evaluates A5 inside its projects aggregate; ``generate_summary_report``
only formats the collected values.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F


def top_dept_by_avg_salary(dept_summary: DataFrame) -> DataFrame:
    """T1 (reference scripts/reporting.py:85-87)."""
    return dept_summary.orderBy(F.desc_nulls_last("avg_salary"), "department_id").limit(1)


def top_employees_by_rating(emp_performance: DataFrame, k: int = 5) -> DataFrame:
    """T2 (reference scripts/reporting.py:90-93)."""
    return emp_performance.orderBy(F.desc_nulls_last("avg_rating")).limit(k)


def top_dept_by_active_projects(dept_summary: DataFrame) -> DataFrame:
    """T3 (reference scripts/reporting.py:96-98)."""
    return dept_summary.orderBy(F.desc_nulls_last("active_projects"), "department_id").limit(1)


def top_employee_by_tenure(emp_performance: DataFrame) -> DataFrame:
    """T4 (reference scripts/reporting.py:101-103)."""
    return emp_performance.orderBy(F.desc_nulls_last("tenure_years")).limit(1)


def avg_project_duration() -> Column:
    """A5 (reference scripts/reporting.py:108-110), an aggregate column
    over the cleaned projects."""
    return F.round(F.avg("project_duration_days"), 1).alias("avg_duration")


def dept_insights(dept_summary: DataFrame) -> dict[str, list[Row]]:
    """T1 and T3: two top-1 collects on the department summary."""
    return {
        "top_salary": top_dept_by_avg_salary(dept_summary).collect(),
        "top_active": top_dept_by_active_projects(dept_summary).collect(),
    }


def employee_insights(emp_performance: DataFrame) -> dict[str, list[Row]]:
    """T2 and T4: two top-k collects on the employee summary."""
    return {
        "top5": top_employees_by_rating(emp_performance).collect(),
        "top_tenure": top_employee_by_tenure(emp_performance).collect(),
    }


def generate_summary_report(
    insights: dict,
    volume_stats: dict[str, dict[str, int]],
    dq: dict,
    as_of: dt.date,
) -> str:
    """Assemble the text report (reference scripts/reporting.py:5-123)
    from the collected ``insights``: ``dept_insights``,
    ``employee_insights`` and ``avg_duration`` (A5)."""
    top_salary, top5 = insights["top_salary"], insights["top5"]
    top_active, top_tenure = insights["top_active"], insights["top_tenure"]

    lines: list[str] = []
    add = lines.append
    add("=" * 64)
    add("EMPLOYEE ANALYTICS ETL - SUMMARY REPORT (spark engine)")
    add(f"as_of date: {as_of.isoformat()}")
    add("=" * 64)

    add("\n-- DATA VOLUME --")
    for table, counts in volume_stats.items():
        extracted = counts.get("extracted", 0)
        cleaned = counts.get("cleaned", extracted)
        add(f"{table}: extracted={extracted} cleaned={cleaned} "
            f"removed={extracted - cleaned}")

    add("\n-- DATA QUALITY --")
    add(f"checks={dq['total_checks']} passed={dq['passed']} "
        f"failed={dq['failed']} critical={dq['critical_issues']}")
    for issue in dq.get("issues", []):
        add(f"  ! {issue}")

    add("\n-- BUSINESS INSIGHTS --")
    if top_salary:
        r = top_salary[0]
        add(f"A. Highest avg salary: {r['name']} (${r['avg_salary']:,.2f})")

    names = ", ".join(x["name"] for x in top5 if x["avg_rating"] is not None)
    add(f"B. Top performers by avg rating: {names}")

    if top_active:
        r = top_active[0]
        add(f"C. Most active projects: {r['name']} ({r['active_projects']})")

    if top_tenure:
        r = top_tenure[0]
        add(f"D. Longest tenure: {r['name']} ({r['tenure_years']} years)")

    add(f"E. Avg project duration: {insights['avg_duration']} days")

    add("\n" + "=" * 64)
    return "\n".join(lines)
