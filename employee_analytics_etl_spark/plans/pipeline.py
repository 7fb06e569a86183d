"""Pipeline orchestration (SURVEY.md §3): extract → transform → validate
→ load → report, as one lazy Spark plan with explicit materialization
points.

Differences from the reference's eager pandas lifecycle
(reference scripts/main.py:184-222):
- Each phase is a pure ``DataFrame → DataFrame`` composition; nothing
  materializes until a sink/collect action.
- The five cleaned frames feed the writes, three summaries and the
  checks, so they are ``cache()``d — the one manual materialization
  decision Catalyst can't make for us (SURVEY.md §4.1). Spark plans
  each action on its own and shares work between actions only through
  the cache, so every count, check and insight rides an action that
  runs anyway.
- First batch: the four dimension/fact CSV writes and one projects
  aggregate fill the five caches. Each carries its table's cleaned row
  count and row checks (V1, V3, V5-V8) as ``DataFrame.observe`` metrics,
  or, for projects, as the aggregate itself, with A5. The extracted row
  count is an observed metric on each CSV scan, so every CSV is decoded
  once (S3/A6).
- Second batch, over the full caches: the department and employee
  summaries are each cached, written and read by their report collects
  in one thread; the project workload is written; and one grouped pass
  counts the six key checks (V2, V4).
- Both batches run their actions from driver threads
  (``session.run_concurrently``); each thread builds its own plans, so
  planning one action overlaps the execution of the others. The
  validators and the report then only assemble what the actions
  counted. The JDBC load stays sequential, in foreign-key order.
"""

from __future__ import annotations

import logging
import os
import time
from functools import partial

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.cleaning import (
    clean_assignments,
    clean_departments,
    clean_employees,
    clean_projects,
    clean_reviews,
)
from ..operators.summaries import dept_summary, emp_performance, project_workload
from ..session import run_concurrently
from ..sources.readers import check_manifest, read_csv_table
from ..sources.schemas import HR_TABLE_ORDER
from ..sources.sinks import jdbc_write_options, write_csv, write_jdbc, write_text_report
from . import validation as V
from .reporting import (
    avg_project_duration,
    dept_insights,
    employee_insights,
    generate_summary_report,
)

log = logging.getLogger("employee_analytics_etl_spark.pipeline")

# P8: each cleaned table's dimension/fact output, with its column
# alignment (reference scripts/main.py:96-105)
DIM_FACT = {
    "departments": (
        "dim_departments",
        ["department_id", "department_name", "location", "budget", "manager_id"],
    ),
    "employees": ("dim_employees", [
        "employee_id", "name", "department_id", "salary", "hire_date",
        "salary_bucket", "tenure_years", "status",
    ]),
    "performance_reviews": ("fact_performance_reviews", [
        "review_id", "employee_id", "review_date", "rating",
        "performance_category", "is_self_review", "latest_rating",
    ]),
    "project_assignments": ("fact_project_assignments", [
        "employee_id", "project_id", "allocation_percentage", "start_date", "end_date",
    ]),
}


def register_output_views(spark: SparkSession, outputs: dict[str, DataFrame]) -> None:
    """Register every output table as a temp view (SQL surface parity:
    each business insight becomes a one-line spark.sql query)."""
    for name, df in outputs.items():
        df.createOrReplaceTempView(name)


def run_pipeline(spark: SparkSession, conf: PipelineConfig) -> dict:
    """Full ETL. Returns {outputs, volume_stats, dq, report, timings}.

    ``timings`` holds seconds of wall time:

    - ``materialize_s``: start until the five cleaned caches are filled,
      by the dimension/fact writes and the projects aggregate, which
      decodes every CSV exactly once;
    - ``actions_s``: the summaries, key checks, report and JDBC load,
      which overlap, so no per-phase split is given;
    - ``total``: the whole run.
    """
    t0 = time.time()
    check_manifest(conf.raw_dir, [f"{t}.csv" for t in HR_TABLE_ORDER])
    cleaners = {
        "departments": clean_departments,
        "employees": partial(clean_employees, as_of=conf.as_of),
        "performance_reviews": clean_reviews,
        "projects": partial(clean_projects, as_of=conf.as_of),
        "project_assignments": clean_assignments,
    }
    extracted = {t: Observation(f"extracted_{t}") for t in HR_TABLE_ORDER}
    cleaned: dict[str, DataFrame] = {}
    # filled by the threads below, in this (foreign-key) order
    outputs: dict[str, DataFrame] = dict.fromkeys([
        *(name for name, _ in DIM_FACT.values()),
        "summary_dept_metrics", "summary_emp_performance", "summary_project_workload",
    ])
    pinned: list[DataFrame] = []  # every cache this run fills, released at the end
    checks: dict[str, list[V.Check]] = {}  # each table's row checks

    def cache_cleaned(table: str) -> DataFrame:
        """Extract (S1/S2/S3) and transform ``table`` into a cached frame;
        each raw row is counted as it is decoded."""
        raw = read_csv_table(
            spark, os.path.join(conf.raw_dir, f"{table}.csv"), table
        ).observe(extracted[table], F.count(F.lit(1)).alias("rows"))
        df = cleaners[table](raw).cache()
        pinned.append(df)
        cleaned[table] = df
        checks[table] = V.ROW_CHECKS[table]()
        return df

    def load(name: str, df: DataFrame) -> None:
        """Load ``df`` as output ``name`` (S5); with no output directory,
        still run it, to fill its caches and observed metrics."""
        if conf.processed_dir:
            write_csv(df, os.path.join(conf.processed_dir, name))
        else:
            df.write.format("noop").mode("overwrite").save()

    def load_cleaned(table: str) -> dict:
        """Fill ``table``'s cache by writing its output; its cleaned row
        count and row checks are observed on the way."""
        df = cache_cleaned(table)
        name, cols = DIM_FACT[table]
        checked = Observation(f"checked_{table}")
        outputs[name] = df.select(*cols)
        load(name, df.observe(checked, *V.row_check_metrics(checks[table])).select(*cols))
        return checked.get

    def check_projects() -> dict:
        """Fill the projects cache with one aggregate: cleaned row count,
        row checks and A5."""
        df = cache_cleaned("projects")
        return df.agg(
            *V.row_check_metrics(checks["projects"]), avg_project_duration()
        ).collect()[0].asDict()

    def summarize(name: str, build, insights) -> dict:
        """Cache, write and collect the insights of one summary."""
        df = outputs[name] = build().cache()
        pinned.append(df)
        load(name, df)
        return insights(df)

    def workload() -> None:
        # NOTE: the reference computes project workload then silently
        # DROPS it from the load set (reference scripts/main.py:107-115).
        # We keep it — documented intentional divergence.
        df = outputs["summary_project_workload"] = project_workload(
            cleaned["projects"], cleaned["project_assignments"]
        )
        load("summary_project_workload", df)

    try:
        # --- the cleaned tables, each filling its cache (S5, V1-V8, A5) ----
        counts = dict(zip(
            [*DIM_FACT, "projects"],
            run_concurrently(spark, [*[partial(load_cleaned, t) for t in DIM_FACT], check_projects]),
        ))
        t1 = time.time()

        # --- summaries with their insights (T1-T4), key checks (V2/V4) ---
        dept, emp, rev, proj = (
            cleaned[t] for t in ("departments", "employees", "performance_reviews", "projects")
        )
        dept_top, emp_top, _, keys = run_concurrently(spark, [
            partial(summarize, "summary_dept_metrics",
                    lambda: dept_summary(dept, emp, proj, conf.as_of), dept_insights),
            partial(summarize, "summary_emp_performance",
                    lambda: emp_performance(emp, dept, rev), employee_insights),
            workload,
            lambda: V.key_violations(cleaned),
        ])
        # SQL surface (SURVEY.md §3.3): every output table as a temp view,
        # so each report insight is a spark.sql one-liner
        register_output_views(spark, outputs)

        # --- validate (V1-V9) and report (S9, T1-T4, A5) -----------------
        for t, n in keys.items():
            counts[t] = {**counts[t], **n}
        volume_stats = {
            t: {"extracted": extracted[t].get["rows"], "cleaned": counts[t]["__total"]}
            for t in HR_TABLE_ORDER
        }
        dq = V.dq_stats([
            V.validate_employees(checks["employees"], counts["employees"]),
            V.validate_reviews(checks["performance_reviews"], counts["performance_reviews"]),
            V.validate_projects(checks["projects"], counts["projects"]),
            V.validate_assignments(checks["project_assignments"], counts["project_assignments"]),
        ])
        report = generate_summary_report(
            {**dept_top, **emp_top, "avg_duration": counts["projects"]["avg_duration"]},
            volume_stats, dq, conf.as_of,
        )

        # --- JDBC load (S6): one table at a time, in foreign-key order ------
        if conf.jdbc_url:
            for name, df in outputs.items():
                write_jdbc(
                    df,
                    jdbc_write_options(
                        conf.jdbc_url, name, conf.jdbc_user, conf.jdbc_password,
                        session_init="SET FOREIGN_KEY_CHECKS=0",
                    ),
                )
        if conf.report_path:
            write_text_report(report, conf.report_path)
        t2 = time.time()
    finally:
        for df in pinned:
            df.unpersist()

    return {
        "outputs": outputs,
        "volume_stats": volume_stats,
        "dq": dq,
        "report": report,
        "timings": {"materialize_s": t1 - t0, "actions_s": t2 - t1, "total": t2 - t0},
    }
