"""End-to-end pipeline test: CSV fixtures on disk → run_pipeline →
outputs + validation + report (SURVEY.md §3 lifecycle)."""

import os
import threading
import time

import pytest

import employee_analytics_etl_spark.plans.pipeline as P
from employee_analytics_etl_spark.config import PipelineConfig
from employee_analytics_etl_spark.session import run_concurrently
from employee_analytics_etl_spark.sources import readers, schemas
from employee_analytics_etl_spark.sources.readers import MissingInputError, check_manifest
from employee_analytics_etl_spark.sources.schemas import HR_TABLE_ORDER
from perfbench import hrgen
from tests.conftest import run_generated


# The ``hr`` fixture run's report and dq, as the sequential pipeline
# computed them. Departments Hr and Tech tie on active projects; the
# report names the one with the lower department_id.
FIXTURE_REPORT = """\
================================================================
EMPLOYEE ANALYTICS ETL - SUMMARY REPORT (spark engine)
as_of date: 2025-12-29
================================================================

-- DATA VOLUME --
departments: extracted=4 cleaned=4 removed=0
employees: extracted=10 cleaned=8 removed=2
performance_reviews: extracted=8 cleaned=5 removed=3
projects: extracted=6 cleaned=3 removed=3
project_assignments: extracted=7 cleaned=5 removed=2

-- DATA QUALITY --
checks=22 passed=20 failed=2 critical=0
  ! employees: enum_status: 1 violating rows
  ! project_assignments: ri_employee_id: 1 violating rows

-- BUSINESS INSIGHTS --
A. Highest avg salary: Tech ($75,000.00)
B. Top performers by avg rating: Charlie, Alice, Frank, Dana
C. Most active projects: Hr (1)
D. Longest tenure: Judy (8.1 years)
E. Avg project duration: 364.0 days

================================================================"""
FIXTURE_DQ = {
    "total_checks": 22,
    "passed": 20,
    "failed": 2,
    "critical_issues": 0,
    "issues": [
        "employees: enum_status: 1 violating rows",
        "project_assignments: ri_employee_id: 1 violating rows",
    ],
}


class TestPipeline:
    def test_manifest_check(self, tmp_path):
        with pytest.raises(MissingInputError):
            check_manifest(str(tmp_path), [f"{t}.csv" for t in HR_TABLE_ORDER])

    def test_testdata_tables_defined_once(self):
        assert readers.TESTDATA_TABLES is schemas.TESTDATA_TABLES

    def test_report_and_dq_pinned(self, hr_run):
        res, _ = hr_run
        assert res["dq"] == FIXTURE_DQ
        assert res["report"] == FIXTURE_REPORT

    def test_outputs_present(self, hr_run):
        res, _ = hr_run
        assert set(res["outputs"]) == {
            "dim_departments", "dim_employees", "fact_performance_reviews",
            "fact_project_assignments", "summary_dept_metrics",
            "summary_emp_performance", "summary_project_workload",
        }

    def test_volume_stats(self, hr_run):
        res, _ = hr_run
        vs = res["volume_stats"]
        assert vs["employees"]["extracted"] == 10
        assert vs["employees"]["cleaned"] == 8  # Bob inactive, Grace zero-salary

    def test_dq_ran(self, hr_run):
        res, _ = hr_run
        assert res["dq"]["total_checks"] > 10
        assert res["dq"]["failed"] >= 1  # fixture has known violations

    def test_report_written(self, hr_run):
        res, conf = hr_run
        assert os.path.exists(conf.report_path)
        text = open(conf.report_path).read()
        assert "BUSINESS INSIGHTS" in text
        assert "Highest avg salary" in text
        assert res["report"] == text

    def test_csv_sink(self, hr_run):
        res, conf = hr_run
        d = os.path.join(conf.processed_dir, "summary_dept_metrics")
        assert os.path.isdir(d)
        files = [f for f in os.listdir(d) if f.endswith(".csv")]
        assert len(files) == 1  # one file per table, as the reference writes

    def test_workload_kept(self, hr_run):
        # intentional divergence: the reference computes-then-drops the
        # workload summary (reference scripts/main.py:107-115); we keep it
        res, _ = hr_run
        assert res["outputs"]["summary_project_workload"].count() > 0

    def test_sql_surface(self, spark, hr_run):
        # every output is a temp view; insight A is a SQL one-liner
        res, _ = hr_run
        assert set(res["outputs"]) <= {
            t.name for t in spark.catalog.listTables()
        }
        top = spark.sql(
            """SELECT name, avg_salary FROM summary_dept_metrics
               ORDER BY avg_salary DESC, department_id LIMIT 1"""
        ).collect()
        assert len(top) == 1 and top[0]["avg_salary"] > 0


def _clear_job_group(sc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


class TestRunConcurrently:
    def test_thunks_overlap_and_results_keep_order(self, spark):
        # run one after another, the barrier would time out
        barrier = threading.Barrier(3, timeout=30)

        def thunk(i):
            return lambda: (barrier.wait(), i)[1]

        assert run_concurrently(spark, [thunk(i) for i in range(3)]) == [0, 1, 2]

    def test_waits_for_every_thunk_then_raises_the_first_in_order(self, spark):
        finished = threading.Event()

        def fails_first():
            raise ValueError("first")

        def fails_later():
            time.sleep(0.3)
            finished.set()
            raise KeyError("second")

        with pytest.raises(ValueError, match="first"):
            run_concurrently(spark, [fails_first, fails_later])
        assert finished.is_set()

    def test_threads_inherit_the_callers_job_group_each_on_its_own(self, spark):
        sc = spark.sparkContext
        barrier = threading.Barrier(2, timeout=30)

        def sets_its_own():
            sc.setJobGroup("own", "set inside one thunk")
            barrier.wait()
            return sc.getLocalProperty("spark.jobGroup.id")

        def reads():
            barrier.wait()
            return sc.getLocalProperty("spark.jobGroup.id")

        sc.setJobGroup("caller", "run_concurrently caller")
        try:
            got = run_concurrently(spark, [sets_its_own, reads])
            assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
        finally:
            _clear_job_group(sc)
        assert got == ["own", "caller"]


class TestGeneratedPipeline:
    """``run_pipeline`` over generated inputs: golden parity, repeatable
    results, job-group inheritance and cleanup when an action fails."""

    @pytest.mark.parametrize("seed", [1, 2])
    def test_golden_parity(self, generated_runs, seed):
        run = generated_runs[seed]
        assert hrgen.check(run.raw, run.out, run.res["volume_stats"], run.counts, run.want) == []

    def test_two_runs_agree(self, spark, generated_runs, tmp_path):
        a = generated_runs[1].res
        b = run_generated(spark, generated_runs[1].raw, str(tmp_path / "b"))
        for key in ("report", "dq", "volume_stats"):
            assert a[key] == b[key], key
        assert set(a["timings"]) == {"materialize_s", "actions_s", "total"}

    def test_run_without_an_output_dir_agrees(self, spark, generated_runs):
        """With no output directory, no-op writes fill the caches: the
        same counts, checks and report as a run that writes."""
        conf = PipelineConfig(
            raw_dir=generated_runs[1].raw, processed_dir="", report_path="",
            as_of=hrgen.AS_OF.date(),
        )
        a, b = generated_runs[1].res, P.run_pipeline(spark, conf)
        for key in ("report", "dq", "volume_stats"):
            assert a[key] == b[key], key

    def test_repeated_run_reuses_the_generated_classes(self, spark, generated_runs, tmp_path):
        codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        raw = generated_runs[1].raw
        run_generated(spark, raw, str(tmp_path / "a"))
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        run_generated(spark, raw, str(tmp_path / "b"))
        # a cache too small for one run's classes recompiles ~165 per run
        assert codegen.METRIC_COMPILATION_TIME().getCount() - before < 20

    def test_every_job_is_in_the_callers_job_group(self, spark, generated_runs, tmp_path):
        sc = spark.sparkContext
        tracker = sc.statusTracker()

        def marker_job(group: str) -> int:
            sc.setJobGroup(group, group)
            sc.parallelize([1]).count()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            (job,) = tracker.getJobIdsForGroup(group)
            return job

        try:
            first = marker_job("before-pipeline")
            sc.setJobGroup("g", "one pipeline run")
            run_generated(spark, generated_runs[1].raw, str(tmp_path / "out"))
            last = marker_job("after-pipeline")
        finally:
            _clear_job_group(sc)
        started = set(range(first + 1, last))
        assert started
        assert started - set(tracker.getJobIdsForGroup("g")) == set()

    def test_job_budget(self, spark, generated_runs, tmp_path):
        """One run starts at most 35 jobs: every count, check and
        insight rides a write, the projects aggregate, the key pass or
        a collect on a cached summary."""
        sc = spark.sparkContext
        try:
            sc.setJobGroup("budget", "one pipeline run")
            run_generated(spark, generated_runs[1].raw, str(tmp_path / "out"))
        finally:
            _clear_job_group(sc)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert 0 < len(sc.statusTracker().getJobIdsForGroup("budget")) <= 35

    def test_failed_write_raises_and_releases_the_caches(
        self, spark, generated_runs, tmp_path, monkeypatch
    ):
        from py4j.protocol import Py4JJavaError

        sc = spark.sparkContext

        def pinned() -> set:
            return set(sc._jsc.getPersistentRDDs().keys())

        before = pinned()
        # every write fails: no cache is filled
        not_a_dir = tmp_path / "regular_file"
        not_a_dir.write_text("")
        with pytest.raises(Py4JJavaError):
            run_generated(spark, generated_runs[1].raw, str(not_a_dir))
        assert pinned() == before

        # a summary's write fails after filling its cache
        write_csv, at_failure = P.write_csv, []

        def fails_after_writing_a_summary(df, path):
            write_csv(df, path)
            if path.endswith("summary_emp_performance"):
                at_failure.append(pinned() - before)
                raise OSError("disk full")

        monkeypatch.setattr(P, "write_csv", fails_after_writing_a_summary)
        with pytest.raises(OSError, match="disk full"):
            run_generated(spark, generated_runs[1].raw, str(tmp_path / "out"))
        # the five cleaned tables and at least the employee summary
        assert len(at_failure[0]) >= 6
        assert pinned() == before


class TestSchemaEvolution:
    def test_parquet_merge_schema_appends_column(self, spark, tmp_path):
        """Appended datasets gain columns over time; the reader must
        unify v1 (no column) and v2 (new column) under mergeSchema with
        null fill for the old files — the evolution path any long-lived
        100 TB dataset goes through."""
        path = str(tmp_path / "evolving")
        v1 = spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, name string"
        )
        v1.write.mode("overwrite").parquet(path + "/batch=1")
        v2 = spark.createDataFrame(
            [(3, "c", 9.5), (4, "d", 7.0)],
            "id long, name string, score double",
        )
        v2.write.mode("overwrite").parquet(path + "/batch=2")

        merged = spark.read.option("mergeSchema", "true").parquet(path)
        assert set(merged.columns) == {"id", "name", "score", "batch"}
        rows = {r["id"]: r for r in merged.collect()}
        assert len(rows) == 4
        assert rows[1]["score"] is None and rows[3]["score"] == 9.5
        # pruning still reaches the scan on the unified schema
        q = merged.filter(merged.id > 2).select("id", "score")
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan

    def test_mismatched_type_evolution_fails_loud(self, spark, tmp_path):
        """A column whose TYPE changes between batches must fail the
        merged read, not silently coerce — silent int->string
        unification is how corrupt lakes happen."""
        import pytest as _pytest

        path = str(tmp_path / "conflict")
        spark.createDataFrame([(1, 10)], "id long, v long").write.parquet(
            path + "/batch=1"
        )
        spark.createDataFrame([(2, "x")], "id long, v string").write.parquet(
            path + "/batch=2"
        )
        with _pytest.raises(Exception) as ei:
            spark.read.option("mergeSchema", "true").parquet(path).collect()
        assert "merge" in str(ei.value).lower() or "incompatible" in str(
            ei.value
        ).lower() or "Failed" in str(ei.value)


class TestFixedWidthSource:
    def test_fixed_width_parse_trim_ragged_and_permissive(
        self, spark, tmp_path
    ):
        """Fixed-width carve-out: typed columns from positions, padding
        trimmed, short (ragged) lines yield NULLs, and garbage in a
        numeric field goes NULL (PERMISSIVE) instead of failing the
        scan."""
        from employee_analytics_etl_spark.sources.readers import (
            read_fixed_width,
        )

        #        1-6     7-16        17-26       27-36
        lines = [
            "000001Alice     2024-01-15    123.45",
            "000002Bob       2024-02-20      7.00",
            "000003Carol     2024-03-05",        # ragged: no amount
            "00000XDave      not-a-date    abc   ",  # garbage id/date/amt
        ]
        p = tmp_path / "fw.txt"
        p.write_text("\n".join(lines) + "\n")

        fields = [
            ("id", 1, 6, "BIGINT"),
            ("name", 7, 10, "STRING"),
            ("day", 17, 10, "DATE"),
            ("amount", 27, 10, "DOUBLE"),
        ]
        rows = {
            r["name"]: r
            for r in read_fixed_width(spark, str(p), fields).collect()
        }
        assert rows["Alice"]["id"] == 1
        assert str(rows["Alice"]["day"]) == "2024-01-15"
        assert rows["Alice"]["amount"] == 123.45
        assert rows["Bob"]["amount"] == 7.00
        # ragged tail → NULL column, row still present
        assert rows["Carol"]["amount"] is None
        assert str(rows["Carol"]["day"]) == "2024-03-05"
        # unparseable values → NULL, not a job failure
        assert rows["Dave"]["id"] is None
        assert rows["Dave"]["day"] is None
        assert rows["Dave"]["amount"] is None

    def test_fixed_width_is_pure_projection(self, spark, tmp_path):
        """The parse plan must stay scan+project (codegen) — no
        exchange, no Python evaluation."""
        from employee_analytics_etl_spark.sources.readers import (
            read_fixed_width,
        )

        p = tmp_path / "fw2.txt"
        p.write_text("000001Alice     2024-01-15    123.45\n")
        df = read_fixed_width(
            spark, str(p), [("id", 1, 6, "BIGINT"), ("name", 7, 10, "STRING")]
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestPythonDataSource:
    """Spark 4 Python DataSource API: the custom 'seqgen' source must
    plan partitioned reads (driver plans ranges, workers generate)
    and produce the exact deterministic row set."""

    def test_seqgen_reads_partitioned_and_exact(self, spark):
        from employee_analytics_etl_spark.sources.pysource import register

        register(spark)
        df = (
            spark.read.format("seqgen")
            .option("n_rows", 257)
            .option("num_partitions", 5)
            .option("n_buckets", 7)
            .load()
        )
        assert df.rdd.getNumPartitions() == 5
        rows = df.collect()
        assert len(rows) == 257
        got = {(r["id"], r["bucket"], r["value"]) for r in rows}
        want = {
            (i, f"b{i % 7}", float(i % 97) / 10.0) for i in range(257)
        }
        assert got == want

    def test_observation_metrics_piggyback_on_one_scan(self, spark):
        """df.observe: operational row/sum metrics collected from the
        SAME job that produced the result — no second scan."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from employee_analytics_etl_spark.sources.pysource import register

        register(spark)
        df = (
            spark.read.format("seqgen")
            .option("n_rows", 100)
            .option("num_partitions", 3)
            .load()
        )
        obs = Observation("pipeline_metrics")
        out = (
            df.observe(
                obs,
                F.count(F.lit(1)).alias("rows_seen"),
                F.sum("id").alias("id_sum"),
            )
            .filter(F.col("id") % 2 == 0)
            .count()
        )
        assert out == 50
        m = obs.get
        assert m["rows_seen"] == 100 and m["id_sum"] == 4950


class TestDeadLetterJson:
    """PERMISSIVE JSON ingest with a dead-letter column: malformed
    rows must land in _corrupt_record (quarantine), never fail the
    job, and valid rows must parse fully."""

    def test_corrupt_rows_quarantined(self, spark, tmp_path_factory):
        import os

        d = str(tmp_path_factory.mktemp("dlq_json"))
        with open(os.path.join(d, "feed.json"), "w") as f:
            f.write('{"id": 1, "v": 10.5}\n')
            f.write('{"id": 2, "v": "NOT A NUMBER"}\n')
            f.write("{this is not json at all\n")
            f.write('{"id": 4, "v": 2.5}\n')

        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("v", T.DoubleType()),
                T.StructField("_corrupt_record", T.StringType()),
            ]
        )
        df = (
            spark.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .json(d)
        ).cache()  # Spark requires caching to query corrupt-record col
        good = df.filter(F.col("_corrupt_record").isNull())
        dead = df.filter(F.col("_corrupt_record").isNotNull())
        assert {(r["id"], r["v"]) for r in good.collect()} == {
            (1, 10.5),
            (4, 2.5),
        }
        assert dead.count() == 2  # type mismatch + unparseable line
        # quarantined payloads keep the raw line for replay
        raws = [r["_corrupt_record"] for r in dead.collect()]
        assert any("NOT A NUMBER" in r for r in raws)
        assert any("this is not json" in r for r in raws)
        df.unpersist()
