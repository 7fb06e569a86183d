"""Scale-pattern tests: skew salting exactness, skew-split joins,
Morton codes, partitioned writes."""

import os

from pyspark.sql import functions as F

from employee_analytics_etl_spark.operators import partitioning as P
from employee_analytics_etl_spark.sources.readers import read_parquet_table
from employee_analytics_etl_spark.sources.sinks import write_parquet
from tests.conftest import SF_SMOKE


class TestSalting:
    def test_salted_sum_equals_direct(self, spark):
        li = read_parquet_table(spark, SF_SMOKE, "lineitem")
        salted = P.salted_groupby_sum(li, "l_returnflag", "l_quantity", 8)
        direct = li.groupBy("l_returnflag").agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double").alias("sum_l_quantity"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
        a = sorted(map(tuple, salted.collect()))
        b = sorted(map(tuple, direct.collect()))
        assert a == b  # decimal path ⇒ bit-equal despite random salt


class TestPartitionedWrite:
    def test_partition_pruning(self, spark, tmp_path):
        orders = read_parquet_table(spark, SF_SMOKE, "orders")
        out = str(tmp_path / "orders_by_status")
        write_parquet(orders, out, partition_by=["o_orderstatus"])
        assert sorted(
            d for d in os.listdir(out) if d.startswith("o_orderstatus=")
        ) == ["o_orderstatus=F", "o_orderstatus=O", "o_orderstatus=P"]
        back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "O")
        plan = back._jdf.queryExecution().executedPlan().toString()
        # partition filter is applied at scan, not as a post-filter
        assert "PartitionFilters" in plan
        assert back.count() == orders.filter(F.col("o_orderstatus") == "O").count()

    def test_date_range_pruning_reads_only_in_range_files(self, spark, tmp_path):
        """Date-partitioned facts + a date-RANGED filter: the scan must
        touch only the in-range partition directories (inputFiles), and
        the range must appear as a PartitionFilter."""
        events = read_parquet_table(spark, SF_SMOKE, "events").withColumn(
            "event_date", F.to_date(F.col("ts").cast("timestamp"))
        )
        out = str(tmp_path / "events_by_date")
        write_parquet(events, out, partition_by=["event_date"])
        back = spark.read.parquet(out)
        n_parts = back.select("event_date").distinct().count()
        ranged = back.filter(
            F.col("event_date").between("2024-01-10", "2024-01-12")
        )
        plan = ranged._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "2024-01-10" in plan
        # runtime proof: the scan's numFiles metric (inputFiles() lists
        # the relation pre-pruning and is NOT evidence)
        n_read = P.scan_file_count(ranged)
        assert 0 < n_read < n_parts, (n_read, n_parts)
        expect = events.filter(
            F.col("event_date").between("2024-01-10", "2024-01-12")
        ).count()
        assert ranged.count() == expect > 0


class TestSkewHardening:
    """Hot-key hardening: salted aggregation on skewed input stays
    bit-equal to the direct plan, and AQE's skew-join splitter actually
    fires on a skewed sort-merge join (the 100 TB defense in depth)."""

    @staticmethod
    def _skewed_facts(spark, n=200_000, hot_frac=10):
        # hot_frac/10 of rows share one key; values deterministic
        return spark.range(n).select(
            F.when(F.col("id") % 10 < hot_frac - 1, F.lit("HOT"))
            .otherwise((F.col("id") % 97).cast("string"))
            .alias("k"),
            (F.col("id") % 1000 / 10.0).alias("v"),
        )

    def test_salted_sum_on_hot_key_matches_direct(self, spark):
        df = self._skewed_facts(spark)
        salted = P.salted_groupby_sum(df, "k", "v", salt_buckets=16)
        direct = df.groupBy("k").agg(
            F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("sum_v"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
        a = sorted(map(tuple, salted.collect()))
        b = sorted(map(tuple, direct.collect()))
        assert a == b

    def test_aqe_splits_skewed_join(self, spark):
        confs = {
            # no broadcast: force a shuffle join so skew matters
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            # sensitize the splitter to fixture-sized partitions
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        }
        saved = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            # padding makes the hot partition's bytes cross the threshold
            left = self._skewed_facts(spark, n=300_000).withColumn(
                "pad", F.expr("repeat('x', 64)")
            )
            right = spark.createDataFrame(
                [("HOT",)] + [(str(i),) for i in range(97)], "k STRING"
            ).withColumn("r_pad", F.expr("repeat('y', 8)"))
            joined = left.join(right, "k")
            # execute THIS dataframe (count() would spawn a separate
            # query execution and leave this plan non-final under AQE)
            assert len(joined.collect()) == 300_000
            plan = joined._jdf.queryExecution().executedPlan().toString()
            # AQE marks split skewed partitions in the final plan
            assert "skew=true" in plan, plan[:800]
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestSaltedJoin:
    def test_salted_join_equals_plain_join(self, spark):
        big = TestSkewHardening._skewed_facts(spark, n=100_000)
        small = spark.createDataFrame(
            [("HOT", 0)] + [(str(i), i + 1) for i in range(97)],
            "k STRING, rank INT",
        )
        a = sorted(map(tuple, P.salted_join(big, small, "k", 8).collect()))
        b = sorted(map(tuple, big.join(small, "k").collect()))
        assert a == b

    def test_salted_join_left_keeps_unmatched(self, spark):
        big = spark.createDataFrame(
            [("a", 1.0), ("orphan", 2.0)], "k STRING, v DOUBLE"
        )
        small = spark.createDataFrame([("a", 10)], "k STRING, rank INT")
        out = {r["k"]: r for r in P.salted_join(big, small, "k", 4, "left").collect()}
        assert out["a"]["rank"] == 10
        assert out["orphan"]["rank"] is None


class TestZOrder:
    def test_morton_matches_python_reference(self, spark):
        import random

        from pyspark.sql import functions as F

        from employee_analytics_etl_spark.operators.partitioning import morton_code

        rng = random.Random(5)
        rows = [(i, rng.randrange(0, 1 << 16), rng.randrange(0, 1 << 16))
                for i in range(200)]
        rows += [(200, 0, 0), (201, 65535, 65535), (202, 65535, 0), (203, 0, 65535)]
        df = spark.createDataFrame(rows, "i long, a long, b long")
        out = {
            r["i"]: r["m"]
            for r in df.select(
                "i", morton_code(F.col("a"), F.col("b")).alias("m")
            ).collect()
        }

        def ref(a, b):
            m = 0
            for bit in range(16):
                m |= ((a >> bit) & 1) << (2 * bit)
                m |= ((b >> bit) & 1) << (2 * bit + 1)
            return m

        for i, a, b in rows:
            assert out[i] == ref(a, b)


class TestHllRollup:
    def test_union_of_daily_sketches_matches_single_pass(self, spark):
        """Mergeability identity: estimating the union of per-day
        sketches lands within sketch error of both the exact count and
        a single-pass sketch over the same rows — the property that
        makes persisted daily sketches a substitute for fact rescans."""
        from pyspark.sql import functions as F

        from employee_analytics_etl_spark.sources.readers import (
            read_parquet_table,
        )

        ev = read_parquet_table(spark, SF_SMOKE, "events").select(
            F.to_date("ts").alias("day"), "user_id"
        )
        daily = ev.groupBy("day").agg(
            F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
        )
        merged_est = daily.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e")
        ).collect()[0]["e"]
        direct_est = ev.agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(12))
            ).alias("e")
        ).collect()[0]["e"]
        exact = ev.select("user_id").distinct().count()
        assert abs(merged_est - exact) <= 0.07 * exact
        assert abs(direct_est - exact) <= 0.07 * exact
