"""Scale-pattern tests: bucketed shuffle-free joins, skew salting
exactness, stateful streaming, partitioned writes."""

import os

import pytest
from pyspark.sql import functions as F

from employee_analytics_etl_spark.operators import partitioning as P
from employee_analytics_etl_spark.sources.readers import read_parquet_table
from employee_analytics_etl_spark.sources.sinks import write_parquet
from tests.conftest import SF_SMOKE


def _has_exchange(df) -> bool:
    """True if the physical plan contains a hash-shuffle Exchange."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Exchange hashpartitioning" in plan


class TestBucketing:
    @pytest.fixture(scope="class")
    def bucketed(self, spark):
        # warehouse dir is a static conf set by build_session (tempdir)
        orders = read_parquet_table(spark, SF_SMOKE, "orders")
        li = read_parquet_table(spark, SF_SMOKE, "lineitem")
        P.write_bucketed(orders, "b_orders", "o_orderkey", 8, sort_col="o_orderkey")
        P.write_bucketed(
            li.withColumnRenamed("l_orderkey", "o_orderkey"),
            "b_lineitem", "o_orderkey", 8, sort_col="o_orderkey",
        )
        return spark

    def test_bucketed_join_has_no_shuffle(self, bucketed):
        spark = bucketed
        joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        assert not _has_exchange(joined)
        # and it computes the right row count (every lineitem matches)
        li_n = spark.table("b_lineitem").count()
        assert joined.count() == li_n

    def test_unbucketed_join_does_shuffle(self, spark):
        orders = read_parquet_table(spark, SF_SMOKE, "orders")
        li = read_parquet_table(spark, SF_SMOKE, "lineitem").withColumnRenamed(
            "l_orderkey", "o_orderkey"
        )
        # disable auto-broadcast so the contrast is shuffle vs bucketing,
        # not shuffle vs broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = orders.join(li, "o_orderkey")
            assert _has_exchange(joined)
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
            )


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


class TestStatefulStreaming:
    def test_user_profile_stream_matches_batch(self, spark):
        from employee_analytics_etl_spark.streaming.jobs import build_events_stream
        from employee_analytics_etl_spark.streaming.stateful import user_profile_stream

        stream = build_events_stream(spark, SF_SMOKE)
        q = (
            user_profile_stream(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("t_profiles")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            r["user_id"]: r for r in spark.table("t_profiles").collect()
        }
        ev = read_parquet_table(spark, SF_SMOKE, "events")
        want = {
            r["user_id"]: r
            for r in ev.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value").alias("total_value"),
                F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("last_us"),
            )
            .collect()
        }
        assert set(got) == set(want)
        for uid, w in want.items():
            g = got[uid]
            assert g["n_events"] == w["n_events"]
            assert abs(g["total_value"] - w["total_value"]) < 1e-6
            assert g["last_ts_micros"] == w["last_us"]


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


class TestCompaction:
    def test_compact_small_files(self, spark, tmp_path):
        events = read_parquet_table(spark, SF_SMOKE, "events")
        src = str(tmp_path / "fragmented")
        dst = str(tmp_path / "compacted")
        # simulate micro-batch ingestion debris: 30 tiny files
        events.repartition(30).write.parquet(src)
        n_src = len([f for f in os.listdir(src) if f.endswith(".parquet")])
        assert n_src == 30
        P.compact_parquet(spark, src, dst, target_file_mb=256)
        n_dst = len([f for f in os.listdir(dst) if f.endswith(".parquet")])
        assert n_dst < n_src
        # content preserved exactly
        a = sorted(r["event_id"] for r in spark.read.parquet(dst).collect())
        b = sorted(r["event_id"] for r in events.collect())
        assert a == b

    def test_compact_sort_within_improves_stats(self, spark, tmp_path):
        events = read_parquet_table(spark, SF_SMOKE, "events")
        src = str(tmp_path / "frag2")
        dst = str(tmp_path / "sorted")
        events.repartition(8).write.parquet(src)
        P.compact_parquet(spark, src, dst, target_file_mb=1, sort_within="user_id")
        import pyarrow.parquet as pq

        files = [f for f in os.listdir(dst) if f.endswith(".parquet")]
        assert files
        for f in files:
            col = pq.read_table(os.path.join(dst, f), columns=["user_id"])
            vals = col.column("user_id").to_pylist()
            # sortWithinPartitions → each output file is fully sorted,
            # so min/max row-group stats are selective (row-group skip)
            assert vals == sorted(vals)


class TestUpsert:
    def test_unpartitioned_upsert_replaces_and_inserts(self, spark, tmp_path):
        path = str(tmp_path / "tbl")
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id LONG, v STRING"
        ).write.parquet(path)
        updates = spark.createDataFrame(
            [(2, "B2"), (9, "new")], "id LONG, v STRING"
        )
        P.upsert_parquet(spark, path, updates, "id")
        got = sorted(map(tuple, spark.read.parquet(path).collect()))
        assert got == [(1, "a"), (2, "B2"), (3, "c"), (9, "new")]

    def test_partition_scoped_upsert_leaves_other_partitions_untouched(
        self, spark, tmp_path
    ):
        import glob
        import os

        path = str(tmp_path / "ptbl")
        spark.createDataFrame(
            [(1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2"), (4, "d", "d3")],
            "id LONG, v STRING, day STRING",
        ).write.partitionBy("day").parquet(path)
        before = {
            f: os.path.getmtime(f)
            for f in glob.glob(f"{path}/day=*/*.parquet")
        }
        updates = spark.createDataFrame(
            [(2, "B2", "d1"), (9, "new", "d9")], "id LONG, v STRING, day STRING"
        )
        P.upsert_parquet(spark, path, updates, "id", partition_col="day")
        got = sorted(map(tuple, spark.read.parquet(path).collect()))
        assert got == [
            (1, "a", "d1"), (2, "B2", "d1"), (3, "c", "d2"),
            (4, "d", "d3"), (9, "new", "d9"),
        ]
        # untouched partitions (d2, d3) keep their exact files
        after_untouched = [
            f for f in glob.glob(f"{path}/day=*/*.parquet")
            if "day=d2" in f or "day=d3" in f
        ]
        assert after_untouched
        for f in after_untouched:
            assert f in before and os.path.getmtime(f) == before[f]


class TestZOrder:
    def test_zorder_tiles_prune_on_both_columns(self, spark, tmp_path_factory):
        import glob

        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from employee_analytics_etl_spark.operators.partitioning import (
            write_zordered,
        )
        from employee_analytics_etl_spark.sources.readers import read_parquet_table
        from tests.conftest import SF_SMOKE

        o = read_parquet_table(spark, SF_SMOKE, "orders").withColumn(
            "o_day",
            F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000"),
        )
        naive = str(tmp_path_factory.mktemp("naive"))
        zord = str(tmp_path_factory.mktemp("zord"))
        # naive layout: range-partitioned by orderkey (the typical
        # ingest order) — custkey/day spread across every file
        o.repartitionByRange(8, "o_orderkey").write.mode("overwrite").parquet(naive)
        write_zordered(o, zord, "o_custkey", "o_day", num_files=8)

        def files_overlapping(path, col, lo, hi):
            total, hit = 0, 0
            for f in glob.glob(f"{path}/*.parquet"):
                md = pq.ParquetFile(f).metadata
                mn = min(
                    md.row_group(i).column(
                        next(
                            j
                            for j in range(md.num_columns)
                            if md.row_group(i).column(j).path_in_schema == col
                        )
                    ).statistics.min
                    for i in range(md.num_row_groups)
                )
                mx = max(
                    md.row_group(i).column(
                        next(
                            j
                            for j in range(md.num_columns)
                            if md.row_group(i).column(j).path_in_schema == col
                        )
                    ).statistics.max
                    for i in range(md.num_row_groups)
                )
                total += 1
                if not (mx < lo or mn > hi):
                    hit += 1
            return hit, total

        # a thin band predicate — at the 25th percentile, NOT the
        # median: the median sits exactly on the curve's top-bit
        # boundary, which every tile borders
        ck = [r[0] for r in o.agg(F.expr("percentile(o_custkey, 0.25)")).collect()]
        band = (int(ck[0]) - 5, int(ck[0]) + 5)
        naive_hit, naive_total = files_overlapping(naive, "o_custkey", *band)
        z_hit, z_total = files_overlapping(zord, "o_custkey", *band)
        assert naive_total == z_total == 8
        # ingest-ordered files ALL overlap the custkey band; Z-order
        # confines it to a strict subset of tiles
        assert naive_hit == naive_total
        assert z_hit < z_total

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


class TestStatefulMultiBatch:
    def test_profile_state_survives_across_batches(
        self, spark, tmp_path_factory
    ):
        """Regression: GroupState.get is a pyspark PROPERTY; calling it
        as a method only crashes once state EXISTS — i.e. from a key's
        SECOND micro-batch onward. One-batch smoke tests can't see it,
        so this drives two files through maxFilesPerTrigger=1."""
        import datetime as dt
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        from employee_analytics_etl_spark.streaming.jobs import (
            build_events_stream,
        )
        from employee_analytics_etl_spark.streaming.stateful import (
            user_profile_stream,
        )

        src = str(tmp_path_factory.mktemp("profile_events"))

        def ns(mm):
            t = dt.datetime(2024, 1, 1, 10, mm, tzinfo=dt.timezone.utc)
            return int(t.timestamp()) * 1_000_000_000

        def write(name, rows, mtime):
            tbl = pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] for r in rows], pa.int64()),
                    "user_id": pa.array([7] * len(rows), pa.int64()),
                    "event_type": pa.array(["click"] * len(rows)),
                    "value": pa.array([1.0] * len(rows), pa.float64()),
                    "props": pa.array(["{}"] * len(rows)),
                }
            )
            path = os.path.join(src, name)
            pq.write_table(tbl, path)
            os.utime(path, (mtime, mtime))

        write("a.parquet", [(1, ns(0)), (2, ns(2))], 1_000)
        write("b.parquet", [(3, ns(4)), (4, ns(8))], 2_000)

        stream = build_events_stream(
            spark, src, glob="*.parquet", max_files_per_trigger=1
        )
        q = (
            user_profile_stream(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("t_profiles_mb")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.table("t_profiles_mb").collect()
        final = max(rows, key=lambda r: r["n_events"])
        assert final["n_events"] == 4
        assert abs(final["total_value"] - 4.0) < 1e-9
        assert final["last_ts_micros"] == ns(8) // 1000


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
