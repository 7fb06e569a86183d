"""Structured Streaming tests.

Every twin registered in ``streaming.jobs.TWINS`` is drained over the
sf0.001 testdata (file source, availableNow trigger, memory sink) and
compared with its batch query's DuckDB oracle through
``perfbench.oracle.compare``. The other tests check what a one-batch
oracle comparison cannot state — equality with the Spark batch plan of
the same query, exactly-once output across a crash and restart, state
carried across micro-batches and bounded by key cardinality, late and
out-of-order arrival — and the twins that perfbench and
tools/bench_streaming.py drive."""

import os

import pytest
from pyspark.sql import functions as F

from employee_analytics_etl_spark.plans import load_all
from employee_analytics_etl_spark.sources.readers import read_parquet_table
from employee_analytics_etl_spark.streaming.jobs import (
    TWINS,
    build_events_stream,
    run_to_memory,
    session_window_stream,
)
from perfbench.oracle import compare
from tests.conftest import SF_SMOKE
from tools.selfcheck import connect


@pytest.fixture(scope="module")
def batch_events(spark):
    return read_parquet_table(spark, SF_SMOKE, "events")


def write_events(path, rows, mtime, event_type="click"):
    """One events parquet file of (event_id, epoch-nanos ts, user_id[,
    value]) rows, stamped with ``mtime`` so the file source lists it in
    order. ``value`` defaults to 1.0."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.int64()),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([event_type] * len(rows)),
                "value": pa.array([r[3] if len(r) > 3 else 1.0 for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        ),
        path,
    )
    os.utime(path, (mtime, mtime))


@pytest.mark.parametrize("name", sorted(TWINS))
def test_registered_twin_equals_batch_oracle(spark, name):
    """A registered twin, drained to completion, returns exactly its
    batch query's DuckDB oracle rows: names, dtypes and values."""
    build, output_mode = TWINS[name]
    got = run_to_memory(
        build(spark, SF_SMOKE), f"twin_{name}", spark, output_mode=output_mode
    ).toPandas()
    con = connect(SF_SMOKE)
    try:
        want = con.execute(load_all()[1][name]).df()
    finally:
        con.close()
    assert len(want) > 0
    assert compare(got, want) == []


class TestStreaming:
    def test_tumbling_stream_equals_batch(self, spark, batch_events):
        """The tumbling twin equals the batch operator it mirrors, run
        by Spark over the same rows."""
        from employee_analytics_etl_spark.operators.windows import (
            tumbling_window_agg,
        )
        from employee_analytics_etl_spark.streaming.jobs import (
            tumbling_counts_stream,
        )

        stream = build_events_stream(spark, SF_SMOKE)
        got = run_to_memory(
            tumbling_counts_stream(stream), "t_tumbling", spark
        ).collect()
        want = tumbling_window_agg(batch_events, "ts", 3600, ["event_type"]).collect()

        def key(rows):
            return sorted(
                (r["window_start_sec"], r["event_type"], r["n_events"], r["total_value"])
                for r in rows
            )

        assert len(got) > 0
        assert key(got) == key(want)

    def test_foreach_batch_sink_idempotent(self, spark, batch_events, tmp_path_factory):
        """A foreachBatch sink that overwrites one directory per batch
        id, rerun on the SAME checkpoint: every batch is committed, so
        nothing replays and each event is written exactly once."""
        out = str(tmp_path_factory.mktemp("fb_out"))
        ckpt = str(tmp_path_factory.mktemp("fb_ckpt"))

        def write_batch(batch_df, batch_id):
            batch_df.write.mode("overwrite").parquet(f"{out}/batch_id={batch_id}")

        def run():
            q = (
                build_events_stream(spark, SF_SMOKE)
                .writeStream.foreachBatch(write_batch)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return spark.read.parquet(out).count()

        want = batch_events.count()
        assert run() == want
        assert run() == want

    def test_session_window_stream_runs(self, spark):
        stream = build_events_stream(spark, SF_SMOKE)
        got = run_to_memory(
            session_window_stream(stream), "t_sessions", spark
        ).collect()
        assert len(got) > 0
        assert all(r["n_events"] >= 1 for r in got)

    def test_stream_stream_join_equals_batch_pairs(self, spark, batch_events):
        from pyspark.sql import functions as F

        from employee_analytics_etl_spark.streaming.jobs import (
            clicks_before_purchase_stream,
        )

        stream = build_events_stream(spark, SF_SMOKE)
        got = (
            clicks_before_purchase_stream(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("t_ssjoin")
            .trigger(availableNow=True)
            .start()
        )
        got.awaitTermination()
        got_pairs = sorted(
            (r["purchase_id"], r["click_id"])
            for r in spark.table("t_ssjoin").collect()
        )

        clicks = batch_events.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        purchases = batch_events.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        want_pairs = sorted(
            (r["purchase_id"], r["click_id"])
            for r in purchases.join(
                clicks,
                F.expr(
                    """
                    c_user_id = p_user_id AND
                    click_ts >= purchase_ts - INTERVAL 3600 SECONDS AND
                    click_ts < purchase_ts
                    """
                ),
                "inner",
            ).collect()
        )
        assert len(got_pairs) > 0
        assert got_pairs == want_pairs


class TestCheckpointRecovery:
    """Kill a stateful twin's query mid-stream (a torn write and a
    failure in batch 1 of 3), restart it on the SAME checkpoint, and
    assert exactly-once output across the restart, with the debounce
    state of batch 0 restored for the replayed batch."""

    def test_kill_midstream_restart_exactly_once(self, spark, tmp_path_factory):
        from employee_analytics_etl_spark.streaming.stateful import (
            debounce_stream,
        )

        src = str(tmp_path_factory.mktemp("ckpt_src"))
        out = str(tmp_path_factory.mktemp("ckpt_out"))
        ckpt = str(tmp_path_factory.mktemp("ckpt_ckpt"))

        def ns(mm):
            return (1_704_103_200 + mm * 60) * 1_000_000_000  # 10:00 + mm

        # (event_id, ts, user_id); a user's kept events are >= 5 min apart
        write_events(f"{src}/f0.parquet", [(1, ns(0), 7), (2, ns(2), 7), (11, ns(0), 8)], 1_000)
        # 3 falls within 5 min of 1, kept in batch 0: only the state knows
        write_events(f"{src}/f1.parquet", [(3, ns(4), 7), (4, ns(8), 7), (12, ns(6), 8)], 2_000)
        write_events(f"{src}/f2.parquet", [(5, ns(10), 7), (6, ns(14), 7), (13, ns(20), 8)], 3_000)

        def run(fail_batch=None):
            def write_batch(batch_df, batch_id):
                path = f"{out}/batch_id={batch_id}"
                if batch_id == fail_batch:
                    batch_df.limit(1).write.mode("overwrite").parquet(path)
                    raise RuntimeError(f"injected failure: torn write of batch {batch_id}")
                batch_df.write.mode("overwrite").parquet(path)

            stream = build_events_stream(
                spark, src, glob="*.parquet", max_files_per_trigger=1
            )
            q = (
                debounce_stream(stream)
                .writeStream.foreachBatch(write_batch)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        def ids():
            return sorted(r["event_id"] for r in spark.read.parquet(out).collect())

        # run 1: batch 0 commits; batch 1 writes one of its two rows and fails
        with pytest.raises(Exception, match="injected failure|Streaming"):
            run(fail_batch=1)
        assert spark.read.parquet(f"{out}/batch_id=1").count() == 1  # torn
        assert len(ids()) == 3

        # run 2: batch 1 replays from batch 0's state and OVERWRITES its
        # torn directory; batch 2 runs; batch 0 is untouched
        run()
        assert ids() == [1, 4, 6, 11, 12, 13]
        assert spark.read.parquet(f"{out}/batch_id=1").count() == 2

        # run 3: every batch is committed, so nothing replays
        run()
        assert ids() == [1, 4, 6, 11, 12, 13]


class TestStreamingDedup:
    def test_dedup_within_watermark_equals_batch_distinct(
        self, spark, batch_events, tmp_path_factory
    ):
        from pyspark.sql import functions as F

        from employee_analytics_etl_spark.streaming.jobs import dedup_events_stream

        # build a source with every event duplicated (2nd copy 1 min late)
        src = str(tmp_path_factory.mktemp("dup_events"))
        base = batch_events.limit(200)
        dup = base.withColumn(
            "ts", F.col("ts") + F.expr("INTERVAL 1 MINUTE")
        )
        base.unionByName(dup).write.mode("overwrite").parquet(src)

        stream = (
            spark.readStream.format("parquet")
            .schema(batch_events.schema)
            .load(src)
            # events.ts is TIMESTAMP_NTZ; watermarks require TIMESTAMP
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        got = run_to_memory(
            dedup_events_stream(stream), "t_dedup", spark, output_mode="append"
        )
        ids = [r["event_id"] for r in got.select("event_id").collect()]
        assert len(ids) == 200  # one survivor per event_id
        assert len(set(ids)) == 200

    def test_dedup_default_watermark_is_the_contract_horizon(self):
        """r8 ADVICE: dedup's watermark bounds which duplicates are
        REMOVED (a dup arriving later than the horizon survives), so
        its default must NOT follow the loss-curve-measured
        DEFAULT_WATERMARK down — pin the wider explicit contract."""
        import inspect

        from employee_analytics_etl_spark.streaming import jobs

        sig = inspect.signature(jobs.dedup_events_stream)
        assert sig.parameters["watermark"].default == jobs.DEDUP_WATERMARK
        assert jobs.DEDUP_WATERMARK == "2 hours"
        assert jobs.DEFAULT_WATERMARK == "15 minutes"


class TestLateDataDrop:
    """availableNow multi-batch run where the watermark advances
    between micro-batches: rows arriving later than the watermark must
    be DROPPED from finalized windows (the state-bounding contract)."""

    def test_late_rows_beyond_watermark_are_dropped(
        self, spark, tmp_path_factory
    ):
        import datetime as dt

        from employee_analytics_etl_spark.streaming.jobs import (
            tumbling_counts_stream,
        )

        src = str(tmp_path_factory.mktemp("late_events"))

        def ns(hh, mm):
            t = dt.datetime(2024, 1, 1, hh, mm, tzinfo=dt.timezone.utc)
            return int(t.timestamp()) * 1_000_000_000

        def write(name, rows, mtime):
            write_events(os.path.join(src, name), [(e, t, 1) for e, t in rows], mtime)

        # The watermark advances one batch AFTER the advancing row's
        # batch commits (progress reports are post-batch), so the late
        # row must arrive two batches after the advancing row to be
        # filtered. The advancing row must also push the watermark
        # STRICTLY past the window end (drop predicate: end < wm).
        # batch 1: two on-time rows in the 10:00 window + a 13:30 row
        # that will advance the watermark to 11:30
        write("a.parquet", [(1, ns(10, 0)), (2, ns(10, 30)), (3, ns(13, 30))], 1_000)
        # batch 2: on-time filler — after this batch the 11:30
        # watermark is in effect
        write("b.parquet", [(5, ns(13, 45))], 2_000)
        # batch 3: a LATE row at 10:15 (window end 11:00 < wm 11:30 →
        # DROPPED) next to an on-time 13:50 row that proves this file
        # was processed
        write("c.parquet", [(4, ns(10, 15)), (7, ns(13, 50))], 3_000)
        # batch 4: 16:30 row pushes the watermark to 14:30 so the 13:00
        # window finalizes and is emitted in append mode
        write("d.parquet", [(6, ns(16, 30))], 4_000)

        stream = build_events_stream(
            spark, src, glob="*.parquet", max_files_per_trigger=1
        )
        got = run_to_memory(
            tumbling_counts_stream(stream, watermark="2 hours"),
            "t_late_drop",
            spark,
            output_mode="append",
        ).collect()
        by_window = {r["window_start_sec"]: r["n_events"] for r in got}

        h10 = ns(10, 0) // 1_000_000_000
        h13 = h10 + 3 * 3600
        h16 = h10 + 6 * 3600
        # 10:00 window: the late 10:15 row (event 4) was dropped
        assert by_window[h10] == 2
        # 13:00 window: 13:30 + 13:45 + 13:50 — the late row's file WAS
        # processed (13:50 counted), only the late ROW was dropped
        assert by_window[h13] == 3
        # 16:00 window not yet finalized (watermark 14:00) → absent
        assert h16 not in by_window


class TestDebounceStream:
    def test_state_carries_across_batches(self, spark, tmp_path_factory):
        """A double-fire straddling a micro-batch boundary is still
        suppressed, and the survivors equal the batch operator run over
        all rows at once."""
        from employee_analytics_etl_spark.operators.windows import (
            debounce_events_kept,
        )
        from employee_analytics_etl_spark.sources.schemas import events_schema
        from employee_analytics_etl_spark.streaming.stateful import (
            debounce_stream,
        )

        src = str(tmp_path_factory.mktemp("debounce_events"))

        def ns(mm):
            return (1_704_103_200 + mm * 60) * 1_000_000_000  # 10:00 + mm

        # batch 1: 10:00 kept; 10:02 dropped (within 5 min)
        write_events(f"{src}/a.parquet", [(1, ns(0), 7), (2, ns(2), 7)], 1_000)
        # batch 2: 10:04 must be dropped against batch 1's kept 10:00 —
        # only cross-batch state can know that; 10:08 kept (vs 10:00)
        write_events(f"{src}/b.parquet", [(3, ns(4), 7), (4, ns(8), 7)], 2_000)

        stream = build_events_stream(
            spark, src, glob="*.parquet", max_files_per_trigger=1
        )
        got = run_to_memory(
            debounce_stream(stream), "t_debounce", spark, output_mode="append"
        )
        kept = {r["event_id"] for r in got.collect()}
        assert kept == {1, 4}

        all_rows = spark.read.schema(events_schema("BIGINT")).parquet(src).withColumn(
            "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")
        )
        assert kept == {r["event_id"] for r in debounce_events_kept(all_rows).collect()}

    def test_state_rows_bounded_by_key_cardinality(
        self, spark, tmp_path_factory
    ):
        """Debounce state is ONE row per (user, type) key, so across ≥3
        micro-batches the stateOperators metrics must report
        numRowsTotal ≤ |keys|, and the state read back from the
        checkpoint (the state-store batch reader) must hold exactly one
        row per key with its last kept event time — state growth
        proportional to batches or events would be a state leak,
        invisible without this assertion."""
        from employee_analytics_etl_spark.streaming.stateful import (
            debounce_stream,
        )

        src = str(tmp_path_factory.mktemp("debounce_state_metrics"))
        ckpt = str(tmp_path_factory.mktemp("debounce_state_ckpt"))
        users = [1, 2, 3, 4]

        def ns(minute):
            return (1_704_103_200 + minute * 60) * 1_000_000_000

        for i, minute in enumerate((0, 10, 20)):
            write_events(
                os.path.join(src, f"f{i}.parquet"),
                [(minute * 100 + u, ns(minute), u) for u in users],
                1_000 * (i + 1),
            )

        stream = build_events_stream(
            spark, src, glob="*.parquet", max_files_per_trigger=1
        )
        q = (
            debounce_stream(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("t_debounce_state")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progresses = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert len(progresses) >= 3  # one per file under maxFilesPerTrigger=1
        state_rows = [
            op["numRowsTotal"]
            for p in progresses
            for op in p.get("stateOperators", [])
        ]
        assert state_rows, "stateOperators metrics missing from progress"
        # bounded by key cardinality in EVERY batch, exactly |keys| at end
        assert all(n <= len(users) for n in state_rows)
        assert state_rows[-1] == len(users)
        # all 10-minute-spaced events survive the 5-min debounce
        assert spark.table("t_debounce_state").count() == 3 * len(users)
        state = {
            (r["key"]["user_id"], r["key"]["event_type"]): r["value"]["groupState"]["last_kept_us"]
            for r in spark.read.format("statestore").load(ckpt).collect()
        }
        assert state == {(u, "click"): ns(20) // 1000 for u in users}


class TestStateStoreReader:
    """The state-store batch reader (``format("statestore")``) reads a
    streaming aggregation's state back from its checkpoint; it must
    equal the same aggregation run as a batch query."""

    def test_state_equals_batch_aggregate(self, spark, tmp_path_factory):
        src = str(tmp_path_factory.mktemp("ssr_src"))
        ckpt = str(tmp_path_factory.mktemp("ssr_ckpt"))
        spark.range(1000).select(
            (F.col("id") % 13).alias("k"), F.col("id").alias("v")
        ).write.mode("overwrite").parquet(src)

        stream = spark.readStream.schema("k long, v long").parquet(src)
        agg = stream.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
        )
        q = (
            agg.writeStream.outputMode("complete")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        state = (
            spark.read.format("statestore")
            .load(ckpt)
            .select(
                # the state value struct carries the INTERNAL aggregation
                # buffer names (count, sum), not the output aliases
                F.col("key.k").alias("k"),
                F.col("value.count").alias("n"),
                F.col("value.sum").alias("sv"),
            )
        )
        got = {r["k"]: (r["n"], r["sv"]) for r in state.collect()}
        want = {
            r["k"]: (r["n"], r["sv"])
            for r in spark.read.parquet(src)
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
            .collect()
        }
        assert got == want
        # the state-metadata companion names the operator
        meta = spark.read.format("state-metadata").load(ckpt)
        assert "stateStoreSave" in {r["operatorName"] for r in meta.collect()}


class TestPitStatusStream:
    def test_stream_pit_lookup_equals_batch_twin(self, spark):
        """Resolving the probe stream against the static status history
        equals the Spark batch orders_pit_status_lookup row for row."""
        build, output_mode = TWINS["orders_pit_status_lookup"]
        got = run_to_memory(
            build(spark, SF_SMOKE), "t_pit_status", spark, output_mode=output_mode
        ).collect()
        twin = load_all()[0]["orders_pit_status_lookup"](spark, SF_SMOKE).collect()
        assert len(got) > 0
        assert sorted(tuple(r) for r in got) == sorted(tuple(r) for r in twin)

    def test_pit_argmax_picks_row_effective_at_probe_date(self, spark):
        """Hand-built history: status O effective 2024-01-01, F effective
        2024-02-09 for custkey 5. A probe dated 01-20 resolves O, 02-09
        resolves F (inclusive), 02-10 resolves F. Runs pit_status_stream
        on batch DataFrames, isolating the max_by argmax from the
        stream harness."""
        import datetime as dt

        from employee_analytics_etl_spark.streaming.jobs import (
            pit_status_stream,
        )

        changes = spark.createDataFrame(
            [
                (5, "O", dt.date(2024, 1, 1), 100),
                (5, "F", dt.date(2024, 2, 9), 200),
            ],
            "c_custkey long, status string, odate date, ckey long",
        )
        probes = spark.createDataFrame(
            [
                (1, 5, dt.date(2024, 1, 20), "O"),
                (2, 5, dt.date(2024, 2, 9), "O"),
                (3, 5, dt.date(2024, 2, 10), "F"),
            ],
            "o_orderkey long, o_custkey long, pdate date, own_status string",
        )
        got = {
            r["o_orderkey"]: (r["pit_status"], r["matches_own"])
            for r in pit_status_stream(probes, changes).collect()
        }
        assert got == {1: ("O", True), 2: ("F", False), 3: ("F", True)}


class TestEwmaStream:
    def test_stream_ewma_bit_identical_to_batch_fold(self, spark):
        """ewma_stream over sf0.001 events is BIT-identical to the Spark
        batch events_value_ewma fold for every user."""
        build, output_mode = TWINS["events_value_ewma"]
        got = run_to_memory(
            build(spark, SF_SMOKE), "t_ewma_state", spark, output_mode=output_mode
        )
        # update mode: keep the row with the max n_events per user
        final = {
            r["user_id"]: (r["n"], r["ewma"])
            for r in got.groupBy("user_id")
            .agg(F.max(F.struct("n_events", "ewma")).alias("s"))
            .select("user_id", F.col("s.n_events").alias("n"), F.col("s.ewma").alias("ewma"))
            .collect()
        }
        want = {
            r["user_id"]: (r["n_events"], r["ewma"])
            for r in load_all()[0]["events_value_ewma"](spark, SF_SMOKE).collect()
        }
        assert len(final) > 0
        assert final == want  # exact float equality, not approx

    def test_cross_batch_fold_composes(self, spark, tmp_path):
        """The fold split across 3 micro-batches equals the fold over
        the concatenated sequence (hand-computed)."""
        from employee_analytics_etl_spark.streaming.stateful import (
            ewma_stream,
        )

        vals = [10.0, 2.0, 7.0, 1.0, 9.0, 4.0]
        src = str(tmp_path)
        for i in range(3):
            write_events(
                os.path.join(src, f"f{i}.parquet"),
                [(j, j * 1_000_000_000, 7, vals[j]) for j in (2 * i, 2 * i + 1)],
                1_000 + 10 * i,
                event_type="view",
            )

        stream = build_events_stream(
            spark, src, glob="*.parquet", max_files_per_trigger=1
        )
        got = run_to_memory(
            ewma_stream(stream), "t_ewma_replay", spark, output_mode="update"
        )
        rows = sorted(
            got.filter(F.col("user_id") == 7).collect(),
            key=lambda r: r["n_events"],
        )
        acc = vals[0]
        for v in vals[1:]:
            acc = v * 0.2 + acc * 0.8
        assert rows[-1]["n_events"] == 6
        assert rows[-1]["ewma"] == acc  # exact
        # one emission per batch for the key
        assert [r["n_events"] for r in rows] == [2, 4, 6]


class TestOhlcStream:
    def test_stream_candlesticks_equal_batch_twin(self, spark):
        """Windowed OHLC from the stream equals the Spark batch
        events_value_ohlc cell for cell, floats exact: min_by/max_by
        are mergeable, so this holds under any batch split."""
        cols = ["user_id", "hour_sec", "open_value", "close_value",
                "low_value", "high_value", "n_events"]
        build, output_mode = TWINS["events_value_ohlc"]
        got = run_to_memory(
            build(spark, SF_SMOKE), "t_ohlc", spark, output_mode=output_mode
        ).select(cols).collect()
        want = load_all()[0]["events_value_ohlc"](spark, SF_SMOKE).select(cols).collect()
        assert len(got) > 0
        assert sorted(tuple(r) for r in got) == sorted(tuple(r) for r in want)

    def test_out_of_order_arrival_still_exact(self, spark, tmp_path):
        """Events split across files in REVERSE time order (late
        arrivals): the mergeable candlestick must still match the
        batch answer — the property the EWMA and debounce state
        machines cannot have."""
        from employee_analytics_etl_spark.streaming.jobs import ohlc_stream

        # one user, one hour; values arrive newest-first across files
        rows_by_file = [
            (3, 30, 5.0),   # latest event first
            (2, 20, 9.0),
            (1, 10, 2.0),   # true OPEN arrives last
        ]
        src = str(tmp_path)
        for i, (eid, minute, v) in enumerate(rows_by_file):
            write_events(
                os.path.join(src, f"f{i}.parquet"),
                [(eid, minute * 60_000_000_000, 1, v)],
                1_000 + 10 * i,
                event_type="view",
            )

        stream = build_events_stream(
            spark, src, glob="*.parquet", max_files_per_trigger=1
        )
        rows = run_to_memory(ohlc_stream(stream), "t_ohlc_ooo", spark).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (
            r["open_value"],
            r["close_value"],
            r["low_value"],
            r["high_value"],
            r["n_events"],
        ) == (2.0, 5.0, 2.0, 9.0, 3)


class TestWatermarkDropSemantics:
    def test_loss_curve_rule_matches_engine_drops(self, spark, tmp_path):
        """Closes the planner loop on the ENGINE itself: replay events
        with hand-computed lateness under watermark 60 s and assert
        Structured Streaming's numRowsDroppedByWatermark matches the
        loss-curve rule. Two-watermark subtlety (SPARK-40925): Spark
        filters late INPUT against the watermark as of the PREVIOUS
        batch (state eviction uses the current one), so a late row is
        only dropped once a subsequent batch has advanced the previous
        watermark past it — the engine drops AT MOST what the
        row-level loss-curve rule predicts, with equality once arrival
        lags span a batch, as here: the 10:30 row (lateness 150 min >
        60 s, predicted dropped) arrives two batches after the 13:00
        high-water row, so even the lagged filter watermark (12:59)
        exceeds it."""
        from employee_analytics_etl_spark.streaming.jobs import (
            tumbling_counts_stream,
        )

        H = 3_600_000_000_000  # one hour in nanos
        # arrival order = file order, one row per micro-batch:
        #  f0: 10:00  f1: 12:00  f2: 13:00  f3: 10:30 (the late row)
        rows_by_file = [(1, 10 * H), (2, 12 * H), (3, 13 * H),
                        (4, 10 * H + H // 2)]
        src = str(tmp_path)
        for i, (eid, ts) in enumerate(rows_by_file):
            write_events(
                os.path.join(src, f"f{i}.parquet"), [(eid, ts, 1)],
                1_000 + 10 * i, event_type="view",
            )

        stream = build_events_stream(
            spark, src, glob="*.parquet", max_files_per_trigger=1
        )
        q = (
            tumbling_counts_stream(stream, watermark="1 minute")
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("t_wm_drops")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        )
        assert dropped == 1  # exactly the loss-curve prediction for D=60s
        counts = {
            r["window_start_sec"]: r["n_events"]
            for r in spark.table("t_wm_drops")
            .groupBy("window_start_sec")
            .agg(F.max("n_events").alias("n_events"))
            .collect()
        }
        # the late row never reaches the 10:00 window's aggregate
        assert counts == {10 * 3600: 1, 12 * 3600: 1, 13 * 3600: 1}


class TestChooseWatermarkDelay:
    """choose_watermark_delay: the decision rule on
    events_watermark_loss_curve's output (verdict r7 #5) — the planner
    loop closure matching choose_blocking / choose_lsh_bands /
    choose_ann_index. The streaming jobs' DEFAULT_WATERMARK is this
    rule's measured answer, pinned below against the live curve."""

    @staticmethod
    def _fixture_curve(spark):
        return spark.createDataFrame(
            [(0, 2748, 0.2748), (60, 2141, 0.2141), (300, 402, 0.0402),
             (900, 0, 0.0), (3600, 0, 0.0)],
            "watermark_delay_s long, n_dropped long, dropped_share double",
        )

    def test_loss_floor_flips_the_chosen_delay(self, spark):
        from employee_analytics_etl_spark.streaming.jobs import (
            choose_watermark_delay,
        )

        curve = self._fixture_curve(spark)
        # zero tolerance -> smallest zero-loss delay
        assert choose_watermark_delay(curve, 0.0) == 900
        # 5% tolerance admits the fresher 300 s point
        assert choose_watermark_delay(curve, 0.05) == 300
        # 25% tolerance admits 60 s (but not 0 s at 27%)
        assert choose_watermark_delay(curve, 0.25) == 60

    def test_raises_naming_least_lossy_when_floor_unmeetable(self, spark):
        from employee_analytics_etl_spark.streaming.jobs import (
            choose_watermark_delay,
        )

        lossy = self._fixture_curve(spark).filter(
            F.col("watermark_delay_s") <= 60
        )
        with pytest.raises(ValueError, match=r"delay=60s.*0\.2141"):
            choose_watermark_delay(lossy, 0.0)
        with pytest.raises(ValueError, match="empty"):
            choose_watermark_delay(lossy.limit(0), 0.0)

    def test_default_watermark_is_the_measured_choice(self, spark):
        """DEFAULT_WATERMARK must equal choose_watermark_delay(curve, 0)
        on the LIVE loss curve — if the curve (or testdata) changes,
        this breaks instead of the default silently going stale."""
        from employee_analytics_etl_spark.plans import (  # noqa: F401
            registry,
            registry_r8,
        )
        from employee_analytics_etl_spark.streaming import jobs

        curve = registry.QUERIES["events_watermark_loss_curve"](
            spark, SF_SMOKE
        )
        sec = jobs.choose_watermark_delay(curve, max_dropped_share=0.0)
        assert sec % 60 == 0
        assert jobs.DEFAULT_WATERMARK == f"{sec // 60} minutes"

    def test_event_time_jobs_read_the_chosen_default(self):
        """The aggregation jobs' default delay IS the rule's answer —
        not a per-job folklore constant. Jobs whose delay is part of
        their join/window contract keep explicit defaults and are
        excluded."""
        import inspect

        from employee_analytics_etl_spark.streaming import jobs

        wired = [
            jobs.tumbling_counts_stream,
            jobs.session_window_stream,
            jobs.ohlc_stream,
        ]
        for fn in wired:
            got = inspect.signature(fn).parameters["watermark"].default
            assert got == jobs.DEFAULT_WATERMARK, fn.__name__
        # dedup_events_stream is deliberately NOT wired to the
        # loss-curve default: its watermark bounds WHICH duplicates
        # are removed (part of the dedup contract), so it keeps the
        # wider explicit DEDUP_WATERMARK (r8 ADVICE #2; pinned at
        # test_dedup_stream_keeps_contract_watermark).
        got = inspect.signature(jobs.dedup_events_stream).parameters[
            "watermark"
        ].default
        assert got == jobs.DEDUP_WATERMARK
