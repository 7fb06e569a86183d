"""Event-time window operators over the events table (extension tier,
batch semantics — the streaming twins live in ``streaming.jobs``).

Time arithmetic runs on integer epoch-microseconds (``unix_micros``)
— exact, timezone-free, and identical to the DuckDB oracle's
``epoch_us``. Window identity is the window-start epoch-second
(BIGINT), not a timestamp struct, so results compare across engines
without timestamp-representation drift.

Scale: tumbling/sliding windows are pure map + groupBy (map-side
combine); sessionization is one shuffle on user_id + window functions;
the as-of and range joins below avoid nested-loop joins by
bucketization — the standard Spark trick for interval predicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

US_PER_SEC = 1_000_000


def _micros(ts_col: str) -> F.Column:
    return F.unix_micros(F.col(ts_col).cast("timestamp"))


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    width_sec: int = 3600,
    keys: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Tumbling event-time windows: (window_start_sec, *keys) → count +
    exact sum. Equivalent to Structured Streaming's
    ``window(ts, width)`` in complete mode."""
    # integer DIV keeps the bucket math exact (bit-identical to the
    # oracle's `epoch_us(ts) // width`) — float floor-division would be
    # one-ulp fragile near bucket boundaries.
    width_us = width_sec * US_PER_SEC
    win = (
        F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) DIV {width_us}") * width_sec
    ).alias("window_start_sec")
    gcols = [win] + [F.col(k) for k in (keys or [])]
    return (
        df.groupBy(*gcols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )


def sliding_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    width_sec: int = 3600,
    slide_sec: int = 1800,
    keys: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Sliding windows via offset explosion: each event belongs to
    ``width/slide`` windows; generate those window starts with a
    sequence + explode (no self-join). Mirrors Structured Streaming's
    ``window(ts, width, slide)``."""
    assert width_sec % slide_sec == 0, "width must be a multiple of slide"
    n = width_sec // slide_sec
    slide_us = slide_sec * US_PER_SEC
    base = F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) DIV {slide_us}")  # slide bucket
    df2 = df.withColumn("_slide_bucket", base).withColumn(
        "window_start_sec",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n - 1}), i -> (_slide_bucket - i) * {slide_sec})"
            )
        ),
    ).filter(F.col("window_start_sec") >= 0)
    gcols = [F.col("window_start_sec")] + [F.col(k) for k in (keys or [])]
    return df2.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col(value_col).cast("decimal(18,2)")).cast("double").alias("total_value"),
    )


def sessionize(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
    gap_sec: int = 1800,
    value_col: str = "value",
) -> DataFrame:
    """Gaps-and-islands sessionization: a new session starts when the
    gap to the previous event of the same user exceeds ``gap_sec``.
    Output: one row per session with start/end epoch-seconds, event
    count and exact value sum. (Streaming twin: ``session_window`` —
    see streaming.jobs.)"""
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(id_col))
    df_us = df.withColumn("_us", _micros(ts_col))
    us = F.col("_us")
    with_gap = df_us.withColumn(
        "_new_session",
        F.when(F.lag(us).over(w).isNull(), 1)
        .when((us - F.lag(us).over(w)) > gap_sec * US_PER_SEC, 1)
        .otherwise(0),
    ).withColumn(
        "_session_idx",
        F.sum("_new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        with_gap.groupBy(F.col(user_col), F.col("_session_idx").alias("session_idx"))
        .agg(
            F.expr("min(_us) DIV 1000000").alias("session_start_sec"),
            F.expr("max(_us) DIV 1000000").alias("session_end_sec"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
) -> DataFrame:
    """As-of (backward) join: for each left row, the single right row
    with the greatest ``right_ts`` ≤ ``left_ts`` within the same key.

    Spark has no native as-of join; this is the union-tag algorithm:
    tag both sides, sort within key by (ts, side), and carry the last
    seen right value forward with ``last(..., ignorenulls)`` — one
    shuffle on the key, no nested-loop join, skew-safe under AQE.
    ``right`` must be unique per (key, right_ts) — pre-dedup if not.
    The DuckDB oracle is a native ``ASOF LEFT JOIN``.
    """
    lcols = left.columns
    tagged_r = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"_r_{c}") for c in right_cols],
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_l_{c}") for c in lcols],
    )
    tagged_l = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_t"),
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in right_cols],
        *[F.col(c).alias(f"_l_{c}") for c in lcols],
    )
    unioned = tagged_r.unionByName(tagged_l)
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_t"), F.col("_side"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.select(
        "*",
        *[
            F.last(F.col(f"_r_{c}"), ignorenulls=True).over(w).alias(f"_asof_{c}")
            for c in right_cols
        ],
    )
    return carried.filter(F.col("_side") == 1).select(
        *[F.col(f"_l_{c}").alias(c) for c in lcols],
        *[F.col(f"_asof_{c}").alias(f"asof_{c}") for c in right_cols],
    )


def range_join_count(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lookback_sec: int,
) -> DataFrame:
    """Count right rows with ``left_ts - lookback ≤ right_ts ≤ left_ts``
    per left row — a range join made hash-joinable by bucketization:
    equi-join on coarse time buckets (bucket width = lookback), then
    filter the exact range. Each right row lands in exactly one bucket;
    each left row probes two buckets — no duplicate pairs, no
    BroadcastNestedLoopJoin. Returns ``left`` + ``n_in_range``.

    Left rows are restored after the bucket-explode by grouping on a
    per-row id + all left columns, so fully identical duplicate left
    rows keep their cardinality instead of collapsing into one merged
    row. ``monotonically_increasing_id`` is stable within the job that
    evaluates it — the grouping consumes it in the same plan, and the
    id never escapes the operator."""
    bus = lus = lookback_sec * US_PER_SEC
    l2 = left.select(
        "*",
        F.monotonically_increasing_id().alias("_rowid"),
        _micros(left_ts).alias("_lt"),
    ).withColumn(
        "_probe_bucket",
        F.explode(
            F.expr(
                f"transform(sequence(0, 1), i -> (_lt DIV {bus}) - i)"
            )
        ),
    )
    r2 = right.select(
        F.col(key).alias("_rk"),
        _micros(right_ts).alias("_rt"),
    ).withColumn("_rbucket", F.expr(f"_rt DIV {bus}"))
    joined = l2.join(
        r2,
        (F.col(key) == F.col("_rk"))
        & (F.col("_probe_bucket") == F.col("_rbucket"))
        & (F.col("_rt") >= F.col("_lt") - lus)
        & (F.col("_rt") <= F.col("_lt")),
        "left",
    )
    group_cols = ["_rowid", *left.columns]
    return (
        joined.groupBy(*group_cols)
        .agg(F.count(F.col("_rk")).cast("long").alias("n_in_range"))
        .drop("_rowid")
    )


def debounce_events(
    events: DataFrame,
    min_gap_sec: int = 300,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Debounce: keep an event only when the previous RAW event of the
    same (user, type) is at least ``min_gap_sec`` older (or absent) —
    the standard instrumentation-noise filter for double-fires and
    retry storms before sessionization/funnels.

    Semantics note: the gap is measured against the previous raw event,
    not the previous *kept* event — the latter is an inherently
    sequential scan (each decision depends on the prior one) and needs
    a stateful kernel; the raw-lag form is one window function, fully
    parallel per (user, type) partition, and is what analytics stacks
    ship as "deduplicate within N minutes".

    One shuffle on (user, type); the lag comparison runs in epoch
    MICROsecond integers so engines agree exactly on sub-second gaps.
    Ties (identical ts) are ordered by event id — a total order, so the
    survivor set is deterministic.
    """
    us = F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP))")
    w = Window.partitionBy(user_col, type_col).orderBy(us, F.col(id_col))
    with_prev = events.withColumn("_prev_us", F.lag(us).over(w)).withColumn(
        "_us", us
    )
    return (
        with_prev.filter(
            F.col("_prev_us").isNull()
            | (F.col("_us") - F.col("_prev_us") >= min_gap_sec * 1_000_000)
        )
        .select(id_col, user_col, type_col, F.col("_us").alias("ts_us"))
    )


def debounce_events_kept(
    events: DataFrame,
    min_gap_sec: int = 300,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Sequential debounce: keep an event only when it is at least
    ``min_gap_sec`` after the last KEPT event of the same (user, type).

    Unlike ``debounce_events`` (raw-lag, one window function), the
    kept-lag decision for row i depends on the decision for row i-1 —
    a per-key state machine no composition of SQL window functions can
    express (the oracle needs a recursive CTE).

    Implementation: repartition by (user, type) + sortWithinPartitions
    + ONE ``mapInPandas`` pass per partition with a key-change reset —
    NOT ``applyInPandas`` per group. Debounce groups are tiny (one
    user's events of one type), and per-group Arrow slices made the
    kernel overhead-bound: ~7500 group frames took ~17 s at sf0.1
    where the whole-partition scan takes ~2 s moving identical rows.
    Arrow batches may split a group, so the scan carries (key,
    last_kept) across batch boundaries; within a partition rows arrive
    fully sorted, so the sequential scan is exactly the per-group scan.

    The order is (user, type, epoch-micros, event id): total, so the
    survivor set is deterministic and the streaming twin
    (streaming.stateful.debounce_stream, registered against
    events_debounce_kept in streaming.jobs.TWINS) reproduces it.

    Giant-key ceiling (tests/test_skew.py): a single (user, type) group
    hashes to ONE partition, so the whale key's events are scanned
    sequentially by one task — the cost floor of any kept-lag
    semantics, since decision i depends on decision i-1 within the key.
    Degradation is LINEAR in the hot key's row count (measured: a key
    owning 10% of 120k rows stays within ~1.5× of the uniform layout),
    never quadratic; other keys' partitions proceed in parallel. At
    100 TB, if one key's events exceed a single executor's scan budget,
    pre-slice the key by coarse time windows and debounce each slice
    with a carried boundary (the streaming twin's checkpoint state is
    exactly that carried boundary, arriving incrementally).
    """
    gap_us = min_gap_sec * 1_000_000

    def op(pdfs):
        import numpy as np

        cur_key = None
        last_kept = 0
        for pdf in pdfs:
            n = len(pdf)
            if not n:
                continue
            users = pdf[user_col].to_numpy()
            types = pdf[type_col].to_numpy()
            uss = pdf["_us"].to_numpy()
            keep = np.zeros(n, dtype=bool)
            for i in range(n):
                k = (users[i], types[i])
                if k != cur_key:
                    cur_key = k
                    last_kept = None
                if last_kept is None or uss[i] - last_kept >= gap_us:
                    last_kept = uss[i]
                    keep[i] = True
            out = pdf.loc[keep, [id_col, user_col, type_col, "_us"]]
            yield out.rename(
                columns={
                    id_col: "event_id",
                    user_col: "user_id",
                    type_col: "event_type",
                    "_us": "ts_us",
                }
            )

    us = F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP))")
    return (
        events.select(
            F.col(id_col), F.col(user_col), F.col(type_col), us.alias("_us")
        )
        .repartition(F.col(user_col), F.col(type_col))
        .sortWithinPartitions(user_col, type_col, "_us", id_col)
        .mapInPandas(
            op,
            schema=(
                "event_id long, user_id long, event_type string, ts_us long"
            ),
        )
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bucket_width: int,
    max_span_buckets: int = 64,
) -> DataFrame:
    """Inner join of two INTERVAL tables on closed-interval overlap
    (``ls <= re AND rs <= le``) — the two-sided generalization of
    ``range_join_count``'s point-in-range probe, and the classic
    temporal-validity / in-flight-concurrency join (reference's range
    scan semantics; see also Sedona/DBMS interval-binning literature).

    Scale shape: a naive overlap predicate plans a
    BroadcastNestedLoopJoin (O(n·m) comparisons). Instead both sides
    explode to the fixed-width buckets their interval covers and
    EQUI-join on the bucket id, so Spark shuffles/hashes on the bucket
    key. A pair overlapping across several shared buckets is counted
    ONCE without a distinct: the join keeps only the FIRST shared
    bucket, which for overlapping intervals is exactly
    ``greatest(ls DIV W, rs DIV W)`` — dedup by construction, no
    post-shuffle dedup pass. Fan-out per row is span/W + 1; callers
    pick ``bucket_width`` at the typical interval length so the
    explode stays ~2×. A row whose span exceeds
    ``max_span_buckets`` buckets fails the JOB with raise_error
    (lazy — no eager scan at plan-construction time): degenerate
    long intervals (an unclosed validity row) would otherwise fan
    out unboundedly, and the long tail belongs in a dedicated
    hot-row path, not silently in this one.

    Start/end columns must be integer-valued (days, epoch seconds —
    caller picks the granularity); column names across the two inputs
    must be disjoint.
    """
    w = int(bucket_width)

    def burst(df: DataFrame, s: str, e: str, sb: str, eb: str, b: str):
        d = df.select(
            "*",
            (F.col(s).cast("long") / F.lit(w)).cast("long").alias("_t_sb"),
            (F.col(e).cast("long") / F.lit(w)).cast("long").alias("_t_eb"),
        )
        guarded_eb = F.when(
            F.col("_t_eb") - F.col("_t_sb") > max_span_buckets,
            F.raise_error(
                F.concat(
                    F.lit(
                        "interval_overlap_join: interval spans more than "
                        f"{max_span_buckets} buckets of width {w} "
                        "(start="
                    ),
                    F.col(s).cast("string"),
                    F.lit(", end="),
                    F.col(e).cast("string"),
                    F.lit(
                        "); widen bucket_width or route long intervals "
                        "through a separate broadcast path"
                    ),
                )
            ).cast("long"),
        ).otherwise(F.col("_t_eb"))
        return (
            d.withColumn(
                b, F.explode(F.sequence(F.col("_t_sb"), guarded_eb))
            )
            .withColumnRenamed("_t_sb", sb)
            .withColumnRenamed("_t_eb", eb)
        )

    l2 = burst(left, left_start, left_end, "_lsb", "_leb", "_lb")
    r2 = burst(right, right_start, right_end, "_rsb", "_reb", "_rb")
    joined = l2.join(
        r2,
        (F.col("_lb") == F.col("_rb"))
        & (F.col("_lb") == F.greatest(F.col("_lsb"), F.col("_rsb")))
        & (
            F.col(left_start).cast("long")
            <= F.col(right_end).cast("long")
        )
        & (
            F.col(right_start).cast("long")
            <= F.col(left_end).cast("long")
        ),
        "inner",
    )
    return joined.drop("_lsb", "_leb", "_lb", "_rsb", "_reb", "_rb")
