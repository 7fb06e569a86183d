"""Custom stateful streaming operator via applyInPandasWithState:
a per-user running profile (event count, value sum, last-seen) that
survives across micro-batches — the pattern for operators Structured
Streaming's built-in aggregations can't express (per-key custom state
machines, CEP-ish logic, online features).

State: one row per user_id (count, sum, last_ts_micros). Output: the
updated profile per user per batch. GroupStateTimeout can evict idle
users in production; the bounded smoke test uses NoTimeout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("last_ts_micros", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("last_us", T.LongType()),
    ]
)


def _update_profile(key, pdfs, state):
    # NB: module-level function (picklable), no annotations (see the
    # dedup Arrow scorers' note on `from __future__`).
    import pandas as pd

    (user_id,) = key
    # NB: GroupState.get is a PROPERTY in pyspark (raises if absent) —
    # calling it as a method crashes the first time state EXISTS, i.e.
    # only from the second micro-batch of a key onward
    n, total, last_us = state.get if state.exists else (0, 0.0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        if len(pdf):
            last_us = max(last_us, int(pdf["ts_micros"].max()))
    state.update((n, total, last_us))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [total],
            "last_ts_micros": [last_us],
        }
    )


def user_profile_stream(events: DataFrame) -> DataFrame:
    """events (with event-time ts) → per-user running profile via
    applyInPandasWithState. Input may be a streaming OR batch frame
    with columns (user_id, ts, value)."""
    prepared = events.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_micros"),
        "value",
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _update_profile,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


DEBOUNCE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts_us", T.LongType()),
    ]
)

# last KEPT event time per (user, type) — the whole state is one long
DEBOUNCE_STATE_SCHEMA = T.StructType(
    [T.StructField("last_kept_us", T.LongType())]
)

_DEBOUNCE_GAP_US = 300 * 1_000_000


def _update_debounce(key, pdfs, state):
    import pandas as pd

    user_id, event_type = key
    # NB: GroupState.get is a PROPERTY in pyspark (raises if absent)
    last = state.get[0] if state.exists else None
    frames = [pdf for pdf in pdfs if len(pdf)]
    if not frames:
        return
    batch = pd.concat(frames).sort_values(
        ["ts_micros", "event_id"], kind="mergesort"
    )
    kept_ids, kept_us = [], []
    for eid, us in zip(
        batch["event_id"].to_numpy(), batch["ts_micros"].to_numpy()
    ):
        if last is None or us - last >= _DEBOUNCE_GAP_US:
            last = int(us)
            kept_ids.append(int(eid))
            kept_us.append(int(us))
    state.update((last,))
    if kept_ids:
        yield pd.DataFrame(
            {
                "event_id": kept_ids,
                "user_id": user_id,
                "event_type": event_type,
                "ts_us": kept_us,
            }
        )


def debounce_stream(events: DataFrame) -> DataFrame:
    """Streaming sequential debounce: keep an event iff it is ≥ 5 min
    after the last KEPT event of the same (user, type) — state is one
    long per key, carried ACROSS micro-batches, so a double-fire that
    straddles a batch boundary is still suppressed (the property the
    batch twin gets for free from seeing all data at once; asserted
    stream == batch under maxFilesPerTrigger in the tests).

    Kept-lag debounce is inherently sequential per key — exactly the
    operator class applyInPandasWithState exists for. Within one batch
    the kernel sorts by (event time, event id); correctness across
    batches additionally assumes per-key batch arrival respects event
    time (true under the file source's ordered listing; a production
    Kafka deployment would pair this with a watermark + buffer stage).

    Batch twin: operators.windows.debounce_events_kept (oracle-gated
    against a recursive-CTE walk).
    """
    prepared = events.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_micros"),
    )
    return prepared.groupBy("user_id", "event_type").applyInPandasWithState(
        _update_debounce,
        outputStructType=DEBOUNCE_OUTPUT_SCHEMA,
        stateStructType=DEBOUNCE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


SPRT_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("experiment", T.StringType()),
        T.StructField("n_obs", T.LongType()),
        T.StructField("n_conversions", T.LongType()),
        T.StructField("llr", T.DoubleType()),
        T.StructField("decision", T.StringType()),
    ]
)

# the ENTIRE sequential-test state is two integers per experiment
SPRT_STATE_SCHEMA = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("x", T.LongType())]
)


def _update_sprt(key, pdfs, state):
    # module-level + annotation-free: see _update_profile note
    import math

    import pandas as pd

    (experiment,) = key
    n, x = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        x += int(pdf["is_conversion"].sum())
    state.update((n, x))
    # closed-form LLR from the integer state — identical constants to
    # the batch events_sprt_monitor (H1 p=0.55 vs H0 p=0.45, α=β=0.05)
    c1 = round(math.log(11.0 / 9.0), 12)
    c2 = round(math.log(9.0 / 11.0), 12)
    bound = round(math.log(19.0), 12)
    llr = x * c1 + (n - x) * c2
    decision = (
        "reject_h0"
        if llr >= bound
        else ("accept_h0" if llr <= -bound else "continue")
    )
    yield pd.DataFrame(
        {
            "experiment": [experiment],
            "n_obs": [n],
            "n_conversions": [x],
            "llr": [round(llr, 6)],
            "decision": [decision],
        }
    )


def sprt_stream(events: DataFrame) -> DataFrame:
    """Streaming Wald SPRT: the always-valid A/B monitor as a stateful
    stream — after every micro-batch, the cumulative log-likelihood
    ratio and decision state for the conversion-rate hypothesis test
    (the streaming twin of the batch ``events_sprt_monitor``; same
    constants, same decision boundaries). State is TWO integers
    (observations, conversions) per experiment key — O(1) regardless
    of stream length — and because the LLR is a closed form of those
    counts, the emitted value after each batch is EXACTLY the batch
    query evaluated at the batch boundary, independent of within-batch
    arrival order. Keyed by experiment so a platform's many concurrent
    tests shard across executors."""
    prepared = (
        events.filter(F.col("event_type").isin("click", "purchase"))
        .select(
            F.lit("default").alias("experiment"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("is_conversion"),
        )
    )
    return prepared.groupBy("experiment").applyInPandasWithState(
        _update_sprt,
        outputStructType=SPRT_OUTPUT_SCHEMA,
        stateStructType=SPRT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


FUNNEL_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("t1_us", T.LongType()),
        T.StructField("t2_us", T.LongType()),
        T.StructField("t3_us", T.LongType()),
    ]
)

# earliest stage timestamps (micros), None = stage not reached yet
FUNNEL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("t1", T.LongType()),
        T.StructField("t2", T.LongType()),
        T.StructField("t3", T.LongType()),
    ]
)


def _update_funnel(key, pdfs, state):
    import pandas as pd

    (user_id,) = key
    t1, t2, t3 = state.get if state.exists else (None, None, None)
    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values(["ts_micros", "event_id"])
    for et, us in zip(rows["event_type"], rows["ts_micros"]):
        us = int(us)
        if t1 is None:
            if et == "view":
                t1 = us
        elif t2 is None:
            if et == "click" and us > t1:
                t2 = us
        elif t3 is None:
            if et == "purchase" and us > t2:
                t3 = us
    state.update((t1, t2, t3))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "t1_us": [t1],
            "t2_us": [t2],
            "t3_us": [t3],
        }
    )


def funnel_state_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of events_funnel_conversion's per-user stage
    table: a per-user FUNNEL STATE MACHINE (view → click → purchase,
    each stage strictly after the previous) via
    applyInPandasWithState — the CEP pattern built-in streaming
    aggregations can't express, because stage N's predicate reads
    stage N-1's timestamp. State is three micros per user (set-once,
    monotone), so the state store is strictly key-cardinality-sized
    no matter how many events flow through.

    EXACTNESS CONTRACT (documented, pytest-pinned): equal to the
    batch query's chained-MIN windows when events are replayed in
    EVENT-TIME order across micro-batches (within a batch the kernel
    sorts by (ts, event_id) itself) — the standard in-order-replay
    assumption for CEP state machines. Under cross-batch DISORDER the
    set-once states can diverge from the batch answer (a view
    arriving after a later click already passed cannot resurrect that
    click); an out-of-order-tolerant variant needs per-type buffered
    candidates bounded by the watermark, the trade every streaming
    CEP engine documents."""
    prepared = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_micros"),
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _update_funnel,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


EWMA_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)

EWMA_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)

_EWMA_ALPHA = 0.2


def _update_ewma(key, pdfs, state):
    import pandas as pd

    (user_id,) = key
    n, ewma = state.get if state.exists else (0, 0.0)
    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values(["ts_micros", "event_id"])
    for v in rows["value"]:
        v = float(v)
        # identical op sequence to the batch fold (seed = first value,
        # then a' = x*alpha + a*(1-alpha)) — bit-identical IEEE results
        ewma = v if n == 0 else v * _EWMA_ALPHA + ewma * (1.0 - _EWMA_ALPHA)
        n += 1
    state.update((n, ewma))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "ewma": [ewma]}
    )


def ewma_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of events_value_ewma: the per-user sequential
    EWMA fold as two doubles of state per key. The kernel executes the
    SAME IEEE op sequence as the batch query's aggregate() fold (seed
    with the first value, then x·α + acc·(1−α) in (ts, event_id)
    order), so under in-order cross-batch replay the twin is
    bit-identical, not approximately equal — the same exactness
    contract (and the same disorder caveat) as funnel_state_stream.
    Segment folds COMPOSE (acc' = acc·(1−α)^k + segment term), which
    is why one scalar of state suffices across any number of
    micro-batches."""
    prepared = events.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_micros"),
        "value",
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _update_ewma,
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )
