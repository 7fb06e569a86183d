"""Per-key state machines as streams, via applyInPandasWithState: the
operators that Structured Streaming's built-in aggregations cannot
express, because each row's fate depends on the key's earlier rows.

State is a few scalars per key, carried across micro-batches, so the
state store is sized by key cardinality, not by event count. Within a
batch each kernel sorts its key's rows by (event time, event id);
across batches they assume per-key arrival in event-time order (true
under the file source's ordered listing). Under cross-batch disorder a
state machine can diverge from its batch query, which sees all rows at
once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
    batch query gets for free from seeing all data at once).

    Kept-lag debounce is inherently sequential per key — exactly the
    operator class applyInPandasWithState exists for. A production
    Kafka deployment would pair it with a watermark + buffer stage to
    restore per-key event-time order. Streaming twin of
    events_debounce_kept (streaming.jobs.TWINS).
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
    bit-identical, not approximately equal (see the module docstring
    for the disorder caveat).
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
