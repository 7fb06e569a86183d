"""Exact distributed ranking / prefix-sum primitive.

The one plan shape this engine refuses is an UNPARTITIONED WindowExec
over an input whose cardinality grows with the data: Spark executes
``Window.orderBy(...)`` with no partition spec by moving EVERY row to a
single task ("WindowExec: No Partition Defined ... Moving all data to a
single partition") — a straggler/OOM at 100 TB, not a slowdown.

``ranked`` computes the same exact global ``row_number`` / cumulative
sums with no single-partition stage, using the classic two-pass
range-partitioned scheme (the distributed-sort ranking in every MPP
engine, e.g. the "parallel window" rewrite in Goetz Graefe's sort
survey / Vertica's analytic rewrite):

1. ``repartitionByRange(P, *order_by)`` — range-shuffle on the sort key
   so partition ``i`` holds a contiguous, disjoint key range entirely
   before partition ``i+1``'s (ties cannot straddle a boundary because
   callers must pass a TOTAL order — unique tiebreak column included).
2. One tiny per-partition aggregate (count + optional sums), ≤ P rows,
   collected to the driver — a BOUNDED collect (P is a config constant,
   never data-sized) in line with the engine's bounded-collect policy
   (top-k rows, k centroids, vocab dict).
3. Exclusive prefix offsets per partition, broadcast back and added to
   a PARTITION-LOCAL ``row_number``/``sum`` window keyed by the
   captured ``spark_partition_id`` — every window group is one range
   bucket, so the heaviest task holds ~n/P rows, never n.

Exactness: ranks/counts are integer; cumulative sums are exact when the
summed column is integral or DECIMAL (the engine's money convention) —
cross-partition addition is then order-independent, so the result is
bit-identical to the single-sort formulation and to the SQL oracle.

The range-partitioned intermediate is pinned with ``localCheckpoint``
so the offsets pass and the output plan see the SAME partitioning
(range boundaries are sampled; recomputing the exchange in two separate
jobs could legally draw different bounds).

Replaces (r4) BOTH single-task window shapes:

- every UNPARTITIONED window (the r3 verdict's six distribution
  queries: gini, pareto, RFM, lorenz, acctbal rank profile, KS) and
  the later global-order additions (exact/weighted percentiles,
  Mann-Whitney midranks, sweep-line concurrency/union, ABC classes);
- every FEW-HUGE-GROUPS ``PARTITION BY`` over a raw fact (3-value
  order status, 5-value priority, per-source packing): rank on the
  COMPOSITE total order (group, key...) — range partitioning splits a
  hot group across partitions via the tiebreak — and recover the
  per-group rank/cumulative arithmetically from a tiny broadcast of
  per-group min-rank / base offsets.

``tools/explain_audit.py`` fails any registry plan that regresses to
an unpartitioned WindowExec outside the documented
constant-cardinality allowlist. Reference parity: the reference
computes ranks/quantiles with pandas ``rank``/``qcut`` on one node
(reference: transform.py) — same semantics, distributed shape.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


def _zero(dt: T.DataType):
    if isinstance(dt, T.DecimalType):
        return Decimal(0)
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return 0.0
    return 0


def ranked(
    df: DataFrame,
    order_by: list[Column],
    rn_col: str | None = "rn",
    cumsum_cols: dict[str, str] | None = None,
    cummax_cols: dict[str, str] | None = None,
) -> tuple[DataFrame, int]:
    """Exact global ``row_number`` and/or cumulative sums under a TOTAL
    order, with no single-partition WindowExec.

    Parameters
    ----------
    order_by: sort columns (``F.asc``/``F.desc`` allowed) forming a
        total order — include a unique tiebreak column; keys must be
        non-null (the engine's window convention).
    rn_col: output name for the 1-based global row number (None = skip).
    cumsum_cols: ``{source_col: out_col}`` — inclusive cumulative sum of
        ``source_col`` under the order. Use integral/DECIMAL columns for
        cross-partition exactness (double offsets would be
        accumulation-order sensitive).
    cummax_cols: ``{source_col: out_col}`` — inclusive running MAX of
        ``source_col`` under the order (the streaming-watermark shape:
        "largest event time seen so far"). Max is an order-independent
        idempotent monoid, so unlike sums it is exact for EVERY input
        type; the cross-partition offset is the exclusive prefix max,
        NULL for the first partition (F.greatest skips nulls, so NULL
        is the clean identity).

    The range-partition count is ``spark.sql.shuffle.partitions``.

    Returns ``(out_df, n_total)`` — all original columns plus the rank/
    cumsum columns, and the exact total row count (driver int, free as a
    byproduct of the offsets pass — callers use it for ntile/percent
    expressions without another scan).
    """
    if not order_by:
        raise ValueError("ranked() requires a non-empty total order")
    spark = df.sparkSession
    cumsum_cols = cumsum_cols or {}
    cummax_cols = cummax_cols or {}
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    rp = (
        df.repartitionByRange(nparts, *order_by)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    aggs = (
        [F.count(F.lit(1)).alias("_cnt")]
        + [F.sum(src).alias(f"_s_{src}") for src in cumsum_cols]
        + [F.max(src).alias(f"_m_{src}") for src in cummax_cols]
    )
    stats_df = rp.groupBy("_pid").agg(*aggs)
    stats = sorted(stats_df.collect(), key=lambda r: r["_pid"])  # ≤ P rows

    stats_schema = {f.name: f.dataType for f in stats_df.schema.fields}
    off_fields = [
        T.StructField("_pid", T.IntegerType(), False),
        T.StructField("_rn_off", T.LongType(), False),
    ] + [
        T.StructField(f"_off_{src}", stats_schema[f"_s_{src}"], False)
        for src in cumsum_cols
    ] + [
        T.StructField(f"_moff_{src}", stats_schema[f"_m_{src}"], True)
        for src in cummax_cols
    ]
    rn_off = 0
    sum_off = {src: _zero(stats_schema[f"_s_{src}"]) for src in cumsum_cols}
    max_off: dict = {src: None for src in cummax_cols}
    rows = []
    for r in stats:
        rows.append(
            (
                r["_pid"],
                rn_off,
                *[sum_off[s] for s in cumsum_cols],
                *[max_off[s] for s in cummax_cols],
            )
        )
        rn_off += r["_cnt"]
        for src in cumsum_cols:
            v = r[f"_s_{src}"]
            if v is not None:
                sum_off[src] += v
        for src in cummax_cols:
            v = r[f"_m_{src}"]
            if v is not None and (max_off[src] is None or v > max_off[src]):
                max_off[src] = v
    n_total = rn_off
    offsets = F.broadcast(
        spark.createDataFrame(rows, T.StructType(off_fields))
    )

    w = Window.partitionBy("_pid").orderBy(*order_by)
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sel: list[Column] = [F.col(c) for c in df.columns]
    if rn_col:
        sel.append(
            (F.row_number().over(w) + F.col("_rn_off"))
            .cast("long")
            .alias(rn_col)
        )
    for src, out in cumsum_cols.items():
        sel.append(
            (F.sum(src).over(w_cum) + F.col(f"_off_{src}")).alias(out)
        )
    for src, out in cummax_cols.items():
        sel.append(
            F.greatest(
                F.max(src).over(w_cum), F.col(f"_moff_{src}")
            ).alias(out)
        )
    return rp.join(offsets, "_pid").select(*sel), n_total


def ntile_from_rn(rn: Column, n_total: int, k: int) -> Column:
    """SQL ``NTILE(k)`` from an exact global row number and total count:
    with ``n = q·k + r``, the first ``r`` buckets get ``q+1`` rows —
    identical to the standard NTILE definition (and DuckDB's), but
    computed as a scan-side expression instead of a window."""
    q, r = divmod(n_total, k)
    head = r * (q + 1)  # rows covered by the q+1-sized buckets
    # floor-of-double division is exact integer division here: both
    # operands are exact doubles < 2^53 and the quotient's distance to
    # the nearest wrong integer (≥ 1/divisor) exceeds its ulp for any
    # n_total < 2^53 — no off-by-one is reachable.
    big = F.floor((rn - 1) / F.lit(q + 1)) + 1
    small = F.lit(r) + F.floor((rn - 1 - head) / F.lit(max(q, 1))) + 1
    return F.when(rn <= head, big).otherwise(small).cast("int")


def percent_rank_from_rn(rn: Column, n_total: int) -> Column:
    """``PERCENT_RANK`` = (rank−1)/(n−1). Valid because the engine's
    window convention mandates TOTAL orders (unique tiebreak), under
    which rank ≡ row_number — ties are impossible by construction."""
    if n_total <= 1:
        return F.lit(0.0)
    return (rn - 1).cast("double") / F.lit(float(n_total - 1))


def cume_dist_from_rn(rn: Column, n_total: int) -> Column:
    """``CUME_DIST`` = rows_with_key≤current / n ≡ rn/n under a total
    order (see ``percent_rank_from_rn``)."""
    return rn.cast("double") / F.lit(float(max(n_total, 1)))


def multi_ranked(
    df: DataFrame,
    legs: dict[str, list[Column]],
    rn_col: str = "rn",
    leg_col: str = "leg",
) -> tuple[DataFrame, dict[str, int]]:
    """Exact global ``row_number`` under SEVERAL total orders in ONE
    two-pass round — the multi-rank fusion of :func:`ranked`.

    A caller that needs k independent rankings of the same input (RFM:
    recency, frequency, monetary) pays, with k ``ranked`` calls, k
    sequential blocking rounds — each a range shuffle, a checkpoint
    materialization, and a driver collect. This fuses them: the input
    is unioned once with a leg tag, range-partitioned ONCE on
    ``(leg, keys...)``, and ONE ≤(k·P)-row stats collect prices every
    leg's partition offsets — the k shuffles become parallel stages of
    a single job instead of k serial jobs, and the driver round-trips
    once. Same exactness argument as ``ranked``: within a leg, range
    partitioning on the leg-first composite key keeps every partition's
    key range disjoint and ordered, so rank = per-(leg, partition)
    offset + partition-local row_number.

    Parameters
    ----------
    legs: ``{leg_name: [ascending sort key Columns]}``. Every leg must
        supply the SAME NUMBER of keys, each ASCENDING and non-null,
        together forming a total order (include the unique tiebreak).
        Express a descending numeric/date order by negating the key
        (``-col``, exact for ints/decimals/dates-as-days; for doubles
        exact absent NaN). Per POSITION, key types should agree
        across legs; lossless mixes are widened explicitly (integral
        → long, float+double → double) and integral/decimal mixes use
        union's exact decimal widening, but a float/double key mixed
        with exact types raises — cast explicitly per leg, because
        the union's silent double widening is lossy past 2^53.
    Returns ``(out_df, n_totals)``: the union of all legs — original
    columns plus ``leg_col`` (leg name) and ``rn_col`` (1-based global
    rank within the leg) — and each leg's exact row count.
    """
    if not legs:
        raise ValueError("multi_ranked() requires at least one leg")
    widths = {name: len(keys) for name, keys in legs.items()}
    if len(set(widths.values())) != 1 or 0 in widths.values():
        raise ValueError(
            f"every leg needs the same non-zero key count, got {widths}"
        )
    nkeys = next(iter(widths.values()))
    key_names = [f"_mk{i}" for i in range(nkeys)]
    leg_dfs = {
        name: df.select(
            F.lit(name).alias(leg_col),
            *[k.alias(kn) for k, kn in zip(keys, key_names)],
            *df.columns,
        )
        for name, keys in legs.items()
    }
    # Per-position key-type validation (r8 ADVICE): when a position
    # mixes an int/long/decimal key with a float/double key across
    # legs, unionByName silently widens it to DOUBLE — a key with
    # magnitude ≥ 2^53 then loses precision, creating phantom ties
    # under a caller's exact total order. Identical types pass; mixed
    # INTEGRAL types widen to long explicitly (lossless); float+double
    # widens to double explicitly (lossless — every float is a
    # double); integral/decimal mixes are left to union's DECIMAL
    # widening, which is value-exact (callers with >36-digit decimals
    # own the 38-precision cap). Only the lossy case — float/double
    # mixed with integral/decimal — is rejected: the caller must cast
    # per leg, owning the exactness argument at the site that knows
    # the value bounds (mirrors multi_ranked_frames' signature check).
    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    binary_fp = (T.FloatType, T.DoubleType)
    for kn in key_names:
        per_leg = {n: ldf.schema[kn].dataType for n, ldf in leg_dfs.items()}
        tset = set(per_leg.values())
        if len(tset) == 1:
            continue
        if all(isinstance(t, integral) for t in tset):
            leg_dfs = {
                n: ldf.withColumn(kn, F.col(kn).cast("long"))
                for n, ldf in leg_dfs.items()
            }
            continue
        if all(isinstance(t, binary_fp) for t in tset):
            leg_dfs = {
                n: ldf.withColumn(kn, F.col(kn).cast("double"))
                for n, ldf in leg_dfs.items()
            }
            continue
        if any(isinstance(t, binary_fp) for t in tset):
            pos = key_names.index(kn)
            raise ValueError(
                f"multi_ranked: sort-key position {pos} mixes "
                f"float/double with exact types across legs "
                f"({ {n: t.simpleString() for n, t in per_leg.items()} }); "
                "unionByName would silently widen to double (lossy "
                "past 2^53). Cast this key to one explicit type in "
                "every leg."
            )
    tagged = None
    for leg_df in leg_dfs.values():
        tagged = leg_df if tagged is None else tagged.unionByName(leg_df)
    return _multi_ranked_core(
        tagged, df.columns, key_names, set(legs), rn_col, leg_col
    )


def multi_ranked_frames(
    frames: dict[str, DataFrame],
    keys: list[Column],
    rn_col: str = "rn",
    leg_col: str = "leg",
) -> tuple[DataFrame, dict[str, int]]:
    """The frames variant of :func:`multi_ranked`: exact global
    ``row_number`` over SEVERAL same-schema inputs under ONE total
    order, in one two-pass round — for callers whose legs differ by
    FILTER rather than by sort order (KMV bottom-k over set A / set B
    / their union). Same single-job, single-collect shape and the
    same exactness argument; ``keys`` are ascending non-null Columns
    resolvable against every frame and must total-order each leg."""
    if not frames:
        raise ValueError("multi_ranked_frames() requires at least one leg")
    if not keys:
        raise ValueError("multi_ranked_frames() requires sort keys")
    cols0 = None
    sig0 = None  # (name, dataType) pairs — names alone would let
    # unionByName silently widen mismatched numeric types across legs
    key_names = [f"_mk{i}" for i in range(len(keys))]
    tagged = None
    for name, df in frames.items():
        sig = [(f.name, f.dataType) for f in df.schema.fields]
        if cols0 is None:
            cols0, sig0 = df.columns, sig
        elif sig != sig0:
            raise ValueError(
                f"leg {name!r} schema {sig} != first leg {sig0}"
            )
        leg_df = df.select(
            F.lit(name).alias(leg_col),
            *[k.alias(kn) for k, kn in zip(keys, key_names)],
            *cols0,
        )
        tagged = leg_df if tagged is None else tagged.unionByName(leg_df)
    return _multi_ranked_core(
        tagged, cols0, key_names, set(frames), rn_col, leg_col
    )


def _multi_ranked_core(
    tagged: DataFrame,
    out_cols: list[str],
    key_names: list[str],
    leg_names: set,
    rn_col: str,
    leg_col: str,
) -> tuple[DataFrame, dict[str, int]]:
    spark = tagged.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    rp = (
        tagged.repartitionByRange(nparts, leg_col, *key_names)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    stats = rp.groupBy(leg_col, "_pid").agg(
        F.count(F.lit(1)).alias("_cnt")
    ).collect()  # ≤ legs·P rows — bounded by config, never data-sized
    n_totals = {name: 0 for name in leg_names}
    rows = []
    for r in sorted(stats, key=lambda r: (r[leg_col], r["_pid"])):
        rows.append((r[leg_col], r["_pid"], n_totals[r[leg_col]]))
        n_totals[r[leg_col]] += r["_cnt"]
    offsets = F.broadcast(
        spark.createDataFrame(
            rows,
            T.StructType(
                [
                    T.StructField(leg_col, T.StringType(), False),
                    T.StructField("_pid", T.IntegerType(), False),
                    T.StructField("_rn_off", T.LongType(), False),
                ]
            ),
        )
    )
    w = Window.partitionBy("_pid", leg_col).orderBy(
        *[F.asc(kn) for kn in key_names]
    )
    out = rp.join(offsets, ["_pid", leg_col]).select(
        leg_col,
        *out_cols,
        (F.row_number().over(w) + F.col("_rn_off"))
        .cast("long")
        .alias(rn_col),
    )
    return out, n_totals
