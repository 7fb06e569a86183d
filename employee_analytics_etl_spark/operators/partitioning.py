"""Physical-layout operators: skew salting, skew-split joins, Morton
codes and scan-file counts — the cluster-scale levers (SURVEY.md §7
step 8).

These are the Spark-side equivalents of the reference's post-load
B-tree indexes (reference scripts/load.py:49-61): instead of indexing
after load, lay the data out so the expensive operation never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_groupby_sum(
    df: DataFrame,
    key: str,
    value: str,
    salt_buckets: int = 16,
    decimal_scale: int = 2,
) -> DataFrame:
    """Skew-safe grouped sum: two-phase aggregation through a random
    salt. Phase 1 groups on (key, salt) — a hot key's rows spread over
    ``salt_buckets`` reducers; phase 2 combines the partials.

    The per-phase sums stay in DECIMAL so the result is bit-equal to a
    direct groupBy (exact, order-independent) — asserted in tests.
    Salting is for extreme skew AQE can't split (e.g. one key = 30% of
    rows inside a single aggregation); for joins, prefer AQE skew-join.
    Note: rand() makes the *distribution* nondeterministic, never the
    result.
    """
    dec = f"decimal(18,{decimal_scale})"
    salted = df.withColumn(
        "_salt", (F.rand(seed=7) * salt_buckets).cast("int")
    )
    partial = salted.groupBy(key, "_salt").agg(
        F.sum(F.col(value).cast(dec)).alias("_psum"),
        F.count(F.lit(1)).alias("_pcnt"),
    )
    return partial.groupBy(key).agg(
        F.sum("_psum").cast("double").alias(f"sum_{value}"),
        F.sum("_pcnt").cast("long").alias("n_rows"),
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: salt the big side with a random bucket and
    replicate the small side across every bucket, joining on
    (key, salt). A hot key's probe rows spread over ``salt_buckets``
    reducers instead of one.

    This is the manual lever for the case AQE's skew-join can't fix
    and broadcast can't reach: a *medium* dimension (too big to
    broadcast) against a fact side with extreme key skew. Cost: the
    small side shuffles ``salt_buckets``× — size the bucket count to
    the skew, not higher. Results are identical to a plain join
    (asserted in tests); only the physical distribution changes.
    ``rand`` affects distribution, never correctness."""
    big_s = big.withColumn("_salt", (F.rand(seed=7) * salt_buckets).cast("int"))
    small_r = small.withColumn(
        "_salt", F.explode(F.expr(f"sequence(0, {salt_buckets - 1})"))
    )
    # shuffle_hash, never broadcast (r10 plan audit): salting exists
    # precisely for the side that is too big to broadcast — if the
    # replicated side COULD broadcast, you wouldn't salt at all
    # (broadcast joins have no reducer skew). Letting Catalyst
    # broadcast the explode output at small scale both contradicts the
    # operator's regime and trips the exploded-broadcast size-estimate
    # lie (estimate is pre-explode; deserialized relation is
    # salt_buckets x bigger). Shuffled-hash keeps the salt doing its
    # job — (key, salt) spreads each hot key over salt_buckets
    # reducers — with a hash build of the small side and no sort.
    return big_s.join(small_r.hint("shuffle_hash"), [key, "_salt"], how).drop(
        "_salt"
    )


def scan_file_count(df: DataFrame) -> int:
    """Execute ``df`` and return how many files its file scans ACTUALLY
    read (the scan's runtime ``numFiles`` metric) — the ground-truth
    proof of partition pruning. ``df.inputFiles()`` is useless for
    this: it lists the relation's files before pruning.

    Returns -1 if no file-scan leaf exposes the metric."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    total, found = 0, False
    for i in range(leaves.size()):
        m = leaves.apply(i).metrics()
        if m.contains("numFiles"):
            total += m.apply("numFiles").value()
            found = True
    return total if found else -1


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition a narrowly-partitioned input before
    compute-heavy per-row work (shingling, hashing, vector math).

    A parquet file with a single row group plans as ONE scan task, and
    every pre-shuffle expression (explode, md5, partial aggregation)
    inherits that single thread. When the source partitioning is far
    below the session's parallelism, one extra row shuffle unlocks the
    whole executor pool — the explicit form of what multi-file input
    provides naturally. No-op when the input is already parallel (the
    100 TB case), so callers apply it unconditionally; results are
    unchanged because every downstream consumer here is
    order-independent (min/count/sum aggregates, hash joins)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 <= target:
        return df.repartition(target)
    return df


def morton_code(col_a, col_b, bits: int = 16):
    """Interleave the low ``bits`` bits of two non-negative integer
    columns into a Z-order (Morton) code — pure integer shift/mask
    expressions, codegen'd, engine-exact.

    Sorting or range-partitioning data by this code clusters rows that
    are close in BOTH dimensions into the same files, so min/max
    zone-maps prune multi-column range predicates — the data-layout
    analogue of a composite index, and the standard lakehouse
    Z-ORDER. 16+16 bits cover ~65k distinct values per dimension;
    bucket/scale wider domains first."""
    from pyspark.sql import functions as F

    def spread(c):
        # classic bit-spread: insert a zero between every bit
        x = c.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
        x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x00FF00FF))
        x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
        x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x33333333))
        x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(0x55555555))
        return x

    return spread(col_a).bitwiseOR(F.shiftleft(spread(col_b), 1))


def skew_split_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    num_hot: int = 4,
) -> DataFrame:
    """Hybrid skew join: split the fact table into its ``num_hot``
    HOTTEST join keys and everything else, broadcast-join the hot
    slice against the (tiny) matching dim rows, shuffle-join the cold
    remainder, and union — the PER-KEY join strategy choice that AQE's
    skew-join split performs on shuffle blocks, expressed explicitly
    so a known heavy-hitter key (the celebrity user, the null-ish
    default account) never funnels one shuffle partition.

    The hot-key list is a ``takeOrdered(num_hot)`` driver collect —
    BOUNDED by construction (num_hot is a constant), deterministic via
    the (count desc, key asc) total order. Inner-join semantics: the
    two slices partition the fact rows by key, so the union equals the
    plain join row-for-row.

    At 100 TB: the hot slice's dim side is ≤ num_hot rows (broadcast
    is trivially safe) while its fact side — the skew mass — never
    shuffles at all; the cold side shuffles with its worst key bounded
    by the (num_hot+1)-th count. The count pass is one
    partial-aggregated scan of the join column only."""
    counts = fact.groupBy(F.col(fact_key)).agg(
        F.count(F.lit(1)).alias("_n")
    )
    hot_rows = counts.orderBy(
        F.col("_n").desc(), F.col(fact_key).asc()
    ).take(num_hot)
    # NULL keys never match an inner join, so a NULL "hot" key (the
    # null-ish default account CAN be the heaviest key) must be
    # EXCLUDED from the isin list: isin([.., None]) evaluates to NULL
    # for every non-member, which would make BOTH filter(cond) and
    # filter(~cond) drop all cold rows. The cold side additionally
    # pins isNotNull() so its predicate is never three-valued.
    hot = [r[0] for r in hot_rows if r[0] is not None]
    cond_hot = F.col(fact_key).isin(hot) if hot else F.lit(False)
    dim_hot = dim.filter(F.col(dim_key).isin(hot) if hot else F.lit(False))
    j_hot = fact.filter(cond_hot).join(
        F.broadcast(dim_hot), F.col(fact_key) == F.col(dim_key)
    )
    j_cold = fact.filter(~cond_hot & F.col(fact_key).isNotNull()).join(
        dim, F.col(fact_key) == F.col(dim_key)
    )
    return j_hot.unionByName(j_cold)
