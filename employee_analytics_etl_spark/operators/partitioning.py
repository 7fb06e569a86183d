"""Physical-layout operators: bucketed co-located joins, skew salting,
partitioned writes — the cluster-scale levers (SURVEY.md §7 step 8).

These are the Spark-side equivalents of the reference's post-load
B-tree indexes (reference scripts/load.py:49-61): instead of indexing
after load, lay the data out so the expensive operation never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    num_buckets: int = 16,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a fact bucketed (and optionally sorted) on its join key.

    Subsequent equi-joins/aggregations on ``bucket_col`` between tables
    bucketed the same way run WITHOUT a shuffle (no Exchange in the
    plan) — at 100 TB this converts the dominant cost of a fact-fact
    join into a local zip of pre-sorted buckets.
    """
    w = df.write.format("parquet").mode(mode).bucketBy(num_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table_name)


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


def upsert_parquet(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str,
    partition_col: str | None = None,
) -> None:
    """Key-based MERGE (upsert) into a parquet dataset: same-key rows
    are replaced by ``updates``, new keys are inserted.

    With ``partition_col``, only the partitions the updates touch are
    read (partition pruning on the update keys' partition values) and
    only those directories are rewritten (dynamic partition
    overwrite) — untouched partitions keep their files byte-for-byte,
    which is what makes this viable on a 100 TB table where an update
    batch touches a handful of date partitions. The driver collects
    only the touched partition VALUES (bounded by the batch, never by
    the table).

    Without a partition column the whole dataset is rewritten; the
    merged frame is localCheckpoint'ed first because Spark refuses to
    overwrite a path its own plan is still reading from (and the
    checkpoint breaks that lineage)."""
    if partition_col is not None:
        parts = [
            r[0] for r in updates.select(partition_col).distinct().collect()
        ]
        existing = spark.read.parquet(path).filter(
            F.col(partition_col).isin(parts)
        )
        merged = existing.join(
            updates.select(key).distinct(), key, "left_anti"
        ).unionByName(updates).localCheckpoint(eager=True)
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            merged.write.mode("overwrite").partitionBy(partition_col).parquet(path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    else:
        existing = spark.read.parquet(path)
        merged = existing.join(
            updates.select(key).distinct(), key, "left_anti"
        ).unionByName(updates).localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(path)


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_mb: int = 256,
    sort_within: str | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into
    ~``target_file_mb``-sized files (computed from the source's actual
    on-disk bytes via the Hadoop FS API — no driver-side data pull).
    Returns the number of output files requested.

    The standard hygiene pass after streaming/micro-batch ingestion:
    thousands of KB-sized files turn every downstream scan into a
    task-scheduling storm and wreck row-group compression. Optional
    ``sort_within`` applies sortWithinPartitions before the write so
    min/max column stats become selective (poor-man's clustering —
    enables row-group skipping on that column)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(src)
    fs = path.getFileSystem(conf)
    total_bytes = fs.getContentSummary(path).getLength()
    n_files = max(1, int(total_bytes / (target_file_mb * 1024 * 1024)) or 1)
    df = spark.read.parquet(src).repartition(n_files)
    if sort_within:
        df = df.sortWithinPartitions(sort_within)
    df.write.mode("overwrite").parquet(dst)
    return n_files


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


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    num_files: int = 8,
    bits: int = 16,
) -> None:
    """Write parquet Z-ordered on (col_a, col_b): range-partition by
    the Morton code (balanced file sizes via range exchange, not hash)
    and sort within partitions, so every file covers a compact 2-D
    tile and parquet row-group zone-maps prune on EITHER column.

    Both columns are min-max scaled to the full ``bits`` domain before
    interleaving — raw interleave is worthless when domains differ in
    magnitude (the wider column's high bits dominate the curve and the
    narrow column never clusters; observed: a thin predicate on the
    narrow column hit ALL files). The 4 scale constants come from one
    tiny driver-side agg — a write-time op reads the data anyway."""
    from pyspark.sql import functions as F

    lo_a, hi_a, lo_b, hi_b = df.agg(
        F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b)
    ).collect()[0]
    top = (1 << bits) - 1

    def scaled(c, lo, hi):
        if hi == lo:
            return F.lit(0)
        return ((c.cast("double") - F.lit(float(lo)))
                * F.lit(float(top)) / F.lit(float(hi - lo))).cast("long")

    z = morton_code(
        scaled(F.col(col_a), lo_a, hi_a),
        scaled(F.col(col_b), lo_b, hi_b),
        bits,
    )
    (
        df.withColumn("_z", z)
        .repartitionByRange(num_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


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
