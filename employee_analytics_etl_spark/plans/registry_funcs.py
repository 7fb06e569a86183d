"""Function-surface registry: scalar string/date functions, exact
percentiles, semi-joins, set intersection, cube, above-average
filters, approximate distinct — rounding out the operator inventory
(SURVEY.md §2.3, §2.5, §2.8) beyond what registry.py already covers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.expr import dsum
from .registry import query, t


@query(
    "median_price_by_status",
    oracle="""
    SELECT o_orderstatus,
           quantile_cont(o_totalprice, 0.5) AS median_price,
           quantile_cont(o_totalprice, 0.9) AS p90_price,
           MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def median_price_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact INTERPOLATED percentiles per status (≡ DuckDB
    ``quantile_cont``: 0-based position h = (n−1)·q, value =
    v[⌊h⌋] + (h−⌊h⌋)·(v[⌊h⌋+1] − v[⌊h⌋])).

    Scale shape (r4): Spark's ``percentile()`` aggregate buffers every
    group's value multiset in the agg buffer — a memory bomb for
    3 huge status groups — and a PARTITION BY window is the
    few-huge-groups trap. Instead per-group ranks come from the global
    ranking primitive on (status, price, orderkey), the two bracketing
    rows per percentile are picked by exact integer rank comparison,
    and the interpolation is the same closed-form IEEE expression both
    engines evaluate on identical operands."""
    from ..operators import ranking as R

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    rdf, _n = R.ranked(
        orders,
        [F.asc("o_orderstatus"), F.asc("o_totalprice"), F.asc("o_orderkey")],
        rn_col="_rn",
    )
    rdf = rdf.localCheckpoint(eager=False)
    g = rdf.groupBy("o_orderstatus").agg(
        F.min("_rn").alias("_rn0"), F.count(F.lit(1)).alias("cnt")
    )
    j = rdf.join(F.broadcast(g), "o_orderstatus").withColumn(
        "lrn", F.col("_rn") - F.col("_rn0") + 1
    )

    def interp(q: float, out: str):
        h = (F.col("cnt") - 1) * F.lit(q)  # 0-based fractional position
        lo = F.floor(h)  # exact: cnt < 2^53
        v_lo = F.max(
            F.when(F.col("lrn") == lo + 1, F.col("o_totalprice"))
        )
        v_hi = F.max(
            F.when(
                F.col("lrn") == F.least(lo + 2, F.col("cnt")),
                F.col("o_totalprice"),
            )
        )
        # the exact lerp FORM matters at the ulp level: both DuckDB's
        # quantile_cont and Spark's percentile() evaluate
        # a·(1−f) + b·f (verified empirically; a + f·(b−a) differs in
        # the last ~1e3 ulps and would break the hash gate)
        frac = h - lo
        return (
            v_lo * (F.lit(1.0) - frac) + F.coalesce(v_hi, v_lo) * frac
        ).alias(out)

    return (
        j.groupBy("o_orderstatus", "cnt")
        .agg(
            interp(0.5, "median_price"),
            interp(0.9, "p90_price"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .drop("cnt")
    )


@query(
    "customer_name_initcap",
    oracle="""
    SELECT c_custkey,
           array_to_string(list_transform(string_split(lower(c_name), ' '),
             x -> upper(substr(x, 1, 1)) || substr(x, 2)), ' ') AS name_ic
    FROM customer
    """,
)
def customer_name_initcap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10 title-case parity: Spark ``initcap`` (the reference's
    pandas ``str.title`` analogue; divergence on apostrophes/digits is
    documented in SURVEY.md C10 — identical on this corpus)."""
    return t(spark, sf_dir, "customer").select(
        "c_custkey", F.initcap(F.col("c_name")).alias("name_ic")
    )


@query(
    "order_date_parts",
    oracle="""
    SELECT o_orderkey,
           CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS y,
           CAST(quarter(CAST(o_orderdate AS DATE)) AS INT) AS q,
           CAST(month(CAST(o_orderdate AS DATE)) AS INT) AS m,
           CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INT) AS dow,
           CAST(strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS VARCHAR) AS ym
    FROM orders
    """,
)
def order_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction (C9 family). NB: Spark dayofweek is
    1=Sunday, DuckDB is 0=Sunday — the oracle maps (+1)."""
    orders = t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.year(d).alias("y"),
        F.quarter(d).alias("q"),
        F.month(d).alias("m"),
        F.dayofweek(d).alias("dow"),
        F.date_format(d, "yyyy-MM").alias("ym"),
    )


@query(
    "string_profile",
    oracle="""
    SELECT c_custkey, upper(c_name) AS name_upper,
           CAST(length(c_name) AS INT) AS name_len,
           substr(c_name, 1, 8) AS name_prefix,
           replace(c_name, 'Customer', 'Cust') AS name_short,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
           concat(c_name, '/', c_mktsegment) AS name_seg
    FROM customer
    """,
)
def string_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core string-function surface (upper/length/substr/replace/
    lpad/concat) — all codegen'd."""
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.regexp_replace("c_name", "Customer", "Cust").alias("name_short"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
        F.concat_ws("/", "c_name", "c_mktsegment").alias("name_seg"),
    )


@query(
    "cube_lineitem_qty",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def cube_lineitem_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all 4 subtotal combinations, one shuffle)."""
    li = t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_quantity").alias("total_qty"),
    )


@query(
    "custkeys_f_intersect_o",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def custkeys_f_intersect_o(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operator: INTERSECT (distinct semantics)."""
    orders = t(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersect(o)


@query(
    "customers_with_open_orders_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
    """,
)
def customers_with_open_orders_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (EXISTS): left_semi — no fanout, no duplicate rows."""
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return customer.join(
        orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "customers_above_nation_avg",
    oracle="""
    WITH na AS (
      SELECT c_nationkey,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(c_acctbal) AS nation_avg
      FROM customer GROUP BY c_nationkey
    )
    SELECT c.c_custkey, c.c_nationkey, c.c_acctbal, na.nation_avg
    FROM customer c JOIN na ON na.c_nationkey = c.c_nationkey
    WHERE c.c_acctbal > na.nation_avg
    """,
)
def customers_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery pattern (above-group-average filter) as an
    agg + broadcast re-join — the distributed idiom for per-group
    comparisons."""
    customer = t(spark, sf_dir, "customer")
    na = customer.groupBy("c_nationkey").agg(
        (F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
         / F.count("c_acctbal")).alias("nation_avg")
    )
    return (
        customer.join(F.broadcast(na), "c_nationkey")
        .filter(F.col("c_acctbal") > F.col("nation_avg"))
        .select("c_custkey", "c_nationkey", "c_acctbal", "nation_avg")
    )


# Approximate distinct (HLL) is engine-specific by construction — no
# cross-engine oracle; the exact twin column is the in-query ground
# truth and pytest asserts the approx is within HLL error of it.
@query(
    "approx_distinct_parts",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS approx_in_bounds
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) next to its exact twin —
    the default distinct-count path at 100 TB (no exact-distinct
    expand/shuffle). Bounds-style oracle: DuckDB verifies the exact
    count; the sketch estimate is asserted within 4× the configured
    relative standard deviation (rsd=0.05 → ±20%, a ~4σ envelope the
    HLL++ bias correction keeps with overwhelming margin)."""
    rsd = 0.05
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.approx_count_distinct("l_partkey", rsd).alias("_approx"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("_approx") - F.col("exact_parts"))
                <= F.lit(4 * rsd) * F.col("exact_parts")
            ).alias("approx_in_bounds"),
        )
    )


@query(
    "scd2_order_status_history",
    oracle="""
    WITH ordered AS (
      SELECT o_custkey, o_orderstatus,
             CAST(o_orderdate AS DATE) AS odate, o_orderkey,
             lag(o_orderstatus) OVER (
               PARTITION BY o_custkey
               ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS prev_status
      FROM orders
    ),
    changes AS (
      SELECT o_custkey, o_orderstatus, odate, o_orderkey FROM ordered
      WHERE prev_status IS NULL OR o_orderstatus <> prev_status
    )
    SELECT o_custkey AS custkey, o_orderstatus AS status,
           odate AS valid_from,
           lead(odate) OVER (PARTITION BY o_custkey
                             ORDER BY odate, o_orderkey) AS valid_to,
           lead(odate) OVER (PARTITION BY o_custkey
                             ORDER BY odate, o_orderkey) IS NULL AS is_current
    FROM changes
    """,
)
def scd2_order_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build from a change stream: collapse each
    customer's order-status timeline into effective-dated rows
    (valid_from / valid_to / is_current). Change detection is lag()
    over a TOTAL order (odate, orderkey — the determinism invariant),
    effective dating is lead() over the surviving rows. Both windows
    share one partitioning, so the whole history build is a single
    shuffle on custkey — the idiomatic distributed form of the
    reference's truncate-and-replace dimension loads (load.py:35),
    upgraded to keep history."""
    w = Window.partitionBy("o_custkey").orderBy("odate", "o_orderkey")
    ordered = (
        t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderstatus",
            F.col("o_orderdate").cast("date").alias("odate"),
            "o_orderkey",
        )
        .withColumn("prev_status", F.lag("o_orderstatus").over(w))
    )
    changes = ordered.filter(
        F.col("prev_status").isNull()
        | (F.col("o_orderstatus") != F.col("prev_status"))
    )
    w2 = Window.partitionBy("o_custkey").orderBy("odate", "o_orderkey")
    return changes.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("odate").alias("valid_from"),
        F.lead("odate").over(w2).alias("valid_to"),
        F.lead("odate").over(w2).isNull().alias("is_current"),
    )


@query(
    "funnel_view_click_purchase",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS tus FROM events
    ),
    s1 AS (SELECT user_id, MIN(tus) AS t1 FROM e
           WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(tus) AS t2 FROM e
           JOIN s1 ON s1.user_id = e.user_id
           WHERE event_type = 'click' AND tus > t1 GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(tus) AS t3 FROM e
           JOIN s2 ON s2.user_id = e.user_id
           WHERE event_type = 'purchase' AND tus > t2 GROUP BY e.user_id)
    SELECT (SELECT COUNT(*) FROM s1) AS n_view,
           (SELECT COUNT(*) FROM s2) AS n_view_click,
           (SELECT COUNT(*) FROM s3) AS n_full_funnel,
           CAST((SELECT COUNT(*) FROM s2) AS DOUBLE)
             / greatest((SELECT COUNT(*) FROM s1), 1) AS view_click_rate,
           CAST((SELECT COUNT(*) FROM s3) AS DOUBLE)
             / greatest((SELECT COUNT(*) FROM s2), 1) AS click_purchase_rate
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential conversion funnel (view → click → purchase, strictly
    increasing event times). The oracle states it as three stage-wise
    min-aggregates re-joined per stage (three shuffles); the Spark plan
    does ONE shuffle: group events per user, sort the (time, type)
    array, and walk it left-to-right with a codegen'd aggregate()
    lambda that latches each stage's first qualifying timestamp.
    Per-user state is 3 BIGINTs; array length is bounded by per-user
    activity (skewed power users cap at their event count, not corpus
    size). At 100 TB the three-self-join form reshuffles the full fact
    three times — the fold does it once."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        "event_type",
    )
    per_user = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("tus", "event_type"))).alias("evs")
    )
    funnel = per_user.withColumn(
        "f",
        F.expr(
            """
            aggregate(
              evs,
              named_struct('t1', CAST(NULL AS BIGINT),
                           't2', CAST(NULL AS BIGINT),
                           't3', CAST(NULL AS BIGINT)),
              (acc, e) -> named_struct(
                't1', CASE WHEN acc.t1 IS NULL AND e.event_type = 'view'
                           THEN e.tus ELSE acc.t1 END,
                't2', CASE WHEN acc.t2 IS NULL AND acc.t1 IS NOT NULL
                                AND e.event_type = 'click' AND e.tus > acc.t1
                           THEN e.tus ELSE acc.t2 END,
                't3', CASE WHEN acc.t3 IS NULL AND acc.t2 IS NOT NULL
                                AND e.event_type = 'purchase' AND e.tus > acc.t2
                           THEN e.tus ELSE acc.t3 END))
            """
        ),
    )
    return funnel.agg(
        F.count("f.t1").alias("n_view"),
        F.count("f.t2").alias("n_view_click"),
        F.count("f.t3").alias("n_full_funnel"),
        (
            F.count("f.t2").cast("double")
            / F.greatest(F.count("f.t1"), F.lit(1))
        ).alias("view_click_rate"),
        (
            F.count("f.t3").cast("double")
            / F.greatest(F.count("f.t2"), F.lit(1))
        ).alias("click_purchase_rate"),
    )


@query(
    "unpivot_lineitem_measures",
    oracle="""
    WITH m AS (
      SELECT 'quantity' AS metric, l_quantity AS val FROM lineitem
      UNION ALL
      SELECT 'extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT 'discount', l_discount FROM lineitem
      UNION ALL
      SELECT 'tax', l_tax FROM lineitem
    )
    SELECT metric,
           COUNT(*) AS n,
           CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS total,
           CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean
    FROM m GROUP BY metric
    """,
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt) of the four lineitem measures, then a
    per-metric profile. Spark's native unpivot expands rows scan-side
    (an Expand node — no shuffle, no UNION-of-scans: ONE pass over the
    fact instead of the oracle's four). The aggregate then shuffles
    4 rows per partition. The reshape primitive for feature-table
    normalization at scale."""
    li = t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=[],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="raw_metric",
        valueColumnName="val",
    ).select(
        F.expr("substr(raw_metric, 3)").alias("metric"),  # strip 'l_'
        "val",
    )
    total = F.sum(F.col("val").cast("decimal(18,2)")).cast("double")
    return long.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n"),
        total.alias("total"),
        (total / F.count(F.lit(1))).alias("mean"),
    )


@query(
    "nullsafe_event_category_counts",
    oracle="""
    WITH fact AS (
      SELECT NULLIF(event_type, 'error') AS et FROM events
    ),
    dim AS (
      SELECT et, COALESCE(et, 'uncategorized') AS category
      FROM (SELECT DISTINCT NULLIF(event_type, 'error') AS et FROM events)
    )
    SELECT d.category, COUNT(*) AS n_events
    FROM fact f JOIN dim d ON f.et IS NOT DISTINCT FROM d.et
    GROUP BY d.category
    """,
)
def nullsafe_event_category_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): the fact's
    NULL keys (here: 'error' events nulled out by NULLIF) match the
    dimension's NULL row instead of silently dropping — the SQL
    three-valued-logic trap the reference hit with pandas NaN joins
    (SURVEY §2.2 P1 caveat). eqNullSafe keys still hash-partition
    (NULL hashes like a value), so this stays a broadcast/hash join —
    no fallback to nested loops."""
    ev = t(spark, sf_dir, "events").select(
        F.expr("NULLIF(event_type, 'error')").alias("et")
    )
    dim = (
        ev.distinct()
        .select("et", F.coalesce("et", F.lit("uncategorized")).alias("category"))
        .withColumnRenamed("et", "d_et")
    )
    return (
        ev.join(F.broadcast(dim), ev.et.eqNullSafe(F.col("d_et")))
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@query(
    "events_users_hll_rollup",
    oracle="""
    SELECT event_type,
      CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
      TRUE AS merged_in_bounds
    FROM events GROUP BY event_type
    """,
)
def events_users_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level distinct-user rollup via MERGEABLE HLL sketches
    (Datasketches ``hll_sketch_agg`` → ``hll_union_agg``): daily
    per-type sketches are built in one scan, then the per-type total
    is computed by UNIONING the daily sketches — no second pass over
    raw events. This mergeability is the 100 TB pattern
    ``approx_count_distinct`` alone can't give you: persist the daily
    sketch table once and every weekly/monthly/all-time rollup (or
    late-arriving partition patch) is a union over kilobyte sketches
    instead of a rescan of the fact table.

    The exact countDistinct twin here exists only as the verification
    baseline (bounds-style oracle, the approx_distinct_parts pattern):
    lgConfigK=12 → rsd ≈ 1.04/√4096 ≈ 1.6%; the assert allows 4σ.
    """
    ev = t(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    rsd = 0.0163
    return (
        merged.join(exact, "event_type")
        .select(
            "event_type",
            "n_days",
            "exact_users",
            (
                F.abs(F.col("_est") - F.col("exact_users"))
                <= F.lit(4 * rsd) * F.col("exact_users")
            ).alias("merged_in_bounds"),
        )
    )


@query(
    "events_value_ewma",
    oracle="""
    WITH seq AS (
      SELECT user_id, list(value ORDER BY epoch_us(ts), event_id) AS vs
      FROM events GROUP BY user_id
    )
    SELECT user_id, CAST(len(vs) AS BIGINT) AS n_events,
      list_reduce(vs, (a, x) -> x * 0.2 + a * 0.8) AS ewma
    FROM seq
    """,
)
def events_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event value —
    the sequential-fold pattern WITHOUT a Python UDF: collect the
    user's values in (event-time, id) total order and fold with the
    higher-order ``aggregate`` (acc = 0.2·x + 0.8·acc, seeded with the
    first value).

    Cross-engine determinism falls out of the shape itself: both
    engines execute the SAME sequence of IEEE double ops in the SAME
    order (Spark ``aggregate`` ≡ DuckDB ``list_reduce``, both
    left-folds), so the result is bit-identical with no decimal
    snapping needed — unlike commutative double sums, where order is
    engine-chosen.

    One shuffle on user_id; per-user arrays are bounded by a key's
    event count (the sessionization bound). At 100 TB with pathological
    hot keys you'd pre-chunk the fold (segment EWMAs compose:
    acc' = acc·0.8^k + segment_contribution).
    """
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        "value",
    )
    seq = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("us", "event_id", "value"))
        ).alias("seq")
    )
    return seq.select(
        "user_id",
        F.size("seq").cast("long").alias("n_events"),
        F.expr(
            "aggregate(slice(transform(seq, s -> s.value), 2, size(seq) - 1),"
            " seq[0].value, (a, x) -> x * 0.2D + a * 0.8D)"
        ).alias("ewma"),
    )


@query(
    "events_rolling_median",
    oracle="""
    SELECT event_id, user_id,
      median(value) OVER (
        PARTITION BY user_id
        ORDER BY epoch_us(ts), event_id
        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
      ) AS rolling_median
    FROM events
    """,
)
def events_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling robust statistic: median of each user's last 5 events
    (4 preceding + current) in event-time order — the outlier-resistant
    smoother for noisy metrics, where a rolling MEAN would chase every
    spike.

    Spark has no windowed median, so the window collects its frame into
    an array and the median is pure array expressions: sort, pick the
    middle (odd) or average the two middles (even) — exactly
    quantile_cont(0.5) semantics, so the DuckDB windowed ``median``
    (linear interpolation at 0.5 = mean of the two middles) is an EXACT
    oracle; both engines do the identical (a+b)/2 IEEE op.

    One shuffle on user_id; frame arrays are constant-size (5), so the
    collect_list-per-row memory is O(1) per row at any scale — this is
    the standard recipe until a native windowed percentile lands.
    """
    ev = t(spark, sf_dir, "events")
    us = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us, F.col("event_id"))
        .rowsBetween(-4, 0)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    return ev.select(
        "event_id",
        "user_id",
        _interp_median(arr).alias("rolling_median"),
    )


def _interp_median(arr):
    """quantile_cont(0.5) of a SORTED array column: middle element
    (odd n) or mean of the two middles (even n) — the same (a+b)/2
    IEEE op DuckDB's median/mad interpolation performs."""
    n = F.size(arr)
    return F.when(
        n % 2 == 1, F.element_at(arr, (n / 2 + 1).cast("int"))
    ).otherwise(
        (
            F.element_at(arr, (n / 2).cast("int"))
            + F.element_at(arr, (n / 2 + 1).cast("int"))
        )
        / 2
    )


@query(
    "events_robust_outliers",
    oracle="""
    SELECT event_id, user_id,
      median(value) OVER w AS rolling_med,
      mad(value) OVER w AS rolling_mad,
      abs(value - median(value) OVER w) > 3 * mad(value) OVER w AS is_outlier
    FROM events
    WINDOW w AS (
      PARTITION BY user_id
      ORDER BY epoch_us(ts), event_id
      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
    )
    """,
)
def events_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust online outlier flag: |x − rolling median| > 3·MAD over
    each user's last-5-event frame. Median/MAD (not mean/stddev)
    because one spike inflates a stddev enough to hide the NEXT spike —
    the classic robust-statistics argument; events_value_zscore is the
    non-robust twin.

    Spark has neither windowed median nor mad, so the frame is
    collected into a constant-size array and both statistics are array
    expressions: interpolated median of the sorted frame, then
    interpolated median of sorted absolute deviations — exactly
    DuckDB's windowed median/mad semantics, op for op, so the oracle
    is EXACT including the boolean threshold.
    """
    ev = t(spark, sf_dir, "events")
    us = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us, F.col("event_id"))
        .rowsBetween(-4, 0)
    )
    staged = ev.select(
        "event_id",
        "user_id",
        "value",
        F.array_sort(F.collect_list("value").over(w)).alias("_frame"),
    ).withColumn("rolling_med", _interp_median(F.col("_frame")))
    devs = F.array_sort(
        F.transform(
            F.col("_frame"), lambda x: F.abs(x - F.col("rolling_med"))
        )
    )
    return (
        staged.withColumn("rolling_mad", _interp_median(devs))
        .withColumn(
            "is_outlier",
            F.abs(F.col("value") - F.col("rolling_med"))
            > 3 * F.col("rolling_mad"),
        )
        .select(
            "event_id", "user_id", "rolling_med", "rolling_mad", "is_outlier"
        )
    )


@query(
    "key_skew_profile",
    oracle="""
    WITH c AS (
      SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
    )
    SELECT 'events.user_id' AS key_name,
      CAST(COUNT(*) AS BIGINT) AS n_keys,
      CAST(SUM(cnt) AS BIGINT) AS n_rows,
      CAST(MAX(cnt) AS BIGINT) AS max_cnt,
      CAST(MAX(cnt) AS DOUBLE) / (CAST(SUM(cnt) AS DOUBLE) / COUNT(*))
        AS skew_ratio
    FROM c
    """,
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/agg-key skew diagnostic: per-key cardinality summary for a
    prospective shuffle key — the measurement you run BEFORE choosing
    between a plain shuffle, AQE skew-split, or explicit salting
    (operators/partitioning.py:salted_*). ``skew_ratio`` is
    max-key-count over mean-key-count: ~1 means uniform; tens-to-
    thousands means the hottest key serializes one reducer and salting
    pays for itself.

    Two-level aggregate (per-key counts → one summary row), partial
    agg on both levels — the profile costs one scan regardless of
    table size, which is why it belongs in the nightly stats job at
    100 TB."""
    ev = t(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    return c.agg(
        F.lit("events.user_id").alias("key_name"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").cast("long").alias("max_cnt"),
        (
            F.max("cnt").cast("double")
            / (F.sum("cnt").cast("double") / F.count(F.lit(1)))
        ).alias("skew_ratio"),
    )


@query(
    "orders_price_rank_dist",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
      percent_rank() OVER w AS pr,
      cume_dist() OVER w AS cd
    FROM orders
    WINDOW w AS (
      PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey
    )
    """,
)
def orders_price_rank_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-position window functions: percent_rank ((rank−1)/(n−1))
    and cume_dist (rows ≤ current / n) of each order's price within its
    status group. The ORDER BY carries the key tiebreak so both are
    computed over an identical TOTAL order in both engines — the exact
    integer-ratio formulas then match bit-for-bit (single IEEE
    division). Completes the ranking-family surface next to
    rank/dense_rank/ntile (acctbal queries).

    Scale shape (r4): o_orderstatus has 3 values, so PARTITION BY
    status puts a third of the fact table on ONE task each — the
    few-huge-groups trap (orders_priority_exact_median). Instead the
    global ranking primitive ranks the COMPOSITE order (status, price,
    orderkey) across balanced range partitions, and the per-group rank
    is recovered as rn − min(rn per group) + 1 via a 3-row broadcast
    join; the ratios are then identical to the window forms because
    the total order makes rank ≡ row_number."""
    from ..operators import ranking as R

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    rdf, _n = R.ranked(
        o,
        [F.asc("o_orderstatus"), F.asc("o_totalprice"), F.asc("o_orderkey")],
        rn_col="_rn",
    )
    rdf = rdf.localCheckpoint(eager=False)  # feeds group stats + output
    g = rdf.groupBy("o_orderstatus").agg(
        F.min("_rn").alias("_rn0"), F.count(F.lit(1)).alias("_cnt")
    )
    lrn = (F.col("_rn") - F.col("_rn0") + 1).cast("double")
    n = F.col("_cnt").cast("double")
    return rdf.join(F.broadcast(g), "o_orderstatus").select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("_cnt") > 1, (lrn - 1) / (n - 1))
        .otherwise(F.lit(0.0))
        .alias("pr"),
        (lrn / n).alias("cd"),
    )


@query(
    "events_trimmed_mean",
    oracle="""
    WITH b AS (
      SELECT event_type,
        quantile_cont(value, 0.1) AS p10,
        quantile_cont(value, 0.9) AS p90
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, b.p10, b.p90,
      CAST(COUNT(*) AS BIGINT) AS n_kept,
      CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        AS trimmed_mean
    FROM events e JOIN b ON e.event_type = b.event_type
    WHERE e.value >= b.p10 AND e.value <= b.p90
    GROUP BY e.event_type, b.p10, b.p90
    """,
)
def events_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trimmed mean per event type: drop each group's tails outside
    [p10, p90] before averaging — the robust-aggregation cousin of the
    median/MAD family for metrics where a handful of extreme values
    (bot bursts, price glitches) swamp a plain mean.

    Exact interpolated percentiles (the documented small-group path —
    percentile_approx is the 100 TB swap-in, see approx_quantile_price)
    computed per group then broadcast back; the kept-range mean is a
    DECIMAL-exact sum over 2-decimal values, so the oracle matches
    bit-for-bit. Two aggregates + one broadcast join, no window."""
    ev = t(spark, sf_dir, "events")
    b = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.1)").alias("p10"),
        F.expr("percentile(value, 0.9)").alias("p90"),
    )
    return (
        ev.join(F.broadcast(b), "event_type")
        .filter((F.col("value") >= F.col("p10")) & (F.col("value") <= F.col("p90")))
        .groupBy("event_type", "p10", "p90")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("trimmed_mean"),
        )
    )


@query(
    "events_value_histogram",
    oracle="""
    WITH mm AS (
      SELECT min(value) AS lo, max(value) AS hi FROM events
    ),
    b AS (
      SELECT least(CAST(floor((value - lo) / ((hi - lo) / 20) ) AS INT), 19)
               AS bucket,
             lo, hi
      FROM events, mm
    )
    SELECT CAST(bucket AS INT) AS bucket,
      CAST(lo + bucket * ((hi - lo) / 20) AS DOUBLE) AS bucket_lo,
      CAST(COUNT(*) AS BIGINT) AS n
    FROM b GROUP BY bucket, lo, hi
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bucket histogram of event values — the
    distribution-profiling primitive behind data cards and drift
    monitors. Global min/max is a 1-row broadcast (the allowlisted
    scalar-subquery shape); bucket index is floor((v − lo)/width) with
    the max value clamped into the last bucket — every step a single
    deterministic IEEE op, so the oracle is exact, bucket edges
    included. One scan + one tiny groupBy; no sort, no window."""
    ev = t(spark, sf_dir, "events").select("value")
    mm = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / 20
    bucket = F.least(
        F.floor((F.col("value") - F.col("lo")) / width).cast("int"), F.lit(19)
    )
    return (
        ev.crossJoin(F.broadcast(mm))
        .select(bucket.alias("bucket"), "lo", "hi")
        .groupBy("bucket", "lo", "hi")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            "bucket",
            (F.col("lo") + F.col("bucket") * ((F.col("hi") - F.col("lo")) / 20))
            .cast("double")
            .alias("bucket_lo"),
            "n",
        )
    )


@query(
    "events_dow_hour_heatmap",
    oracle="""
    SELECT CAST(dayofweek(CAST(ts AS DATE)) + 1 AS INT) AS dow,
      CAST(hour(ts) AS INT) AS hh,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic heatmap: event count + value by (day-of-week, hour) —
    the seasonality profile behind capacity planning and anomaly
    baselines. One scan-side date-part projection + one tiny groupBy
    (≤ 168 cells at any scale). NB Spark dayofweek is 1=Sunday,
    DuckDB 0=Sunday — the oracle maps (+1), same as order_date_parts.
    """
    ev = t(spark, sf_dir, "events")
    return (
        ev.select(
            F.dayofweek(F.col("ts").cast("date")).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hh"),
            "value",
        )
        .groupBy("dow", "hh")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )


@query(
    "orders_price_drift_psi",
    oracle="""
    WITH a AS (
      SELECT greatest(least(CAST(floor(o_totalprice / 50000) AS INT), 9), 0) AS bucket
      FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1998-01-01'
    ),
    b AS (
      SELECT greatest(least(CAST(floor(o_totalprice / 50000) AS INT), 9), 0) AS bucket
      FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1998-01-01'
    ),
    ca AS (SELECT bucket, COUNT(*) AS n FROM a GROUP BY bucket),
    cb AS (SELECT bucket, COUNT(*) AS n FROM b GROUP BY bucket),
    tot AS (SELECT (SELECT COUNT(*) FROM a) AS na,
                   (SELECT COUNT(*) FROM b) AS nb),
    grid AS (SELECT CAST(u.g AS INT) AS bucket FROM UNNEST(range(0, 10)) AS u(g)),
    j AS (
      SELECT g.bucket,
             COALESCE(ca.n, 0) AS ca_n, COALESCE(cb.n, 0) AS cb_n
      FROM grid g
      LEFT JOIN ca ON ca.bucket = g.bucket
      LEFT JOIN cb ON cb.bucket = g.bucket
    )
    SELECT bucket,
      (ca_n + 0.5) / (na + 5.0) AS share_a,
      (cb_n + 0.5) / (nb + 5.0) AS share_b,
      CAST(CAST(((ca_n + 0.5) / (na + 5.0) - (cb_n + 0.5) / (nb + 5.0))
                * ln(((ca_n + 0.5) / (na + 5.0)) / ((cb_n + 0.5) / (nb + 5.0)))
           AS DECIMAL(28,6)) AS DOUBLE) AS psi_term
    FROM j CROSS JOIN tot
    """,
)
def orders_price_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift between two order-price
    snapshots (pre/post 1998) — the standard production monitor for
    'did this column's distribution move between ingests'. Fixed
    equi-width buckets (floor(price/50k), clamped into [0, 9] from
    BOTH ends — the lower clamp keeps a hypothetical negative value
    from silently vanishing below bucket 0) keep the binning
    deterministic and snapshot-independent; counts ride ONE
    scan each (partition-prunable by the date predicate); the bucket
    grid is a 10-row literal so zero-count buckets still appear with
    Laplace-smoothed shares (+0.5 / +0.5·B). Cross-engine
    determinism: shares are single IEEE divisions of exact integers;
    each PSI term is snapped to DECIMAL(28,6) (the bigram-LM idiom)
    because ln() may differ by 1 ulp between libm and the JVM.
    Consumers sum psi_term; the per-bucket rows localize WHICH band
    drifted (PSI > 0.2 of any single bucket = actionable drift)."""
    o = t(spark, sf_dir, "orders")
    bucket = F.greatest(
        F.least(F.floor(F.col("o_totalprice") / 50000).cast("int"), F.lit(9)),
        F.lit(0),
    ).alias("bucket")
    pre = F.col("o_orderdate").cast("date") < "1998-01-01"
    ca = (
        o.filter(pre).select(bucket).groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("ca_n"))
    )
    cb = (
        o.filter(~pre).select(bucket).groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cb_n"))
    )
    tot = (
        o.agg(
            F.sum(pre.cast("long")).alias("na"),
            F.sum((~pre).cast("long")).alias("nb"),
        )
    )
    grid = spark.range(10).select(F.col("id").cast("int").alias("bucket"))
    share_a = (F.col("ca_n") + 0.5) / (F.col("na") + 5.0)
    share_b = (F.col("cb_n") + 0.5) / (F.col("nb") + 5.0)
    return (
        grid.join(F.broadcast(ca), "bucket", "left")
        .join(F.broadcast(cb), "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.coalesce(F.col("ca_n"), F.lit(0)).alias("ca_n"),
            F.coalesce(F.col("cb_n"), F.lit(0)).alias("cb_n"),
            "na",
            "nb",
        )
        .select(
            "bucket",
            share_a.alias("share_a"),
            share_b.alias("share_b"),
            ((share_a - share_b) * F.log(share_a / share_b))
            .cast("decimal(28,6)")
            .cast("double")
            .alias("psi_term"),
        )
    )


@query(
    "events_value_trend_ols",
    oracle="""
    WITH st AS (
      SELECT event_type,
        COUNT(*) AS n,
        CAST(SUM(CAST(epoch_us(ts) // 1000000 - 1700000000 AS DECIMAL(18,0))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        CAST(SUM(CAST((epoch_us(ts) // 1000000 - 1700000000) * (epoch_us(ts) // 1000000 - 1700000000)
             AS DECIMAL(28,0))) AS DOUBLE) AS sxx,
        CAST(SUM(CAST((epoch_us(ts) // 1000000 - 1700000000) * value AS DECIMAL(28,6)))
             AS DOUBLE) AS sxy
      FROM events GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
      ROUND(CASE WHEN n * sxx - sx * sx > 0
           THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) ELSE 0.0 END, 12)
        AS slope,
      ROUND(CASE WHEN n * sxx - sx * sx > 0
           THEN (sy - sx * (n * sxy - sx * sy) / (n * sxx - sx * sx)) / n
           ELSE sy / n END, 9) AS intercept
    FROM st
    """,
)
def events_value_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group closed-form OLS trend (the SQL-standard regr_slope /
    regr_intercept family): is each event type's value drifting over
    time? ONE scan + one small groupBy — the moment sums (Σx, Σy, Σx²,
    Σxy) are the sufficient statistics, so the fact table never moves
    twice and the per-group state is four numbers regardless of group
    size (at 100 TB this is a map-side-combine aggregate like any
    count/sum).

    Engine-exact rather than using the built-in regr_* aggregates:
    those accumulate doubles in engine-chosen order (plan-dependent
    last-ulp drift); here each product is ONE IEEE multiply
    (bit-identical in both engines), x is offset to a small epoch base
    (keeps x² inside exact integer range), the sums ride DECIMAL
    (order-independent), and the closed-form division is a fixed scalar
    op sequence on identical doubles."""
    ev = t(spark, sf_dir, "events")
    x = F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000") - F.lit(1700000000)
    st = (
        ev.select(
            "event_type",
            x.alias("x"),
            F.col("value").alias("y"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("x").cast("decimal(18,0)")).cast("double").alias("sx"),
            F.sum(F.col("y").cast("decimal(18,6)")).cast("double").alias("sy"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(28,0)"))
            .cast("double")
            .alias("sxx"),
            F.sum((F.col("x").cast("double") * F.col("y")).cast("decimal(28,6)"))
            .cast("double")
            .alias("sxy"),
        )
    )
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / det
    # ROUND-snapped outputs: the compound (sy - sx*slope)/n arithmetic
    # can differ in the last ulp across engines (FMA fusion choice);
    # the snap removes that while keeping ~7+ significant digits
    return st.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(F.when(det > 0, slope).otherwise(F.lit(0.0)), 12).alias("slope"),
        F.round(
            F.when(det > 0, (F.col("sy") - F.col("sx") * slope) / F.col("n"))
            .otherwise(F.col("sy") / F.col("n")),
            9,
        ).alias("intercept"),
    )


@query(
    "events_hourly_value_interp",
    oracle="""
    WITH hb AS (
      SELECT user_id, epoch_us(ts) // 3600000000 AS h, value FROM events
      WHERE user_id % 25 = 0
    ),
    obs AS (
      SELECT user_id, h,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS v
      FROM hb GROUP BY 1, 2
    ),
    span AS (SELECT user_id, MIN(h) AS mn, MAX(h) AS mx FROM hb GROUP BY 1),
    spine AS (
      SELECT user_id, u.h FROM span, UNNEST(generate_series(mn, mx)) AS u(h)
    ),
    j AS (
      SELECT s.user_id, s.h, o.v FROM spine s
      LEFT JOIN obs o ON o.user_id = s.user_id AND o.h = s.h
    ),
    w AS (
      SELECT user_id, h, v,
        last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
          ROWS UNBOUNDED PRECEDING) AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY h
          ROWS UNBOUNDED PRECEDING) AS ph,
        first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY h
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
      FROM j
    )
    SELECT user_id, CAST(h AS BIGINT) AS hour_idx,
      v IS NOT NULL AS observed,
      ROUND(CASE WHEN v IS NOT NULL THEN v
                 ELSE pv + (nv - pv) * CAST(h - ph AS DOUBLE) / (nh - ph)
            END, 9) AS value_interp
    FROM w
    """,
)
def events_hourly_value_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over the hourly gap-filled series — the
    third member of the imputation family (zero-fill:
    events_hourly_gapfill; LOCF: events_last_purchase_ffill): missing
    hours take the straight line between the neighboring OBSERVED
    hours. The spine is bounded per user (min..max observed hour), so
    its endpoints are always observed and no extrapolation case
    exists.

    One shuffle on user_id; the four neighbor columns (prev/next value
    and hour) come from ignore-nulls running windows over the SAME
    sorted partition — one window pass, not a self-join per gap.
    Observed hourly means are davg-exact; the interpolation ratio is
    compound double arithmetic, so the output is ROUND-snapped (the
    OLS/FMA precedent). User subset (mod 25) keeps the dense spine
    output driver-gate-sized at every SF — the operator itself has no
    such limit."""
    e = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id") % 25 == 0)
        .select(
            "user_id",
            F.expr("unix_micros(cast(ts as timestamp)) div 3600000000").alias("h"),
            "value",
        )
    )
    obs = e.groupBy("user_id", "h").agg(
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("v")
    )
    spine = (
        e.groupBy("user_id")
        .agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
        .select("user_id", F.explode(F.sequence("mn", "mx")).alias("h"))
    )
    j = spine.join(obs, ["user_id", "h"], "left")
    wp = Window.partitionBy("user_id").orderBy("h").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wn = Window.partitionBy("user_id").orderBy("h").rowsBetween(
        0, Window.unboundedFollowing
    )
    h_obs = F.when(F.col("v").isNotNull(), F.col("h"))
    filled = (
        j.withColumn("pv", F.last("v", ignorenulls=True).over(wp))
        .withColumn("ph", F.last(h_obs, ignorenulls=True).over(wp))
        .withColumn("nv", F.first("v", ignorenulls=True).over(wn))
        .withColumn("nh", F.first(h_obs, ignorenulls=True).over(wn))
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        (F.col("h") - F.col("ph")).cast("double") / (F.col("nh") - F.col("ph"))
    )
    return filled.select(
        "user_id",
        F.col("h").alias("hour_idx"),
        F.col("v").isNotNull().alias("observed"),
        F.round(
            F.when(F.col("v").isNotNull(), F.col("v")).otherwise(interp), 9
        ).alias("value_interp"),
    )


@query(
    "orders_price_decile_bins",
    oracle="""
    WITH e AS (
      SELECT quantile_cont(o_totalprice,
        [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS es
      FROM orders
    )
    SELECT CAST(len(list_filter(e.es, x -> o.o_totalprice >= x)) AS INT)
             AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           MIN(o.o_totalprice) AS min_price,
           MAX(o.o_totalprice) AS max_price
    FROM orders o, e
    GROUP BY 1
    """,
)
def orders_price_decile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile discretizer (the ML feature-binning op): exact global
    decile edges -> per-row bin id = number of edges at or below the
    value -> bounded per-bin summary. The 9-edge array is a 1-row
    aggregate broadcast over the scan (allowlisted scalar BNLJ shape);
    binning is a 9-element codegen'd filter per row, no sort of the
    fact. Exact interpolated edges (percentile ≡ quantile_cont) make
    every bin boundary — and therefore every count — engine-identical.
    At 100 TB swap the edge computation for percentile_approx (same
    plan shape; the discretizer itself is unchanged)."""
    o = t(spark, sf_dir, "orders")
    qs = [round(0.1 * i, 1) for i in range(1, 10)]
    edges = o.agg(
        F.expr(
            f"percentile(o_totalprice, array({', '.join(str(q) for q in qs)}))"
        ).alias("es")
    )
    return (
        o.crossJoin(F.broadcast(edges))
        .select(
            F.expr("size(filter(es, x -> o_totalprice >= x))").cast("int").alias("bin"),
            "o_totalprice",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


@query(
    "orders_incremental_agg_merge",
    oracle="""
    WITH base AS (
      SELECT o_orderstatus, COUNT(*) AS n,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
        MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx
      FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '2000-01-01'
      GROUP BY 1
    ),
    delta AS (
      SELECT o_orderstatus, COUNT(*) AS n,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
        MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx
      FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '2000-01-01'
      GROUP BY 1
    ),
    merged AS (
      SELECT o_orderstatus, SUM(n) AS n, SUM(s) AS s,
             MIN(mn) AS mn, MAX(mx) AS mx
      FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
      GROUP BY 1
    )
    SELECT o_orderstatus, CAST(n AS BIGINT) AS n_orders,
      CAST(s AS DOUBLE) AS total_price, mn AS min_price, mx AS max_price,
      CAST(s AS DOUBLE) / n AS avg_price
    FROM merged
    """,
)
def orders_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance: a persisted base
    aggregate (pre-2000 orders) is refreshed by MERGING a delta
    aggregate — union of partial states + re-aggregation (counts/sums
    add, min/max combine, avg derives from merged sum/count) — without
    ever rescanning the base fact partition. The algebraic-aggregate
    property every nightly-refresh rollup at 100 TB relies on (the
    HLL rollup is its sketch-tier sibling); the oracle replays the
    same merge relationally, and pytest pins merge ≡ full recompute.
    DECIMAL partial sums make the merge exact, so derived averages
    match a from-scratch aggregation bit-for-bit."""
    o = t(spark, sf_dir, "orders")
    cutoff = F.col("o_orderdate").cast("date") < "2000-01-01"

    def agg_of(df):
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"),
            F.min("o_totalprice").alias("mn"),
            F.max("o_totalprice").alias("mx"),
        )

    base = agg_of(o.filter(cutoff))
    delta = agg_of(o.filter(~cutoff))
    merged = (
        base.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s").alias("s"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
    )
    return merged.select(
        "o_orderstatus",
        F.col("n").cast("long").alias("n_orders"),
        F.col("s").cast("double").alias("total_price"),
        F.col("mn").alias("min_price"),
        F.col("mx").alias("max_price"),
        (F.col("s").cast("double") / F.col("n")).alias("avg_price"),
    )


@query(
    "funnel_hours_to_convert",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS tus FROM events
    ),
    s1 AS (SELECT user_id, MIN(tus) AS t1 FROM e
           WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(tus) AS t2 FROM e
           JOIN s1 ON s1.user_id = e.user_id
           WHERE event_type = 'purchase' AND tus > t1 GROUP BY e.user_id),
    lat AS (SELECT (t2 - t1) / 3600e6 AS hours
            FROM s2 JOIN s1 ON s1.user_id = s2.user_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           round(quantile_cont(hours, 0.5), 6) AS median_hours,
           round(quantile_cont(hours, 0.9), 6) AS p90_hours,
           round(AVG(hours), 6) AS avg_hours
    FROM lat
    """,
)
def funnel_hours_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: hours from each user's FIRST
    view to their first subsequent purchase, summarized as median /
    p90 / mean — the time-to-convert companion of the stage-count
    funnel (funnel_view_click_purchase). Same one-shuffle shape: the
    oracle's two stage-joins are folded into a single sorted-array
    latch per user (two BIGINTs of state), so the event fact shuffles
    once regardless of stage count; the latency summary then reduces
    user-level rows (|users| ≪ |events|). Exact integer microsecond
    differences make the double division identical in both engines.

    Scale shape (r4): latency hours are CONTINUOUS, so the exact
    ``percentile()`` aggregate would buffer one entry per distinct
    value — effectively the whole converted-user dimension in one
    buffer. The interpolated median/p90 instead come from the ranking
    primitive over the checkpointed per-user latency table (rank
    bracket + the a·(1−f)+b·f lerp both engines use — see
    median_price_by_status)."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        "event_type",
    )
    per_user = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("tus", "event_type"))).alias("evs")
    )
    latched = per_user.withColumn(
        "f",
        F.expr(
            """
            aggregate(
              evs,
              named_struct('t1', CAST(NULL AS BIGINT),
                           't2', CAST(NULL AS BIGINT)),
              (acc, e) -> named_struct(
                't1', CASE WHEN acc.t1 IS NULL AND e.event_type = 'view'
                           THEN e.tus ELSE acc.t1 END,
                't2', CASE WHEN acc.t2 IS NULL AND acc.t1 IS NOT NULL
                                AND e.event_type = 'purchase' AND e.tus > acc.t1
                           THEN e.tus ELSE acc.t2 END))
            """
        ),
    ).filter(F.col("f.t2").isNotNull())
    hours = latched.select(
        "user_id",
        ((F.col("f.t2") - F.col("f.t1")) / F.lit(3600e6)).alias("hours"),
    )
    from ..operators import ranking as R

    rdf, n = R.ranked(
        hours, [F.asc("hours"), F.asc("user_id")], rn_col="rn"
    )
    rdf = rdf.localCheckpoint(eager=False)  # feeds both quantile picks + stats

    def interp(q: float, out: str):
        h = (n - 1) * q  # python floats: exact n, same IEEE product
        lo = int(h)
        frac = h - lo
        v_lo = F.max(F.when(F.col("rn") == lo + 1, F.col("hours")))
        v_hi = F.max(
            F.when(F.col("rn") == min(lo + 2, max(n, 1)), F.col("hours"))
        )
        return F.round(
            v_lo * F.lit(1.0 - frac) + F.coalesce(v_hi, v_lo) * F.lit(frac), 6
        ).alias(out)

    return rdf.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        interp(0.5, "median_hours"),
        interp(0.9, "p90_hours"),
        F.round(F.avg("hours"), 6).alias("avg_hours"),
    )


@query(
    "orders_weekday_seasonality",
    oracle="""
    WITH d AS (
      SELECT dayname(o_orderdate) AS weekday, SUM(o_totalprice) AS revenue,
             COUNT(*) AS n_orders
      FROM orders GROUP BY dayname(o_orderdate)
    )
    SELECT weekday, round(revenue, 2) AS revenue,
           CAST(n_orders AS BIGINT) AS n_orders,
           round(revenue / SUM(revenue) OVER (), 6) AS revenue_share,
           round(7 * revenue / SUM(revenue) OVER (), 6) AS seasonal_index
    FROM d
    """,
)
def orders_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index: each weekday's revenue share scaled
    by 7, so 1.0 = flat seasonality (the multiplicative seasonal factor
    a forecasting pipeline divides out before trend fitting). Weekday
    names (date_format 'EEEE' ≡ DuckDB dayname) avoid the engines'
    conflicting day-NUMBER conventions (Spark dayofweek is 1=Sunday,
    DuckDB 0=Sunday). One 7-group aggregate + a 7-row window — the
    share normalization costs nothing after the reduce, at any scale."""
    orders = t(spark, sf_dir, "orders")
    d = orders.groupBy(
        F.date_format("o_orderdate", "EEEE").alias("weekday")
    ).agg(
        F.sum("o_totalprice").alias("rev"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    w = Window.partitionBy()
    return d.select(
        "weekday",
        F.round("rev", 2).alias("revenue"),
        "n_orders",
        F.round(F.col("rev") / F.sum("rev").over(w), 6).alias("revenue_share"),
        F.round(F.lit(7) * F.col("rev") / F.sum("rev").over(w), 6).alias(
            "seasonal_index"
        ),
    )


@query(
    "orders_kfold_assign",
    oracle="""
    WITH f AS (
      SELECT CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                  AS BIGINT) % 5 AS fold,
             o_totalprice, o_custkey
      FROM orders
    )
    SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_orders,
           round(AVG(o_totalprice), 6) AS avg_price,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM f GROUP BY fold
    """,
)
def orders_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment (k=5) by the
    engine-portable md5 key hash (conv(substr(md5)) ≡ DuckDB's hex
    cast) — folds survive re-runs, repartitioning, and appends exactly
    like doc_train_split's split column, and the per-fold count /
    price / customer profile is the balance check a CV harness runs
    before trusting fold-wise metrics. Scan-side expression + one
    5-group aggregate; COUNT(DISTINCT) partial-aggregates per fold."""
    orders = t(spark, sf_dir, "orders")
    fold = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 5
    ).alias("fold")
    return (
        orders.select(fold, "o_totalprice", "o_custkey")
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.avg("o_totalprice"), 6).alias("avg_price"),
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        )
    )


@query(
    "customer_km_survival",
    oracle="""
    WITH o AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS d FROM orders
    ),
    as_of AS (SELECT MAX(d) AS mx FROM o),
    gaps AS (
      SELECT o_custkey,
             datediff('day', d,
               lead(d) OVER (PARTITION BY o_custkey ORDER BY d, o_custkey)
             ) AS dur,
             1 AS is_event
      FROM o
      QUALIFY lead(d) OVER (PARTITION BY o_custkey ORDER BY d, o_custkey)
              IS NOT NULL
      UNION ALL
      SELECT o.o_custkey, datediff('day', MAX(o.d), as_of.mx) AS dur,
             0 AS is_event
      FROM o, as_of GROUP BY o.o_custkey, as_of.mx
    ),
    tbl AS (
      SELECT dur, SUM(is_event) AS d_t, COUNT(*) AS c_t
      FROM gaps GROUP BY dur
    ),
    risk AS (
      SELECT dur, d_t,
        SUM(c_t) OVER (ORDER BY dur DESC ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS n_at_risk
      FROM tbl
    ),
    terms AS (
      SELECT dur, d_t, n_at_risk,
        CASE WHEN d_t < n_at_risk
             THEN ln(1 - CAST(d_t AS DOUBLE) / n_at_risk) ELSE 0 END AS lt,
        CASE WHEN d_t >= n_at_risk THEN 1 ELSE 0 END AS dies_out
      FROM risk
    ),
    km AS (
      SELECT dur, d_t, n_at_risk,
        CASE WHEN MAX(dies_out) OVER (ORDER BY dur ASC ROWS BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW) = 1 THEN 0.0
             ELSE exp(SUM(lt) OVER (ORDER BY dur ASC ROWS BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW)) END AS surv
      FROM terms
    )
    SELECT CAST(dur AS BIGINT) AS gap_days, CAST(d_t AS BIGINT) AS n_events,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           round(surv, 6) AS survival
    FROM km WHERE d_t > 0
    """,
)
def customer_km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of customer inter-order gaps WITH
    right-censoring: consecutive-order gaps are events ("the customer
    came back after d days"); the tail gap from each customer's last
    order to the corpus as-of date is censored (they had not come back
    YET) — dropping it would bias churn-time estimates low, which is
    exactly what KM corrects. S(t) = Π_{s≤t} (1 − d_s/n_s) with n_s
    counted over event AND censored gaps still at risk.

    Spark shape: one lead() window per customer (single shuffle of
    (custkey, date) pairs), a per-customer max for the censored tail
    riding the same shuffle, then the life table is |distinct gap|
    rows — the KM product is a cumulative window over that tiny table
    via exp(sum(ln)), sequential in both engines so the doubles agree
    bit-for-bit before the 1e-6 round."""
    o = t(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("d")
    )
    as_of = o.agg(F.max("d").alias("mx"))
    w = Window.partitionBy("o_custkey").orderBy("d", "o_custkey")
    ev = (
        o.withColumn("nxt", F.lead("d").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(
            F.datediff("nxt", "d").alias("dur"), F.lit(1).alias("is_event")
        )
    )
    cens = (
        o.groupBy("o_custkey")
        .agg(F.max("d").alias("last_d"))
        .crossJoin(F.broadcast(as_of))
        .select(
            F.datediff("mx", "last_d").alias("dur"), F.lit(0).alias("is_event")
        )
    )
    tbl = (
        ev.unionByName(cens)
        .groupBy("dur")
        .agg(
            F.sum("is_event").alias("d_t"),
            F.count(F.lit(1)).alias("c_t"),
        )
    )
    w_desc = Window.orderBy(F.desc("dur")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_asc = Window.orderBy(F.asc("dur")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # At the largest observed gap every at-risk subject can die
    # (d_t = n_at_risk): the survival product hits exactly 0 there, and
    # ln(0) is an error in DuckDB / null in Spark — so the zero is
    # carried as an explicit dies-out flag instead of a log term.
    km = (
        tbl.withColumn("n_at_risk", F.sum("c_t").over(w_desc))
        .withColumn(
            "lt",
            F.when(
                F.col("d_t") < F.col("n_at_risk"),
                F.log(F.lit(1) - F.col("d_t").cast("double") / F.col("n_at_risk")),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "dies_out", (F.col("d_t") >= F.col("n_at_risk")).cast("int")
        )
        .withColumn(
            "surv",
            F.when(F.max("dies_out").over(w_asc) == 1, F.lit(0.0)).otherwise(
                F.exp(F.sum("lt").over(w_asc))
            ),
        )
    )
    return km.filter(F.col("d_t") > 0).select(
        F.col("dur").cast("long").alias("gap_days"),
        F.col("d_t").cast("long").alias("n_events"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.round("surv", 6).alias("survival"),
    )


@query(
    "orders_benford_digits",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                  1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit)
    SELECT digit, CAST(n AS BIGINT) AS n,
      round(CAST(n AS DOUBLE) / SUM(n) OVER (), 6) AS obs_share,
      round(log10(1 + 1.0 / digit), 6) AS benford_share,
      round(POWER(CAST(n AS DOUBLE) / SUM(n) OVER ()
                  - log10(1 + 1.0 / digit), 2)
            / log10(1 + 1.0 / digit), 6) AS chi2_contrib
    FROM c
    """,
)
def orders_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit of order amounts —
    the classic fraud / synthetic-data screen: organic multiplicative
    amounts follow P(d) = log10(1+1/d); fabricated or clipped data
    shows up as per-digit deviations, reported here as share-scaled
    chi-square contributions. One 9-group aggregate over a scan-side
    digit expression + a 9-row window for the share normalization —
    nothing here grows with data size except the single count
    aggregate."""
    orders = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = orders.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy()
    obs = F.col("n").cast("double") / F.sum("n").over(w)
    ben = F.log10(F.lit(1) + F.lit(1.0) / F.col("digit"))
    return c.select(
        "digit",
        F.col("n").cast("long").alias("n"),
        F.round(obs, 6).alias("obs_share"),
        F.round(ben, 6).alias("benford_share"),
        F.round(F.pow(obs - ben, F.lit(2)) / ben, 6).alias("chi2_contrib"),
    )


@query(
    "orders_priority_status_chi2",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority AS pri, o_orderstatus AS st, COUNT(*) AS n
      FROM orders GROUP BY o_orderpriority, o_orderstatus
    ),
    tot AS (
      SELECT pri, st, CAST(n AS DOUBLE) AS n,
        SUM(n) OVER (PARTITION BY pri) AS row_tot,
        SUM(n) OVER (PARTITION BY st) AS col_tot,
        SUM(n) OVER () AS grand
      FROM c
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
      CAST((COUNT(DISTINCT pri) - 1) * (COUNT(DISTINCT st) - 1) AS BIGINT)
        AS dof,
      round(SUM(POWER(n - row_tot * col_tot / grand, 2)
                / (row_tot * col_tot / grand)), 6) AS chi2
    FROM tot
    """,
)
def orders_priority_status_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between order priority
    and order status — the categorical-association companion to the
    mutual-information query (events_mi_type_hour): MI measures the
    dependence in bits, chi-square gives the classical test statistic
    whose null distribution (χ² with (r−1)(c−1) dof) a monitoring
    pipeline thresholds on. Shape: one (r×c)-group aggregate over the
    fact scan, then windows over the TINY contingency table for the
    marginals — cell count is bounded by the category domains, never
    by data size."""
    c = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("pri"),
            F.col("o_orderstatus").alias("st"),
        )
        .agg(F.count(F.lit(1)).alias("n0"))
        .select("pri", "st", F.col("n0").cast("double").alias("n"))
    )
    tot = (
        c.withColumn("row_tot", F.sum("n").over(Window.partitionBy("pri")))
        .withColumn("col_tot", F.sum("n").over(Window.partitionBy("st")))
        .withColumn("grand", F.sum("n").over(Window.partitionBy()))
    )
    e = F.col("row_tot") * F.col("col_tot") / F.col("grand")
    return tot.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        (
            (F.countDistinct("pri") - 1) * (F.countDistinct("st") - 1)
        ).cast("long").alias("dof"),
        F.round(F.sum(F.pow(F.col("n") - e, F.lit(2)) / e), 6).alias("chi2"),
    )


@query(
    "events_ab_conversion_ztest",
    oracle="""
    WITH u AS (
      SELECT user_id, user_id % 2 AS grp,
        CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  >= 10 THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT grp, COUNT(*) AS n, SUM(converted) AS conv
      FROM u GROUP BY grp
    ),
    w AS (
      SELECT
        MAX(CASE WHEN grp = 0 THEN n END) AS n0,
        MAX(CASE WHEN grp = 0 THEN conv END) AS c0,
        MAX(CASE WHEN grp = 1 THEN n END) AS n1,
        MAX(CASE WHEN grp = 1 THEN conv END) AS c1
      FROM g
    )
    SELECT CAST(n0 AS BIGINT) AS n_control, CAST(c0 AS BIGINT) AS conv_control,
      CAST(n1 AS BIGINT) AS n_treat, CAST(c1 AS BIGINT) AS conv_treat,
      round(CAST(c0 AS DOUBLE) / n0, 6) AS rate_control,
      round(CAST(c1 AS DOUBLE) / n1, 6) AS rate_treat,
      round((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
            / nullif(sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                   * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                   * (1.0 / n0 + 1.0 / n1)), 0), 6) AS z_score
    FROM w
    """,
)
def events_ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on user conversion (≥10 purchases — every
    user in this corpus buys at least once, so the deeper threshold
    keeps the pooled rate off the degenerate 0/1 endpoints) between
    two deterministic assignment buckets (user_id parity standing in
    for an A/B split) — pooled-variance z statistic, the experiment-
    analysis primitive next to the KS and chi-square tests. Shape: one
    per-user reduce (boolean-OR rides the map-side combine), one
    2-group rollup, then fixed scalar arithmetic on four exact integer
    counts — identical IEEE op sequence in both engines, so the 1e-6
    round is cosmetic."""
    ev = t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        (
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            >= 10
        )
        .cast("int")
        .alias("converted")
    )
    g = (
        u.withColumn("grp", F.col("user_id") % 2)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("converted").alias("conv"),
        )
    )
    w = g.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("grp") == 0, F.col("conv"))).alias("c0"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 1, F.col("conv"))).alias("c1"),
    )
    p0 = F.col("c0").cast("double") / F.col("n0")
    p1 = F.col("c1").cast("double") / F.col("n1")
    pp = (F.col("c0") + F.col("c1")).cast("double") / (F.col("n0") + F.col("n1"))
    se = F.sqrt(
        pp * (F.lit(1) - pp)
        * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1"))
    )
    return w.select(
        F.col("n0").cast("long").alias("n_control"),
        F.col("c0").cast("long").alias("conv_control"),
        F.col("n1").cast("long").alias("n_treat"),
        F.col("c1").cast("long").alias("conv_treat"),
        F.round(p0, 6).alias("rate_control"),
        F.round(p1, 6).alias("rate_treat"),
        F.round((p1 - p0) / F.nullif(se, F.lit(0.0)), 6).alias("z_score"),
    )


@query(
    "orders_lorenz_deciles",
    oracle="""
    WITH cust AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY o_custkey
    ),
    deciled AS (
      SELECT rev, NTILE(10) OVER (ORDER BY rev ASC, o_custkey ASC) AS decile
      FROM cust
    ),
    g AS (
      SELECT decile, COUNT(*) AS n_customers, SUM(rev) AS rev
      FROM deciled GROUP BY decile
    )
    SELECT CAST(decile AS INT) AS decile,
      CAST(n_customers AS BIGINT) AS n_customers,
      CAST(rev AS DOUBLE) AS revenue,
      round(CAST(SUM(rev) OVER (ORDER BY decile ASC ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS DOUBLE)
            / CAST(SUM(rev) OVER () AS DOUBLE), 6) AS cum_revenue_share
    FROM g
    """,
)
def orders_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve at customer-decile resolution: cumulative revenue
    share of the poorest k/10 of customers — the curve whose area gap
    IS the Gini coefficient (orders_revenue_gini) and whose top-end
    complement is the Pareto 80/20 check (orders_pareto_revenue); this
    gives the full inequality PROFILE rather than either scalar.

    Shape: per-customer DECIMAL-exact revenue reduce, then NTILE(10)
    as a closed-form expression of the exact global row_number from
    the range-partitioned two-pass primitive (operators/ranking.py)
    under a total order (rev asc, custkey asc tiebreak —
    deterministic decile edges), then cumulative windows over the
    10-row decile table (constant cardinality — audited allowlist).
    The fact table shuffles once; the customer dimension never enters
    a single-partition sort."""
    from ..operators import ranking as R

    cust = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(dsum(F.col("o_totalprice")).alias("rev"))
    )
    rdf, n = R.ranked(
        cust, [F.asc("rev"), F.asc("o_custkey")], rn_col="_rn"
    )
    deciled = rdf.select(
        "rev", R.ntile_from_rn(F.col("_rn"), n, 10).alias("decile")
    )
    # re-enter DECIMAL for the decile rollup: dsum returns DOUBLE, and a
    # double-sum of 15 per-customer revenues is accumulation-order-
    # dependent; the 2dp decimal re-cast is exact (each rev IS a 2dp
    # quantity) and keeps every window sum below order-independent.
    g = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(F.col("rev").cast("decimal(18,2)")).alias("rev"),
    )
    w_cum = Window.orderBy(F.asc("decile")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    return g.select(
        "decile",
        "n_customers",
        F.col("rev").cast("double").alias("revenue"),
        F.round(
            F.sum("rev").over(w_cum).cast("double")
            / F.sum("rev").over(w_all).cast("double"),
            6,
        ).alias("cum_revenue_share"),
    )


@query(
    "nation_premium_full_outer",
    oracle="""
    WITH c AS (
      SELECT c_nationkey AS nk, COUNT(*) AS n_cust,
             SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS cust_bal
      FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey
    ),
    s AS (
      SELECT s_nationkey AS nk, COUNT(*) AS n_supp,
             SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS supp_bal
      FROM supplier WHERE s_acctbal > 2000 GROUP BY s_nationkey
    )
    SELECT COALESCE(c.nk, s.nk) AS nationkey,
      CAST(COALESCE(c.n_cust, 0) AS BIGINT) AS n_premium_customers,
      CAST(COALESCE(c.cust_bal, 0) AS DOUBLE) AS premium_cust_bal,
      CAST(COALESCE(s.n_supp, 0) AS BIGINT) AS n_premium_suppliers,
      CAST(COALESCE(s.supp_bal, 0) AS DOUBLE) AS premium_supp_bal,
      (c.nk IS NOT NULL AND s.nk IS NOT NULL) AS both_sides
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)
def nation_premium_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER reconciliation of premium customers vs premium
    suppliers per nation — the one join type the registry didn't yet
    exercise. Both inputs are pre-aggregated to nation grain BEFORE
    the join (the aggregate-then-join discipline: the outer join runs
    on ≤25-row sides, never on the facts), the thresholds make each
    side sparse so both null-padding directions are real rows, and
    COALESCE(0) fills follow the reference's Ghost-Department
    convention (SURVEY C12). DECIMAL sums keep balances exact."""
    c = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("nk_c"))
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("cust_bal"),
        )
    )
    s = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 2000)
        .groupBy(F.col("s_nationkey").alias("nk_s"))
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum(F.col("s_acctbal").cast("decimal(18,2)")).alias("supp_bal"),
        )
    )
    return c.join(s, c["nk_c"] == s["nk_s"], "full_outer").select(
        F.coalesce("nk_c", "nk_s").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).cast("long").alias("n_premium_customers"),
        F.coalesce(F.col("cust_bal").cast("double"), F.lit(0.0)).alias(
            "premium_cust_bal"
        ),
        F.coalesce("n_supp", F.lit(0)).cast("long").alias("n_premium_suppliers"),
        F.coalesce(F.col("supp_bal").cast("double"), F.lit(0.0)).alias(
            "premium_supp_bal"
        ),
        (F.col("nk_c").isNotNull() & F.col("nk_s").isNotNull()).alias(
            "both_sides"
        ),
    )
