"""Round-5 registry additions: record-linkage workflow operators
(sorted-neighborhood blocking, Fellegi-Sunter decision scoring),
robust statistics at scale (per-group Theil-Sen trend, Poisson
bootstrap confidence intervals), and two-sided graph importance
(HITS hubs/authorities).

Registered into the same QUERIES/ORACLE dicts as plans.registry.
Import side effects: importing this module populates the registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import dedup as D
from ..operators import graph as G
from ..operators import text as TX
from ..operators.ranking import ranked
from .registry import query, t


@query(
    "customer_sorted_neighborhood_pairs",
    oracle="""
    WITH r AS (
      SELECT c_custkey, CAST(c_acctbal AS DECIMAL(12,2)) AS bal,
             c_mktsegment,
             ROW_NUMBER() OVER (ORDER BY c_acctbal, c_custkey) AS rn
      FROM customer
    )
    SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
           CAST(b.rn - a.rn AS INT) AS rn_gap,
           CAST(b.bal - a.bal AS DOUBLE) AS bal_diff,
           a.c_mktsegment AS segment
    FROM r a JOIN r b ON b.rn BETWEEN a.rn + 1 AND a.rn + 5
    WHERE a.c_mktsegment = b.c_mktsegment
      AND b.bal - a.bal <= 5.00
    """,
)
def customer_sorted_neighborhood_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo, SIGMOD'95) —
    the OTHER classical linkage candidate generator next to the
    equi-join blocking family (blocked_levenshtein/jaro): sort the
    corpus by a fuzzy key and compare only rows within a fixed window
    w of each other in rank order. Catches near-duplicates that land
    in DIFFERENT equi-blocks (e.g. a typo'd blocking key) at a
    guaranteed w·n pair budget.

    Scale shape: the global rank comes from operators.ranking.ranked
    (range-repartition + broadcast per-partition offsets — no
    single-partition WindowExec at any cardinality), and the
    "neighbors within w" join is an EQUI-join on rn_b = rn_a + i with
    i exploded from 1..w — w·n rows, shuffled once on the rank, never
    an inequality join. Verification (same segment, balance within
    5.00) runs on the joined pair, mirroring the verify step of every
    blocked linkage operator."""
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_acctbal").cast("decimal(12,2)").alias("bal"),
        "c_mktsegment",
    )
    # rank on the DECIMAL-cast balance: order-equivalent to the raw
    # 2-decimal double the oracle sorts by (the cast is monotone)
    rnk, _n = ranked(
        cust, [F.col("bal").asc(), F.col("c_custkey").asc()], rn_col="rn"
    )
    a = rnk.select(
        F.col("c_custkey").alias("custkey_a"),
        F.col("bal").alias("bal_a"),
        F.col("c_mktsegment").alias("segment"),
        F.col("rn").alias("rn_a"),
    ).withColumn("rn_gap", F.explode(F.sequence(F.lit(1), F.lit(5))))
    b = rnk.select(
        F.col("c_custkey").alias("custkey_b"),
        F.col("bal").alias("bal_b"),
        F.col("c_mktsegment").alias("segment_b"),
        (F.col("rn")).alias("rn_b"),
    )
    return (
        a.withColumn("rn_b", F.col("rn_a") + F.col("rn_gap"))
        .join(b, "rn_b")
        .filter(
            (F.col("segment") == F.col("segment_b"))
            & ((F.col("bal_b") - F.col("bal_a")) <= 5.00)
        )
        .select(
            "custkey_a",
            "custkey_b",
            F.col("rn_gap").cast("int").alias("rn_gap"),
            (F.col("bal_b") - F.col("bal_a")).cast("double").alias("bal_diff"),
            "segment",
        )
    )


@query(
    "linkage_fellegi_sunter",
    oracle="""
    WITH p AS (
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        round(jaro_winkler_similarity(a.c_name, b.c_name), 6) AS jw_sim,
        a.c_mktsegment AS seg_a, b.c_mktsegment AS seg_b,
        CAST(a.c_acctbal AS DECIMAL(12,2)) AS bal_a,
        CAST(b.c_acctbal AS DECIMAL(12,2)) AS bal_b
      FROM customer a JOIN customer b ON a.c_nationkey = b.c_nationkey
      WHERE a.c_custkey % 25 = 0 AND b.c_custkey % 25 = 13
    ),
    s AS (
      SELECT id_a, id_b, jw_sim,
        (CASE WHEN jw_sim >= 0.95 THEN 317 ELSE -317 END
         + CASE WHEN seg_a = seg_b THEN 200 ELSE -200 END
         + CASE WHEN abs(bal_a - bal_b) <= 500.00 THEN 122 ELSE -122 END
        ) AS cents
      FROM p
    )
    SELECT id_a, id_b, jw_sim,
      CAST(cents AS DOUBLE) / CAST(100.0 AS DOUBLE) AS fs_score,
      CASE WHEN cents >= 400 THEN 'match'
           WHEN cents >= 0 THEN 'possible'
           ELSE 'non_match' END AS verdict
    FROM s
    """,
)
def linkage_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (JASA 1969) on top
    of the blocked Jaro-Winkler candidate generator: each pair gets an
    agreement vector over three fields (name JW ≥ 0.95, same segment,
    balance within 500.00) and a log-likelihood-ratio score — fixed
    log2(m/u) weights 3.17 / 2.00 / 1.22, positive on agreement,
    negative on disagreement — then the classic three-way decision:
    match / possible (clerical review) / non-match. This is the
    DECISION layer the pair generators (blocked_*, SNM) feed; the
    registry previously stopped at similarity scores.

    Determinism: weights live in integer CENTS so the score sum is
    exact integer arithmetic in both engines (double literals would
    accumulate left-to-right float sums; DuckDB parses 3.17 as
    DECIMAL, Spark as DOUBLE — cents sidestep the type divergence);
    the one division back to a score is a single IEEE op. The JW
    kernel is fuzz-pinned bit-for-bit against DuckDB's builtin
    (tests/test_extensions.py), which is what lets a probabilistic
    linkage pipeline carry an exact value-hash oracle.

    Scale: candidate pairs come from the nation-blocked equi-join
    (budget-guarded, see assert_blocked_pair_budget); attribute
    lookups are two joins back to the customer dim on its key."""
    cust = t(spark, sf_dir, "customer")
    pairs = D.blocked_jaro_winkler_pairs(
        cust.filter(F.col("c_custkey") % 25 == 0),
        cust.filter(F.col("c_custkey") % 25 == 13),
        text_col="c_name",
        id_col="c_custkey",
        block_cols=("c_nationkey",),
        min_sim=0.0,
    )
    attrs = cust.select(
        "c_custkey",
        F.col("c_acctbal").cast("decimal(12,2)").alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )
    p = pairs.join(
        attrs.select(
            F.col("c_custkey").alias("id_a"),
            F.col("bal").alias("bal_a"),
            F.col("seg").alias("seg_a"),
        ),
        "id_a",
    ).join(
        attrs.select(
            F.col("c_custkey").alias("id_b"),
            F.col("bal").alias("bal_b"),
            F.col("seg").alias("seg_b"),
        ),
        "id_b",
    )
    cents = (
        F.when(F.col("jw_sim") >= 0.95, 317).otherwise(-317)
        + F.when(F.col("seg_a") == F.col("seg_b"), 200).otherwise(-200)
        + F.when(
            F.abs(F.col("bal_a") - F.col("bal_b")) <= 500.00, 122
        ).otherwise(-122)
    )
    return p.withColumn("cents", cents).select(
        "id_a",
        "id_b",
        "jw_sim",
        (F.col("cents").cast("double") / F.lit(100.0).cast("double")).alias(
            "fs_score"
        ),
        F.when(F.col("cents") >= 400, "match")
        .when(F.col("cents") >= 0, "possible")
        .otherwise("non_match")
        .alias("verdict"),
    )


@query(
    "events_theil_sen_trend",
    oracle="""
    WITH hourly AS (
      SELECT event_type, CAST(ts AS DATE) AS day, hour(ts) AS h,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      FROM events GROUP BY event_type, CAST(ts AS DATE), hour(ts)
    ),
    slopes AS (
      SELECT a.event_type, a.day, a.h AS h_a, b.h AS h_b,
        (b.v - a.v) / (b.h - a.h) AS slope
      FROM hourly a
      JOIN hourly b ON b.event_type = a.event_type AND b.day = a.day
                   AND b.h > a.h
    ),
    r AS (
      SELECT event_type, day, slope,
        ROW_NUMBER() OVER (PARTITION BY event_type, day
                           ORDER BY slope, h_a, h_b) AS rn,
        COUNT(*) OVER (PARTITION BY event_type, day) AS n
      FROM slopes
    )
    SELECT event_type, day, CAST(MAX(n) AS BIGINT) AS n_pairs,
      round(AVG(slope), 9) AS ts_slope
    FROM r
    WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
    GROUP BY event_type, day
    """,
)
def events_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator per (event_type, day): the
    slope is the MEDIAN of all pairwise slopes between the day's
    hourly totals — a 29.3%-breakdown-point alternative to the OLS
    trend (events_value_trend_ols), immune to the single-hour spikes
    that swing least-squares.

    Scale shape: the corpus aggregates once to the hourly grid
    (calendar-bounded: ≤ 24 rows per (type, day) at ANY SF — the
    pairwise "quadratic" stage is ≤ C(24,2)=276 rows per group,
    a constant), so the self-join and the per-group median window both
    run on bounded-cardinality groups. The median is positional
    (row_number under a total order; even counts average the two
    middle values — two-operand AVG is order-free), matching the
    engine's exact-percentile discipline."""
    ev = t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type",
            F.to_date("ts").alias("day"),
            F.hour("ts").alias("h"),
        )
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("v"))
        .localCheckpoint(eager=False)  # self-joined below: build once
    )
    a = hourly.select(
        "event_type", "day", F.col("h").alias("h_a"), F.col("v").alias("v_a")
    )
    b = hourly.select(
        "event_type", "day", F.col("h").alias("h_b"), F.col("v").alias("v_b")
    )
    slopes = (
        a.join(b, ["event_type", "day"])
        .filter(F.col("h_b") > F.col("h_a"))
        .select(
            "event_type",
            "day",
            "h_a",
            "h_b",
            ((F.col("v_b") - F.col("v_a")) / (F.col("h_b") - F.col("h_a"))).alias(
                "slope"
            ),
        )
    )
    w = Window.partitionBy("event_type", "day").orderBy("slope", "h_a", "h_b")
    r = slopes.select(
        "event_type",
        "day",
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type", "day")).alias("n"),
    )
    return (
        r.filter(
            (F.col("rn") == F.floor((F.col("n") + 1) / 2))
            | (F.col("rn") == F.floor((F.col("n") + 2) / 2))
        )
        .groupBy("event_type", "day")
        .agg(
            F.max("n").cast("long").alias("n_pairs"),
            F.round(F.avg("slope"), 9).alias("ts_slope"),
        )
    )


@query(
    "graph_hits_scores",
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    h0 AS (SELECT DISTINCT src, 1.0 AS h FROM e0),
    a1r AS (
      SELECT e.dst, CAST(SUM(CAST(h.h AS DECIMAL(28,15))) AS DOUBLE) AS raw
      FROM e0 e JOIN h0 h ON h.src = e.src GROUP BY e.dst
    ),
    a1 AS (
      SELECT dst, raw / (SELECT CAST(SUM(CAST(raw AS DECIMAL(28,15)))
                                 AS DOUBLE) FROM a1r) AS a
      FROM a1r
    ),
    h1r AS (
      SELECT e.src, CAST(SUM(CAST(a.a AS DECIMAL(28,15))) AS DOUBLE) AS raw
      FROM e0 e JOIN a1 a ON a.dst = e.dst GROUP BY e.src
    ),
    h1 AS (
      SELECT src, raw / (SELECT CAST(SUM(CAST(raw AS DECIMAL(28,15)))
                                 AS DOUBLE) FROM h1r) AS h
      FROM h1r
    ),
    a2r AS (
      SELECT e.dst, CAST(SUM(CAST(h.h AS DECIMAL(28,15))) AS DOUBLE) AS raw
      FROM e0 e JOIN h1 h ON h.src = e.src GROUP BY e.dst
    ),
    a2 AS (
      SELECT dst, raw / (SELECT CAST(SUM(CAST(raw AS DECIMAL(28,15)))
                                 AS DOUBLE) FROM a2r) AS a
      FROM a2r
    ),
    h2r AS (
      SELECT e.src, CAST(SUM(CAST(a.a AS DECIMAL(28,15))) AS DOUBLE) AS raw
      FROM e0 e JOIN a2 a ON a.dst = e.dst GROUP BY e.src
    ),
    h2 AS (
      SELECT src, raw / (SELECT CAST(SUM(CAST(raw AS DECIMAL(28,15)))
                                 AS DOUBLE) FROM h2r) AS h
      FROM h2r
    )
    SELECT 'hub' AS role, CAST(src AS BIGINT) AS node,
           round(h, 12) AS score FROM h2
    UNION ALL
    SELECT 'authority' AS role, CAST(dst AS BIGINT) AS node,
           round(a, 12) AS score FROM a2
    """,
)
def graph_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (operators.graph.hits) over the
    directed customer→supplier trade graph: a customer is a strong hub
    if it buys from strong suppliers, a supplier a strong authority if
    strong customers buy from it — the two-sided importance signal
    PageRank's single score collapses (graph_pagerank_suppliers ranks
    the SAME graph one-dimensionally; together they bracket the graph
    family's centrality coverage).

    EXACT oracle for the mutually-recursive iteration, by the pagerank
    recipe: every per-node sum and both L1 normalization totals run
    over DECIMAL(28,15)-cast terms (order-independent), each
    normalization is one IEEE division, and the oracle unrolls 2 full
    iterations (4 half-steps) as chained CTEs, snapping output to 12
    decimals. Per half-step: ONE equi-join + ONE aggregate + a 1-row
    scalar broadcast — no cartesian products, no driver adjacency."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1000000).alias("dst"),
        )
        .distinct()
    )
    hubs, auths = G.hits(edges, iters=2)
    return hubs.select(
        F.lit("hub").alias("role"),
        F.col("node").cast("long").alias("node"),
        F.round("hub", 12).alias("score"),
    ).unionByName(
        auths.select(
            F.lit("authority").alias("role"),
            F.col("node").cast("long").alias("node"),
            F.round("authority", 12).alias("score"),
        )
    )


# Poisson(1) CDF cut points (cumulative e^{-1}/k! for k = 0..7); the
# repr round-trips identically to the nearest double in both engines.
_POISSON_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
    0.9999897508033253,
]

_POISSON_CASE_SQL = (
    "CASE "
    + " ".join(
        f"WHEN u < {c!r} THEN {k}" for k, c in enumerate(_POISSON_CDF)
    )
    + " ELSE 8 END"
)


@query(
    "orders_bootstrap_mean_ci",
    oracle=f"""
    WITH reps AS (
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS price,
             u.b AS b,
             CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '_'
                                      || CAST(u.b AS VARCHAR)), 1, 15))
                  AS BIGINT) / 1152921504606846976.0 AS u
      FROM orders, UNNEST(range(0, 24)) AS u(b)
    ),
    w AS (SELECT b, price, {_POISSON_CASE_SQL} AS w FROM reps),
    means AS (
      SELECT b, CAST(SUM(w * price) AS DOUBLE)
                / CAST(SUM(w) AS DOUBLE) AS m
      FROM w GROUP BY b
    ),
    r AS (
      SELECT b, m, ROW_NUMBER() OVER (ORDER BY m, b) AS rn FROM means
    )
    SELECT CAST(24 AS INT) AS n_replicates,
      round(CAST((SELECT CAST(SUM(CAST(m AS DECIMAL(28,12))) AS DOUBLE)
                  FROM means) AS DOUBLE) / CAST(24.0 AS DOUBLE), 6)
        AS boot_mean,
      (SELECT m FROM r WHERE rn = 2) AS ci_low,
      (SELECT m FROM r WHERE rn = 23) AS ci_high,
      (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
              / COUNT(o_totalprice) FROM orders) AS sample_mean
    """,
)
def orders_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (Chamandy et al., Google 2012 — "Estimating
    uncertainty for massive data streams") of the mean order price:
    each of 24 replicates reweights every row by an independent
    Poisson(1) draw instead of resampling n-of-n (which would need a
    global shuffle per replicate); replicate means then give the
    percentile CI. THE way to put error bars on a statistic at 100 TB:
    one scan computes all replicates, no resampled copies ever exist.

    Determinism: the Poisson draw inverts the CDF on an md5-derived
    60-bit uniform per (row, replicate) — the doc_train_split
    derandomization — against literal cut points that round-trip to
    identical doubles in both engines; replicate means are exact
    DECIMAL sums divided once; the replicate-mean average is
    DECIMAL-snapped. The 24-row rank window is constant-bounded
    (GLOBAL_WINDOW_OK).

    Scale: explode(0..23) fans each row to its replicates SCAN-SIDE
    (24× rows into a 24-group partial aggregate — map-side combined,
    so the shuffle carries 24·P rows, not 24·n)."""
    orders = t(spark, sf_dir, "orders")
    u = (
        F.expr(
            "CAST(conv(substr(md5(concat(CAST(o_orderkey AS STRING), '_', "
            "CAST(b AS STRING))), 1, 15), 16, 10) AS BIGINT)"
        )
        / F.lit(1152921504606846976.0)
    )
    w_col = F.lit(8)
    for k in range(len(_POISSON_CDF) - 1, -1, -1):
        w_col = F.when(F.col("u") < F.lit(_POISSON_CDF[k]), k).otherwise(w_col)
    from ..operators.partitioning import fan_out

    # fan_out before the 24x explode: the single-row-group local
    # testdata scans as ONE partition, serializing 3.6M md5 draws on
    # one core (measured 6 s → <1 s parallel)
    reps = (
        fan_out(
            orders.select(
                "o_orderkey",
                F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
            )
        )
        .withColumn("b", F.explode(F.sequence(F.lit(0), F.lit(23))))
        .withColumn("u", u)
        .withColumn("w", w_col)
    )
    # 24 rows feeding TWO consumers (boot_mean agg + the rank window):
    # truncate lineage or the 24x-fanout md5 pipeline runs twice
    means = (
        reps.groupBy("b")
        .agg(
            (
                F.sum(F.col("w") * F.col("price")).cast("double")
                / F.sum("w").cast("double")
            ).alias("m")
        )
        .localCheckpoint(eager=False)
    )
    r = means.select(
        "b", "m", F.row_number().over(Window.orderBy("m", "b")).alias("rn")
    )
    boot_mean = means.agg(
        F.round(
            F.sum(F.col("m").cast("decimal(28,12)")).cast("double")
            / F.lit(24.0).cast("double"),
            6,
        ).alias("boot_mean")
    )
    ci = r.agg(
        F.max(F.when(F.col("rn") == 2, F.col("m"))).alias("ci_low"),
        F.max(F.when(F.col("rn") == 23, F.col("m"))).alias("ci_high"),
    )
    sample = orders.agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double")
            / F.count("o_totalprice")
        ).alias("sample_mean")
    )
    return (
        boot_mean.crossJoin(ci)
        .crossJoin(sample)
        .select(
            F.lit(24).cast("int").alias("n_replicates"),
            "boot_mean",
            "ci_low",
            "ci_high",
            "sample_mean",
        )
    )


@query(
    "events_cuped_adjusted_effect",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
        CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
             THEN 'A' ELSE 'B' END AS arm,
        CAST(COALESCE(SUM(CASE WHEN day(ts) <= 15
                          THEN CAST(value AS DECIMAL(18,2)) END), 0)
             AS DOUBLE) AS x,
        CAST(COALESCE(SUM(CASE WHEN day(ts) > 15
                          THEN CAST(value AS DECIMAL(18,2)) END), 0)
             AS DOUBLE) AS y
      FROM events GROUP BY user_id
    ),
    pooled AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(x * y AS DECIMAL(28,4))) AS DOUBLE) AS sxy,
        CAST(SUM(CAST(x * x AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(y * y AS DECIMAL(28,4))) AS DOUBLE) AS syy
      FROM per_user
    ),
    th AS (
      SELECT n, sx,
        (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta,
        (sxy - sx * sy / n)
          / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) AS corr
      FROM pooled
    )
    SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
      round(CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6)
        AS mean_y,
      round(CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
            - MAX(th.theta)
              * (CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                 - MAX(th.sx) / MAX(th.n)), 6) AS adj_mean_y,
      round(MAX(th.theta), 6) AS theta,
      round(MAX(th.corr), 6) AS corr_xy
    FROM per_user, th
    GROUP BY arm
    """,
)
def events_cuped_adjusted_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for an A/B readout (Deng, Xu, Kohavi &
    Walker, WSDM'13): users split into arms by a content-free md5 hash,
    the experiment metric y (second-half-of-month spend) is adjusted by
    the pre-period covariate x (first-half spend) with the pooled
    regression coefficient theta = Cov(x,y)/Var(x) — the industry-
    standard way to shrink experiment confidence intervals without
    changing the point estimate's expectation. Reports per-arm raw and
    adjusted means, theta, and the x-y correlation (whose square is the
    variance-reduction fraction).

    Determinism: per-user x/y are exact DECIMAL sums; all pooled
    moments are DECIMAL-snapped (x·y and x² are exact 4-decimal values
    < 2^53, so the double products are exact before snapping); theta/
    corr/adjustment are fixed-shape IEEE chains mirrored operand-for-
    operand in the oracle, and outputs snap to 6 decimals.

    Scale: one groupBy(user) over the fact table, ONE 1-row pooled-
    moment aggregate broadcast back (scalar shape), one 2-group arm
    aggregate. The fact table shuffles once."""
    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.dayofmonth("ts") <= 15,
                    F.col("value").cast("decimal(18,2)"),
                )
            ),
            F.lit(0).cast("decimal(18,2)"),
        )
        .cast("double")
        .alias("x"),
        F.coalesce(
            F.sum(
                F.when(
                    F.dayofmonth("ts") > 15,
                    F.col("value").cast("decimal(18,2)"),
                )
            ),
            F.lit(0).cast("decimal(18,2)"),
        )
        .cast("double")
        .alias("y"),
    ).withColumn(
        "arm",
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
            "A",
        ).otherwise("B"),
    ).localCheckpoint(eager=False)  # consumed by pooled AND per-arm aggs
    pooled = per_user.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast("decimal(18,2)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(18,2)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(28,4)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,4)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(28,4)"))
        .cast("double")
        .alias("syy"),
    )
    th = pooled.select(
        "n",
        "sx",
        (
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        ).alias("theta"),
        (
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / F.sqrt(
                (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
                * (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
            )
        ).alias("corr"),
    )
    return (
        per_user.crossJoin(F.broadcast(th))
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.round(
                F.sum(F.col("y").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_y"),
            F.round(
                F.sum(F.col("y").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
                - F.max("theta")
                * (
                    F.sum(F.col("x").cast("decimal(18,2)")).cast("double")
                    / F.count(F.lit(1))
                    - F.max("sx") / F.max("n")
                ),
                6,
            ).alias("adj_mean_y"),
            F.round(F.max("theta"), 6).alias("theta"),
            F.round(F.max("corr"), 6).alias("corr_xy"),
        )
    )


@query(
    "events_kmv_set_overlap",
    oracle="""
    WITH flags AS (
      SELECT user_id,
        MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS in_a,
        MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_b,
        CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
             AS BIGINT) / 1152921504606846976.0 AS h
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY user_id
    ),
    ra AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h, user_id) AS rn
           FROM flags WHERE in_a = 1),
    rb AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h, user_id) AS rn
           FROM flags WHERE in_b = 1),
    ru AS (SELECT in_a, in_b, h,
                  ROW_NUMBER() OVER (ORDER BY h, user_id) AS rn
           FROM flags),
    st AS (SELECT
      (SELECT COUNT(*) FROM flags WHERE in_a = 1) AS n_a,
      (SELECT COUNT(*) FROM flags WHERE in_b = 1) AS n_b,
      (SELECT COUNT(*) FROM flags) AS n_union,
      (SELECT COUNT(*) FROM flags WHERE in_a = 1 AND in_b = 1) AS n_inter,
      (SELECT h FROM ra WHERE rn = 32) AS u_a,
      (SELECT h FROM rb WHERE rn = 32) AS u_b,
      (SELECT h FROM ru WHERE rn = 32) AS u_u,
      (SELECT COUNT(*) FROM ru
        WHERE rn <= 32 AND in_a = 1 AND in_b = 1) AS c)
    SELECT CAST(32 AS INT) AS k,
      CAST(n_a AS BIGINT) AS n_a,
      round(CASE WHEN n_a >= 32 THEN CAST(31 AS DOUBLE) / u_a
                 ELSE CAST(n_a AS DOUBLE) END, 6) AS est_a,
      CAST(n_b AS BIGINT) AS n_b,
      round(CASE WHEN n_b >= 32 THEN CAST(31 AS DOUBLE) / u_b
                 ELSE CAST(n_b AS DOUBLE) END, 6) AS est_b,
      CAST(n_union AS BIGINT) AS n_union,
      round(CASE WHEN n_union >= 32 THEN CAST(31 AS DOUBLE) / u_u
                 ELSE CAST(n_union AS DOUBLE) END, 6) AS est_union,
      CAST(n_inter AS BIGINT) AS n_inter,
      round(CASE WHEN n_union >= 32
                 THEN CAST(c AS DOUBLE) / CAST(32 AS DOUBLE)
                      * (CAST(31 AS DOUBLE) / u_u)
                 ELSE CAST(n_inter AS DOUBLE) END, 6) AS est_inter
    FROM st
    """,
)
def events_kmv_set_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct sketch with SET
    OPERATIONS (Beyer et al., SIGMOD'07): estimate |clickers|,
    |purchasers|, their union AND their intersection from three 32-hash
    sketches — the set-overlap estimator the HLL family
    (events_users_hll_rollup) cannot provide (HLL unions are lossless
    but intersections via inclusion-exclusion blow up relative error).
    est = (k-1)/h_(k); intersection scales the union estimate by the
    fraction of the union's bottom-k that belongs to both sets; sets
    smaller than k fall back to the exact count (the sketch IS the
    set), so the low-SF gate exercises the fallback branch and the
    higher SFs the estimator branch.

    Determinism: hashes are md5-derived 60-bit uniforms (the engine's
    derandomization contract), so the k-th minimum — and therefore
    every estimate — is an exact deterministic function of the data,
    value-hash-verifiable against the unrolled SQL. Estimates snap to
    6 decimals.

    Scale shape: the fact table aggregates once to per-user flags;
    the three bottom-k legs (A, B, union) run through ONE
    operators.ranking.multi_ranked_frames round (one range shuffle,
    one offsets collect — no single-partition sort of the user
    dimension, no serial per-leg rounds), and a single global
    aggregate over the tagged union extracts every scalar the
    estimators need. At 100 TB you'd keep ONLY the k smallest per
    partition before ranking (a TakeOrdered-shaped refinement the
    rank primitive subsumes)."""
    K = 32
    ev = t(spark, sf_dir, "events")
    flags = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("in_a"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("in_b"),
        )
        .withColumn(
            "h",
            F.expr(
                "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 15), "
                "16, 10) AS BIGINT)"
            )
            / F.lit(1152921504606846976.0),
        )
        .localCheckpoint(eager=False)  # 3 legs of one multi-rank round
    )
    # one multi_ranked_frames round ranks A, B and the union together
    # (one range shuffle, one offsets collect — was 3 serial ranked()
    # rounds), and ONE global aggregate over the tagged union replaces
    # the four crossJoined 1-row scalars (u_a/u_b/u_u+c/n_inter)
    from ..operators.ranking import multi_ranked_frames

    ru, n_totals = multi_ranked_frames(
        {
            "a": flags.filter(F.col("in_a") == 1),
            "b": flags.filter(F.col("in_b") == 1),
            "u": flags,
        },
        [F.col("h"), F.col("user_id")],
        rn_col="rn",
        leg_col="_leg",
    )
    n_a, n_b, n_union = n_totals["a"], n_totals["b"], n_totals["u"]

    def kth(leg: str, out: str):
        return F.max(
            F.when((F.col("_leg") == leg) & (F.col("rn") == K), F.col("h"))
        ).alias(out)

    scalars = ru.agg(
        kth("a", "u_a"),
        kth("b", "u_b"),
        kth("u", "u_u"),
        F.sum(
            F.when(
                (F.col("_leg") == "u")
                & (F.col("rn") <= K)
                & (F.col("in_a") == 1)
                & (F.col("in_b") == 1),
                1,
            ).otherwise(0)
        ).alias("c"),
        F.sum(
            F.when(
                F.col("_leg") == "u", F.col("in_a") * F.col("in_b")
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_inter"),
    )

    def est(n: int, u) -> F.Column:
        if n >= K:
            return F.round(F.lit(float(K - 1)) / u, 6)
        return F.round(F.lit(float(n)), 6)

    est_union_raw = (
        F.lit(float(K - 1)) / F.col("u_u")
        if n_union >= K
        else F.lit(float(n_union))
    )
    est_inter = (
        F.round(
            F.col("c").cast("double") / F.lit(float(K)) * est_union_raw, 6
        )
        if n_union >= K
        else F.round(F.col("n_inter").cast("double"), 6)
    )
    return (
        scalars
        .select(
            F.lit(K).cast("int").alias("k"),
            F.lit(n_a).cast("long").alias("n_a"),
            est(n_a, F.col("u_a")).alias("est_a"),
            F.lit(n_b).cast("long").alias("n_b"),
            est(n_b, F.col("u_b")).alias("est_b"),
            F.lit(n_union).cast("long").alias("n_union"),
            est(n_union, F.col("u_u")).alias("est_union"),
            F.col("n_inter").cast("long").alias("n_inter"),
            est_inter.alias("est_inter"),
        )
    )


@query(
    "vocab_unigram_sampling_ranges",
    oracle="""
    WITH occ AS (
      SELECT u.tok FROM documents,
        UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS u(tok)
    ),
    vocab AS (
      SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS cnt,
        CAST(round(pow(COUNT(*), 0.75), 6) AS DECIMAL(28,6)) AS w
      FROM occ GROUP BY tok
    ),
    cum AS (
      SELECT token, cnt, w,
        ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rn,
        SUM(w) OVER (ORDER BY cnt DESC, token
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS c,
        (SELECT SUM(w) FROM vocab) AS total
      FROM vocab
    )
    SELECT token, cnt, CAST(rn AS BIGINT) AS rn,
      CAST(floor(1048576.0 * (CAST(c - w AS DOUBLE) / CAST(total AS DOUBLE)))
           AS BIGINT) AS start_slot,
      CAST(floor(1048576.0 * (CAST(c AS DOUBLE) / CAST(total AS DOUBLE)))
           AS BIGINT) AS end_slot
    FROM cum
    """,
)
def vocab_unigram_sampling_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-sampling table construction (word2vec / NCE, Mikolov et
    al. 2013): each vocabulary token gets a slot range in a 2^20-slot
    unigram table proportional to count^0.75 — the smoothed-unigram
    noise distribution every skip-gram/NCE trainer draws negatives
    from. A uniform slot lookup then samples tokens with the right
    probabilities; emitting [start_slot, end_slot) ranges instead of a
    materialized table keeps the artifact vocab-sized.

    The cumulative weight runs through operators.ranking.ranked's
    exact distributed cumsum (DECIMAL — order-independent), so the
    construction holds for a billion-token vocabulary where a global
    window would single-partition: this is precisely the few-huge-
    groups shape the ranking primitive was built for. count^0.75 is
    the one transcendental — snapped to 6 decimals BEFORE the decimal
    cumsum, so both engines accumulate identical exact decimals; the
    slot math is floor of one double ratio times a power of two.

    Scale: tokenization explodes scan-side into a map-side-combined
    count; everything after is vocab-dimension."""
    docs = t(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(TX.tokens_col("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn(
            "w",
            F.round(F.pow(F.col("cnt"), 0.75), 6).cast("decimal(28,6)"),
        )
    )
    rnk, _n = ranked(
        vocab,
        [F.col("cnt").desc(), F.col("token").asc()],
        rn_col="rn",
        cumsum_cols={"w": "c"},
    )
    total = vocab.agg(F.sum("w").alias("total"))
    return (
        rnk.crossJoin(F.broadcast(total))
        .select(
            "token",
            "cnt",
            F.col("rn").cast("long").alias("rn"),
            F.floor(
                F.lit(1048576.0)
                * (
                    (F.col("c") - F.col("w")).cast("double")
                    / F.col("total").cast("double")
                )
            )
            .cast("long")
            .alias("start_slot"),
            F.floor(
                F.lit(1048576.0)
                * (F.col("c").cast("double") / F.col("total").cast("double"))
            )
            .cast("long")
            .alias("end_slot"),
        )
    )


@query(
    "orders_content_digest",
    oracle="""
    WITH h AS (
      SELECT CAST(('0x' || substr(md5(
          CAST(o_orderkey AS VARCHAR) || '|' ||
          CAST(o_custkey AS VARCHAR) || '|' ||
          o_orderstatus || '|' ||
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) || '|' ||
          CAST(CAST(o_orderdate AS DATE) AS VARCHAR) || '|' ||
          o_orderpriority), 1, 15)) AS BIGINT) AS rh
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(bit_xor(rh) AS BIGINT) AS digest_xor,
      CAST(CAST(SUM(CAST(rh AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR)
        AS digest_sum
    FROM h
    """,
)
def orders_content_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table content digest — the cheap integrity
    check for replication / migration / snapshot-promotion at 100 TB:
    every row maps to a 60-bit md5 fingerprint of its CANONICALLY
    RENDERED fields (ints and strings verbatim, money via DECIMAL(12,2)
    so both engines print '144449.04', timestamps as dates), and the
    table digest is the XOR plus the exact DECIMAL sum of those
    fingerprints. Both combiners are commutative-associative, so the
    digest is independent of partitioning, ordering, and merge shape —
    two replicas agree iff (with 2^-60 per-row collision odds) they
    hold the same multiset of rows. XOR alone is blind to duplicated-
    row pairs (x ⊕ x = 0); carrying the sum and the count closes that
    classic gap.

    One scan, one 1-row aggregate; no shuffle beyond the final
    combine. The companion to snapshot_diff: the digest says WHETHER
    replicas diverged, the full-outer diff says WHERE."""
    o = t(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("decimal(12,2)").cast("string"),
        F.to_date("o_orderdate").cast("string"),
        F.col("o_orderpriority"),
    )
    return (
        o.select(row_str.alias("row_str_c"))
        .select(
            F.expr(
                "CAST(conv(substr(md5(row_str_c), 1, 15), 16, 10) AS BIGINT)"
            ).alias("rh")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.expr("bit_xor(rh)").cast("long").alias("digest_xor"),
            F.sum(F.col("rh").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .cast("string")
            .alias("digest_sum"),
        )
    )


@query(
    "order_cents_proration",
    oracle="""
    WITH li AS (
      SELECT l_orderkey, l_linenumber,
        CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
          AS e_cents
      FROM lineitem
    ),
    o AS (
      SELECT o_orderkey,
        CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS t_cents
      FROM orders
    ),
    j AS (
      SELECT li.*, o.t_cents,
        SUM(e_cents) OVER (PARTITION BY l_orderkey) AS e_total
      FROM li JOIN o ON o.o_orderkey = li.l_orderkey
    ),
    base AS (
      SELECT l_orderkey, l_linenumber, t_cents,
        (t_cents * e_cents) // e_total AS base_cents,
        (t_cents * e_cents) % e_total AS rem,
        SUM((t_cents * e_cents) // e_total)
          OVER (PARTITION BY l_orderkey) AS base_total
      FROM j
    ),
    alloc AS (
      SELECT l_orderkey, t_cents,
        base_cents
          + CASE WHEN ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                         ORDER BY rem DESC, l_linenumber)
                      <= t_cents - base_total
                 THEN 1 ELSE 0 END AS alloc_cents
      FROM base
    )
    SELECT l_orderkey AS orderkey, CAST(COUNT(*) AS INT) AS n_lines,
      MAX(t_cents) AS order_cents,
      CAST(SUM(alloc_cents) AS BIGINT) AS allocated_cents,
      CAST(MIN(alloc_cents) AS BIGINT) AS min_alloc_cents,
      CAST(MAX(alloc_cents) AS BIGINT) AS max_alloc_cents
    FROM alloc GROUP BY l_orderkey
    """,
)
def order_cents_proration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder proration — the finance-ETL allocation
    primitive: distribute each order's total (in integer CENTS) across
    its line items proportionally to extended price so the allocations
    SUM EXACTLY to the order total (no lost or invented pennies, the
    invariant naive per-line rounding violates). Each line gets
    floor(T·e_i/E) cents; the leftover D = T − Σfloor goes one cent
    each to the D largest remainders (ties broken by line number) —
    the Hamilton/largest-remainder method.

    Exactness is free cross-engine: everything is 64-bit integer
    arithmetic (T·e_i ≤ ~4e14 « 2^63; DIV/MOD identical), so the
    oracle is exact with zero float contracts. Output rolls up per
    order (allocated == total is the auditable invariant; min/max
    expose any mis-allocation).

    Scale: one join on the order key + three windows all PARTITIONED
    BY the order key — group size is the lines-per-order constant
    (≤ 7), never data-scaled; no global window, no driver state."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("e_cents"),
    )
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("t_cents"),
    )
    wp = Window.partitionBy("l_orderkey")
    j = li.join(o, "l_orderkey").withColumn(
        "e_total", F.sum("e_cents").over(wp)
    )
    base = (
        j.withColumn(
            "base_cents",
            F.expr("(t_cents * e_cents) DIV e_total"),
        )
        .withColumn("rem", F.expr("(t_cents * e_cents) % e_total"))
        .withColumn("base_total", F.sum("base_cents").over(wp))
    )
    rn = F.row_number().over(
        Window.partitionBy("l_orderkey").orderBy(
            F.col("rem").desc(), F.col("l_linenumber").asc()
        )
    )
    alloc = base.withColumn(
        "alloc_cents",
        F.col("base_cents")
        + F.when(rn <= F.col("t_cents") - F.col("base_total"), 1).otherwise(0),
    )
    return alloc.groupBy(F.col("l_orderkey").alias("orderkey")).agg(
        F.count(F.lit(1)).cast("int").alias("n_lines"),
        F.max("t_cents").alias("order_cents"),
        F.sum("alloc_cents").alias("allocated_cents"),
        F.min("alloc_cents").alias("min_alloc_cents"),
        F.max("alloc_cents").alias("max_alloc_cents"),
    )


@query(
    "media_gif_frame_stats",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS media_id, CAST(u.f AS INT) AS frame_idx,
      (((doc_id + u.f) % 8) * 9 + 3
        + ((doc_id + 2 * u.f + 1) % 8) * 9 + 3) / 2.0 AS mean_r,
      (((doc_id + u.f) % 8) * 5
        + ((doc_id + 2 * u.f + 1) % 8) * 5) / 2.0 AS mean_g,
      ((255 - ((doc_id + u.f) % 8) * 7)
        + (255 - ((doc_id + 2 * u.f + 1) % 8) * 7)) / 2.0 AS mean_b
    FROM documents, UNNEST(range(0, 2 + doc_id % 3)) AS u(f)
    WHERE doc_id % 3 = 2
    """,
)
def media_gif_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL video-container decode under the driver gate:
    synthesize a deterministic animated GIF per 'video' doc (2 + id%3
    checkerboard frames over an 8-color palette, w = 8 + 2·(id%4),
    h = 6), push it through the pure-Python GIF-LZW decoder
    (operators/codecs.py:decode_gif — variable-width codes, CLEAR
    handling, KwKwK) via multimodal.gif_frame_stats, and emit per-frame
    channel means the oracle re-derives arithmetically: each frame is
    an exact half-half checkerboard of palette colors (doc_id+f)%8 and
    (doc_id+2f+1)%8, so every mean is an integer or half-integer — a
    corrupted LZW table, palette index, or frame boundary cannot match.
    Same closed-form-payload pattern as media_image_stats (PNG) and
    media_jpeg_stats; this one closes the multi-FRAME container gap."""
    from ..operators import multimodal as MM
    from ..operators.partitioning import fan_out

    def gen(batches):
        import numpy as np
        import pandas as pd

        from ..operators.codecs import encode_gif

        pal = np.stack(
            [
                np.arange(8) * 9 + 3,
                np.arange(8) * 5,
                255 - np.arange(8) * 7,
            ],
            axis=1,
        ).astype(np.uint8)
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 2 + did % 3
                w, h = 8 + 2 * (did % 4), 6
                mask = (np.add.outer(np.arange(h), np.arange(w)) % 2)[..., None]
                frames = []
                for f in range(n):
                    c1, c2 = (did + f) % 8, (did + 2 * f + 1) % 8
                    frames.append(
                        np.where(mask == 0, pal[c1], pal[c2]).astype(np.uint8)
                    )
                ids.append(did)
                payloads.append(encode_gif(np.stack(frames), pal))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "kind": ["video"] * len(ids),
                    "payload": payloads,
                }
            )

    docs = fan_out(
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 2)
        .select("doc_id")
    )
    media = docs.mapInPandas(
        gen, schema="media_id long, kind string, payload binary"
    )
    return MM.gif_frame_stats(media)


@query(
    "user_longest_active_streak",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, day(ts) AS d FROM events
    ),
    isl AS (
      SELECT user_id, d,
        d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS grp
      FROM days
    ),
    streaks AS (
      SELECT user_id, grp, COUNT(*) AS len
      FROM isl GROUP BY user_id, grp
    )
    SELECT user_id,
      CAST(SUM(len) AS BIGINT) AS n_active_days,
      CAST(MAX(len) AS BIGINT) AS longest_streak,
      CAST(COUNT(*) AS BIGINT) AS n_streaks
    FROM streaks GROUP BY user_id
    """,
)
def user_longest_active_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: longest run of CONSECUTIVE active days per
    user — the classic streak/retention pattern (row_number delta
    groups consecutive days into islands; a gap shifts the
    day-minus-rank key). Exactly the shape behind "7-day streak"
    product metrics and consecutive-failure alerting.

    Scale: the fact table reduces to distinct (user, day) first (one
    shuffle, map-side combined); the island window partitions BY USER
    over ≤ 31 rows (the events table spans one calendar month —
    calendar-bounded like the Theil-Sen grid), then two tiny
    aggregates. Day keys use day-of-month because the span is one
    month; a multi-month variant would swap in an epoch-day column
    with identical algebra."""
    ev = t(spark, sf_dir, "events")
    days = ev.select("user_id", F.dayofmonth("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn("grp", F.col("d") - F.row_number().over(w))
    streaks = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("len").cast("long").alias("n_active_days"),
        F.max("len").cast("long").alias("longest_streak"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
    )


@query(
    "media_dup_frames",
    oracle="""
    WITH fr AS (
      SELECT doc_id,
        8 + 2 * (doc_id % 4) AS w,
        ((doc_id + u.f) % 8) * 9 + 3 AS c_first_r,
        ((doc_id + 2 * u.f + 1) % 8) * 9 + 3 AS c_second_r
      FROM documents, UNNEST(range(0, 2 + doc_id % 3)) AS u(f)
      WHERE doc_id % 3 = 2
    )
    SELECT CAST(w AS INT) AS width, CAST(c_first_r AS INT) AS c_first_r,
      CAST(c_second_r AS INT) AS c_second_r,
      CAST(COUNT(*) AS BIGINT) AS n_frames,
      CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_media
    FROM fr
    GROUP BY w, c_first_r, c_second_r
    HAVING COUNT(*) > 1
    """,
)
def media_dup_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRAME-level exact deduplication across videos — the video-corpus
    analogue of document exact-dedup (dedup_exact_groups): decode every
    GIF (real GIF-LZW), fingerprint each decoded frame with md5 over
    its pixel bytes + geometry, and group identical frames ACROSS
    media. This is the static-intro/credits/duplicate-shot collapse a
    multimodal training pipeline runs before expensive per-frame
    featurization; only the 16-byte digests ever shuffle, never pixels
    (the Lee-et-al chunk-dedup shape applied to frames).

    The oracle re-derives the duplicate classes in closed form: a
    synthesized checkerboard frame is fully determined by (width,
    first color, second color), so digest-classes and parameter-classes
    agree 1:1; each class reports its representative colors (identical
    across members by construction — a wrong LZW table or frame
    boundary would fracture the classes)."""
    from ..operators.partitioning import fan_out

    def gen_and_digest(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        from ..operators.codecs import decode_gif, encode_gif

        pal = np.stack(
            [
                np.arange(8) * 9 + 3,
                np.arange(8) * 5,
                255 - np.arange(8) * 7,
            ],
            axis=1,
        ).astype(np.uint8)
        for pdf in batches:
            rows = {
                "media_id": [], "digest": [], "width": [],
                "c_first_r": [], "c_second_r": [],
            }
            for did in pdf["doc_id"]:
                did = int(did)
                n = 2 + did % 3
                w, h = 8 + 2 * (did % 4), 6
                mask = (np.add.outer(np.arange(h), np.arange(w)) % 2)[..., None]
                frames = []
                for f in range(n):
                    c1, c2 = (did + f) % 8, (did + 2 * f + 1) % 8
                    frames.append(
                        np.where(mask == 0, pal[c1], pal[c2]).astype(np.uint8)
                    )
                # real container roundtrip: encode, decode, fingerprint
                decoded = decode_gif(encode_gif(np.stack(frames), pal))
                for fr in decoded:
                    dg = hashlib.md5(
                        fr.tobytes() + bytes([fr.shape[0], fr.shape[1]])
                    ).hexdigest()
                    rows["media_id"].append(did)
                    rows["digest"].append(dg)
                    rows["width"].append(fr.shape[1])
                    rows["c_first_r"].append(int(fr[0, 0, 0]))
                    rows["c_second_r"].append(int(fr[0, 1, 0]))
            yield pd.DataFrame(rows)

    docs = fan_out(
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 2)
        .select("doc_id")
    )
    per_frame = docs.mapInPandas(
        gen_and_digest,
        schema=(
            "media_id long, digest string, width int, "
            "c_first_r int, c_second_r int"
        ),
    )
    return (
        per_frame.groupBy("digest")
        .agg(
            F.min("width").alias("width"),
            F.min("c_first_r").alias("c_first_r"),
            F.min("c_second_r").alias("c_second_r"),
            F.count(F.lit(1)).cast("long").alias("n_frames"),
            F.countDistinct("media_id").cast("long").alias("n_media"),
        )
        .filter(F.col("n_frames") > 1)
        .drop("digest")
    )


@query(
    "purchase_attribution_linear",
    oracle="""
    WITH purchases AS (
      SELECT event_id AS purchase_event_id, user_id,
             epoch_us(ts) AS pts, CAST(value AS DECIMAL(18,2)) AS v
      FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT event_id AS touch_event_id, user_id, epoch_us(ts) AS cts
      FROM events WHERE event_type = 'click'
    ),
    pairs AS (
      SELECT p.purchase_event_id, p.v, c.touch_event_id
      FROM purchases p JOIN clicks c
        ON c.user_id = p.user_id
       AND c.cts >= p.pts - 7200000000 AND c.cts < p.pts
    ),
    shares AS (
      SELECT purchase_event_id, touch_event_id,
        round(CAST(v AS DOUBLE)
              / COUNT(*) OVER (PARTITION BY purchase_event_id), 6)
          AS attributed_value
      FROM pairs
    )
    SELECT purchase_event_id, touch_event_id, attributed_value
    FROM shares
    """,
)
def purchase_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution: every click in the 2 hours
    before a purchase receives an equal share value/n of that
    purchase — the marketing-analytics credit model between
    first-touch and last-touch (the as-of join family covers
    last-touch; this one needs the full touch SET per conversion).

    Scale shape: the time-range pair join is BUCKETIZED into an
    equi-join (coarse 2h buckets on (user, window), exact bounds as a
    post-filter — each click lands in one bucket, each purchase probes
    two; no BroadcastNestedLoopJoin at any size, same discipline as
    range_clicks_before_purchase), and the per-purchase touch count is
    a window over the purchase key — group size bounded by clicks per
    user per 2h, never data-scaled. The share division is one IEEE op
    on a DECIMAL-exact purchase value, snapped to 6 decimals."""
    US2H = 7200 * 1000000
    ev = t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        F.col("user_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("pts"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("touch_event_id"),
        F.col("user_id").alias("c_user"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("cts"),
    ).withColumn("cbucket", F.expr(f"cts DIV {US2H}"))
    p2 = p.withColumn(
        "pbucket",
        F.explode(
            F.expr(f"transform(sequence(0, 1), i -> (pts DIV {US2H}) - i)")
        ),
    )
    pairs = p2.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("pbucket") == F.col("cbucket"))
        & (F.col("cts") >= F.col("pts") - US2H)
        & (F.col("cts") < F.col("pts")),
    )
    w = Window.partitionBy("purchase_event_id")
    return pairs.select(
        "purchase_event_id",
        "touch_event_id",
        F.round(
            F.col("v").cast("double") / F.count(F.lit(1)).over(w), 6
        ).alias("attributed_value"),
    )


@query(
    "entity_resolution_pipeline",
    oracle="""
    WITH RECURSIVE probe AS (
      SELECT c_custkey, c_name, c_nationkey,
             CAST(c_acctbal AS DECIMAL(12,2)) AS bal, c_mktsegment
      FROM customer WHERE c_custkey % 25 IN (0, 13)
    ),
    pairs AS (
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        (CASE WHEN round(jaro_winkler_similarity(a.c_name, b.c_name), 6)
                   >= 0.95 THEN 317 ELSE -317 END
         + CASE WHEN a.c_mktsegment = b.c_mktsegment
                THEN 200 ELSE -200 END
         + CASE WHEN abs(a.bal - b.bal) <= 500.00
                THEN 122 ELSE -122 END) AS cents
      FROM probe a JOIN probe b ON a.c_nationkey = b.c_nationkey
      WHERE a.c_custkey % 25 = 0 AND b.c_custkey % 25 = 13
    ),
    edges AS (SELECT id_a, id_b FROM pairs WHERE cents >= 0),
    sym AS (SELECT id_a AS src, id_b AS dst FROM edges
            UNION ALL SELECT id_b, id_a FROM edges),
    walk(id, label) AS (
      SELECT c_custkey, c_custkey FROM probe
      UNION
      SELECT s.dst, w.label FROM walk w JOIN sym s ON s.src = w.id
    ),
    comp AS (SELECT id AS c_custkey, MIN(label) AS cluster_id
             FROM walk GROUP BY id),
    scored AS (
      SELECT comp.cluster_id, p.c_custkey, p.bal,
        ROW_NUMBER() OVER (PARTITION BY comp.cluster_id
                           ORDER BY p.bal DESC, p.c_custkey) AS rk
      FROM comp JOIN probe p USING (c_custkey)
    )
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
      CAST(MIN(CASE WHEN rk = 1 THEN c_custkey END) AS BIGINT)
        AS canonical_custkey,
      CAST(COUNT(*) AS BIGINT) AS n_members,
      CAST(MAX(CASE WHEN rk = 1 THEN bal END) AS DOUBLE)
        AS canonical_acctbal
    FROM scored GROUP BY cluster_id HAVING COUNT(*) >= 2
    """,
)
def entity_resolution_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END entity resolution, composed from the linkage family
    the way a reference user would actually run it: (1) blocked
    Jaro-Winkler candidate generation (nation blocks, budget-guarded),
    (2) Fellegi-Sunter decision scoring (integer-cents weights, same
    contract as linkage_fellegi_sunter), (3) TRANSITIVE CLOSURE of the
    match/possible edges into entity clusters (iterative min-label
    propagation — operators.dedup.connected_components), (4)
    survivorship: one canonical record per entity (highest balance,
    lowest key tiebreak). The composition twin of
    training_corpus_pipeline for the records world; every stage's plan
    shape is individually audited by its standalone query.

    The stage-(1) blocking key (c_nationkey) is the kind of choice
    operators.dedup.choose_blocking exists to make: evaluate candidate
    schemes with blocking_quality_metrics (customer_blocking_quality
    is the registry form) and take the max-reduction scheme meeting a
    pair-completeness floor. On TPC-H-synthetic names the ground-truth
    match set is too sparse to exercise a floor live, so the decision
    rule is pytest-pinned on a constructed fixture instead
    (tests/test_r7_queries.py::TestChooseBlocking — the coarse scheme
    fails the floor, the helper redirects to the refinement).

    The oracle replays all four stages relationally, closing the loop
    with a recursive-CTE closure — the same exact-verification recipe
    as dedup_cluster_survivorship."""
    cust = t(spark, sf_dir, "customer")
    probe = cust.filter(
        (F.col("c_custkey") % 25).isin(0, 13)
    ).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.col("c_acctbal").cast("decimal(12,2)").alias("bal"),
        "c_mktsegment",
    ).localCheckpoint(eager=False)  # feeds pairs, node set, survivorship
    pairs = D.blocked_jaro_winkler_pairs(
        probe.filter(F.col("c_custkey") % 25 == 0),
        probe.filter(F.col("c_custkey") % 25 == 13),
        text_col="c_name",
        id_col="c_custkey",
        block_cols=("c_nationkey",),
        min_sim=0.0,
    )
    attrs = probe.select("c_custkey", "bal", "c_mktsegment")
    scored_pairs = pairs.join(
        attrs.select(
            F.col("c_custkey").alias("id_a"),
            F.col("bal").alias("bal_a"),
            F.col("c_mktsegment").alias("seg_a"),
        ),
        "id_a",
    ).join(
        attrs.select(
            F.col("c_custkey").alias("id_b"),
            F.col("bal").alias("bal_b"),
            F.col("c_mktsegment").alias("seg_b"),
        ),
        "id_b",
    )
    cents = (
        F.when(F.col("jw_sim") >= 0.95, 317).otherwise(-317)
        + F.when(F.col("seg_a") == F.col("seg_b"), 200).otherwise(-200)
        + F.when(
            F.abs(F.col("bal_a") - F.col("bal_b")) <= 500.00, 122
        ).otherwise(-122)
    )
    edges = scored_pairs.filter(cents >= 0).select("id_a", "id_b")
    comp = D.connected_components(
        probe.select("c_custkey"),
        edges,
        id_col="c_custkey",
        src_col="id_a",
        dst_col="id_b",
    ).select(F.col("id").alias("c_custkey"), "cluster_id")
    scored = comp.join(probe.select("c_custkey", "bal"), "c_custkey")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("bal"), F.asc("c_custkey")
    )
    ranked_m = scored.withColumn("rk", F.row_number().over(w))
    return (
        ranked_m.groupBy(F.col("cluster_id").cast("long").alias("cluster_id"))
        .agg(
            F.min(F.when(F.col("rk") == 1, F.col("c_custkey")))
            .cast("long")
            .alias("canonical_custkey"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.max(F.when(F.col("rk") == 1, F.col("bal")))
            .cast("double")
            .alias("canonical_acctbal"),
        )
        .filter(F.col("n_members") >= 2)
    )


@query(
    "orders_forecast_eval_monthly",
    oracle="""
    WITH mt AS (
      SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS v
      FROM orders GROUP BY 1
    ),
    mx AS (SELECT MAX(m) AS mmax FROM mt),
    test AS (
      SELECT t.m, t.v, s.v AS v_seasonal
      FROM mt t JOIN mt s ON s.m = t.m - 12, mx
      WHERE t.m > mx.mmax - 6
    ),
    naive AS (
      SELECT v AS v_naive FROM mt, mx WHERE m = mx.mmax - 6
    )
    SELECT CAST(COUNT(*) AS INT) AS n_test_months,
      round(CAST(SUM(CAST(abs(v - v_seasonal) AS DECIMAL(18,2)))
                 AS DOUBLE) / COUNT(*), 6) AS mae_seasonal,
      round(CAST(SUM(CAST(abs(v - v_naive) AS DECIMAL(18,2)))
                 AS DOUBLE) / COUNT(*), 6) AS mae_naive,
      round((CAST(SUM(CAST(abs(v - v_seasonal) AS DECIMAL(18,2)))
                  AS DOUBLE) / COUNT(*))
            / (CAST(SUM(CAST(abs(v - v_naive) AS DECIMAL(18,2)))
                    AS DOUBLE) / COUNT(*)), 6) AS mase
    FROM test, naive n
    """,
)
def orders_forecast_eval_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtesting: hold out the last 6 months of the monthly
    revenue series and score SEASONAL-NAIVE (forecast = actual 12
    months earlier) against the NAIVE baseline (forecast = last
    training month, held constant) by MAE; their ratio is the MASE-
    style skill score (< 1 ⇒ seasonality carries real signal). The
    standard sanity harness a forecasting pipeline runs before any
    model gets deployed.

    Exactness: monthly totals are DECIMAL sums (2-dec doubles), so
    every error |v − forecast| is an exact 2-decimal value — the MAE
    numerators are DECIMAL sums, divisions are single IEEE ops.

    Scale: the fact table reduces to the calendar-bounded monthly grid
    (~80 rows at any SF); the seasonal lag is an EQUI-join on
    month−12 (no window at all), and the two scalar anchors (max
    month, last train value) are 1-row broadcasts."""
    o = t(spark, sf_dir, "orders")
    mt = (
        o.groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m")
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("v")
        )
        .localCheckpoint(eager=False)  # reused: test set, lag join, anchors
    )
    mx = mt.agg(F.max("m").alias("mmax"))
    test = (
        mt.crossJoin(F.broadcast(mx))
        .filter(F.col("m") > F.col("mmax") - 6)
        .join(
            mt.select(
                (F.col("m") + 12).alias("m"), F.col("v").alias("v_seasonal")
            ),
            "m",
        )
    )
    naive = (
        mt.crossJoin(F.broadcast(mx))
        .filter(F.col("m") == F.col("mmax") - 6)
        .select(F.col("v").alias("v_naive"))
    )
    mae_s = (
        F.sum(F.abs(F.col("v") - F.col("v_seasonal")).cast("decimal(18,2)"))
        .cast("double")
        / F.count(F.lit(1))
    )
    mae_n = (
        F.sum(F.abs(F.col("v") - F.col("v_naive")).cast("decimal(18,2)"))
        .cast("double")
        / F.count(F.lit(1))
    )
    return (
        test.crossJoin(F.broadcast(naive))
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_test_months"),
            F.round(mae_s, 6).alias("mae_seasonal"),
            F.round(mae_n, 6).alias("mae_naive"),
            F.round(mae_s / mae_n, 6).alias("mase"),
        )
    )


@query(
    "customer_spend_rank_movers",
    oracle="""
    WITH early AS (
      SELECT o_custkey,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      FROM orders WHERE o_orderdate < DATE '1998-01-01'
      GROUP BY o_custkey
    ),
    late AS (
      SELECT o_custkey,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      FROM orders WHERE o_orderdate >= DATE '1998-01-01'
      GROUP BY o_custkey
    ),
    re AS (SELECT o_custkey, spend,
             ROW_NUMBER() OVER (ORDER BY spend DESC, o_custkey) AS rk
           FROM early),
    rl AS (SELECT o_custkey, spend,
             ROW_NUMBER() OVER (ORDER BY spend DESC, o_custkey) AS rk
           FROM late)
    SELECT re.o_custkey AS custkey,
      CAST(re.rk AS BIGINT) AS rank_early,
      CAST(rl.rk AS BIGINT) AS rank_late,
      CAST(re.rk - rl.rk AS BIGINT) AS rank_delta,
      re.spend AS spend_early, rl.spend AS spend_late
    FROM re JOIN rl ON rl.o_custkey = re.o_custkey
    ORDER BY rank_delta DESC, custkey LIMIT 20
    """,
)
def customer_spend_rank_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-movement report ("biggest climbers"): rank every customer
    by total spend in the early era (< 1998) and the late era
    (≥ 1998), join the two leaderboards, and keep the 20 customers who
    climbed the most positions — the period-over-period movers view
    every revenue dashboard carries, and a second composition consumer
    of the exact ranking primitive (two FULL leaderboards, not top-k:
    a climber's early rank can be arbitrarily deep, so TakeOrdered on
    either period alone cannot answer this).

    Scale: two groupBys on the customer key, two
    operators.ranking.ranked passes (range-repartition + offsets — no
    single-partition sort of the customer dimension), one equi-join on
    the key, then a 20-row TakeOrdered on the rank delta."""
    from ..operators.ranking import ranked as rank_total

    o = t(spark, sf_dir, "orders")

    def era_rank(pred, rk_name, spend_name):
        spend = (
            o.filter(pred)
            .groupBy("o_custkey")
            .agg(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("spend")
            )
        )
        rnk, _ = rank_total(
            spend, [F.col("spend").desc(), F.col("o_custkey").asc()],
            rn_col="rk",
        )
        return rnk.select(
            "o_custkey",
            F.col("rk").cast("long").alias(rk_name),
            F.col("spend").alias(spend_name),
        )

    cut = F.to_date(F.lit("1998-01-01"))
    early = era_rank(F.to_date("o_orderdate") < cut, "rank_early", "spend_early")
    late = era_rank(F.to_date("o_orderdate") >= cut, "rank_late", "spend_late")
    return (
        early.join(late, "o_custkey")
        .select(
            F.col("o_custkey").alias("custkey"),
            "rank_early",
            "rank_late",
            (F.col("rank_early") - F.col("rank_late")).alias("rank_delta"),
            "spend_early",
            "spend_late",
        )
        .orderBy(F.col("rank_delta").desc(), "custkey")
        .limit(20)
    )


@query(
    "user_hourly_entropy",
    oracle="""
    WITH hod AS (
      SELECT user_id, hour(ts) AS h, COUNT(*) AS n_h
      FROM events GROUP BY user_id, hour(ts)
    ),
    tot AS (
      SELECT user_id, SUM(n_h) AS n, COUNT(*) AS active_hours
      FROM hod GROUP BY user_id
    ),
    terms AS (
      SELECT hod.user_id,
        CAST(round(-(CAST(n_h AS DOUBLE) / n)
                   * ln(CAST(n_h AS DOUBLE) / n), 12)
             AS DECIMAL(28,12)) AS term
      FROM hod JOIN tot USING (user_id)
    )
    SELECT t.user_id, CAST(t.n AS BIGINT) AS n_events,
      CAST(t.active_hours AS BIGINT) AS active_hours,
      round(CAST(SUM(term) AS DOUBLE), 6) AS entropy_nats
    FROM terms JOIN tot t USING (user_id)
    GROUP BY t.user_id, t.n, t.active_hours
    """,
)
def user_hourly_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral activity entropy per user: Shannon entropy (nats) of
    the user's hour-of-day event distribution — 0 for a single-hour
    bot-like profile, ln(24) for perfectly uniform activity. The
    standard behavioral-fingerprint feature for bot screening and
    engagement segmentation (and exactly the feature family a
    training-data pipeline computes to stratify user-generated text by
    author behavior).

    Determinism: p = n_h/n is one IEEE division; each −p·ln p term is
    snapped to 12 decimals BEFORE the per-user DECIMAL sum (the
    engine's log-sum idiom — ln may differ in the final ulp across
    engines, the snap absorbs it), output snapped to 6.

    Scale: two groupBys on (user, hour) then (user) — ≤ 24 rows per
    user in the second stage; no windows, no driver state."""
    ev = t(spark, sf_dir, "events")
    hod = ev.groupBy("user_id", F.hour("ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n_h")
    )
    # r13 (guide §2.1, the §8/§13 window-over-key shape — VERDICT #6
    # sweep): the per-user totals were a groupBy(user) aggregate
    # joined BACK onto hod on user_id — an extra user-keyed exchange
    # plus a join. A window over partitionBy(user_id) attaches both
    # totals in ONE exchange+sort; groups are ≤ 24 rows by
    # construction (hours of day) and user_id is high-cardinality, so
    # partitions spread. Same integers, same term expression —
    # bit-identical output (oracle MATCH at sf0.01/sf0.1).
    from pyspark.sql.window import Window as _W

    uw = _W.partitionBy("user_id")
    p = F.col("n_h").cast("double") / F.col("n")
    terms = hod.select(
        "user_id",
        F.sum("n_h").over(uw).alias("n"),
        F.count(F.lit(1)).over(uw).alias("active_hours"),
        "n_h",
    ).select(
        "user_id",
        "n",
        "active_hours",
        F.round(-p * F.log(p), 12).cast("decimal(28,12)").alias("term"),
    )
    return terms.groupBy(
        "user_id",
        F.col("n").cast("long").alias("n_events"),
        F.col("active_hours").cast("long").alias("active_hours"),
    ).agg(F.round(F.sum("term").cast("double"), 6).alias("entropy_nats"))


@query(
    "doc_shingle_novelty",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id AS id,
             tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
      FROM toks, UNNEST(range(1, greatest(len(tk) - 1, 1))) AS u(i)
    ),
    df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle)
    SELECT sh.id AS doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_shingles,
      CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_novel,
      round(CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
            / COUNT(*), 6) AS novelty
    FROM sh JOIN df USING (shingle)
    GROUP BY sh.id
    """,
)
def doc_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document NOVELTY score: the fraction of a document's distinct
    word-3-gram shingles that occur in NO other document (corpus
    df = 1). High novelty marks unique content worth keeping through
    aggressive dedup; near-zero novelty marks boilerplate/templated
    docs — the inverse lens of the duplicate detectors, and a standard
    memorization-risk / diversity signal when curating training
    corpora.

    Scale: one shuffle of distinct (doc, shingle) pairs to build the
    df table, one shingle-keyed join back (both sides hash-partitioned
    by shingle — co-located), one groupBy(doc). At 100 TB the df
    table would be df-capped like every shingle consumer here
    (boilerplate shingles carry no novelty signal either way)."""
    docs = t(spark, sf_dir, "documents")
    from ..operators.partitioning import fan_out

    sh = D.shingles(fan_out(docs), "doc_id", "text", n=3, distinct=True)
    # r13 (guide §2.1, the §13 prefix-filter shape — VERDICT #6 sweep):
    # the df table was a groupBy(shingle) aggregate joined BACK onto
    # the exploded table (agg exchange + shingle-keyed join). A count
    # over Window.partitionBy(shingle) attaches df in ONE
    # exchange+sort; groups are per-shingle (df-sized, boilerplate-
    # bounded — the same envelope the prefix filter accepts). Integer
    # counts → identical rows (oracle MATCH at sf0.01/sf0.1).
    from pyspark.sql.window import Window as _W

    sh_df = sh.withColumn(
        "df", F.count(F.lit(1)).over(_W.partitionBy("shingle"))
    )
    return (
        sh_df
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
            F.round(
                F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("novelty"),
        )
    )


@query(
    "graph_ppr_related_entities",
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT o.o_custkey AS a, l.l_suppkey + 1000000 AS b
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (SELECT a AS src, b AS dst FROM e0
              UNION ALL SELECT b AS src, a AS dst FROM e0),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    r0 AS (SELECT u.s AS src, 0.2 AS rank
           FROM UNNEST([0, 25, 50, 75, 100]) AS u(s)),
    i1 AS (
      SELECT e.dst AS src,
        CASE WHEN e.dst IN (0, 25, 50, 75, 100) THEN 0.03 ELSE 0.0 END
          + 0.85 * (CAST(SUM(CAST(floor((r.rank / d.outdeg) * 1e15)
                                 AS DECIMAL(38,0))) AS DOUBLE)
                    / 1e15) AS rank
      FROM edges e JOIN deg d ON d.src = e.src JOIN r0 r ON r.src = e.src
      GROUP BY e.dst
    ),
    i2 AS (
      SELECT e.dst AS src,
        CASE WHEN e.dst IN (0, 25, 50, 75, 100) THEN 0.03 ELSE 0.0 END
          + 0.85 * (CAST(SUM(CAST(floor((r.rank / d.outdeg) * 1e15)
                                 AS DECIMAL(38,0))) AS DOUBLE)
                    / 1e15) AS rank
      FROM edges e JOIN deg d ON d.src = e.src JOIN i1 r ON r.src = e.src
      GROUP BY e.dst
    ),
    i3 AS (
      SELECT e.dst AS src,
        CASE WHEN e.dst IN (0, 25, 50, 75, 100) THEN 0.03 ELSE 0.0 END
          + 0.85 * (CAST(SUM(CAST(floor((r.rank / d.outdeg) * 1e15)
                                 AS DECIMAL(38,0))) AS DOUBLE)
                    / 1e15) AS rank
      FROM edges e JOIN deg d ON d.src = e.src JOIN i2 r ON r.src = e.src
      GROUP BY e.dst
    )
    SELECT CAST(src AS BIGINT) AS node, ROUND(rank, 12) AS rank FROM i3
    """,
)
def graph_ppr_related_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (random walk with restart) from a 5-seed
    customer set over the bipartite trade graph — "entities related to
    THESE customers": mass teleports back to the seeds, so suppliers
    (and second-hop customers) rank by proximity to the seed cohort.
    The graph-recommendation primitive; global pagerank
    (graph_pagerank_suppliers) answers overall importance on the same
    graph, this answers importance RELATIVE TO a query set.

    Exact oracle by the pagerank recipe: teleport is a scan-side CASE
    on seed membership (0.15/5 = 0.03), contributions are single IEEE
    divisions summed through DECIMAL(28,15), three unrolled
    iterations, 12-decimal snap."""
    from ..operators import graph as G2

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("a"),
            (F.col("l_suppkey") + 1000000).alias("b"),
        )
        .distinct()
    )
    edges = e0.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(e0.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    # the node set is bounded BY CONSTRUCTION at |customer| +
    # |supplier| dimension rows (bipartite trade graph), so the
    # per-iteration share table is broadcast-safe at any SF
    ppr = G2.personalized_pagerank(
        edges, seeds=[0, 25, 50, 75, 100], iters=3, damping=0.85
    )
    return ppr.select(
        F.col("node").cast("long").alias("node"),
        F.round("rank", 12).alias("rank"),
    )


@query(
    "dedup_prefix_filter_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id AS id,
             array_to_string(list_slice(tk, i, i + 4), ' ') AS shingle
      FROM toks, UNNEST(range(1, greatest(len(tk) - 3, 1))) AS u(i)
    ),
    sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS intersection
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT i.id_a, i.id_b, CAST(i.intersection AS BIGINT) AS intersection,
           CAST(sa.sz AS BIGINT) AS size_a, CAST(sb.sz AS BIGINT) AS size_b,
           ROUND(CAST(i.intersection AS DOUBLE)
                 / (sa.sz + sb.sz - i.intersection), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.id = i.id_a
    JOIN sizes sb ON sb.id = i.id_b
    WHERE CAST(i.intersection AS DOUBLE)
          / (sa.sz + sb.sz - i.intersection) >= 0.5
    """,
)
def dedup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSLESS set-similarity join via prefix filtering (SSJoin/
    PPJoin): all 5-gram-Jaccard ≥ 0.5 pairs, candidates drawn only
    from each doc's rarest-first prefix (|d| − ⌈τ|d|⌉ + 1 shingles) —
    provably complete for the threshold, no df cap, no all-pairs
    stage. The oracle computes the brute-force share-a-shingle answer;
    matching it EXACTLY is the completeness proof of the prefix
    candidate generator at every scale factor."""
    from ..operators.partitioning import fan_out

    docs = fan_out(t(spark, sf_dir, "documents"))
    return D.prefix_filter_jaccard_pairs(
        docs, "doc_id", "text", n=5, threshold=0.5
    )


@query(
    "customer_k_anonymity",
    oracle="""
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS k,
             COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 'delinquent'
                                 WHEN c_acctbal < 5000 THEN 'standard'
                                 ELSE 'premium' END) AS l
      FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT CAST(k AS BIGINT) AS class_size,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(k) AS BIGINT) AS n_rows,
           CAST(MIN(l) AS BIGINT) AS min_l_diversity,
           ROUND(CAST(SUM(k) AS DOUBLE)
                 / (SELECT COUNT(*) FROM customer), 6) AS row_share
    FROM classes GROUP BY k
    """,
)
def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy re-identification audit: k-anonymity / l-diversity
    profile of the customer table under the quasi-identifier pair
    (nation, market segment), with the balance band (delinquent /
    standard / premium) as the sensitive attribute. Emits the
    equivalence-class-size histogram — k (class_size), how many
    classes and rows sit at that k, the worst-case l-diversity among
    them, and each size's share of all rows. The smallest class_size
    row IS the table's k-anonymity; classes with min_l_diversity = 1
    leak the sensitive band outright. The standard pre-release check
    before publishing user-derived training data.

    Scale: one groupBy on the QI pair (bounded: |nations|×|segments|
    classes), a second groupBy over that constant-size class table,
    and a 1-row total-count broadcast for the share — the fact table
    is scanned once, never shuffled by row."""
    cust = t(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, "delinquent")
        .when(F.col("c_acctbal") < 5000, "standard")
        .otherwise("premium")
    )
    classes = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("k"),
        F.countDistinct(band).alias("l"),
    )
    total = cust.agg(F.count(F.lit(1)).alias("_total"))
    return (
        classes.groupBy(F.col("k").cast("long").alias("class_size"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum("k").cast("long").alias("n_rows"),
            F.min("l").cast("long").alias("min_l_diversity"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "class_size",
            "n_classes",
            "n_rows",
            "min_l_diversity",
            F.round(
                F.col("n_rows").cast("double") / F.col("_total"), 6
            ).alias("row_share"),
        )
    )


@query(
    "events_dp_event_type_release",
    oracle="""
    WITH counts AS (
      SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
    ),
    noise AS (
      SELECT event_type, n,
        CAST(('0x' || substr(md5(event_type), 1, 8)) AS BIGINT)
          / 4294967296.0 - 0.5 AS t
      FROM counts
    )
    SELECT event_type, CAST(n AS BIGINT) AS exact_n,
      ROUND(-2.0 * sign(t)
            * CAST(CAST(round(ln(greatest(1.0 - 2.0 * abs(t), 1e-12)),
                              12) AS DECIMAL(28,12)) AS DOUBLE), 6)
        AS noise,
      ROUND(n - 2.0 * sign(t)
            * CAST(CAST(round(ln(greatest(1.0 - 2.0 * abs(t), 1e-12)),
                              12) AS DECIMAL(28,12)) AS DOUBLE), 6)
        AS released_n
    FROM noise
    """,
)
def events_dp_event_type_release(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Differentially-private count release (Laplace mechanism,
    ε = 0.5, sensitivity 1 → scale b = 2): per-event-type counts with
    additive Laplace noise, emitted next to the exact count as a
    utility audit (|noise| is the absolute error the privacy budget
    buys). Noise is DERANDOMIZED for the correctness gate — the
    uniform draw u is md5(event_type)'s first 8 hex digits / 2³², and
    the inverse-CDF transform −b·sgn(u−½)·ln(1−2|u−½|) is made
    engine-exact by the repo's log idiom (ln snapped to 12 decimals
    through DECIMAL before the scale multiply; the 1e-12 floor guards
    the measure-zero u = 0 pole). Swapping the md5 draw for a real
    CSPRNG draw per release is the production path; everything else
    is unchanged.

    Scale: one partial-aggregated groupBy on a low-cardinality key;
    noise is scan-side arithmetic on the ≤|event types| result rows."""
    ev = t(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    u = F.conv(F.substring(F.md5("event_type"), 1, 8), 16, 10).cast(
        "long"
    ) / F.lit(4294967296.0)
    tcol = u - F.lit(0.5)
    ln_snap = (
        F.round(
            F.log(F.greatest(F.lit(1.0) - F.lit(2.0) * F.abs(tcol), F.lit(1e-12))),
            12,
        )
        .cast("decimal(28,12)")
        .cast("double")
    )
    noise = F.lit(-2.0) * F.signum(tcol) * ln_snap
    return counts.select(
        "event_type",
        F.col("n").cast("long").alias("exact_n"),
        F.round(noise, 6).alias("noise"),
        F.round(F.col("n") + noise, 6).alias("released_n"),
    )


@query(
    "events_sprt_monitor",
    oracle="""
    WITH s AS (
      SELECT ts, event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    r AS (
      SELECT ts, ROW_NUMBER() OVER (ORDER BY ts, event_id) AS rn,
             SUM(x) OVER (ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS cx
      FROM s
    ),
    llr AS (
      SELECT rn, ts, CAST(cx AS BIGINT) AS cx,
        CAST(cx AS DECIMAL(12,0))
          * CAST(round(ln(11.0 / 9.0), 12) AS DECIMAL(16,12))
        + CAST(rn - cx AS DECIMAL(12,0))
          * CAST(round(ln(9.0 / 11.0), 12) AS DECIMAL(16,12)) AS v
      FROM r WHERE rn % 100 = 0
    )
    SELECT rn AS n_obs, ts, cx AS n_conversions,
      CAST(round(v, 6) AS DOUBLE) AS llr,
      CASE WHEN v >= CAST(round(ln(19.0), 12) AS DECIMAL(16,12))
             THEN 'reject_h0'
           WHEN v <= -CAST(round(ln(19.0), 12) AS DECIMAL(16,12))
             THEN 'accept_h0'
           ELSE 'continue' END AS decision
    FROM llr
    """,
)
def events_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test as a streaming-shaped
    batch monitor: over the click/purchase stream in event-time order,
    the cumulative log-likelihood ratio for H1: p = 0.55 vs
    H0: p = 0.45 (conversion share), checkpointed every 100
    observations with the α = β = 0.05 decision state (llr ≥ ln 19 →
    reject H0, ≤ −ln 19 → accept H0, else keep sampling). The
    classical always-valid alternative to fixed-horizon A/B tests —
    what an experimentation platform evaluates continuously as events
    arrive.

    Exactness: the only data-sized accumulation is the INTEGER
    conversion cumsum, routed through the two-pass range-partitioned
    ranking primitive (no single-partition window); the LLR is then
    closed-form n·C arithmetic on 12-decimal-snapped ln constants in
    DECIMAL — engine-exact, including the boundary comparisons.

    Scale: one range shuffle of the filtered stream + the ≤P-row
    offsets collect; checkpoint emission is a scan-side modulo."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    s = ev.select(
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("x"),
    )
    r, _n = ranked(
        s,
        [F.col("ts").asc(), F.col("event_id").asc()],
        rn_col="rn",
        cumsum_cols={"x": "cx"},
    )
    # decimal(12,0) × decimal(16,12) keeps the product within Spark's
    # 38-digit ceiling (29,12) — a wider operand would silently drop
    # to scale 6 (allowPrecisionLoss) and round the INTERMEDIATE terms
    c1 = F.round(F.log(F.lit(11.0) / F.lit(9.0)), 12).cast("decimal(16,12)")
    c2 = F.round(F.log(F.lit(9.0) / F.lit(11.0)), 12).cast("decimal(16,12)")
    bound = F.round(F.log(F.lit(19.0)), 12).cast("decimal(16,12)")
    v = F.col("cx").cast("decimal(12,0)") * c1 + (
        F.col("rn") - F.col("cx")
    ).cast("decimal(12,0)") * c2
    return (
        r.filter(F.col("rn") % 100 == 0)
        .withColumn("_v", v)
        .select(
            F.col("rn").alias("n_obs"),
            "ts",
            F.col("cx").cast("long").alias("n_conversions"),
            F.round(F.col("_v"), 6).cast("double").alias("llr"),
            F.when(F.col("_v") >= bound, "reject_h0")
            .when(F.col("_v") <= -bound, "accept_h0")
            .otherwise("continue")
            .alias("decision"),
        )
    )


@query(
    "orders_universe_join_estimate",
    oracle="""
    WITH j AS (
      SELECT o.o_orderkey, c.c_custkey
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_mktsegment = 'BUILDING'
    ),
    agg AS (
      SELECT COUNT(*) AS n_exact,
        COUNT(*) FILTER (
          substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) = '0'
        ) AS n_universe,
        COUNT(*) FILTER (
          substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1) IN
            ('0','1','2','3')
          AND substr(md5(CAST(c_custkey AS VARCHAR)), 3, 1) IN
            ('0','1','2','3')
        ) AS n_bernoulli
      FROM j
    )
    SELECT CAST(n_exact AS BIGINT) AS exact_n,
      CAST(n_universe AS BIGINT) AS universe_sampled,
      CAST(n_universe * 16 AS BIGINT) AS universe_estimate,
      round(abs(n_universe * 16.0 - n_exact) / n_exact, 6)
        AS universe_rel_err,
      CAST(n_bernoulli AS BIGINT) AS bernoulli_sampled,
      CAST(n_bernoulli * 16 AS BIGINT) AS bernoulli_estimate,
      round(abs(n_bernoulli * 16.0 - n_exact) / n_exact, 6)
        AS bernoulli_rel_err
    FROM agg
    """,
)
def orders_universe_join_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Join-cardinality estimation by UNIVERSE sampling (Quickr /
    join-synopses lineage): sample BOTH join sides by the same hash
    predicate on the JOIN KEY (keep custkeys whose md5 starts '0' —
    p = 1/16), so sampled orders always find their sampled customer
    and the join count scales back by 1/p. Contrasted with naive
    independent Bernoulli row sampling at the same effective rate
    (1/4 per side → 1/16 of pairs), whose matched pairs survive with
    probability p² per side-pair — the estimator the literature shows
    is high-variance for joins. Emitted as a one-row audit: exact
    selective-join count (BUILDING-segment customers), both sampled
    counts, scaled estimates, relative errors.

    The gate computes all three counts as conditional aggregates over
    ONE full join (exactness is the point of the audit); the
    production path pushes the universe predicate below the join on
    both sides — same hash, same keys kept — so the 100 TB join runs
    on 1/16 of each input. md5-derandomized like every sampler here.

    Scale: one broadcast-dim join (customer segment side), one
    partial-aggregated 1-row count — no extra shuffle, no crossJoin."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    j = o.join(
        F.broadcast(c), o.o_custkey == c.c_custkey
    ).select("o_orderkey", "c_custkey")
    in_universe = (
        F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 1) == "0"
    )
    in_bernoulli = F.substring(
        F.md5(F.col("o_orderkey").cast("string")), 2, 1
    ).isin("0", "1", "2", "3") & F.substring(
        F.md5(F.col("c_custkey").cast("string")), 3, 1
    ).isin("0", "1", "2", "3")
    agg = j.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.when(in_universe, 1).otherwise(0)).alias("n_universe"),
        F.sum(F.when(in_bernoulli, 1).otherwise(0)).alias("n_bernoulli"),
    )
    return agg.select(
        F.col("n_exact").cast("long").alias("exact_n"),
        F.col("n_universe").cast("long").alias("universe_sampled"),
        (F.col("n_universe") * 16).cast("long").alias("universe_estimate"),
        F.round(
            F.abs(F.col("n_universe") * F.lit(16.0) - F.col("n_exact"))
            / F.col("n_exact"),
            6,
        ).alias("universe_rel_err"),
        F.col("n_bernoulli").cast("long").alias("bernoulli_sampled"),
        (F.col("n_bernoulli") * 16).cast("long").alias("bernoulli_estimate"),
        F.round(
            F.abs(F.col("n_bernoulli") * F.lit(16.0) - F.col("n_exact"))
            / F.col("n_exact"),
            6,
        ).alias("bernoulli_rel_err"),
    )


@query(
    "events_skew_split_join",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY c.c_mktsegment
    """,
)
def events_skew_split_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid skew-split join in action: events ⋈ customer on user_id
    with the 4 hottest user keys routed through a broadcast join (the
    skew mass never shuffles) and the cold remainder through the
    normal shuffle join, then a per-segment rollup. The oracle is the
    PLAIN join + GROUP BY — matching it proves the split+union is
    row-for-row equivalent to the monolithic join. Event values sum
    through DECIMAL(18,6) (order-independent across the union's
    partitions)."""
    from ..operators.partitioning import skew_split_join

    ev = t(spark, sf_dir, "events").select(
        "user_id", F.col("value").cast("decimal(18,6)").alias("v")
    )
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = skew_split_join(ev, cust, "user_id", "c_custkey", num_hot=4)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("v").cast("double").alias("sum_value"),
    )


@query(
    "graph_local_clustering_topk",
    oracle="""
    WITH e AS (
      SELECT DISTINCT l1.l_partkey AS u, l2.l_partkey AS v
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    ),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
      ) GROUP BY node
    ),
    tri_corners AS (
      SELECT corner AS node, COUNT(*) AS t FROM (
        SELECT UNNEST([e1.u, e1.v, e2.v]) AS corner
        FROM e e1 JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
             JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
      ) GROUP BY corner
    )
    SELECT CAST(deg.node AS BIGINT) AS node, CAST(d AS BIGINT) AS degree,
           CAST(COALESCE(t, 0) AS BIGINT) AS triangles,
           ROUND(COALESCE(t, 0) / (d * (d - 1) / 2.0), 6) AS local_cc
    FROM deg LEFT JOIN tri_corners ON tri_corners.node = deg.node
    WHERE d >= 2
    ORDER BY COALESCE(t, 0) / (d * (d - 1) / 2.0) DESC, deg.node ASC
    LIMIT 20
    """,
)
def graph_local_clustering_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-20 nodes by LOCAL clustering coefficient on the part
    co-purchase graph — the per-node ego-density companion to
    graph_triangle_stats' global coefficient: triangles(v)/C(deg v,2)
    for deg ≥ 2, ties broken by node id. Degree-oriented wedges carry
    their source so each triangle credits all three corners."""
    from .registry_more import _copurchase_edges

    return G.local_clustering_topk(_copurchase_edges(spark, sf_dir), k=20)


@query(
    "scd2_apply_cdc",
    oracle="""
    WITH old AS (
      SELECT c_custkey AS custkey, c_mktsegment AS segment
      FROM customer WHERE c_custkey % 10 <> 0
    ),
    new AS (
      SELECT c_custkey AS custkey,
             CASE WHEN c_custkey % 7 = 0 THEN 'MACHINERY'
                  ELSE c_mktsegment END AS segment
      FROM customer WHERE c_custkey % 13 <> 0
    ),
    diff AS (
      SELECT COALESCE(o.custkey, n.custkey) AS custkey,
             o.segment AS seg_old, n.segment AS seg_new,
             CASE WHEN o.custkey IS NULL THEN 'insert'
                  WHEN n.custkey IS NULL THEN 'delete'
                  WHEN o.segment <> n.segment THEN 'update'
                  ELSE 'unchanged' END AS change_type
      FROM old o FULL OUTER JOIN new n ON n.custkey = o.custkey
    )
    SELECT custkey, seg_old AS segment, DATE '2024-01-01' AS valid_from,
           CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
    FROM diff WHERE change_type = 'unchanged'
    UNION ALL
    SELECT custkey, seg_old, DATE '2024-01-01',
           DATE '2024-06-01', FALSE
    FROM diff WHERE change_type IN ('update', 'delete')
    UNION ALL
    SELECT custkey, seg_new, DATE '2024-06-01', CAST(NULL AS DATE), TRUE
    FROM diff WHERE change_type IN ('update', 'insert')
    """,
)
def scd2_apply_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The warehouse MERGE for history-keeping dimensions: take
    yesterday's SCD2 customer-segment dimension (one open row per
    key), diff today's snapshot against it with the CDC extractor
    (``snapshot_diff`` — deterministic simulated churn: keys %10=0
    were absent yesterday → inserts, %13=0 vanish today → deletes,
    %7=0 switch segment → updates), and apply the delta effective
    2024-06-01: updates CLOSE the open row and insert a new current
    one, deletes close without replacement, inserts open a new row,
    unchanged keys keep their open row. Emits the full post-merge
    SCD2 table.

    Scale: snapshot_diff is one key-shuffled full-outer join on
    digests; the apply step is two broadcast-free equi-joins back to
    the snapshots on the same key partitioning plus a union — no row
    explosion, no windows."""
    cust = t(spark, sf_dir, "customer")
    old = cust.filter(F.col("c_custkey") % 10 != 0).select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    new = cust.filter(F.col("c_custkey") % 13 != 0).select(
        F.col("c_custkey").alias("custkey"),
        F.when(F.col("c_custkey") % 7 == 0, "MACHINERY")
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
    )
    diff = D.snapshot_diff(old, new, keys=["custkey"])
    vfrom = F.lit("2024-01-01").cast("date")
    veff = F.lit("2024-06-01").cast("date")
    vnull = F.lit(None).cast("date")
    kept = (
        diff.filter(F.col("change_type") == "unchanged")
        .join(old, "custkey")
        .select(
            "custkey", "segment", vfrom.alias("valid_from"),
            vnull.alias("valid_to"), F.lit(True).alias("is_current"),
        )
    )
    closed = (
        diff.filter(F.col("change_type").isin("update", "delete"))
        .join(old, "custkey")
        .select(
            "custkey", "segment", vfrom.alias("valid_from"),
            veff.alias("valid_to"), F.lit(False).alias("is_current"),
        )
    )
    opened = (
        diff.filter(F.col("change_type").isin("update", "insert"))
        .join(new, "custkey")
        .select(
            "custkey", "segment", veff.alias("valid_from"),
            vnull.alias("valid_to"), F.lit(True).alias("is_current"),
        )
    )
    return kept.unionByName(closed).unionByName(opened)


@query(
    "orders_layout_zonemap_audit",
    oracle="""
    WITH o AS (
      SELECT CAST(o_orderdate AS DATE) AS od, o_orderkey FROM orders
    ),
    zm AS (
      SELECT 'date_clustered' AS layout,
             CAST(date_trunc('month', od) AS DATE) AS bucket_key,
             MIN(od) AS lo, MAX(od) AS hi
      FROM o GROUP BY 2
      UNION ALL
      SELECT 'hash', CAST(DATE '1970-01-01' + CAST(o_orderkey % 80 AS INT)
                          AS DATE), MIN(od), MAX(od)
      FROM o GROUP BY 2
    ),
    probes AS (
      SELECT DISTINCT CAST(date_trunc('month', od) AS DATE) AS m_start,
             CAST(date_trunc('month', od) + INTERVAL 1 MONTH
                  - INTERVAL 1 DAY AS DATE) AS m_end
      FROM o
    ),
    nb AS (SELECT layout, COUNT(*) AS n_buckets FROM zm GROUP BY layout),
    scans AS (
      SELECT zm.layout, p.m_start, COUNT(*) AS scanned
      FROM probes p JOIN zm
        ON zm.lo <= p.m_end AND zm.hi >= p.m_start
      GROUP BY zm.layout, p.m_start
    )
    SELECT s.layout, CAST(nb.n_buckets AS BIGINT) AS n_buckets,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           ROUND(CAST(SUM(s.scanned) AS DOUBLE)
                 / (nb.n_buckets * COUNT(*)), 6) AS avg_scan_fraction
    FROM scans s JOIN nb ON nb.layout = s.layout
    GROUP BY s.layout, nb.n_buckets
    """,
)
def orders_layout_zonemap_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Data-layout advisor via ZONE MAPS: simulate two file layouts of
    the orders fact — date-clustered (one file per order month, what a
    range-partitioned/Z-ordered writer produces) vs hash-scattered
    (o_orderkey % 80, same file count) — compute each file's
    min/max o_orderdate zone map, replay one month-range predicate per
    historical month against the maps, and report the average fraction
    of files a reader must touch. The date-clustered layout prunes to
    ~1/n_buckets; the hash layout's per-file ranges span the whole
    history, so every probe scans every file — the quantitative
    argument for sort-on-write at 100 TB, produced by the engine
    itself (this is exactly the min/max skipping parquet row-group
    stats / Delta-Iceberg data-skipping indexes implement).

    Scale: zone maps and probes are per-bucket/per-month AGGREGATES
    (calendar-bounded: buckets × months rows, independent of row
    count); the only non-equi join is between those two calendar-sized
    tables — the fact itself is scanned once per layout and never
    joined."""
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("od"), "o_orderkey"
    )
    zm_date = o.groupBy(
        F.lit("date_clustered").alias("layout"),
        F.date_trunc("month", "od").cast("date").alias("bucket_key"),
    ).agg(F.min("od").alias("lo"), F.max("od").alias("hi"))
    zm_hash = o.groupBy(
        F.lit("hash").alias("layout"),
        F.date_add(
            F.lit("1970-01-01").cast("date"),
            (F.col("o_orderkey") % 80).cast("int"),
        ).alias("bucket_key"),
    ).agg(F.min("od").alias("lo"), F.max("od").alias("hi"))
    zm = zm_date.unionByName(zm_hash)
    probes = o.select(
        F.date_trunc("month", "od").cast("date").alias("m_start"),
        F.date_sub(
            F.add_months(F.date_trunc("month", "od").cast("date"), 1), 1
        ).alias("m_end"),
    ).distinct()
    nb = zm.groupBy("layout").agg(F.count(F.lit(1)).alias("n_buckets"))
    scans = (
        probes.join(
            zm,
            (F.col("lo") <= F.col("m_end"))
            & (F.col("hi") >= F.col("m_start")),
        )
        .groupBy("layout", "m_start")
        .agg(F.count(F.lit(1)).alias("scanned"))
    )
    return (
        scans.join(nb, "layout")
        .withColumn("n_buckets", F.col("n_buckets").cast("long"))
        .groupBy("layout", "n_buckets")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_probes"),
            # integer SUM then ONE division: avg(x/nb) with a constant
            # denominator, made accumulation-order independent
            F.round(
                F.sum("scanned").cast("double")
                / (F.col("n_buckets") * F.count(F.lit(1))),
                6,
            ).alias("avg_scan_fraction"),
        )
    )


@query(
    "orders_encoding_advisor",
    oracle="""
    WITH s AS (
      SELECT o_orderstatus AS st, o_orderpriority AS pr,
             lag(o_orderstatus) OVER (ORDER BY o_orderkey) AS pst,
             lag(o_orderpriority) OVER (ORDER BY o_orderkey) AS ppr
      FROM orders
    ),
    agg AS (
      SELECT COUNT(*) AS n,
        SUM(CASE WHEN pst IS NULL OR st <> pst THEN 1 ELSE 0 END)
          AS runs_st,
        SUM(CASE WHEN ppr IS NULL OR pr <> ppr THEN 1 ELSE 0 END)
          AS runs_pr
      FROM s
    ),
    d AS (
      SELECT COUNT(DISTINCT o_orderstatus) AS dst,
             COUNT(DISTINCT o_orderpriority) AS dpr
      FROM orders
    )
    SELECT 'o_orderstatus' AS column_name, CAST(n AS BIGINT) AS n_rows,
           CAST(dst AS BIGINT) AS n_distinct,
           CAST(runs_st AS BIGINT) AS n_runs,
           round(CAST(n AS DOUBLE) / runs_st, 6) AS avg_run_len
    FROM agg, d
    UNION ALL
    SELECT 'o_orderpriority', CAST(n AS BIGINT), CAST(dpr AS BIGINT),
           CAST(runs_pr AS BIGINT), round(CAST(n AS DOUBLE) / runs_pr, 6)
    FROM agg, d
    """,
)
def orders_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-encoding advisor: for candidate columns of the orders
    fact in file order (o_orderkey), the statistics a columnar writer
    weighs — cardinality (dictionary encodability) and run structure
    (RLE effectiveness): n_distinct, number of value RUNS under the
    physical order, and average run length. Short runs + tiny
    dictionary → dictionary-encode; long runs (e.g. after sorting by
    that column — see orders_layout_zonemap_audit for the layout
    companion) → RLE. This is the stats pass behind parquet's
    dictionary/RLE decisions, surfaced as a query.

    Scale shape: the run count needs each row's PREDECESSOR under a
    total order — computed with the engine's sequential-dependency
    idiom: global rank from the two-pass ranking primitive, then an
    EQUI-join of rn ↔ rn−1 (shuffle-partitioned by rank, no
    single-task window anywhere), one count aggregate. Distinct
    counts are partial-aggregated per column."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    r, n_total = ranked(o, [F.col("o_orderkey").asc()], rn_col="rn")
    a = r.select(
        F.col("rn").alias("rn_a"),
        F.col("o_orderstatus").alias("st_a"),
        F.col("o_orderpriority").alias("pr_a"),
    )
    b = r.select(
        (F.col("rn") - 1).alias("rn_a"),
        F.col("o_orderstatus").alias("st_b"),
        F.col("o_orderpriority").alias("pr_b"),
    )
    trans = a.join(b, "rn_a").agg(
        (
            F.sum(F.when(F.col("st_a") != F.col("st_b"), 1).otherwise(0))
            + 1
        ).alias("runs_st"),
        (
            F.sum(F.when(F.col("pr_a") != F.col("pr_b"), 1).otherwise(0))
            + 1
        ).alias("runs_pr"),
    )
    d = o.agg(
        F.countDistinct("o_orderstatus").alias("dst"),
        F.countDistinct("o_orderpriority").alias("dpr"),
    )
    both = trans.crossJoin(d)
    row_st = both.select(
        F.lit("o_orderstatus").alias("column_name"),
        F.lit(n_total).cast("long").alias("n_rows"),
        F.col("dst").cast("long").alias("n_distinct"),
        F.col("runs_st").cast("long").alias("n_runs"),
        F.round(F.lit(float(n_total)) / F.col("runs_st"), 6).alias(
            "avg_run_len"
        ),
    )
    row_pr = both.select(
        F.lit("o_orderpriority").alias("column_name"),
        F.lit(n_total).cast("long").alias("n_rows"),
        F.col("dpr").cast("long").alias("n_distinct"),
        F.col("runs_pr").cast("long").alias("n_runs"),
        F.round(F.lit(float(n_total)) / F.col("runs_pr"), 6).alias(
            "avg_run_len"
        ),
    )
    return row_st.unionByName(row_pr)


from .registry_ext import _SHINGLES_CTE  # noqa: E402 — shared oracle CTE


@query(
    "dedup_jaccard_threshold_curve",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT id, COUNT(*) AS set_size FROM sh GROUP BY id),
    rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 25),
    shf AS (SELECT sh.id, sh.shingle FROM sh JOIN rare USING (shingle)),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
    ),
    scored AS (
      SELECT CAST(i AS DOUBLE) / (sa.set_size + sb.set_size - i) AS j
      FROM inter JOIN sizes sa ON sa.id = inter.id_a
                 JOIN sizes sb ON sb.id = inter.id_b
    )
    SELECT round(u.k / 10.0, 1) AS tau,
           CAST(COUNT(*) FILTER (j >= u.k / 10.0) AS BIGINT)
             AS n_pairs_merged
    FROM scored, UNNEST(range(1, 10)) AS u(k)
    GROUP BY u.k
    """,
)
def dedup_jaccard_threshold_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dedup THRESHOLD CALIBRATION curve: for τ = 0.1 … 0.9, how many
    candidate pairs (3-gram Jaccard, stop-shingle-pruned candidates)
    a merge at that threshold would collapse. The knee of this curve
    is how practitioners pick the near-dup threshold before running
    the destructive merge — computed in ONE pass over the same
    candidate machinery as dedup_ngram_jaccard (threshold 0 keeps
    every scored candidate), then a 9-way explode of the ≤9 τ grid
    rows per pair and a count per τ.

    Scale: candidate scoring is the audited banded-join shape; the
    grid explode multiplies the PAIR table (already ≪ corpus) by a
    constant 9."""
    from ..operators.partitioning import fan_out

    docs = fan_out(t(spark, sf_dir, "documents"))
    pairs = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.0, max_shingle_df=25
    )
    grid = pairs.select(
        "jaccard", F.explode(F.sequence(F.lit(1), F.lit(9))).alias("k")
    )
    return (
        grid.groupBy(F.round(F.col("k") / 10.0, 1).alias("tau"))
        .agg(
            F.sum(
                F.when(
                    F.col("jaccard") >= F.col("k") / F.lit(10.0), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_pairs_merged")
        )
    )


@query(
    "orders_incremental_join_merge",
    oracle="""
    SELECT c.c_nationkey AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_nationkey
    """,
)
def orders_incremental_join_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental view maintenance for a JOIN view (the delta rule
    Δ(A⋈B) = ΔA⋈B when B is static): the per-nation revenue view over
    orders ⋈ customer is maintained as BASE (yesterday's orders,
    o_orderkey % 20 ≠ 0, already aggregated) merged with the
    aggregated delta of only the NEW orders joined to the static
    customer dim — the nightly-batch pattern where the fact delta is
    1/20th of the table and the view refresh never rescans history.
    The full-outer coalesce-sum merge mirrors
    orders_incremental_agg_merge, which maintains a plain aggregate;
    this entry adds the JOIN to the maintained expression. Oracle:
    the monolithic recompute over all orders — matching proves the
    delta rule.

    Scale: the delta path shuffles |Δ| rows once, joins the dim
    broadcast, and merges two nation-sized (≤25-row) aggregates."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
    )
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")

    def view_agg(orders_part: DataFrame) -> DataFrame:
        return (
            orders_part.join(
                F.broadcast(cust),
                orders_part.o_custkey == cust.c_custkey,
            )
            .groupBy(F.col("c_nationkey").alias("nationkey"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("p").alias("s"),
            )
        )

    base = view_agg(o.filter(F.col("o_orderkey") % 20 != 0))
    delta = view_agg(o.filter(F.col("o_orderkey") % 20 == 0))
    b = base.select(
        "nationkey", F.col("n").alias("n_b"), F.col("s").alias("s_b")
    )
    d = delta.select(
        "nationkey", F.col("n").alias("n_d"), F.col("s").alias("s_d")
    )
    merged = b.join(d, "nationkey", "full_outer").select(
        "nationkey",
        (
            F.coalesce(F.col("n_b"), F.lit(0))
            + F.coalesce(F.col("n_d"), F.lit(0))
        )
        .cast("long")
        .alias("n_orders"),
        (
            F.coalesce(F.col("s_b"), F.lit(0).cast("decimal(28,2)"))
            + F.coalesce(F.col("s_d"), F.lit(0).cast("decimal(28,2)"))
        )
        .cast("double")
        .alias("revenue"),
    )
    return merged


@query(
    "doc_rbo_lexical_vs_embedding",
    oracle="""
    WITH d AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk,
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS dl
      FROM documents
    ),
    tf AS (
      SELECT doc_id, dl,
        len(list_filter(tk, x -> x = 'hash')) AS tf_hash,
        len(list_filter(tk, x -> x = 'join')) AS tf_join,
        len(list_filter(tk, x -> x = 'stream')) AS tf_stream
      FROM d
    ),
    st AS (
      SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
        SUM(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS df_hash,
        SUM(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join,
        SUM(CASE WHEN tf_stream > 0 THEN 1 ELSE 0 END) AS df_stream
      FROM tf
    ),
    bm AS (
      SELECT doc_id,
        round(
          ln((n - df_hash + 0.5) / (df_hash + 0.5) + 1)
            * tf_hash * 2.2 / (tf_hash + 1.2 * (0.25 + 0.75 * dl / avgdl))
          + ln((n - df_join + 0.5) / (df_join + 0.5) + 1)
            * tf_join * 2.2 / (tf_join + 1.2 * (0.25 + 0.75 * dl / avgdl))
          + ln((n - df_stream + 0.5) / (df_stream + 0.5) + 1)
            * tf_stream * 2.2
            / (tf_stream + 1.2 * (0.25 + 0.75 * dl / avgdl)),
        6) AS bm25
      FROM tf, st
    ),
    bm20 AS (
      SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC)
        AS rb
      FROM bm QUALIFY rb <= 20
    ),
    qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           WHERE vec_id = 0),
    es AS (
      SELECT e.vec_id AS doc_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv.v)
               AS sim
      FROM embeddings e, qv WHERE e.vec_id <> 0
    ),
    em20 AS (
      SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id ASC)
        AS re
      FROM es QUALIFY re <= 20
    ),
    shared AS (
      SELECT greatest(bm20.rb, em20.re) AS m
      FROM bm20 JOIN em20 USING (doc_id)
    ),
    grid AS (
      SELECT u.d AS depth,
        (SELECT COUNT(*) FROM shared WHERE m <= u.d) AS x
      FROM UNNEST(range(1, 21)) AS u(d)
    ),
    terms AS (
      SELECT depth, x,
        CAST(round((1.0 - 0.9) / 0.9 * pow(0.9, depth)
                   * (CAST(x AS DOUBLE) / depth), 12)
             AS DECIMAL(28,12)) AS term
      FROM grid
    )
    SELECT CAST(depth AS INT) AS depth, CAST(x AS BIGINT) AS n_overlap,
      round(CAST(x AS DOUBLE) / depth, 6) AS agreement,
      CAST(round(CAST(SUM(term) OVER (ORDER BY depth
                        ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6)
           AS DOUBLE) AS rbo_min_cum
    FROM terms
    """,
)
def doc_rbo_lexical_vs_embedding(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rank-Biased Overlap (Webber-Moffat-Zobel, TOIS 2010) between
    the BM25 lexical top-20 and the embedding-cosine top-20 — the
    standard top-weighted agreement measure between two rankings
    (Kendall/Spearman need full permutations; RBO handles truncated,
    non-conjoint lists). Emits the per-depth overlap curve
    (|A∩B at depth d|, agreement X_d/d) and the cumulative
    truncated-RBO prefix sum with persistence p = 0.9 — the d = 20 row
    is RBO_min@20. Low RBO = the modalities surface DIFFERENT
    documents → hybrid fusion (doc_rrf_hybrid_topk) adds real recall;
    high RBO = one modality suffices.

    Scale: both rankings are bounded top-k lists (TakeOrdered first —
    see _bm25_top20/_embed_top20); everything after is arithmetic on a
    CONSTANT 20-row depth grid (each shared doc explodes to its
    suffix depths m..20). p^d terms are 12dp-snapped into DECIMAL
    before the prefix sum — engine-exact."""
    from .registry_ext import _bm25_top20, _embed_top20

    bm20 = _bm25_top20(spark, sf_dir)
    em20 = _embed_top20(spark, sf_dir)
    shared = bm20.join(
        em20, bm20["doc_id"] == em20["edoc"]
    ).select(F.greatest("rb", "re").alias("m"))
    # each shared doc contributes to every depth d >= m
    contrib = shared.select(
        F.explode(F.sequence(F.col("m"), F.lit(20))).alias("depth")
    ).groupBy("depth").agg(F.count(F.lit(1)).alias("x"))
    grid = spark.range(1, 21).select(
        F.col("id").cast("int").alias("depth")
    )
    g = grid.join(contrib, "depth", "left").withColumn(
        "x", F.coalesce(F.col("x"), F.lit(0))
    )
    term = (
        F.round(
            F.lit((1.0 - 0.9) / 0.9)
            * F.pow(F.lit(0.9), F.col("depth"))
            * (F.col("x").cast("double") / F.col("depth")),
            12,
        )
        .cast("decimal(28,12)")
    )
    w = Window.orderBy("depth").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        g.withColumn("_term", term)
        .select(
            F.col("depth").cast("int").alias("depth"),
            F.col("x").cast("long").alias("n_overlap"),
            F.round(F.col("x").cast("double") / F.col("depth"), 6).alias(
                "agreement"
            ),
            F.round(F.sum("_term").over(w).cast("double"), 6).alias(
                "rbo_min_cum"
            ),
        )
    )


@query(
    "knn_matryoshka_recall_eval",
    oracle="""
    WITH fullrank AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(
                          CAST(q.embedding AS DOUBLE[]),
                          CAST(c.embedding AS DOUBLE[])) DESC,
                        c.vec_id) AS rn
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id % 50 = 0
    ),
    full10 AS (SELECT query_id, neighbor_id FROM fullrank WHERE rn <= 10),
    trunc AS (
      SELECT u.d AS dim, q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY u.d, q.vec_id
               ORDER BY list_cosine_similarity(
                          CAST(q.embedding[1:u.d] AS DOUBLE[]),
                          CAST(c.embedding[1:u.d] AS DOUBLE[])) DESC,
                        c.vec_id) AS rn
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id,
           UNNEST([4, 8, 16]) AS u(d)
      WHERE q.vec_id % 50 = 0
    ),
    t10 AS (SELECT dim, query_id, neighbor_id FROM trunc WHERE rn <= 10),
    hits AS (
      SELECT t10.dim, COUNT(*) AS n_hits
      FROM t10 JOIN full10 USING (query_id, neighbor_id)
      GROUP BY t10.dim
    ),
    nq AS (SELECT COUNT(*) AS n FROM embeddings WHERE vec_id % 50 = 0)
    SELECT CAST(hits.dim AS INT) AS dim, CAST(nq.n AS BIGINT) AS n_queries,
           round(CAST(n_hits AS DOUBLE) / (10 * nq.n), 6)
             AS avg_recall_at_10
    FROM hits, nq
    """,
)
def knn_matryoshka_recall_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matryoshka-truncation evaluation (Kusupati et al., NeurIPS'22
    shape): how much top-10 cosine recall survives when the 64-dim
    embeddings are truncated to their first 4 / 8 / 16 dimensions —
    the measurement behind "store the short prefix, rerank with the
    full vector" serving designs (prefix ANN is 4–16× cheaper in
    memory and FLOPs). Recall@10 per dim = |trunc-top10 ∩
    full-top10| / (10·|queries|) — an integer hit count and ONE
    division, engine-exact.

    Scale: four passes of the vectorized matmul scorer (full + 3
    dims) — per-Arrow-batch BLAS with partial top-k, so only
    batches×q×k rows reach the final window; the slice pushes the
    FLOP cut into the scan itself. The query set inherits the
    driver-collect cap discipline (query side is the small one,
    never the corpus)."""
    from ..operators import similarity as S2

    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    full10 = S2.brute_force_topk_vectorized(q, emb, k=10).select(
        "query_id", "neighbor_id"
    )
    nq = q.agg(F.count(F.lit(1)).alias("n"))
    per_dim = []
    for d in (4, 8, 16):
        sliced = lambda df: df.select(  # noqa: E731
            "vec_id", F.slice("embedding", 1, d).alias("embedding")
        )
        t10 = S2.brute_force_topk_vectorized(
            sliced(q), sliced(emb), k=10
        ).select("query_id", "neighbor_id")
        hits = t10.join(full10, ["query_id", "neighbor_id"]).agg(
            F.count(F.lit(1)).alias("n_hits")
        )
        per_dim.append(
            hits.crossJoin(F.broadcast(nq)).select(
                F.lit(d).cast("int").alias("dim"),
                F.col("n").cast("long").alias("n_queries"),
                F.round(
                    F.col("n_hits").cast("double")
                    / (F.lit(10) * F.col("n")),
                    6,
                ).alias("avg_recall_at_10"),
            )
        )
    out = per_dim[0]
    for x in per_dim[1:]:
        out = out.unionByName(x)
    return out


HOLT_SCHEMA = (
    "h INT, forecast DOUBLE"
)


def _holt_kernel(pdf):
    # annotation-free Arrow kernel (see the pandas_udf hint note);
    # sequential double recursion — bit-identical to the recursive-CTE
    # oracle because both evaluate the SAME expressions in index order
    import pandas as pd

    pdf = pdf.sort_values("i")
    y = pdf["y"].to_list()
    lvl = y[0]
    trd = y[1] - y[0]
    for i in range(1, len(y)):
        new_lvl = 0.2 * y[i] + 0.8 * (lvl + trd)
        trd = 0.1 * (new_lvl - lvl) + 0.9 * trd
        lvl = new_lvl
    return pd.DataFrame(
        {
            "h": list(range(1, 25)),
            "forecast": [round(lvl + h * trd, 6) for h in range(1, 25)],
        }
    )


@query(
    "events_holt_forecast_hourly",
    oracle="""
    WITH RECURSIVE hb AS (
      SELECT epoch_us(ts) // 3600000000 AS h FROM events
    ),
    cnt AS (SELECT h, COUNT(*) AS c FROM hb GROUP BY h),
    span AS (SELECT MIN(h) AS mn, MAX(h) AS mx FROM hb),
    series AS (
      SELECT u.h - span.mn AS i,
             CAST(COALESCE(c.c, 0) AS DOUBLE) AS y
      FROM span, UNNEST(generate_series(mn, mx)) AS u(h)
      LEFT JOIN cnt c ON c.h = u.h
    ),
    t AS (SELECT MAX(i) AS tmax FROM series),
    holt(i, lvl, trd) AS (
      SELECT CAST(0 AS BIGINT),
             (SELECT y FROM series WHERE i = 0),
             (SELECT y FROM series WHERE i = 1)
               - (SELECT y FROM series WHERE i = 0)
      UNION ALL
      SELECT s.i,
             0.2 * s.y + 0.8 * (holt.lvl + holt.trd),
             0.1 * ((0.2 * s.y + 0.8 * (holt.lvl + holt.trd))
                    - holt.lvl)
               + 0.9 * holt.trd
      FROM holt JOIN series s ON s.i = holt.i + 1
    ),
    final AS (
      SELECT lvl, trd FROM holt, t WHERE holt.i = t.tmax
    )
    SELECT CAST(u.h AS INT) AS h, round(lvl + u.h * trd, 6) AS forecast
    FROM final, UNNEST(range(1, 25)) AS u(h)
    """,
)
def events_holt_forecast_hourly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Holt's linear-trend exponential smoothing (α=0.2, β=0.1) over
    the gap-filled global hourly event-count series, forecasting the
    next 24 hours — the classical capacity-planning forecaster next
    to the seasonal-naive baseline (orders_forecast_eval_monthly
    evaluates; this one PRODUCES a forecast). The smoothing recursion
    is inherently sequential, so this query is the engine's
    documented pattern for sequential state: aggregate the fact to a
    CALENDAR-BOUNDED series (≤ time-span hours — independent of row
    count), then run the recursion in one Arrow kernel over that
    bounded series. The oracle replays the identical recursion as a
    RECURSIVE CTE — float-exact because both evaluate the same
    double expressions in the same index order.

    Scale: one partial-aggregated groupBy(hour) over the fact; the
    spine join and the kernel touch only the bounded series (per-key
    forecasts at 100 TB shard the same kernel by key)."""
    e = t(spark, sf_dir, "events").select(
        F.expr(
            "unix_micros(cast(ts as timestamp)) div 3600000000"
        ).alias("h")
    )
    cnt = e.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    span = e.agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    spine = span.select(
        F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("h"),
        "mn",
    )
    series = (
        spine.join(cnt, "h", "left")
        .select(
            (F.col("h") - F.col("mn")).alias("i"),
            F.coalesce(F.col("c"), F.lit(0)).cast("double").alias("y"),
        )
        .withColumn("_g", F.lit(1))
    )
    return (
        series.groupBy("_g")
        .applyInPandas(_holt_kernel, schema=HOLT_SCHEMA)
    )


@query(
    "events_conformal_interval_eval",
    oracle="""
    WITH tagged AS (
      SELECT event_id, event_type, value,
             substr(md5(CAST(event_id AS VARCHAR)), 1, 1) AS hx
      FROM events
    ),
    tr AS (SELECT * FROM tagged WHERE hx BETWEEN '0' AND '9'),
    cal AS (SELECT * FROM tagged WHERE hx IN ('a', 'b', 'c')),
    te AS (SELECT * FROM tagged WHERE hx IN ('d', 'e', 'f')),
    pred AS (
      SELECT event_type,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*) AS p
      FROM tr GROUP BY event_type
    ),
    resid AS (
      SELECT abs(c.value - p.p) AS r, c.event_id
      FROM cal c JOIN pred p USING (event_type)
    ),
    nk AS (
      SELECT COUNT(*) AS n,
             CAST(ceil(0.9 * (COUNT(*) + 1)) AS BIGINT) AS k
      FROM resid
    ),
    q AS (
      SELECT rr.r FROM (
        SELECT r, ROW_NUMBER() OVER (ORDER BY r, event_id) AS rn
        FROM resid
      ) rr, nk WHERE rr.rn = nk.k
    ),
    cov AS (
      SELECT COUNT(*) AS nt,
             SUM(CASE WHEN abs(t.value - p.p) <= q.r
                      THEN 1 ELSE 0 END) AS inside
      FROM te t JOIN pred p USING (event_type), q
    )
    SELECT CAST(nk.n AS BIGINT) AS n_calibration,
           nk.k AS k_index,
           round(q.r, 6) AS q_hat,
           CAST(cov.nt AS BIGINT) AS n_test,
           round(CAST(cov.inside AS DOUBLE) / cov.nt, 6) AS coverage
    FROM nk, q, cov
    """,
)
def events_conformal_interval_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Split-conformal prediction intervals (Vovk; Lei et al. JASA'18)
    with distribution-free coverage: md5-split the events into
    train / calibration / test (10:3:3 hex bands), fit the trivial
    per-event-type mean predictor on train, take the conformal
    quantile q̂ = the ⌈0.9·(n+1)⌉-th smallest absolute calibration
    residual (an EXACT order statistic — positional, not
    interpolated), and report empirical coverage of pred ± q̂ on the
    held-out test band — the finite-sample guarantee says coverage ≥
    0.9 in expectation, and this query audits it. The uncertainty
    layer a prediction-serving pipeline wraps around any point model.

    Determinism: predictor means are DECIMAL-summed (one division);
    the order statistic ranks (residual, event_id) — a total order —
    through the range-partitioned ranking primitive; coverage is an
    integer count over one broadcast-joined scan.

    Scale: two broadcast joins of the 5-row predictor, one ranked()
    pass over the calibration slice, 1-row q̂ broadcast onto the test
    scan."""
    tagged = t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 1).alias(
            "hx"
        ),
    )
    tr = tagged.filter(F.col("hx").between("0", "9"))
    cal = tagged.filter(F.col("hx").isin("a", "b", "c"))
    te = tagged.filter(F.col("hx").isin("d", "e", "f"))
    pred = tr.groupBy("event_type").agg(
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("p")
    )
    resid = cal.join(F.broadcast(pred), "event_type").select(
        F.abs(F.col("value") - F.col("p")).alias("r"), "event_id"
    )
    rr, n_cal = ranked(
        resid, [F.col("r").asc(), F.col("event_id").asc()], rn_col="rn"
    )
    import math

    k = int(math.ceil(0.9 * (n_cal + 1)))
    q = rr.filter(F.col("rn") == k).select(F.col("r").alias("q_hat"))
    cov = (
        te.join(F.broadcast(pred), "event_type")
        .crossJoin(F.broadcast(q))
        .agg(
            F.count(F.lit(1)).alias("nt"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("p")) <= F.col("q_hat"),
                    1,
                ).otherwise(0)
            ).alias("inside"),
            F.first("q_hat").alias("q_hat"),
        )
    )
    return cov.select(
        F.lit(n_cal).cast("long").alias("n_calibration"),
        F.lit(k).cast("long").alias("k_index"),
        F.round("q_hat", 6).alias("q_hat"),
        F.col("nt").cast("long").alias("n_test"),
        F.round(F.col("inside").cast("double") / F.col("nt"), 6).alias(
            "coverage"
        ),
    )


@query(
    "media_audio_tone_detect",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS media_id,
      CAST(1000 + doc_id % 500 AS BIGINT) AS n_frames,
      CAST(CASE WHEN doc_id % 2 = 0 THEN 880 ELSE 440 END AS BIGINT)
        AS dominant_hz,
      TRUE AS separation_ok
    FROM documents WHERE doc_id % 3 = 1
    """,
)
def media_audio_tone_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio FEATURE EXTRACTION beyond waveform stats: single-bin DFT
    (Goertzel-style) tone detection on really-decoded PCM — the
    classic DSP primitive behind DTMF detection / tone screening.
    Each 'audio' doc synthesizes a deterministic TWO-tone 16 kHz WAV
    (440 Hz + 880 Hz; the louder tone alternates by doc parity:
    9000 vs 4000 amplitude), round-trips it through the real stdlib
    encode→decode path, and the Arrow kernel computes |Σ s[n]·
    e^(−2πi·f·n/fs)|² at both candidate bins FROM THE DECODED
    SAMPLES. The oracle re-derives the dominant bin arithmetically
    from the doc id and asserts the power separation envelope
    (dominant/total ≥ 0.6 — spectral leakage from the non-integer
    bin alignment cannot flip a 9000-vs-4000 amplitude gap; a broken
    decode, byte order, or bin math can and fails the boolean).
    Same media-fixture oracle pattern as media_audio_stats.

    Scale: one mapInPandas scan; per-payload O(N) per probed bin,
    no shuffle at all."""
    from ..operators.partitioning import fan_out as _fan_out

    def gen_detect(batches):
        import numpy as np
        import pandas as pd

        from ..operators.codecs import decode_wav, encode_wav

        def bin_power(s, f, fs):
            n = np.arange(len(s), dtype=np.float64)
            w = np.exp(-2j * np.pi * f * n / fs)
            z = np.dot(s.astype(np.float64), w)
            return (z.real**2 + z.imag**2) / len(s)

        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                nfr = 1000 + did % 500
                a440, a880 = (4000, 9000) if did % 2 == 0 else (9000, 4000)
                ts = np.arange(nfr)
                sig = (
                    a440 * np.sin(2 * np.pi * 440 * ts / 16000)
                    + a880 * np.sin(2 * np.pi * 880 * ts / 16000)
                ).astype(np.int16)
                rate, decoded = decode_wav(encode_wav(16000, sig))
                mono = decoded[:, 0]
                p440 = bin_power(mono, 440, rate)
                p880 = bin_power(mono, 880, rate)
                dom = 880 if p880 >= p440 else 440
                sep = max(p440, p880) / (p440 + p880)
                out.append((did, len(mono), dom, bool(sep >= 0.6)))
            yield pd.DataFrame(
                {
                    "media_id": [o[0] for o in out],
                    "n_frames": [o[1] for o in out],
                    "dominant_hz": [o[2] for o in out],
                    "separation_ok": [o[3] for o in out],
                }
            )

    docs = _fan_out(
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 1)
        .select("doc_id")
    )
    return docs.mapInPandas(
        gen_detect,
        schema=(
            "media_id long, n_frames long, dominant_hz long, "
            "separation_ok boolean"
        ),
    )


@query(
    "events_props_variant_stats",
    oracle="""
    WITH px AS (
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM events
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_even,
           CAST(SUM(CASE WHEN k % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_odd,
           CAST(SUM(CAST(k AS BIGINT) * k) AS BIGINT) AS k_sumsq
    FROM px GROUP BY event_type
    """,
)
def events_props_variant_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Semi-structured extraction through Spark 4's VARIANT type —
    the engine-NATIVE path next to events_props_json_stats'
    ``from_json``: ``parse_json`` converts the properties bag ONCE
    into the binary variant encoding (the open Parquet Variant
    format), and ``variant_get`` then does typed field access on the
    binary form — no schema declaration up front, no re-parsing per
    extraction, and shredded storage pushdown when the lakehouse
    writes variant columns natively. ``try_parse_json`` semantics on
    malformed rows (NULL, never a failed job). Aggregates an
    integer-exact profile (parity counts + sum of squares) so the
    oracle is arithmetic.

    Scale: scan-side parse + extraction (codegen'd), one
    partial-aggregated groupBy on the low-cardinality type key."""
    ev = t(spark, sf_dir, "events")
    k = F.variant_get(F.try_parse_json(F.col("props")), "$.k", "int")
    px = ev.select("event_type", k.alias("k"))
    return px.groupBy("event_type").agg(
        F.sum(F.when(F.col("k") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_even"),
        F.sum(F.when(F.col("k") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_odd"),
        F.sum(F.col("k").cast("long") * F.col("k"))
        .cast("long")
        .alias("k_sumsq"),
    )


@query(
    "doc_semantic_decontaminate",
    oracle="""
    WITH ref AS (
      SELECT vec_id AS rid, CAST(embedding AS DOUBLE[]) AS rv
      FROM embeddings WHERE vec_id % 100 = 0
    ),
    corp AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id % 100 <> 0
    ),
    scored AS (
      SELECT corp.vec_id, ref.rid,
             list_cosine_similarity(v, rv) AS sim
      FROM corp, ref
    ),
    best AS (
      SELECT vec_id, rid, sim,
             ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY sim DESC, rid ASC) AS rn
      FROM scored
    )
    SELECT vec_id, round(sim, 4) AS max_sim,
           rid AS nearest_ref_id,
           round(sim, 4) >= 0.9 AS flagged
    FROM best WHERE rn = 1
    """,
)
def doc_semantic_decontaminate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SEMANTIC decontamination — the embedding-space companion to the
    n-gram doc_decontaminate: screen every corpus vector against the
    benchmark/eval reference set (vec_id % 100 = 0 stands in for the
    held-out benchmark embeddings) and emit its maximum cosine, the
    nearest benchmark item, and a ≥ 0.9 contamination flag. N-gram
    overlap misses paraphrases; embedding similarity is how modern
    pipelines catch them (reworded eval questions, translated
    contamination).

    Scale: ``max_sim_vs_reference`` — the corpus is ONE mapInPandas
    matmul scan against the collected (cap-guarded) reference matrix;
    no join, no shuffle, output exactly one row per corpus vector."""
    from ..operators import similarity as S2

    emb = t(spark, sf_dir, "embeddings")
    ref = emb.filter(F.col("vec_id") % 100 == 0)
    corp = emb.filter(F.col("vec_id") % 100 != 0)
    ms = S2.max_sim_vs_reference(corp, ref)
    return ms.select(
        "vec_id",
        F.round("max_sim", 4).alias("max_sim"),
        "nearest_ref_id",
        (F.round("max_sim", 4) >= 0.9).alias("flagged"),
    )


@query(
    "embedding_label_noise_screen",
    oracle="""
    WITH q AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
      FROM embeddings WHERE vec_id % 10 = 0
    ),
    c AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    nn AS (
      SELECT q.vec_id, c.vec_id AS nid,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                        c.vec_id ASC) AS rn
      FROM q JOIN c ON q.vec_id <> c.vec_id
    ),
    votes AS (
      SELECT nn.vec_id, e.label, COUNT(*) AS cnt
      FROM nn JOIN embeddings e ON e.vec_id = nn.nid
      WHERE nn.rn <= 5
      GROUP BY nn.vec_id, e.label
    ),
    maj AS (
      SELECT vec_id, label AS majority_label,
             ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY cnt DESC, label ASC) AS rk
      FROM votes
    )
    SELECT q.vec_id, CAST(q.label AS INT) AS own_label,
           CAST(m.majority_label AS INT) AS majority_label,
           q.label <> m.majority_label AS flagged
    FROM q JOIN maj m ON m.vec_id = q.vec_id AND m.rk = 1
    """,
)
def embedding_label_noise_screen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Label-noise screening by NEIGHBORHOOD VOTE (confident-learning
    lite): for each audited vector, the majority label among its 5
    nearest neighbors (cosine, total-ordered, ties → smallest label);
    a vector whose own label disagrees is flagged for review — the
    standard first-pass label-quality audit on a labeled embedding
    corpus before training on it. Audited subset vec_id % 10 = 0
    keeps the query side bounded; screening the full corpus at 100 TB
    swaps the scorer for the LSH-bucketed path, same vote step.

    Scale: one vectorized matmul top-5 pass (q×5 rows shuffle), one
    broadcast-label join, one vote groupBy, per-vector windows over
    ≤5 rows."""
    from pyspark.sql.window import Window as W2

    from ..operators import similarity as S2

    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 10 == 0)
    top5 = S2.brute_force_topk_vectorized(q, emb, k=5).select(
        F.col("query_id").alias("vec_id"),
        F.col("neighbor_id").alias("nid"),
    )
    labels = emb.select(F.col("vec_id").alias("nid"), "label")
    votes = (
        top5.join(F.broadcast(labels), "nid")
        .groupBy("vec_id", "label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = W2.partitionBy("vec_id").orderBy(
        F.col("cnt").desc(), F.col("label").asc()
    )
    maj = (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", F.col("label").alias("majority_label"))
    )
    own = q.select("vec_id", F.col("label").alias("own_label"))
    return own.join(maj, "vec_id").select(
        "vec_id",
        F.col("own_label").cast("int").alias("own_label"),
        F.col("majority_label").cast("int").alias("majority_label"),
        (F.col("own_label") != F.col("majority_label")).alias("flagged"),
    )


@query(
    "events_markov_next_event_accuracy",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS next_type,
             substr(md5(CAST(user_id AS VARCHAR)), 1, 1) AS hx
      FROM events
    ),
    trans AS (
      SELECT * FROM seq WHERE next_type IS NOT NULL
    ),
    train AS (
      SELECT event_type, next_type, COUNT(*) AS cnt
      FROM trans WHERE hx < 'c' GROUP BY event_type, next_type
    ),
    model AS (
      SELECT event_type, next_type AS predicted_next,
             ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY cnt DESC, next_type ASC) AS rk
      FROM train
    ),
    test AS (SELECT * FROM trans WHERE hx >= 'c')
    SELECT t.event_type AS prev_type, m.predicted_next,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN t.next_type = m.predicted_next
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           round(CAST(SUM(CASE WHEN t.next_type = m.predicted_next
                              THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS accuracy
    FROM test t JOIN model m
      ON m.event_type = t.event_type AND m.rk = 1
    GROUP BY t.event_type, m.predicted_next
    """,
)
def events_markov_next_event_accuracy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-order Markov next-event prediction with a held-out
    accuracy audit: learn the MLE transition argmax on train users
    (md5 split 12:4), predict each test transition's next event from
    its predecessor, and report per-state accuracy — the evaluation
    companion to the descriptive events_type_transition_matrix
    (counts alone say nothing about predictive value). Ties in the
    argmax break lexicographically — deterministic model, integer-
    exact scoring.

    Scale: one per-user LEAD window (groups bounded by per-user
    activity), one |states|²-bounded train aggregate, the 5-row model
    broadcast onto the test scan."""
    seq = t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1).alias(
            "hx"
        ),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        seq.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .select("event_type", "next_type", "hx")
    )
    train = (
        trans.filter(F.col("hx") < "c")
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wm = Window.partitionBy("event_type").orderBy(
        F.col("cnt").desc(), F.col("next_type").asc()
    )
    model = (
        train.withColumn("rk", F.row_number().over(wm))
        .filter(F.col("rk") == 1)
        .select(
            "event_type", F.col("next_type").alias("predicted_next")
        )
    )
    test = trans.filter(F.col("hx") >= "c")
    return (
        test.join(F.broadcast(model), "event_type")
        .groupBy(
            F.col("event_type").alias("prev_type"), "predicted_next"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.when(
                    F.col("next_type") == F.col("predicted_next"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
        )
        .select(
            "prev_type",
            "predicted_next",
            "n_test",
            "n_correct",
            F.round(
                F.col("n_correct").cast("double") / F.col("n_test"), 6
            ).alias("accuracy"),
        )
    )


@query(
    "privacy_tokenized_join_audit",
    oracle="""
    WITH raw AS (
      SELECT o.o_orderkey
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_mktsegment = 'MACHINERY'
    ),
    tok AS (
      SELECT o.o_orderkey
      FROM (SELECT o_orderkey,
                   md5('pepper:' || CAST(o_custkey AS VARCHAR)) AS tk
            FROM orders) o
      JOIN (SELECT md5('pepper:' || CAST(c_custkey AS VARCHAR)) AS tk
            FROM customer WHERE c_mktsegment = 'MACHINERY') c
        ON c.tk = o.tk
    )
    SELECT 'raw' AS method, CAST(COUNT(*) AS BIGINT) AS n_joined,
           CAST(SUM(o_orderkey) AS BIGINT) AS orderkey_sum
    FROM raw
    UNION ALL
    SELECT 'tokenized', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(o_orderkey) AS BIGINT)
    FROM tok
    """,
)
def privacy_tokenized_join_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Privacy-preserving JOIN via keyed tokenization: both sides
    independently replace the join key with a peppered hash token
    (md5 of a shared secret + key — the PII-tokenization pattern that
    lets two datasets join WITHOUT exchanging raw identifiers), and
    the audit proves the tokenized join is row-for-row the raw-key
    join (same count, same orderkey checksum, emitted as two
    comparable rows). Completes the privacy family next to
    customer_k_anonymity and events_dp_event_type_release. In
    production the pepper lives in a KMS, not a literal; collision
    probability at 128 bits is negligible at any corpus size.

    Scale: both joins shuffle on their (token or raw) key
    identically — tokenization adds one scan-side hash, no extra
    exchange."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "MACHINERY"
    ).select("c_custkey")
    raw = o.join(c, o.o_custkey == c.c_custkey).agg(
        F.count(F.lit(1)).cast("long").alias("n_joined"),
        F.sum("o_orderkey").cast("long").alias("orderkey_sum"),
    )
    tok_of = lambda col: F.md5(  # noqa: E731
        F.concat(F.lit("pepper:"), col.cast("string"))
    )
    o_t = o.select("o_orderkey", tok_of(F.col("o_custkey")).alias("tk"))
    c_t = c.select(tok_of(F.col("c_custkey")).alias("tk"))
    tok = o_t.join(c_t, "tk").agg(
        F.count(F.lit(1)).cast("long").alias("n_joined"),
        F.sum("o_orderkey").cast("long").alias("orderkey_sum"),
    )
    return raw.select(
        F.lit("raw").alias("method"), "n_joined", "orderkey_sum"
    ).unionByName(
        tok.select(
            F.lit("tokenized").alias("method"), "n_joined", "orderkey_sum"
        )
    )


def _haar_oracle() -> str:
    """Generate the 9-level unrolled Haar oracle: level CTEs halve the
    series by pairing (2k, 2k+1) — mechanical, so built by loop."""
    parts = ["""
    WITH hb AS (
      SELECT epoch_us(ts) // 3600000000 AS h FROM events
    ),
    cnt AS (SELECT h, COUNT(*) AS c FROM hb GROUP BY h),
    span AS (SELECT MIN(h) AS mn FROM hb),
    grid AS (
      SELECT u.i, span.mn + u.i AS h
      FROM span, UNNEST(range(0, 512)) AS u(i)
    ),
    c0 AS (
      SELECT g.i, CAST(COALESCE(c.c, 0) AS DOUBLE) AS c
      FROM grid g LEFT JOIN cnt c ON c.h = g.h
    )"""]
    for lvl in range(1, 10):
        a, b = f"c{lvl - 1}", f"c{lvl}"
        parts.append(f""",
    {b} AS (
      SELECT i // 2 AS i,
        (MAX(CASE WHEN i % 2 = 0 THEN c END)
         + MAX(CASE WHEN i % 2 = 1 THEN c END)) / 2.0 AS c,
        (MAX(CASE WHEN i % 2 = 0 THEN c END)
         - MAX(CASE WHEN i % 2 = 1 THEN c END)) / 2.0 AS d
      FROM {a} GROUP BY i // 2
    )""")
    sel = "\n    UNION ALL\n".join(
        f"""    SELECT {lvl} AS level, CAST(COUNT(*) AS BIGINT) AS n_coeffs,
      round(SUM(d * d), 6) AS energy FROM c{lvl}"""
        for lvl in range(1, 10)
    )
    parts.append(
        "\n    SELECT CAST(level AS INT) AS level, n_coeffs, energy"
        " FROM (\n" + sel + "\n    )"
    )
    return "".join(parts)


@query("events_haar_wavelet_energy", oracle=_haar_oracle())
def events_haar_wavelet_energy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Haar wavelet multi-resolution decomposition of the hourly
    event-count series (first 512 hours, zero-padded): per-level
    detail ENERGY — which time scales carry the signal's variance
    (level 1 ≈ hour-to-hour noise, levels 4-5 ≈ daily rhythm, higher
    ≈ multi-day drift). The classical multi-scale screen before
    choosing smoothing/seasonality windows, and the transform behind
    wavelet-compressed telemetry.

    Exactness without snapping: hourly counts are integers and every
    Haar step is (±sum)/2, so all coefficients are dyadic rationals
    exactly representable in doubles; squares and their sums stay
    exact (magnitude ≪ 2^53 ulp budget at any realistic rate), making
    SUM(d²) engine-exact with NO decimal idiom needed — the 6-decimal
    round is belt-and-braces.

    Scale: one groupBy(hour) over the fact; the 9 halving aggregates
    touch ≤512 rows total. Per-key wavelet screens at 100 TB shard
    the same pyramid by key."""
    e = t(spark, sf_dir, "events").select(
        F.expr(
            "unix_micros(cast(ts as timestamp)) div 3600000000"
        ).alias("h")
    )
    cnt = e.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    span = e.agg(F.min("h").alias("mn"))
    grid = span.select(
        F.explode(F.sequence(F.lit(0), F.lit(511))).alias("i"), "mn"
    )
    cur = (
        grid.join(cnt, grid.mn + grid.i == cnt.h, "left")
        .select("i", F.coalesce(F.col("c"), F.lit(0)).cast("double").alias("c"))
    )
    out = None
    for lvl in range(1, 10):
        nxt = (
            cur.groupBy((F.col("i") / 2).cast("long").alias("i2"))
            .agg(
                (
                    (
                        F.max(F.when(F.col("i") % 2 == 0, F.col("c")))
                        + F.max(F.when(F.col("i") % 2 == 1, F.col("c")))
                    )
                    / 2.0
                ).alias("c"),
                (
                    (
                        F.max(F.when(F.col("i") % 2 == 0, F.col("c")))
                        - F.max(F.when(F.col("i") % 2 == 1, F.col("c")))
                    )
                    / 2.0
                ).alias("d"),
            )
            .select(F.col("i2").alias("i"), "c", "d")
        )
        nxt = nxt.localCheckpoint(eager=False)
        lvl_row = nxt.agg(
            F.lit(lvl).cast("int").alias("level"),
            F.count(F.lit(1)).cast("long").alias("n_coeffs"),
            F.round(F.sum(F.col("d") * F.col("d")), 6).alias("energy"),
        ).select("level", "n_coeffs", "energy")
        out = lvl_row if out is None else out.unionByName(lvl_row)
        cur = nxt.select("i", "c")
    return out


@query(
    "supplier_reliability_wilson_topk",
    oracle="""
    WITH ot AS (
      SELECT l_suppkey AS suppkey, COUNT(*) AS n,
             SUM(CASE WHEN l_returnflag <> 'R'
                      THEN 1 ELSE 0 END) AS on_time
      FROM lineitem GROUP BY l_suppkey
    ),
    w AS (
      SELECT suppkey, n, on_time,
        CAST(on_time AS DOUBLE) / n AS p_hat,
        ((CAST(on_time AS DOUBLE) / n) + 1.96 * 1.96 / (2 * n)
         - 1.96 * sqrt((CAST(on_time AS DOUBLE) / n)
                       * (1 - CAST(on_time AS DOUBLE) / n) / n
                       + 1.96 * 1.96 / (4.0 * n * n)))
          / (1 + 1.96 * 1.96 / n) AS wl
      FROM ot
    )
    SELECT suppkey, CAST(n AS BIGINT) AS n_shipments,
           CAST(on_time AS BIGINT) AS n_not_returned,
           round(p_hat, 6) AS p_hat,
           round(wl, 6) AS wilson_lower
    FROM w
    ORDER BY wl DESC, suppkey ASC LIMIT 20
    """,
)
def supplier_reliability_wilson_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Supplier NON-RETURN leaderboard ranked by the WILSON score
    lower bound (z = 1.96) instead of the raw proportion — the
    statistically honest small-sample ranking (a 3/3 supplier must
    not outrank a 97/100 one; the lower confidence bound encodes
    that). The classic "sort by lower bound, not by average" fix;
    success = the lineitem was not returned (l_returnflag ≠ 'R').

    Cross-engine exactness WITHOUT snapping: the Wilson formula uses
    only +, −, ×, ÷, √ — all IEEE-754 correctly-rounded in both
    engines (unlike ln/exp, which need the DECIMAL snap idiom) — so
    the bound is bit-identical from identical integer inputs and the
    raw-value ORDER BY is deterministic; output rounds to 6 for
    display only.

    Scale: one partial-aggregated groupBy(suppkey) over lineitem,
    scan-side arithmetic on the supplier-sized result, TakeOrdered
    top-20 — no global sort, no join."""
    li = t(spark, sf_dir, "lineitem")
    ot = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("l_returnflag") != "R", 1).otherwise(0)
        ).alias("on_time"),
    )
    p = F.col("on_time").cast("double") / F.col("n")
    z2 = F.lit(1.96) * F.lit(1.96)
    wl = (
        p
        + z2 / (2 * F.col("n"))
        - F.lit(1.96)
        * F.sqrt(
            p * (F.lit(1) - p) / F.col("n")
            + z2 / (F.lit(4.0) * F.col("n") * F.col("n"))
        )
    ) / (F.lit(1) + z2 / F.col("n"))
    return (
        ot.withColumn("_wl", wl)
        .orderBy(F.col("_wl").desc(), F.col("suppkey").asc())
        .limit(20)
        .select(
            "suppkey",
            F.col("n").cast("long").alias("n_shipments"),
            F.col("on_time").cast("long").alias("n_not_returned"),
            F.round(p, 6).alias("p_hat"),
            F.round("_wl", 6).alias("wilson_lower"),
        )
    )


@query(
    "events_ab_power_analysis",
    oracle="""
    WITH base AS (
      SELECT CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS p
      FROM events WHERE event_type IN ('click', 'purchase')
    )
    SELECT round(p, 6) AS baseline_p,
           round(0.1 * p, 6) AS mde_abs,
           CAST(ceil(2.0 * (1.959964 + 0.841621) * (1.959964 + 0.841621)
                     * p * (1 - p) / ((0.1 * p) * (0.1 * p)))
                AS BIGINT) AS n_per_arm,
           CAST(ceil(2.0 * (1.959964 + 0.841621) * (1.959964 + 0.841621)
                     * p * (1 - p) / ((0.1 * p) * (0.1 * p)))
                * 2 AS BIGINT) AS n_total
    FROM base
    """,
)
def events_ab_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B test POWER ANALYSIS from observed data: with the measured
    baseline conversion rate p (purchases among click/purchase
    events), the per-arm sample size needed to detect a 10% relative
    lift at α = 0.05 (two-sided) and 80% power — the planning
    calculation run before launching any experiment the SPRT/z-test/
    CUPED queries then evaluate. n = 2(z_{α/2}+z_β)²·p(1−p)/δ² with
    the standard normal quantiles as literals (1.959964, 0.841621 —
    quantile constants are spec inputs, not data), so the whole
    formula is +,−,×,÷ on one aggregated p: engine-exact, no snap
    needed; ceil on an expression safely far from integer boundaries.

    Scale: one filtered 1-row aggregate; arithmetic on the result."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    base = ev.agg(
        (
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("p")
    )
    p = F.col("p")
    zsum = F.lit(1.959964) + F.lit(0.841621)
    n_arm = F.ceil(
        F.lit(2.0) * zsum * zsum * p * (F.lit(1) - p)
        / ((F.lit(0.1) * p) * (F.lit(0.1) * p))
    ).cast("long")
    return base.select(
        F.round(p, 6).alias("baseline_p"),
        F.round(F.lit(0.1) * p, 6).alias("mde_abs"),
        n_arm.alias("n_per_arm"),
        (n_arm * 2).cast("long").alias("n_total"),
    )


@query(
    "user_feature_assembly",
    oracle="""
    WITH base AS (
      SELECT user_id, COUNT(*) AS n_events,
        COUNT(DISTINCT event_type) AS n_types,
        COUNT(DISTINCT CAST(ts AS DATE)) AS n_active_days,
        CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_purchases,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
      FROM events GROUP BY user_id
    ),
    hod AS (
      SELECT user_id, hour(ts) AS h, COUNT(*) AS n_h
      FROM events GROUP BY user_id, hour(ts)
    ),
    hodp AS (
      SELECT user_id,
        CAST(n_h AS DOUBLE) / SUM(n_h) OVER (PARTITION BY user_id) AS p
      FROM hod
    ),
    ent AS (
      SELECT user_id,
        round(CAST(SUM(CAST(round(-p * ln(p), 12)
          AS DECIMAL(28,12))) AS DOUBLE), 6) AS hour_entropy
      FROM hodp GROUP BY user_id
    )
    SELECT b.user_id, CAST(b.n_events AS BIGINT) AS n_events,
      CAST(b.n_types AS BIGINT) AS n_types,
      CAST(b.n_active_days AS BIGINT) AS n_active_days,
      b.n_purchases,
      round(b.value_sum, 6) AS value_sum,
      round(CAST(b.n_purchases AS DOUBLE) / b.n_events, 6)
        AS purchase_rate,
      e.hour_entropy
    FROM base b JOIN ent e USING (user_id)
    """,
)
def user_feature_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEATURE-STORE assembly: one wide per-user feature vector
    (activity volume, type diversity, active days, purchase count and
    rate, DECIMAL-exact value sum, and the hour-of-day behavioral
    entropy) materialized in a single query — the offline-feature
    pattern where every feature family shares ONE key partitioning so
    the final assembly join is a same-key merge, not a new shuffle.
    Downstream consumers (bot screening, stratified sampling, CUPED
    covariates) read one table instead of five.

    Scale: both feature branches aggregate the same fact on user_id
    (co-partitioned), the entropy branch adds its per-(user, hour)
    pre-aggregate (≤24 rows per user), and the assembly join carries
    the user dimension only."""
    ev = t(spark, sf_dir, "events")
    base = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
        F.countDistinct(F.col("ts").cast("date"))
        .cast("long")
        .alias("n_active_days"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("n_purchases"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("value_sum"),
    )
    hod = ev.groupBy("user_id", F.hour("ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n_h")
    )
    wtot = Window.partitionBy("user_id")
    p = F.col("n_h").cast("double") / F.sum("n_h").over(wtot)
    ent = (
        hod.select(
            "user_id",
            F.round(-p * F.log(p), 12).cast("decimal(28,12)").alias("term"),
        )
        .groupBy("user_id")
        .agg(
            F.round(F.sum("term").cast("double"), 6).alias("hour_entropy")
        )
    )
    return base.join(ent, "user_id").select(
        "user_id",
        "n_events",
        "n_types",
        "n_active_days",
        "n_purchases",
        F.round("value_sum", 6).alias("value_sum"),
        F.round(
            F.col("n_purchases").cast("double") / F.col("n_events"), 6
        ).alias("purchase_rate"),
        "hour_entropy",
    )


@query(
    "orders_chained_quarter_index",
    oracle="""
    WITH RECURSIVE qt AS (
      SELECT year(o_orderdate) * 4 + quarter(o_orderdate) AS q,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS rev
      FROM orders
      GROUP BY year(o_orderdate) * 4 + quarter(o_orderdate)
    ),
    bounds AS (SELECT MAX(q) AS q1 FROM qt),
    idx AS (
      SELECT q1 - 3 AS q, CAST(100.0 AS DOUBLE) AS chained,
             CAST(NULL AS DOUBLE) AS r_capped
      FROM bounds
      UNION ALL
      SELECT i.q + 1,
             i.chained * least(1.05, greatest(0.95, t.rev / p.rev)),
             least(1.05, greatest(0.95, t.rev / p.rev))
      FROM idx i
      JOIN qt p ON p.q = i.q
      JOIN qt t ON t.q = i.q + 1
      JOIN bounds b ON i.q < b.q1
    )
    SELECT CAST(q AS BIGINT) AS quarter_id, chained, r_capped
    FROM idx ORDER BY quarter_id
    """,
)
def orders_chained_quarter_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHAINED quarterly revenue index over the trailing 4 quarters —
    a Laspeyres-style chain: each quarter's link ratio rev_t/rev_{t-1}
    is CAPPED into [0.95, 1.05] before compounding (the capping makes
    the product genuinely sequential — it cannot telescope), base 100
    at the window start.

    This query's POINT is the engine surface: it runs Spark 4's
    native ``WITH RECURSIVE`` (SPARK-24497) for the compounding walk —
    the only sequential-recurrence query in the registry expressed as
    recursive SQL on the Spark side rather than an Arrow kernel
    (contrast events_holt_forecast_hourly). The quarterly aggregate is
    pre-materialized to a single-partition 27-row spine (coalesce +
    lazy localCheckpoint) so each of the 3 recursion steps joins an
    in-memory table instead of re-running the corpus scan — recursion
    depth is CONSTANT (8 quarters) regardless of data size; the
    corpus-scale work is the one groupBy.

    Determinism: both engines compound the same IEEE doubles in the
    same recursion order — division, least/greatest and multiply are
    correctly rounded, so values are bit-exact with NO decimal snap
    (the Wilson-leaderboard argument)."""
    orders = t(spark, sf_dir, "orders")
    qt = (
        orders.groupBy(
            (F.year("o_orderdate") * 4 + F.quarter("o_orderdate")).alias("q")
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("rev")
        )
        .coalesce(1)
        .localCheckpoint(eager=False)
    )
    qt.createOrReplaceTempView("qt_chain_spine")
    return spark.sql(
        """
        WITH RECURSIVE bounds AS (
          SELECT MAX(q) AS q1 FROM qt_chain_spine
        ),
        idx AS (
          SELECT q1 - 3 AS q, CAST(100.0 AS DOUBLE) AS chained,
                 CAST(NULL AS DOUBLE) AS r_capped
          FROM bounds
          UNION ALL
          SELECT i.q + 1,
                 i.chained * least(1.05, greatest(0.95, t.rev / p.rev)),
                 least(1.05, greatest(0.95, t.rev / p.rev))
          FROM idx i
          JOIN qt_chain_spine p ON p.q = i.q
          JOIN qt_chain_spine t ON t.q = i.q + 1
          JOIN bounds b ON i.q < b.q1
        )
        SELECT CAST(q AS BIGINT) AS quarter_id, chained, r_capped
        FROM idx
        """
    )


@query(
    "nation_top2_customers_lateral",
    oracle="""
    SELECT n.n_name AS nation, c.c_custkey AS custkey, c.bal
    FROM nation n,
    LATERAL (
      SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS bal
      FROM customer
      WHERE c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey
      LIMIT 2
    ) c
    """,
)
def nation_top2_customers_lateral(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-2 customers by account balance per nation, written as a
    CORRELATED LATERAL SUBQUERY (SQL:1999 lateral derived table) —
    identical SQL text runs on both engines.

    The engine-surface point: Spark's decorrelation rewrites the
    per-nation ORDER BY ... LIMIT 2 into a row_number window
    partitioned by c_nationkey + a broadcast hash join against the
    nation dim — i.e. the optimizer recovers EXACTLY the distributed
    top-k-per-group plan this registry hand-writes elsewhere
    (top_users_per_hour), with no per-nation re-execution of the
    inner query. Verified via .explain: one customer scan, one
    window, one broadcast join; the LIMIT's tie order is pinned by
    the (c_acctbal DESC, c_custkey) total order so both engines pick
    the same 2 rows deterministically."""
    for tb in ("nation", "customer"):
        t(spark, sf_dir, tb).createOrReplaceTempView(f"{tb}_lat")
    return spark.sql(
        """
        SELECT n.n_name AS nation, c.c_custkey AS custkey, c.bal
        FROM nation_lat n,
        LATERAL (
          SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS bal
          FROM customer_lat
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey
          LIMIT 2
        ) c
        """
    )


class _SplitSentencesUDTF:
    """Python UDTF (Spark 4 user-defined table function): expands a
    document into one row per '. '-delimited sentence. Module-level
    for picklability; the deterministic non-regex split mirrors
    DuckDB's string_split exactly (both keep empty pieces)."""

    def eval(self, source, text):
        for i, sent in enumerate((text or "").split(". ")):
            yield source, i, len(sent)


@query(
    "doc_sentence_stats_udtf",
    oracle="""
    WITH s AS (
      SELECT source,
             unnest(string_split(coalesce(text, ''), '. ')) AS sent
      FROM documents
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sentences,
           CAST(SUM(length(sent)) AS BIGINT) AS sum_chars,
           round(CAST(SUM(length(sent)) AS DOUBLE) / COUNT(*), 6)
             AS avg_chars
    FROM s GROUP BY source
    """,
)
def doc_sentence_stats_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sentence statistics through a PYTHON UDTF — the
    Spark 4 user-defined TABLE function API (one input row → many
    output rows), invoked from SQL via LATERAL, the canonical shape
    for custom row expanders (sentence/paragraph splitters, format
    parsers) that don't fit a scalar UDF.

    Engine-surface coverage first: the same expansion is expressible
    scan-side (explode(split(...)) — how doc_chunk_tokens does it,
    and the right call in a hot path); this query pins the UDTF
    execution path — Python worker fan-out under a LATERAL join,
    output schema enforcement, downstream JVM-side aggregation — with
    an oracle. The split is the non-regex '. ' delimiter so Python's
    str.split and DuckDB's string_split agree byte-for-byte,
    including empty pieces."""
    from pyspark.sql.functions import udtf

    spark.udtf.register(
        "split_sentences_udtf",
        udtf(
            _SplitSentencesUDTF,
            returnType="source string, sent_idx int, n_chars int",
        ),
    )
    t(spark, sf_dir, "documents").createOrReplaceTempView("documents_udtf")
    return spark.sql(
        """
        SELECT s.source, CAST(COUNT(*) AS BIGINT) AS n_sentences,
               CAST(SUM(s.n_chars) AS BIGINT) AS sum_chars,
               round(CAST(SUM(s.n_chars) AS DOUBLE) / COUNT(*), 6)
                 AS avg_chars
        FROM documents_udtf d,
        LATERAL split_sentences_udtf(d.source, d.text) s
        GROUP BY s.source
        """
    )
