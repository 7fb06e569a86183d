"""Round-3 session-B additions: graph analytics beyond PageRank,
autocorrelation, target encoding, chunk-level exact-substring dedup
(Lee et al. shape), and md5-derandomized sketches (count-min, Bloom
join pruning) whose estimates are EXACTLY reproducible in the DuckDB
oracle because both engines compute the identical md5-derived hashes.

Graph base: the part co-purchase graph — two parts are linked when
they appear in the same order. Per-order fan-out is bounded by order
size (≤7 lineitems in TPC-H-shaped data), so edge construction is
linear in lineitem at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import graph as G
from ..operators.dedup import sorted_pairs
from ..operators.text import tokens_col
from .registry import query, t
from .registry_ext import _SHINGLES_CTE, _lang_count_sql

# Shared DuckDB CTE: canonical part co-purchase edges + degrees.
_EDGES_SQL = """
    e AS (
      SELECT DISTINCT l1.l_partkey AS u, l2.l_partkey AS v
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    ),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
      ) GROUP BY node
    )
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (u < v) part co-purchase edge set. ONE groupBy on
    l_orderkey collects each order's sorted part list and a scan-side
    lambda explodes its C(items, 2) ≤ C(7, 2) pairs — one shuffle
    total (vs the prior self-join's two shuffled sides + join),
    measured 2.8 → 2.0 s warm at sf0.1 for the edge build. Per-order
    fan-out is bounded by order size — linear in lineitem, no hub
    blow-up. array_distinct before pairing: a part appearing twice in
    one order must not emit a self-pair."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.array_sort(
                F.array_distinct(F.collect_list("l_partkey"))
            ).alias("pk")
        )
        .select(F.explode(sorted_pairs("pk")).alias("p"))
        .select(F.col("p.id_a").alias("u"), F.col("p.id_b").alias("v"))
        .distinct()
    )


@query(
    "graph_triangle_stats",
    oracle=f"""
    WITH {_EDGES_SQL},
    tri AS (
      SELECT COUNT(*) AS n_tri
      FROM e e1 JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
           JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT CAST(n_tri AS BIGINT) FROM tri) AS n_triangles,
           (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
           ROUND(3.0 * (SELECT n_tri FROM tri)
                 / (SELECT SUM(d * (d - 1) / 2) FROM deg), 9) AS global_clustering
    """,
)
def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the part
    co-purchase graph via degree-oriented wedge enumeration
    (operators/graph.py:triangle_stats has the last-reducer scale
    notes). Exact integer counts → exact oracle; the oracle closes
    triangles with the simple a<b<c three-way join, which is fine at
    oracle scale but squares hub degrees — the Spark side is the
    100 TB shape."""
    return G.triangle_stats(_copurchase_edges(spark, sf_dir))


@query(
    "graph_degree_histogram",
    oracle=f"""
    WITH {_EDGES_SQL}
    SELECT d AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY d
    """,
)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph — the first thing
    to look at before choosing a join/partition strategy on graph
    data (hub detection feeds the skew-salting decision the same way
    key_skew_profile does for relational keys)."""
    e = _copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))


@query(
    "graph_label_propagation",
    oracle=f"""
    WITH {_EDGES_SQL},
    ed AS (SELECT u AS src, v AS dst FROM e
           UNION ALL SELECT v AS src, u AS dst FROM e),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM ed),
    c1 AS (
      SELECT ed.dst AS node, l.label, COUNT(*) AS cnt
      FROM ed JOIN l0 l ON l.node = ed.src GROUP BY 1, 2
    ),
    l1 AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, label) AS rn
        FROM c1
      ) WHERE rn = 1
    ),
    c2 AS (
      SELECT ed.dst AS node, l.label, COUNT(*) AS cnt
      FROM ed JOIN l1 l ON l.node = ed.src GROUP BY 1, 2
    ),
    l2 AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, label) AS rn
        FROM c2
      ) WHERE rn = 1
    )
    SELECT CAST(label AS BIGINT) AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM l2 GROUP BY label
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (2 fixed
    rounds) on the co-purchase graph: each node adopts its neighbors'
    most frequent label, ties broken by smallest label — a TOTAL
    order, which is what makes a distributed LPA run reproducible at
    all (textbook LPA's random tie-break cannot be oracle-checked or
    re-run stably). Per round: ONE join + ONE count agg + ONE
    row_number window partitioned by node — connected_components'
    plan discipline; rounds are fixed, not converged, for the same
    restartability argument as pagerank. Output is the community
    size distribution."""
    e = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    ed = e.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        e.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    ).localCheckpoint(eager=False)  # re-joined every round
    labels = ed.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    w = Window.partitionBy("node").orderBy(F.col("cnt").desc(), F.col("label"))
    for _ in range(2):
        counts = (
            ed.join(
                labels.withColumnRenamed("node", "src"), "src"
            )
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )


_EDGES_Q4_SQL = """
    e AS (
      SELECT DISTINCT l1.l_partkey AS u, l2.l_partkey AS v
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
      WHERE l1.l_orderkey % 4 = 0
    ),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
      ) GROUP BY node
    )
"""


@query(
    "graph_jaccard_link_prediction",
    oracle=f"""
    WITH {_EDGES_Q4_SQL},
    wedge AS (
      SELECT e1.v AS a, e2.v AS b, COUNT(*) AS cn
      FROM e e1 JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
      GROUP BY 1, 2
    ),
    wedge2 AS (
      SELECT e1.u AS a, e2.v AS b, COUNT(*) AS cn
      FROM e e1 JOIN e e2 ON e2.u = e1.v AND e1.u < e2.v
      GROUP BY 1, 2
    ),
    wedge3 AS (
      SELECT e1.u AS a, e2.u AS b, COUNT(*) AS cn
      FROM e e1 JOIN e e2 ON e2.v = e1.v AND e2.u > e1.u
      GROUP BY 1, 2
    ),
    cnall AS (
      SELECT a, b, SUM(cn) AS cn FROM (
        SELECT * FROM wedge UNION ALL
        SELECT * FROM wedge2 UNION ALL SELECT * FROM wedge3
      ) GROUP BY 1, 2
    ),
    nonedge AS (
      SELECT c.a, c.b, c.cn FROM cnall c
      LEFT JOIN e ON e.u = c.a AND e.v = c.b WHERE e.u IS NULL
    ),
    scored AS (
      SELECT a, b, cn,
             CAST(cn AS DOUBLE) / (da.d + db.d - cn) AS jaccard
      FROM nonedge
      JOIN deg da ON da.node = nonedge.a
      JOIN deg db ON db.node = nonedge.b
    )
    SELECT CAST(a AS BIGINT) AS part_a, CAST(b AS BIGINT) AS part_b,
           CAST(cn AS BIGINT) AS common_neighbors,
           ROUND(jaccard, 9) AS jaccard
    FROM scored ORDER BY jaccard DESC, part_a, part_b LIMIT 20
    """,
)
def graph_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction: the 20 strongest NOT-YET-LINKED part pairs by
    neighbor-set Jaccard similarity — "parts bought together with the
    same companions but never together themselves", the co-purchase
    recommendation shape. Common-neighbor counts come from the SAME
    wedge enumeration as triangle_stats (each distance-2 pair counted
    once per shared neighbor across the three canonical wedge
    orientations); the union size is inclusion-exclusion on exact
    degrees, so jaccard is one division of exact integers. Existing
    edges are removed with an anti-join BEFORE scoring. At 100 TB the
    wedge table is the dominant object — bound it with the degree
    orientation of triangle_stats or a top-degree cap; the gate runs
    on the orderkey%4 quarter of the graph to keep the un-oriented
    3-way wedge sweep at a few-hundred-k rows."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 4 == 0)
    l1, l2 = li.alias("l1"), li.alias("l2")
    e = (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_partkey") < F.col("l2.l_partkey")),
        )
        .select(F.col("l1.l_partkey").alias("u"), F.col("l2.l_partkey").alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1, e2 = e.alias("e1"), e.alias("e2")
    w1 = e1.join(
        e2, (F.col("e2.u") == F.col("e1.u")) & (F.col("e2.v") > F.col("e1.v"))
    ).select(F.col("e1.v").alias("a"), F.col("e2.v").alias("b"))
    w2 = e1.join(
        e2, (F.col("e2.u") == F.col("e1.v")) & (F.col("e1.u") < F.col("e2.v"))
    ).select(F.col("e1.u").alias("a"), F.col("e2.v").alias("b"))
    w3 = e1.join(
        e2, (F.col("e2.v") == F.col("e1.v")) & (F.col("e2.u") > F.col("e1.u"))
    ).select(F.col("e1.u").alias("a"), F.col("e2.u").alias("b"))
    cn = (
        w1.unionAll(w2)
        .unionAll(w3)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    nonedge = cn.join(
        e, (cn.a == e.u) & (cn.b == e.v), "left_anti"
    )
    scored = (
        nonedge.join(deg.withColumnRenamed("node", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("d", "db"), "b")
        .select(
            "a",
            "b",
            "cn",
            (F.col("cn").cast("double") / (F.col("da") + F.col("db") - F.col("cn"))).alias(
                "jaccard"
            ),
        )
    )
    return (
        scored.orderBy(F.col("jaccard").desc(), "a", "b")
        .limit(20)
        .select(
            F.col("a").cast("long").alias("part_a"),
            F.col("b").cast("long").alias("part_b"),
            F.col("cn").cast("long").alias("common_neighbors"),
            F.round("jaccard", 9).alias("jaccard"),
        )
    )


@query(
    "events_value_acf",
    oracle="""
    WITH hourly AS (
      SELECT epoch_us(ts) // 3600000000 AS hb,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS x
      FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT CAST(k.k AS INT) AS lag_hours, h1.x AS xl, h2.x AS xn
      FROM hourly h1, UNNEST(range(1, 7)) AS k(k)
      JOIN hourly h2 ON h2.hb = h1.hb + k.k
    ),
    m AS (
      SELECT lag_hours, COUNT(*) AS n,
        CAST(SUM(CAST(xl AS DECIMAL(28,6))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(xn AS DECIMAL(28,6))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(xl * xl AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(xn * xn AS DECIMAL(38,6))) AS DOUBLE) AS syy,
        CAST(SUM(CAST(xl * xn AS DECIMAL(38,6))) AS DOUBLE) AS sxy
      FROM pairs GROUP BY lag_hours
    )
    SELECT lag_hours, CAST(n AS BIGINT) AS n_pairs,
      ROUND((n * sxy - sx * sy)
            / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 9) AS acf
    FROM m
    """,
)
def events_value_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the hourly TOTAL event value at lags 1..6 h
    — the seasonality probe run before picking windowing/forecast
    features. Pairs are ALIGNED BY HOUR BUCKET (equi-join on hb + k),
    not by row offset, so missing hours don't smear lags and the plan
    is a shuffle-parallel join instead of a single-partition ordered
    window. One lag-explode (6×) + one equi-join + one moment-sum agg
    computes every lag in a single pass.

    Determinism: the series value is the DECIMAL(18,2)-exact hourly
    sum (value carries 2 decimals), so x, x·y (4 decimals, <2^53
    units) and every moment CAST are EXACT — no double→decimal
    rounding of dirty doubles anywhere. Snapping hourly MEANS instead
    fails at sf0.1: mean is an arbitrary double and Spark/DuckDB
    round its decimal ties differently (half-up vs half-even) — the
    lineitem_corr_matrix recipe works precisely because its inputs
    are low-scale decimals."""
    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").alias("hb")
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("x"))

    def dsnap(expr, alias, scale="decimal(38,6)"):
        return F.sum(expr.cast(scale)).cast("double").alias(alias)

    shifted = hourly.select(
        F.explode(F.array(*[F.lit(k) for k in range(1, 7)])).alias("lag_hours"),
        (F.col("hb") + F.col("lag_hours")).alias("hb_t"),
        F.col("x").alias("xl"),
    )
    pairs = shifted.join(
        hourly.select(F.col("hb").alias("hb_t"), F.col("x").alias("xn")), "hb_t"
    )
    m = pairs.groupBy("lag_hours").agg(
        F.count(F.lit(1)).alias("n"),
        dsnap(F.col("xl"), "sx"),
        dsnap(F.col("xn"), "sy"),
        dsnap(F.col("xl") * F.col("xl"), "sxx"),
        dsnap(F.col("xn") * F.col("xn"), "syy"),
        dsnap(F.col("xl") * F.col("xn"), "sxy"),
    )
    return m.select(
        "lag_hours",
        F.col("n").cast("long").alias("n_pairs"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            9,
        ).alias("acf"),
    )


@query(
    "orders_target_encode_priority",
    oracle="""
    WITH g AS (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(*) AS gmean
      FROM orders
    ),
    cat AS (
      SELECT o_orderpriority,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, CAST(n AS BIGINT) AS n_orders,
      ROUND(s / n, 9) AS raw_mean,
      ROUND((s + 50 * gmean) / (n + 50), 9) AS encoded
    FROM cat, g
    """,
)
def orders_target_encode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed mean target encoding of o_orderpriority against
    o_totalprice (m-estimate, m=50): the categorical-feature
    preprocessing step for tabular training sets. Category stats and
    the global prior come from the SAME decimal-exact sums (one scan,
    map-side combine); the prior joins in as a broadcast scalar. At
    100 TB the category table is dimension-sized — the corpus is
    touched once."""
    orders = t(spark, sf_dir, "orders")
    cat = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("s"),
    )
    g = orders.agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("gmean")
    )
    return cat.crossJoin(F.broadcast(g)).select(
        "o_orderpriority",
        F.col("n").cast("long").alias("n_orders"),
        F.round(F.col("s") / F.col("n"), 9).alias("raw_mean"),
        F.round(
            (F.col("s") + 50 * F.col("gmean")) / (F.col("n") + 50), 9
        ).alias("encoded"),
    )


@query(
    "doc_chunk_exact_dedup",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    ch AS (
      SELECT doc_id, CAST(i.i AS INT) AS chunk_idx,
             array_to_string(words[(i.i*10+1):(i.i*10+10)], ' ') AS chunk
      FROM d, UNNEST(range(0, CAST(ceil(len(words)/10.0) AS BIGINT))) AS i(i)
    ),
    kept AS (
      SELECT doc_id, chunk_idx, chunk,
             ROW_NUMBER() OVER (PARTITION BY chunk
                                ORDER BY doc_id, chunk_idx) AS rn
      FROM ch
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(chunk, ' ' ORDER BY chunk_idx) AS text_kept
      FROM kept WHERE rn = 1 GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM ch GROUP BY doc_id)
    SELECT t.doc_id, CAST(t.n_chunks AS BIGINT) AS n_chunks,
           CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(a.text_kept, '') AS text_kept
    FROM tot t LEFT JOIN agg a ON a.doc_id = t.doc_id
    """,
)
def doc_chunk_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact-substring deduplication at 10-word-chunk
    granularity, with document reconstruction — the scalable
    approximation of Lee et al.'s "Deduplicating Training Data Makes
    Language Models Better" ExactSubstr pass (suffix arrays don't
    distribute; fixed-width chunk hashing does). Every chunk keeps
    its FIRST occurrence under the total order (doc_id, chunk_idx);
    later copies anywhere in the corpus are cut and survivors are
    re-joined in position order.

    Scale shape: posexplode → one row_number window partitioned BY
    CHUNK TEXT (the dedup key — high cardinality, evenly hashed; at
    100 TB swap the sort key to a 16-byte chunk digest so the shuffle
    never moves chunk bodies twice) → one per-doc agg. The final
    left join keeps fully-duplicated docs visible with n_kept = 0
    instead of silently dropping them."""
    docs = t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    nch = F.ceil(F.size(words) / F.lit(10.0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), nch - 1),
        lambda i: F.array_join(F.slice(words, i * 10 + 1, 10), " "),
    )
    # r13 (guide §2.1/§2.4 + §5, the §5-fusion shape — VERDICT #6
    # sweep): n_chunks and the kept-chunk aggregate were TWO doc-keyed
    # aggregates over the exploded table, joined back on doc_id, with
    # a corpus-scale localCheckpoint (chunk TEXT materialized on
    # executors) pinning the explode for both consumers. Keeping the
    # rn == 1 decision as a FLAG instead of a filter fuses everything
    # into ONE groupBy: count(*) is n_chunks, count(flag) is n_kept,
    # and collect_list skips the NULL (cut) chunks, so fully-
    # duplicated docs come out n_kept = 0 / text_kept "" exactly as
    # the LEFT join + coalesce produced. One consumer → no checkpoint,
    # no join-back; the plan is posexplode → chunk window → doc agg.
    ex = docs.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk"))
    w = Window.partitionBy("chunk").orderBy("doc_id", "chunk_idx")
    keep = F.when(
        F.row_number().over(w) == 1, F.struct("chunk_idx", "chunk")
    )
    return (
        ex.withColumn("_kc", keep)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.count("_kc").cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("_kc")),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("text_kept"),
        )
        .select("doc_id", "n_chunks", "n_kept", "text_kept")
    )


@query(
    "events_ks_click_purchase",
    oracle="""
    WITH s AS (
      SELECT value, event_type FROM events
      WHERE event_type IN ('click', 'purchase')
    ),
    n AS (
      SELECT SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS na,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS nb
      FROM s
    ),
    g AS (
      SELECT value,
        SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
        SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
      FROM s GROUP BY value
    ),
    cdf AS (
      SELECT SUM(ca) OVER (ORDER BY value) AS cum_a,
             SUM(cb) OVER (ORDER BY value) AS cum_b
      FROM g
    )
    SELECT CAST(n.na AS BIGINT) AS n_click, CAST(n.nb AS BIGINT) AS n_purchase,
           ROUND(MAX(ABS(CAST(cum_a AS DOUBLE) / n.na
                         - CAST(cum_b AS DOUBLE) / n.nb)), 9) AS ks_stat
    FROM cdf, n GROUP BY n.na, n.nb
    """,
)
def events_ks_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the value
    distributions of click vs purchase events — the nonparametric
    companion to the PSI drift monitor (orders_price_drift_psi): no
    binning choice, detects any distributional shift. Empirical CDFs
    are integer cumulative counts (exact in any engine); each CDF
    value is ONE division, so sup|F1 - F2| is deterministic.

    The CDFs cumulate over DISTINCT values — already reduced by the
    groupBy, so the input is the value cardinality, not the event
    count — via the range-partitioned two-pass prefix-sum primitive
    (operators/ranking.py): exact integer offsets, no
    single-partition WindowExec even at billion-distinct-value
    cardinality."""
    from ..operators import ranking as R

    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    is_a = (F.col("event_type") == "click").cast("long")
    is_b = (F.col("event_type") == "purchase").cast("long")
    n = ev.agg(
        F.sum(is_a).alias("na"), F.sum(is_b).alias("nb")
    )
    g = ev.groupBy("value").agg(F.sum(is_a).alias("ca"), F.sum(is_b).alias("cb"))
    rdf, _n = R.ranked(
        g,
        [F.asc("value")],
        rn_col=None,
        cumsum_cols={"ca": "cum_a", "cb": "cum_b"},
    )
    cdf = rdf.select("cum_a", "cum_b")
    return (
        cdf.crossJoin(F.broadcast(n))
        .groupBy("na", "nb")
        .agg(
            F.round(
                F.max(
                    F.abs(
                        F.col("cum_a").cast("double") / F.col("na")
                        - F.col("cum_b").cast("double") / F.col("nb")
                    )
                ),
                9,
            ).alias("ks_stat")
        )
        .select(
            F.col("na").cast("long").alias("n_click"),
            F.col("nb").cast("long").alias("n_purchase"),
            "ks_stat",
        )
    )


@query(
    "events_cusum_changepoint",
    oracle="""
    WITH hourly AS (
      SELECT epoch_us(ts) // 3600000000 AS hb,
             SUM(CAST(value AS DECIMAL(18,2))) AS x
      FROM events GROUP BY 1
    ),
    gl AS (
      SELECT CAST(SUM(x) AS DOUBLE) AS sx, COUNT(*) AS n
      FROM hourly
    ),
    cum AS (
      SELECT hb,
             CAST(SUM(x) OVER (ORDER BY hb) AS DOUBLE) AS cx,
             ROW_NUMBER() OVER (ORDER BY hb) AS tpos
      FROM hourly
    ),
    dev AS (
      SELECT hb, ABS(cx - tpos * (gl.sx / gl.n)) AS s_abs, gl.n
      FROM cum, gl
    )
    SELECT CAST(n AS BIGINT) AS n_hours,
           CAST(hb * 3600 AS BIGINT) AS changepoint_epoch_sec,
           ROUND(s_abs, 9) AS max_abs_cusum
    FROM dev ORDER BY s_abs DESC, hb LIMIT 1
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint locator over the hourly total value series:
    the hour where |cumsum(x) - t·mean| peaks is the classic
    level-shift estimate — the monitoring primitive behind
    "when did this metric move". Determinism recipe: the series is
    the DECIMAL(18,2)-EXACT hourly sum (see events_value_acf for why
    means don't survive cross-engine decimal snapping), the
    cumulative sum stays decimal (order-independent), and the drift
    term is one multiply of one division — every float op is a
    single IEEE instruction on exact inputs, so the argmax and its
    value are engine-identical. The window sort input is the HOURLY
    series (scan-reduced), not the event stream."""
    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").alias("hb")
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("x"))
    gl = hourly.agg(
        F.sum("x").cast("double").alias("sx"),
        F.count(F.lit(1)).alias("n"),
    )
    w = Window.orderBy("hb").rowsBetween(Window.unboundedPreceding, 0)
    cum = hourly.select(
        "hb",
        F.sum("x").over(w).cast("double").alias("cx"),
        F.row_number().over(Window.orderBy("hb")).alias("tpos"),
    )
    dev = cum.crossJoin(F.broadcast(gl)).select(
        "hb",
        F.abs(F.col("cx") - F.col("tpos") * (F.col("sx") / F.col("n"))).alias(
            "s_abs"
        ),
        "n",
    )
    return (
        dev.orderBy(F.col("s_abs").desc(), F.col("hb"))
        .limit(1)
        .select(
            F.col("n").cast("long").alias("n_hours"),
            (F.col("hb") * 3600).cast("long").alias("changepoint_epoch_sec"),
            F.round("s_abs", 9).alias("max_abs_cusum"),
        )
    )


@query(
    "embedding_pca_top_component",
    oracle="""
    WITH emb AS (
      SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    g AS (
      SELECT CAST(i.i AS INT) AS i, CAST(j.j AS INT) AS j,
        CAST(SUM(CAST(e[CAST(i.i AS INT)] * e[CAST(j.j AS INT)]
                      AS DECIMAL(28,12))) AS DOUBLE) AS g
      FROM emb, UNNEST(range(1, 65)) AS i(i), UNNEST(range(1, 65)) AS j(j)
      GROUP BY 1, 2
    ),
    v0 AS (
      SELECT CAST(i.i AS INT) AS i,
             CASE WHEN i.i = 1 THEN 1.0 ELSE 0.0 END AS v
      FROM UNNEST(range(1, 65)) AS i(i)
    ),
    w1 AS (
      SELECT g.i, CAST(SUM(CAST(g.g * v.v AS DECIMAL(38,9))) AS DOUBLE) AS w
      FROM g JOIN v0 v ON v.i = g.j GROUP BY g.i
    ),
    n1 AS (SELECT sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,6))) AS DOUBLE)) AS n FROM w1),
    v1 AS (SELECT i, w / n1.n AS v FROM w1, n1),
    w2 AS (
      SELECT g.i, CAST(SUM(CAST(g.g * v.v AS DECIMAL(38,9))) AS DOUBLE) AS w
      FROM g JOIN v1 v ON v.i = g.j GROUP BY g.i
    ),
    n2 AS (SELECT sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,6))) AS DOUBLE)) AS n FROM w2),
    v2 AS (SELECT i, w / n2.n AS v FROM w2, n2),
    w3 AS (
      SELECT g.i, CAST(SUM(CAST(g.g * v.v AS DECIMAL(38,9))) AS DOUBLE) AS w
      FROM g JOIN v2 v ON v.i = g.j GROUP BY g.i
    ),
    n3 AS (SELECT sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,6))) AS DOUBLE)) AS n FROM w3)
    SELECT w3.i AS dim, ROUND(w3.w / n3.n, 9) AS loading,
           ROUND(n3.n, 6) AS eigenvalue_est
    FROM w3, n3
    """,
)
def embedding_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the (uncentered) embedding Gram
    matrix via 3 distributed power iterations — the whitening /
    dominant-direction probe run before index building or dimension
    reduction on a 100 TB embedding corpus.

    Scale shape: the corpus is touched ONCE to build the d×d Gram
    table (explode of the per-row outer product with map-side
    combine: the shuffle is d²·partitions partials, never the corpus;
    for very large d swap in a mapInPandas per-partition BLAS partial
    Gram — the kmeans assignment pattern). Every subsequent iteration
    is matrix-scale (4096 rows), not corpus-scale.

    Exact oracle for an iterative float algorithm, the pagerank
    recipe: Gram cells are decimal-snapped sums of single IEEE
    products of DOUBLE-cast elements; each mat-vec contribution is
    one multiply summed through DECIMAL; the norm is one sqrt of a
    decimal-snapped sum and each normalized component is one
    division. The oracle unrolls the 3 iterations as chained CTEs
    from the same deterministic start vector e1."""
    emb = t(spark, sf_dir, "embeddings").select(
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e")
    )
    # d×d Gram: explode (i, j, e[i]*e[j]) then decimal-sum per cell
    outer = emb.select(
        F.posexplode(
            F.expr(
                "flatten(transform(e, x -> transform(e, y -> x * y)))"
            )
        ).alias("k", "p")
    )
    d = 64
    gram = (
        outer.groupBy(
            (F.col("k") / d).cast("int").alias("im1"),
            (F.col("k") % d).alias("jm1"),
        )
        .agg(F.sum(F.col("p").cast("decimal(28,12)")).cast("double").alias("g"))
        .select(
            (F.col("im1") + 1).cast("int").alias("i"),
            (F.col("jm1") + 1).cast("int").alias("j"),
            "g",
        )
        .localCheckpoint(eager=False)  # re-joined every iteration
    )
    v = spark.range(1, d + 1).select(
        F.col("id").cast("int").alias("i"),
        F.when(F.col("id") == 1, F.lit(1.0)).otherwise(F.lit(0.0)).alias("v"),
    )
    w = None
    for _ in range(3):
        w = (
            gram.join(v.withColumnRenamed("i", "j"), "j")
            .groupBy("i")
            .agg(
                F.sum((F.col("g") * F.col("v")).cast("decimal(38,9)"))
                .cast("double")
                .alias("w")
            )
        )
        norm = w.agg(
            F.sqrt(
                F.sum((F.col("w") * F.col("w")).cast("decimal(38,6)")).cast("double")
            ).alias("n")
        )
        v = w.crossJoin(F.broadcast(norm)).select(
            "i", (F.col("w") / F.col("n")).alias("v")
        )
    return (
        w.crossJoin(F.broadcast(norm))
        .select(
            F.col("i").alias("dim"),
            F.round(F.col("w") / F.col("n"), 9).alias("loading"),
            F.round(F.col("n"), 6).alias("eigenvalue_est"),
        )
    )


@query(
    "knn_hard_negatives",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, label AS qlabel,
                      CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE vec_id % 50 = 0),
         c AS (SELECT vec_id AS neighbor_id, label AS clabel,
                      CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings)
    SELECT query_id, neighbor_id, ROUND(sim, 4) AS sim FROM (
      SELECT q.query_id, c.neighbor_id,
             list_cosine_similarity(q.v, c.v) AS sim,
             ROW_NUMBER() OVER (PARTITION BY q.query_id
               ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.neighbor_id) AS rn
      FROM q JOIN c ON q.qlabel <> c.clabel
    ) WHERE rn <= 3
    """,
)
def knn_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the 3 most cosine-similar vectors carrying a DIFFERENT
    label — the pairs that sharpen an embedding model most. The
    label-mismatch predicate must run BEFORE top-k selection (a
    post-filtered same-label top-k silently under-delivers
    negatives). Same all-pairs-verifier status as
    dedup_embedding_cosine: the scale path generates candidates with
    the LSH/IVF screens and label-filters only candidates; float64
    throughout matches list_cosine_similarity after 4-decimal
    rounding."""
    from ..operators import similarity as S

    emb = t(spark, sf_dir, "embeddings")
    # norms hoisted scan-side (r12 optimization round) — bit-identical
    # sim, O(n) instead of O(pairs) interpreted norm folds.
    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("va"),
        S.vec_norm(F.col("embedding")).alias("_na"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("clabel"),
        F.col("embedding").alias("vb"),
        S.vec_norm(F.col("embedding")).alias("_nb"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_sim").desc(), F.col("neighbor_id")
    )
    return (
        F.broadcast(q)
        .join(c, F.col("qlabel") != F.col("clabel"))
        .withColumn(
            "_sim",
            S.cosine_from_prenorm(
                F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb")
            ),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", F.round("_sim", 4).alias("sim"))
    )


@query(
    "doc_oov_rate_by_source",
    oracle="""
    WITH toks AS (
      SELECT source, u.tok FROM documents,
        UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS u(tok)
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
      ) ORDER BY cnt DESC, tok LIMIT 30
    ),
    per AS (
      SELECT t.source, COUNT(*) AS n_tokens,
        SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END) AS n_in_vocab
      FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
      GROUP BY t.source
    )
    SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_in_vocab AS BIGINT) AS n_in_vocab,
           ROUND(1.0 - CAST(n_in_vocab AS DOUBLE) / n_tokens, 9) AS oov_rate
    FROM per
    """,
)
def doc_oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per source against the corpus top-30
    token vocabulary — the tokenizer-fit monitor run before
    committing a vocab to a 100 TB mixture (a source with high OOV
    under the shared vocab fragments into bytes and inflates token
    budgets). The vocab is deterministic (count desc, token asc) and
    dimension-sized → broadcast membership join; the corpus is
    touched twice (vocab build + rate scan), which is the honest
    minimum when the vocab derives from the same corpus."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(tokens_col("text")).alias("tok"),
    ).localCheckpoint(eager=False)  # vocab build + rate scan
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok"))
        .limit(30)
        .select("tok", F.lit(1).alias("_in"))
    )
    per = (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce(F.col("_in"), F.lit(0))).alias("n_in_vocab"),
        )
    )
    return per.select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_in_vocab").cast("long").alias("n_in_vocab"),
        F.round(
            F.lit(1.0) - F.col("n_in_vocab").cast("double") / F.col("n_tokens"), 9
        ).alias("oov_rate"),
    )


@query(
    "dedup_ngram_containment",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT id, COUNT(*) AS set_size FROM sh GROUP BY id),
    rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 25),
    shf AS (SELECT sh.id, sh.shingle FROM sh JOIN rare USING (shingle)),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS intersection
      FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT i.id_a, i.id_b, CAST(i.intersection AS BIGINT) AS intersection,
           ROUND(CAST(i.intersection AS DOUBLE) / sa.set_size, 6) AS contain_a_in_b,
           ROUND(CAST(i.intersection AS DOUBLE) / sb.set_size, 6) AS contain_b_in_a
    FROM inter i
    JOIN sizes sa ON sa.id = i.id_a
    JOIN sizes sb ON sb.id = i.id_b
    WHERE CAST(i.intersection AS DOUBLE) / sa.set_size >= 0.5
       OR CAST(i.intersection AS DOUBLE) / sb.set_size >= 0.5
    """,
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTIONAL shingle containment C(A→B) = |A∩B| / |A| for
    candidate pairs — Jaccard misses subset relationships (a quoted
    paragraph inside a long doc scores low Jaccard but containment
    ≈ 1), so quote/superset detection needs this asymmetric score.
    Rides the exact same one-groupBy pair pipeline as
    dedup_ngram_jaccard (operators/dedup.py:ngram_jaccard_pairs);
    only the final normalization differs."""
    from ..operators import dedup as D
    from ..operators.partitioning import fan_out

    docs = fan_out(t(spark, sf_dir, "documents"))
    pairs = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.0, max_shingle_df=25
    )
    ca = F.col("intersection").cast("double") / F.col("size_a")
    cb = F.col("intersection").cast("double") / F.col("size_b")
    return (
        pairs.filter((ca >= 0.5) | (cb >= 0.5))
        .select(
            "id_a",
            "id_b",
            "intersection",
            F.round(ca, 6).alias("contain_a_in_b"),
            F.round(cb, 6).alias("contain_b_in_a"),
        )
    )


def _jl_signs(out_dims: int = 8, in_dims: int = 64) -> list[list[int]]:
    """±1 Johnson-Lindenstrauss projection matrix derived from md5
    parity of 'i:j' — no RNG, so the matrix is a pure function both
    engines (and any restart) reproduce. Sign = +1 iff the first hex
    nibble of md5 is even."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for i in range(in_dims)
        ]
        for j in range(out_dims)
    ]


@query(
    "embedding_jl_projection",
    oracle="""
    WITH emb AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    signs AS (
      SELECT CAST(i.i AS INT) AS i, CAST(j.j AS INT) AS j,
        CASE WHEN CAST(('0x' || substr(md5(CAST(i.i AS VARCHAR) || ':' ||
                        CAST(j.j AS VARCHAR)), 1, 1)) AS BIGINT) % 2 = 0
             THEN 1.0 ELSE -1.0 END AS s
      FROM UNNEST(range(0, 64)) AS i(i), UNNEST(range(0, 8)) AS j(j)
    ),
    terms AS (
      SELECT emb.vec_id, signs.j,
        CAST(SUM(CAST(e[signs.i + 1] * signs.s AS DECIMAL(38,12)))
             AS DOUBLE) AS dot
      FROM emb, signs
      GROUP BY emb.vec_id, signs.j
    )
    SELECT vec_id, j AS out_dim, ROUND(dot / sqrt(8.0), 9) AS component
    FROM terms
    """,
)
def embedding_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 → 8 dims with a
    derandomized ±1/√k matrix (md5-parity signs, _jl_signs) — the
    standard cheap dimensionality reduction before coarse ANN
    bucketing or sketched distances. The projection matrix embeds in
    the plan as LITERALS, so each output component is a zero-shuffle
    whole-stage-codegen fold over the row's own array (zip_with +
    decimal-fold aggregate): the corpus is never exploded and never
    shuffled — the correct 100 TB shape for per-row linear algebra.
    The oracle rebuilds the same matrix from SQL md5 and reproduces
    every component exactly (single IEEE multiply per term, decimal
    sums, one final division)."""
    signs = _jl_signs(8, 64)
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e")
    )
    comps = []
    for j, row in enumerate(signs):
        arr = ", ".join(f"{s}.0D" for s in row)
        comps.append(
            F.round(
                # DECIMAL(30,12) + DECIMAL(30,12) -> DECIMAL(31,12) in
                # Spark (scale preserved, no rounding); the recast to
                # (30,12) is exact for |acc| < 1e18. A (38,12)
                # accumulator would silently drop to scale 11 per step.
                F.expr(
                    f"aggregate(zip_with(e, array({arr}), (a, b) -> a * b), "
                    "CAST(0 AS DECIMAL(30,12)), "
                    "(acc, v) -> CAST(acc + CAST(v AS DECIMAL(30,12)) "
                    "AS DECIMAL(30,12)))"
                ).cast("double")
                / F.sqrt(F.lit(8.0)),
                9,
            ).alias(f"c{j}")
        )
    wide = emb.select("vec_id", *comps)
    return wide.select(
        "vec_id",
        F.posexplode(F.array(*[F.col(f"c{j}") for j in range(8)])).alias(
            "out_dim", "component"
        ),
    )


@query(
    "lineitem_status_asof_ship",
    oracle="""
    WITH latest_per_day AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS odate, o_orderstatus
      FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY o_custkey, CAST(o_orderdate AS DATE)
          ORDER BY o_orderkey DESC) AS rn
        FROM orders
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT o.o_custkey, CAST(l.l_shipdate AS DATE) AS sdate, l.l_quantity
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT d.o_orderstatus AS status_at_ship,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           CAST(SUM(CAST(p.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM probe p
    ASOF LEFT JOIN latest_per_day d
      ON d.o_custkey = p.o_custkey AND d.odate <= p.sdate
    GROUP BY d.o_orderstatus
    """,
)
def lineitem_status_asof_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal fact-to-dimension join: each lineitem picks the
    customer's most recent order-status regime AS OF its ship date
    (SCD2-style effective dating without materializing the history
    table), then aggregates shipments per regime. The right side is
    deduped to one regime per (customer, day) — ASOF requires a
    unique timeline — via a total-order row_number. The as-of itself
    is the union-tag single-shuffle algorithm
    (operators/windows.py:asof_join), never a nested-loop range
    join; DuckDB verifies with its native ASOF LEFT JOIN (LEFT
    because the synthetic shipdates can precede the customer's first
    order — those shipments aggregate under a NULL regime instead of
    silently dropping)."""
    from ..operators import windows as W

    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate", "l_quantity")
    wd = Window.partitionBy(
        "o_custkey", F.col("o_orderdate").cast("date")
    ).orderBy(F.col("o_orderkey").desc())
    latest = (
        orders.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderdate").cast("date").alias("odate"),
            "o_orderstatus",
        )
    )
    probe = li.join(
        orders.select("o_orderkey", "o_custkey"), li.l_orderkey == orders.o_orderkey
    ).select(
        "o_custkey",
        F.col("l_shipdate").cast("date").alias("sdate"),
        "l_quantity",
    )
    joined = W.asof_join(
        probe, latest, key="o_custkey", left_ts="sdate", right_ts="odate",
        right_cols=["o_orderstatus"],
    )
    return joined.groupBy(
        F.col("asof_o_orderstatus").alias("status_at_ship")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_lineitems"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
    )


@query(
    "doc_token_entropy_by_source",
    oracle="""
    WITH toks AS (
      SELECT source, u.tok FROM documents,
        UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS u(tok)
    ),
    c AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    n AS (SELECT source, COUNT(*) AS n FROM toks GROUP BY 1),
    terms AS (
      SELECT c.source,
        CAST(CAST(-(CAST(c.c AS DOUBLE) / n.n)
                  * ln(CAST(c.c AS DOUBLE) / n.n)
             AS DECIMAL(28,12)) AS DOUBLE) AS term
      FROM c JOIN n ON n.source = c.source
    ),
    d AS (SELECT source, COUNT(*) AS n_distinct FROM c GROUP BY 1)
    SELECT t.source,
           CAST(n.n AS BIGINT) AS n_tokens,
           CAST(d.n_distinct AS BIGINT) AS n_distinct,
           ROUND(SUM(t.term), 9) AS entropy_nats
    FROM terms t
    JOIN n ON n.source = t.source
    JOIN d ON d.source = t.source
    GROUP BY t.source, n.n, d.n_distinct
    """,
)
def doc_token_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the token distribution per source (nats) —
    the corpus-curation diversity signal: low entropy flags template
    spam / boilerplate-heavy sources before they flood a training
    mixture; entropy also calibrates compression-ratio quality
    filters. One scan → (source, token) counts with map-side combine;
    each -p·ln p term is IEEE ops on exact count ratios snapped to
    DECIMAL (the PSI/bigram-LM idiom — ln can differ by 1 ulp across
    libm implementations), so the sums are engine-identical."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(tokens_col("text")).alias("tok"),
    )
    c = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    n = c.groupBy("source").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_distinct")
    )
    p = F.col("c").cast("double") / F.col("n")
    return (
        c.join(F.broadcast(n), "source")
        .select(
            "source",
            "n",
            "n_distinct",
            (-p * F.log(p)).cast("decimal(28,12)").cast("double").alias("term"),
        )
        .groupBy("source", "n", "n_distinct")
        .agg(F.round(F.sum("term"), 9).alias("entropy_nats"))
        .select(
            "source",
            F.col("n").cast("long").alias("n_tokens"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
            "entropy_nats",
        )
    )


@query(
    "events_mi_type_hour",
    oracle="""
    WITH e AS (
      SELECT event_type, CAST(hour(ts) AS INT) AS hod FROM events
    ),
    nij AS (SELECT event_type, hod, COUNT(*) AS nij FROM e GROUP BY 1, 2),
    ni AS (SELECT event_type, COUNT(*) AS ni FROM e GROUP BY 1),
    nj AS (SELECT hod, COUNT(*) AS nj FROM e GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM e)
    SELECT nij.event_type, nij.hod,
           CAST(nij.nij AS BIGINT) AS n_cell,
           CAST(CAST((CAST(nij.nij AS DOUBLE) / n.n)
                     * ln(CAST(nij.nij AS DOUBLE) * n.n
                          / (CAST(ni.ni AS DOUBLE) * nj.nj))
                AS DECIMAL(28,12)) AS DOUBLE) AS mi_term
    FROM nij
    JOIN ni ON ni.event_type = nij.event_type
    JOIN nj ON nj.hod = nij.hod
    CROSS JOIN n
    """,
)
def events_mi_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and hour-of-day,
    reported per contingency cell (consumers sum mi_term; per-cell
    rows localize WHICH type×hour association carries the signal —
    the PSI reporting shape). The feature-selection primitive: MI ≈ 0
    says hour adds nothing to a model that knows the type. Four
    count aggregates off one scan; every term is IEEE arithmetic on
    exact integer ratios with the ln snapped to DECIMAL."""
    ev = t(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").cast("int").alias("hod")
    )
    nij = ev.groupBy("event_type", "hod").agg(F.count(F.lit(1)).alias("nij"))
    ni = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("ni"))
    nj = ev.groupBy("hod").agg(F.count(F.lit(1)).alias("nj"))
    n = ev.agg(F.count(F.lit(1)).alias("n"))
    term = (
        (F.col("nij").cast("double") / F.col("n"))
        * F.log(
            F.col("nij").cast("double")
            * F.col("n")
            / (F.col("ni").cast("double") * F.col("nj"))
        )
    ).cast("decimal(28,12)").cast("double")
    return (
        nij.join(F.broadcast(ni), "event_type")
        .join(F.broadcast(nj), "hod")
        .crossJoin(F.broadcast(n))
        .select(
            "event_type",
            "hod",
            F.col("nij").cast("long").alias("n_cell"),
            term.alias("mi_term"),
        )
    )


@query(
    "customer_rfm_segments",
    oracle="""
    WITH rfm AS (
      SELECT o_custkey AS custkey,
             MAX(CAST(o_orderdate AS DATE)) AS last_order,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT custkey, last_order, frequency, monetary,
        CAST(NTILE(5) OVER (ORDER BY last_order DESC, custkey) AS INT) AS r_score,
        CAST(NTILE(5) OVER (ORDER BY frequency DESC, custkey) AS INT) AS f_score,
        CAST(NTILE(5) OVER (ORDER BY monetary DESC, custkey) AS INT) AS m_score
      FROM rfm
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(monetary AS DECIMAL(28,2))) AS DOUBLE) AS segment_value
    FROM scored GROUP BY r_score, f_score, m_score
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation —
    the canonical customer-value grid. Per-customer aggregates come
    from ONE scan (pinned with a lazy localCheckpoint); all three
    NTILE(5) ranks come from ONE ``multi_ranked`` round
    (operators/ranking.py) — the three customer-DIMENSION range
    shuffles run as parallel stages of a single job with a single
    ≤3·P-row driver collect, instead of three serial
    shuffle+collect+checkpoint rounds (measured at sf0.1, min-of-3,
    both A/B orders: 2.47–2.73 s → 1.57–1.89 s, ~1.5×; PERF.md r8). Descending metric orders are expressed as
    ascending negated keys (days/long/double — exact); (metric desc,
    custkey) total orders make every score deterministic. The leg
    pivot is one hash aggregate on custkey — the three score joins
    are gone. No single-partition sort anywhere. Output is the
    segment grid with population and value."""
    from ..operators import ranking as R

    o = t(spark, sf_dir, "orders")
    rfm = (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("monetary"),
        )
        .localCheckpoint(eager=False)
    )
    # Position-0 keys are int (days) / long (count) / double (money)
    # across the legs: multi_ranked rejects that mix (silent double
    # widening is lossy past 2^53), so cast explicitly — exact here
    # because |days since epoch| < 2^20, order counts < 2^31, and
    # monetary is a bounded DECIMAL(18,2) sum already held in double;
    # all magnitudes are far below 2^53, so the double total order
    # equals the native one.
    ranked_u, n_totals = R.multi_ranked(
        rfm,
        {
            "r": [(-F.unix_date("last_order")).cast("double"), F.col("custkey")],
            "f": [(-F.col("frequency")).cast("double"), F.col("custkey")],
            "m": [-F.col("monetary"), F.col("custkey")],
        },
        rn_col="_rn",
        leg_col="_leg",
    )
    n = n_totals["r"]  # all legs rank the same customer set

    def leg_score(leg: str) -> Column:
        return F.max(
            F.when(
                F.col("_leg") == leg, R.ntile_from_rn(F.col("_rn"), n, 5)
            )
        )

    scored = ranked_u.groupBy("custkey").agg(
        F.max("monetary").alias("monetary"),  # identical across legs
        leg_score("r").alias("r_score"),
        leg_score("f").alias("f_score"),
        leg_score("m").alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(F.col("monetary").cast("decimal(28,2)")).cast("double").alias(
            "segment_value"
        ),
    )


@query(
    "orders_monthly_yoy",
    oracle="""
    WITH m AS (
      SELECT CAST(year(o_orderdate) AS INT) AS yr,
             CAST(month(o_orderdate) AS INT) AS mo,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders GROUP BY 1, 2
    )
    SELECT yr, mo, CAST(n_orders AS BIGINT) AS n_orders, revenue,
      ROUND(revenue - LAG(revenue, 1) OVER (PARTITION BY mo ORDER BY yr), 2)
        AS yoy_delta,
      ROUND(CASE WHEN LAG(revenue, 1) OVER (PARTITION BY mo ORDER BY yr) > 0
            THEN revenue / LAG(revenue, 1) OVER (PARTITION BY mo ORDER BY yr) - 1
            END, 9) AS yoy_growth
    FROM m
    """,
)
def orders_monthly_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per calendar month — the BI
    "time intelligence" comparison (this January vs last January),
    which needs a lag PARTITIONED BY MONTH ordered by year, not a
    simple 12-row offset (that silently breaks on gap months). The
    window runs over the monthly rollup (metadata-scale after one
    map-side-combined scan); revenue is decimal-exact so the deltas
    and ratios reproduce across engines."""
    o = t(spark, sf_dir, "orders")
    m = o.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias(
            "revenue"
        ),
    )
    w = Window.partitionBy("mo").orderBy("yr")
    prev = F.lag("revenue", 1).over(w)
    return m.select(
        "yr",
        "mo",
        "n_orders",
        "revenue",
        F.round(F.col("revenue") - prev, 2).alias("yoy_delta"),
        F.round(
            F.when(prev > 0, F.col("revenue") / prev - 1), 9
        ).alias("yoy_growth"),
    )


@query(
    "dedup_minhash_estimate_vs_exact",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    mh AS (
      SELECT id, u.seed,
             MIN(md5(CAST(u.seed AS VARCHAR) || ':' || shingle)) AS m
      FROM sh, UNNEST(range(0, 8)) AS u(seed)
      GROUP BY id, u.seed
    ),
    bands AS (
      SELECT id, seed // 2 AS band,
             MIN(CASE WHEN seed % 2 = 0 THEN m END)
             || MIN(CASE WHEN seed % 2 = 1 THEN m END) AS bucket
      FROM mh GROUP BY id, seed // 2
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    ),
    est AS (
      SELECT c.id_a, c.id_b,
             SUM(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) AS n_match
      FROM cand c
      JOIN mh ma ON ma.id = c.id_a
      JOIN mh mb ON mb.id = c.id_b AND mb.seed = ma.seed
      GROUP BY c.id_a, c.id_b
    ),
    cd AS (SELECT id_a AS id FROM cand UNION SELECT id_b FROM cand),
    shc AS (SELECT sh.id, sh.shingle FROM sh JOIN cd USING (id)),
    sizes AS (SELECT id, COUNT(*) AS set_size FROM shc GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT e.id_a, e.id_b,
           ROUND(CAST(e.n_match AS DOUBLE) / 8, 6) AS est_jaccard,
           ROUND(CAST(COALESCE(i.i, 0) AS DOUBLE)
                 / (sa.set_size + sb.set_size - COALESCE(i.i, 0)), 6)
             AS exact_jaccard
    FROM est e
    LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
    JOIN sizes sa ON sa.id = e.id_a
    JOIN sizes sb ON sb.id = e.id_b
    """,
)
def dedup_minhash_estimate_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch calibration: for every LSH candidate pair, the MinHash
    Jaccard ESTIMATE (matching-signature fraction, the quantity the
    banding actually thresholds on) next to the exact shingle Jaccard
    — the query an operator runs before tuning bands/rows, because
    the estimate's bias at your document length distribution decides
    the LSH operating point. Estimate and truth both derive from the
    md5 hash family, so the oracle reproduces BOTH exactly (no
    bounds envelope needed for a probabilistic sketch). The exact
    side runs only over DOCUMENTS THAT APPEAR IN A CANDIDATE PAIR
    (semi-join before shingle pairing) and skips the stop-shingle DF
    cap: the candidate subset is near-dup-dense and tiny relative to
    the corpus, which is exactly why the screen-then-verify split
    scales — this query IS that split, instrumented."""
    from ..operators import dedup as D
    from ..operators.partitioning import fan_out

    docs = fan_out(t(spark, sf_dir, "documents"))
    wide = D.minhash_signatures_wide(
        docs, "doc_id", "text", num_hashes=8, shingle_n=3
    ).localCheckpoint(eager=False)  # ONE signature pass feeds banding + est
    cand = D.minhash_lsh_candidates(
        docs, "doc_id", "text", num_hashes=8, rows_per_band=2, shingle_n=3,
        wide=wide,
    ).localCheckpoint(eager=False)  # feeds est AND the exact-side subset
    wa = wide.select(
        F.col("id").alias("id_a"), *[F.col(f"m{s}").alias(f"a{s}") for s in range(8)]
    )
    wb = wide.select(
        F.col("id").alias("id_b"), *[F.col(f"m{s}").alias(f"b{s}") for s in range(8)]
    )
    n_match = sum(
        (F.col(f"a{s}") == F.col(f"b{s}")).cast("int") for s in range(8)
    )
    est = (
        cand.join(wa, "id_a")
        .join(wb, "id_b")
        .select("id_a", "id_b", (n_match.cast("double") / 8).alias("est"))
    )
    cd = (
        cand.select(F.col("id_a").alias("doc_id"))
        .union(cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    cand_docs = docs.join(F.broadcast(cd), "doc_id", "semi")
    exact = D.ngram_jaccard_pairs(
        cand_docs, "doc_id", "text", n=3, threshold=0.0, max_shingle_df=1 << 30
    ).select("id_a", "id_b", "jaccard")
    return (
        est.join(exact, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            F.round("est", 6).alias("est_jaccard"),
            F.coalesce(F.col("jaccard"), F.lit(0.0)).alias("exact_jaccard"),
        )
    )


@query(
    "dedup_screen_precision_recall",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    mh AS (
      SELECT id, u.seed,
             MIN(md5(CAST(u.seed AS VARCHAR) || ':' || shingle)) AS m
      FROM sh, UNNEST(range(0, 8)) AS u(seed)
      GROUP BY id, u.seed
    ),
    bands AS (
      SELECT id, seed // 2 AS band,
             MIN(CASE WHEN seed % 2 = 0 THEN m END)
             || MIN(CASE WHEN seed % 2 = 1 THEN m END) AS bucket
      FROM mh GROUP BY id, seed // 2
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    ),
    sizes AS (SELECT id, COUNT(*) AS set_size FROM sh GROUP BY id),
    rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 25),
    shf AS (SELECT sh.id, sh.shingle FROM sh JOIN rare USING (shingle)),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
    ),
    truth AS (
      SELECT i.id_a, i.id_b FROM inter i
      JOIN sizes sa ON sa.id = i.id_a
      JOIN sizes sb ON sb.id = i.id_b
      WHERE CAST(i.i AS DOUBLE) / (sa.set_size + sb.set_size - i.i) >= 0.2
    ),
    hits AS (
      SELECT COUNT(*) AS n FROM cand c
      JOIN truth t ON t.id_a = c.id_a AND t.id_b = c.id_b
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
      (SELECT CAST(n AS BIGINT) FROM hits) AS n_hits,
      ROUND((SELECT CAST(n AS DOUBLE) FROM hits)
            / (SELECT COUNT(*) FROM cand), 9) AS precision,
      ROUND((SELECT CAST(n AS DOUBLE) FROM hits)
            / (SELECT COUNT(*) FROM truth), 9) AS recall
    """,
)
def dedup_screen_precision_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end evaluation of the MinHash-LSH candidate screen
    against the exact-Jaccard truth set (≥ 0.2, the
    dedup_ngram_jaccard definition): precision says how much exact
    verification work the screen wastes, recall says what fraction
    of true near-dups the banding misses — THE two numbers that
    justify a generate→verify dedup at 100 TB. Composes the two
    existing operators and three count aggregates; entirely
    md5-deterministic, so even this meta-evaluation is exact."""
    from ..operators import dedup as D
    from ..operators.partitioning import fan_out

    docs = fan_out(t(spark, sf_dir, "documents"))
    cand = D.minhash_lsh_candidates(
        docs, "doc_id", "text", num_hashes=8, rows_per_band=2, shingle_n=3
    ).localCheckpoint(eager=False)
    truth = (
        D.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.2, max_shingle_df=25
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    n_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    n_truth = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    n_hits = cand.join(truth, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    return (
        n_cand.crossJoin(n_truth)
        .crossJoin(n_hits)
        .select(
            "n_candidates",
            "n_truth",
            "n_hits",
            F.round(
                F.col("n_hits").cast("double") / F.col("n_candidates"), 9
            ).alias("precision"),
            F.round(F.col("n_hits").cast("double") / F.col("n_truth"), 9).alias(
                "recall"
            ),
        )
    )


@query(
    "orders_pareto_revenue",
    oracle="""
    WITH rev AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS r
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, r,
             SUM(r) OVER (ORDER BY r DESC, o_custkey) AS cum_r,
             ROW_NUMBER() OVER (ORDER BY r DESC, o_custkey) AS rnk
      FROM rev
    ),
    tot AS (SELECT SUM(r) AS total_r, COUNT(*) AS n FROM rev)
    SELECT
      (SELECT CAST(n AS BIGINT) FROM tot) AS n_customers,
      (SELECT CAST(total_r AS DOUBLE) FROM tot) AS total_revenue,
      (SELECT CAST(MIN(rnk) AS BIGINT) FROM ranked, tot
        WHERE cum_r * 5 >= total_r * 4) AS n_top80,
      (SELECT ROUND(CAST(MAX(cum_r) AS DOUBLE) / CAST(MAX(total_r) AS DOUBLE), 9)
         FROM ranked, tot WHERE rnk * 10 <= n) AS share_top10pct
    """,
)
def orders_pareto_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto/80-20): how many top customers
    cover 80% of revenue, and what share the top decile holds — the
    skew diagnostic that decides whether a customer-keyed pipeline
    needs salting at all. The cumulative sum and rank come from the
    two-pass range-partitioned primitive (operators/ranking.py) —
    exact (decimal offsets), no single-partition WindowExec over the
    customer dimension; the 80% and decile thresholds compare in
    EXACT integer/decimal arithmetic (cum·5 ≥ total·4, rank·10 ≤ n)
    so no float boundary can flip membership between engines. The
    grand total is max(cum_r) off the ranked table — the fact table
    is scanned exactly once."""
    from ..operators import ranking as R

    o = t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("r")
    )
    rdf, n = R.ranked(
        rev,
        [F.desc("r"), F.asc("o_custkey")],
        rn_col="rnk",
        cumsum_cols={"r": "cum_r"},
    )
    ranked = rdf.select("rnk", "cum_r").localCheckpoint(
        eager=False
    )  # feeds tot + both threshold scans
    tot = ranked.agg(F.max("cum_r").alias("total_r"))
    top80 = (
        ranked.crossJoin(F.broadcast(tot))
        .filter(F.col("cum_r") * 5 >= F.col("total_r") * 4)
        .agg(F.min("rnk").cast("long").alias("n_top80"))
    )
    top10 = ranked.filter(F.col("rnk") * 10 <= F.lit(n)).agg(
        F.max("cum_r").alias("cum10")
    )
    return (
        tot.crossJoin(top80)
        .crossJoin(top10)
        .select(
            F.lit(n).cast("long").alias("n_customers"),
            F.col("total_r").cast("double").alias("total_revenue"),
            "n_top80",
            F.round(
                F.col("cum10").cast("double") / F.col("total_r").cast("double"), 9
            ).alias("share_top10pct"),
        )
    )


@query(
    "events_type_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    c AS (
      SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT from_type, SUM(n) AS n_from FROM c GROUP BY 1)
    SELECT c.from_type, c.to_type, CAST(c.n AS BIGINT) AS n_transitions,
           ROUND(CAST(c.n AS DOUBLE) / t.n_from, 9) AS p
    FROM c JOIN tot t ON t.from_type = c.from_type
    """,
)
def events_type_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix between consecutive event
    types per user — the behavioral-sequence summary behind funnel
    design and next-action models. Consecutiveness comes from ONE
    lead() window under the total order (ts, event_id) — the same
    single shuffle on user_id as sessionization; probabilities are
    single divisions of exact counts, row-normalized per from-state."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    c = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = c.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return c.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n_transitions"),
        F.round(F.col("n").cast("double") / F.col("n_from"), 9).alias("p"),
    )


@query(
    "nation_share_of_region",
    oracle="""
    WITH rev AS (
      SELECT n.n_nationkey, n.n_name AS nation, n.n_regionkey,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS r
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2, 3
    ),
    reg AS (SELECT n_regionkey, SUM(r) AS region_r FROM rev GROUP BY 1)
    SELECT rg.r_name AS region, rev.nation,
           CAST(rev.r AS DOUBLE) AS nation_revenue,
           CAST(reg.region_r AS DOUBLE) AS region_revenue,
           ROUND(CAST(rev.r AS DOUBLE) / CAST(reg.region_r AS DOUBLE), 9)
             AS share_of_region
    FROM rev
    JOIN reg ON reg.n_regionkey = rev.n_regionkey
    JOIN region rg ON rg.r_regionkey = rev.n_regionkey
    """,
)
def nation_share_of_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-parent rollup: each nation's revenue as a share of its
    region — the hierarchical "% of parent" BI pattern. One fact scan
    aggregates to the nation grain (broadcast dimension joins); the
    region total re-aggregates the 25-row nation table, NOT the fact
    table, and broadcasts back — the two-level reaggregation shape
    that keeps parent ratios fact-scan-free at any scale. Decimal
    sums make the shares single divisions of exact values."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    # customer is NOT force-broadcast: at 100 TB it's a real dimension
    # (AQE picks broadcast when it fits); nation/region always are
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy("n_nationkey", "n_name", "n_regionkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rv"))
    )
    reg = rev.groupBy("n_regionkey").agg(F.sum("rv").alias("region_r"))
    return (
        rev.join(F.broadcast(reg), "n_regionkey")
        .join(F.broadcast(r), rev.n_regionkey == r.r_regionkey)
        .select(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            F.col("rv").cast("double").alias("nation_revenue"),
            F.col("region_r").cast("double").alias("region_revenue"),
            F.round(
                F.col("rv").cast("double") / F.col("region_r").cast("double"), 9
            ).alias("share_of_region"),
        )
    )


@query(
    "part_pair_lift",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM baskets),
    item AS (SELECT l_partkey, COUNT(*) AS n_item FROM baskets GROUP BY 1),
    pair AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_pair
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 3
    ),
    scored AS (
      SELECT p.part_a, p.part_b, p.n_pair,
        CAST(p.n_pair AS DOUBLE) / ia.n_item AS conf_a_to_b,
        CAST(p.n_pair AS DOUBLE) * n.n_orders
          / (CAST(ia.n_item AS DOUBLE) * ib.n_item) AS lift
      FROM pair p
      JOIN item ia ON ia.l_partkey = p.part_a
      JOIN item ib ON ib.l_partkey = p.part_b
      CROSS JOIN n
    )
    SELECT part_a, part_b, CAST(n_pair AS BIGINT) AS n_pair,
           ROUND(conf_a_to_b, 9) AS conf_a_to_b, ROUND(lift, 9) AS lift
    FROM scored
    ORDER BY lift DESC, part_a, part_b LIMIT 20
    """,
)
def part_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules: support, confidence and lift
    for co-purchased part pairs (min support 3 orders), top-20 by
    lift — the classic "customers who bought A also bought B"
    analysis. The pair count rides the same bounded per-order
    self-join as the co-purchase graph (fan-out ≤ C(order size, 2));
    lift = P(A∧B)/(P(A)·P(B)) is single divisions/multiplies of
    exact counts, so the ranking is deterministic under the
    (lift, part_a, part_b) total order."""
    b = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)  # item counts + pair self-join + n
    )
    n = b.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item = b.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    b1, b2 = b.alias("b1"), b.alias("b2")
    pair = (
        b1.join(
            b2,
            (F.col("b1.l_orderkey") == F.col("b2.l_orderkey"))
            & (F.col("b1.l_partkey") < F.col("b2.l_partkey")),
        )
        .groupBy(
            F.col("b1.l_partkey").alias("part_a"),
            F.col("b2.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= 3)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("n_item").alias("na"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("n_item").alias("nb"))
    return (
        pair.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            F.col("n_pair").cast("long").alias("n_pair"),
            F.round(F.col("n_pair").cast("double") / F.col("na"), 9).alias(
                "conf_a_to_b"
            ),
            F.round(
                F.col("n_pair").cast("double")
                * F.col("n_orders")
                / (F.col("na").cast("double") * F.col("nb")),
                9,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(20)
    )


@query(
    "embedding_semantic_clusters",
    oracle="""
    WITH RECURSIVE emb AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id % 3 = 0
    ),
    edges AS (
      SELECT a.vec_id AS src, b.vec_id AS dst
      FROM emb a JOIN emb b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= 0.4
    ),
    sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
    walk(id, label) AS (
      SELECT vec_id, vec_id FROM embeddings WHERE vec_id % 3 = 0
      UNION
      SELECT s.dst, w.label FROM walk w JOIN sym s ON s.src = w.id
    ),
    comp AS (SELECT id, MIN(label) AS cluster_id FROM walk GROUP BY id)
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
    FROM comp GROUP BY cluster_id
    """,
)
def embedding_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-duplicate clusters: connected components over the
    cosine ≥ 0.4 embedding pair graph — the embedding-space twin of
    the shingle-based dedup_clusters, closing the same transitive gap
    (A≈B, B≈C ⟹ one cluster even when A,C don't match directly).
    Pair generation here is the exact all-pairs verifier over a
    deterministic 1/3 corpus slice (dedup_embedding_cosine's
    documented status — LSH/IVF screens generate candidates at
    100 TB, and the slice keeps the gate's quadratic cost bounded at
    every SF); the closure is the same one-join-per-
    iteration min-label propagation, cross-checked against the
    oracle's recursive reachability walk. Output: cluster size
    distribution keyed by the min-id representative."""
    from ..operators import dedup as D
    from ..operators import similarity as S

    emb = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 3 == 0)
    # norms hoisted scan-side (r12 optimization round) — bit-identical
    # sim, O(n) instead of O(pairs) interpreted norm folds.
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        S.vec_norm(F.col("embedding")).alias("_na"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        S.vec_norm(F.col("embedding")).alias("_nb"),
    )
    pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "_sim",
            S.cosine_from_prenorm(
                F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb")
            ),
        )
        .filter(F.col("_sim") >= 0.4)
        .select("id_a", "id_b")
    )
    comp = D.connected_components(
        emb.select("vec_id"), pairs, id_col="vec_id", src_col="id_a", dst_col="id_b"
    )
    return comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )


@query(
    "orders_revenue_gini",
    oracle="""
    WITH rev AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS r
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT r, ROW_NUMBER() OVER (ORDER BY r, o_custkey) AS i FROM rev
    ),
    m AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(r) AS DOUBLE) AS s,
             CAST(SUM(r * i) AS DOUBLE) AS si
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           ROUND(2 * si / (n * s) - (n + 1.0) / n, 9) AS gini
    FROM m
    """,
)
def orders_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the customer revenue distribution — the
    scalar inequality companion to orders_pareto_revenue (same sorted
    dimension, one number for dashboards/alerting). Uses the
    rank-weighted identity G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n over an
    ascending TOTAL order; r·i products stay DECIMAL-exact (2-dp
    revenue × integer rank), so both moment sums are
    order-independent and the final expression is a handful of IEEE
    ops on exact inputs. The global rank comes from the two-pass
    range-partitioned primitive (operators/ranking.py) — no
    single-partition WindowExec over the customer dimension."""
    from ..operators import ranking as R

    o = t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("r")
    )
    ranked, _n = R.ranked(
        rev, [F.asc("r"), F.asc("o_custkey")], rn_col="i"
    )
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r").cast("double").alias("s"),
        F.sum(F.col("r") * F.col("i")).cast("double").alias("si"),
    )
    return m.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round(
            2 * F.col("si") / (F.col("n") * F.col("s"))
            - (F.col("n") + 1.0) / F.col("n"),
            9,
        ).alias("gini"),
    )


@query(
    "doc_lang_confusion_matrix",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_lang_count_sql('en')} AS sw_en,
             {_lang_count_sql('es')} AS sw_es,
             {_lang_count_sql('de')} AS sw_de,
             {_lang_count_sql('fr')} AS sw_fr
      FROM documents
    ),
    pred AS (
      SELECT lang AS lang_actual,
        CASE WHEN greatest(sw_en, sw_es, sw_de, sw_fr) <= 0 THEN 'und'
             WHEN sw_en = greatest(sw_en, sw_es, sw_de, sw_fr) THEN 'en'
             WHEN sw_es = greatest(sw_en, sw_es, sw_de, sw_fr) THEN 'es'
             WHEN sw_de = greatest(sw_en, sw_es, sw_de, sw_fr) THEN 'de'
             ELSE 'fr' END AS lang_pred
      FROM scored
    ),
    c AS (
      SELECT lang_actual, lang_pred, COUNT(*) AS n
      FROM pred GROUP BY 1, 2
    ),
    tot AS (SELECT lang_actual, SUM(n) AS n_actual FROM c GROUP BY 1)
    SELECT c.lang_actual, c.lang_pred, CAST(c.n AS BIGINT) AS n_docs,
           ROUND(CAST(c.n AS DOUBLE) / t.n_actual, 9) AS share_of_actual
    FROM c JOIN tot t ON t.lang_actual = c.lang_actual
    """,
)
def doc_lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword lang-ID heuristic against the
    corpus's labeled lang column — the evaluation harness for a
    classifier-shaped operator (precision_recall's sibling for the
    text tier): per (actual, predicted) cell counts with row-
    normalized shares, so per-class recall reads straight off the
    diagonal. One classification scan + a 16-cell aggregate."""
    from ..operators import text as TX

    docs = t(spark, sf_dir, "documents")
    pred = TX.with_lang_id(docs, "text").select(
        F.col("lang").alias("lang_actual"), "lang_pred"
    )
    c = pred.groupBy("lang_actual", "lang_pred").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = c.groupBy("lang_actual").agg(F.sum("n").alias("n_actual"))
    return c.join(F.broadcast(tot), "lang_actual").select(
        "lang_actual",
        "lang_pred",
        F.col("n").cast("long").alias("n_docs"),
        F.round(F.col("n").cast("double") / F.col("n_actual"), 9).alias(
            "share_of_actual"
        ),
    )


@query(
    "nation_revenue_hhi",
    oracle="""
    WITH rev AS (
      SELECT c.c_nationkey, o.o_custkey,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS r
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    m AS (
      SELECT c_nationkey,
             COUNT(*) AS n_cust,
             CAST(SUM(r * r) AS DOUBLE) AS sq,
             CAST(SUM(r) AS DOUBLE) AS s
      FROM rev GROUP BY 1
    )
    SELECT n.n_name AS nation, CAST(m.n_cust AS BIGINT) AS n_customers,
           ROUND(m.sq / (m.s * m.s), 9) AS hhi,
           ROUND((m.sq / (m.s * m.s) - 1.0 / m.n_cust)
                 / (1 - 1.0 / m.n_cust), 9) AS hhi_normalized
    FROM m JOIN nation n ON n.n_nationkey = m.c_nationkey
    WHERE m.n_cust > 1
    """,
)
def nation_revenue_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of customer revenue within
    each nation — "is this market one whale or many small fish",
    the per-group sibling of the global Gini/Pareto pair. Computed as
    Σr² / (Σr)² instead of Σ(share²): both moments are DECIMAL-exact
    (2-dp revenue products), so the whole statistic is ONE division
    of exact values — summing squared shares would re-hit the
    dirty-double snapping trap events_value_acf documents. One fact
    scan → customer grain → 25-group moment agg."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("r"))
    )
    m = rev.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum(F.col("r") * F.col("r")).cast("double").alias("sq"),
        F.sum("r").cast("double").alias("s"),
    )
    hhi = F.col("sq") / (F.col("s") * F.col("s"))
    return (
        m.filter(F.col("n_cust") > 1)
        .join(F.broadcast(n), m.c_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("n_cust").cast("long").alias("n_customers"),
            F.round(hhi, 9).alias("hhi"),
            F.round(
                (hhi - 1.0 / F.col("n_cust")) / (1 - 1.0 / F.col("n_cust")), 9
            ).alias("hhi_normalized"),
        )
    )


def _md5_bucket(col, seed_col, width: int):
    """First 8 md5 hex chars of 'seed:value' as a long, mod width —
    the engine-portable hash family (conv(substr(md5)) ≡ DuckDB's
    ('0x' || substr(md5)) cast). 32-bit range: always positive."""
    return (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", seed_col.cast("string"), col)), 1, 8),
            16,
            10,
        ).cast("long")
        % width
    )


@query(
    "sketch_cms_token_counts",
    oracle="""
    WITH toks AS (
      SELECT u.tok FROM documents,
        UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS u(tok)
    ),
    seeded AS (
      SELECT s.s AS seed,
        CAST(('0x' || substr(md5(CAST(s.s AS VARCHAR) || ':' || tok), 1, 8))
             AS BIGINT) % 512 AS bucket
      FROM toks, UNNEST(range(0, 4)) AS s(s)
    ),
    sketch AS (SELECT seed, bucket, COUNT(*) AS cnt FROM seeded GROUP BY 1, 2),
    exact AS (SELECT tok, COUNT(*) AS exact_cnt FROM toks GROUP BY tok),
    top AS (SELECT tok, exact_cnt FROM exact ORDER BY exact_cnt DESC, tok LIMIT 20),
    est AS (
      SELECT t.tok, MIN(sk.cnt) AS cms_est
      FROM top t, UNNEST(range(0, 4)) AS s(s)
      JOIN sketch sk ON sk.seed = s.s
        AND sk.bucket = CAST(('0x' || substr(md5(CAST(s.s AS VARCHAR) || ':' ||
                              t.tok), 1, 8)) AS BIGINT) % 512
      GROUP BY t.tok
    )
    SELECT t.tok AS token, CAST(t.exact_cnt AS BIGINT) AS exact_cnt,
           CAST(e.cms_est AS BIGINT) AS cms_est,
           e.cms_est >= t.exact_cnt AS over_ok
    FROM top t JOIN est e ON e.tok = t.tok
    """,
)
def sketch_cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (d=4 rows × w=512 buckets) over corpus token
    occurrences, evaluated against exact counts for the top-20 tokens.
    The sketch is the 100 TB shape for frequency monitoring: the
    corpus reduces to a CONSTANT-SIZE (d·w) mergeable table via one
    map-side-combinable groupBy — rollups union sketches instead of
    rescanning token streams (same mergeability argument as the HLL
    rollup). Point estimates are min-over-rows; the one-sided
    over_ok ≥ guarantee is structural, never probabilistic.

    Because the hash family is md5-derived (_md5_bucket), the DuckDB
    oracle reproduces the sketch CELL-FOR-CELL — the estimates are
    value-hash-compared exactly, not just bounds-checked."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(tokens_col("text")).alias("tok")
    ).localCheckpoint(eager=False)  # feeds the sketch AND exact counts
    d_rows, width = 4, 512
    seeds = F.array(*[F.lit(s) for s in range(d_rows)])
    sketch = (
        toks.select(F.explode(seeds).alias("seed"), "tok")
        .select("seed", _md5_bucket(F.col("tok"), F.col("seed"), width).alias("bucket"))
        .groupBy("seed", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("tok"))
        .limit(20)
    )
    est = (
        top.select("tok", F.explode(seeds).alias("seed"))
        .select("tok", "seed", _md5_bucket(F.col("tok"), F.col("seed"), width).alias("bucket"))
        .join(F.broadcast(sketch), ["seed", "bucket"])
        .groupBy("tok")
        .agg(F.min("cnt").alias("cms_est"))
    )
    return top.join(est, "tok").select(
        F.col("tok").alias("token"),
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        F.col("cms_est").cast("long").alias("cms_est"),
        (F.col("cms_est") >= F.col("exact_cnt")).alias("over_ok"),
    )


@query(
    "bloom_prune_orders",
    oracle="""
    WITH bld AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    bloom AS (
      SELECT DISTINCT
        CAST(('0x' || substr(md5(CAST(s.s AS VARCHAR) || ':' ||
              CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 8192 AS pos
      FROM bld, UNNEST(range(0, 3)) AS s(s)
    ),
    probe AS (
      SELECT o.o_orderkey, o.o_custkey, s.s AS seed,
        CAST(('0x' || substr(md5(CAST(s.s AS VARCHAR) || ':' ||
              CAST(o.o_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 8192 AS pos
      FROM orders o, UNNEST(range(0, 3)) AS s(s)
    ),
    pass AS (
      SELECT o_orderkey, ANY_VALUE(o_custkey) AS o_custkey
      FROM probe JOIN bloom USING (pos)
      GROUP BY o_orderkey HAVING COUNT(DISTINCT seed) = 3
    ),
    truth AS (SELECT DISTINCT c_custkey FROM bld)
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_orders,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM pass) AS n_bloom_pass,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
         JOIN truth t ON t.c_custkey = o.o_custkey) AS n_true_match,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM pass p
         LEFT JOIN truth t ON t.c_custkey = p.o_custkey
         WHERE t.c_custkey IS NULL) AS n_false_pos,
      (SELECT COUNT(*) FROM pass p JOIN truth t ON t.c_custkey = p.o_custkey)
        = (SELECT COUNT(*) FROM orders o JOIN truth t ON t.c_custkey = o.o_custkey)
        AS superset_ok
    """,
)
def bloom_prune_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning: an 8192-bit / 3-hash filter built
    from the BUILDING-segment customer keys pre-filters the orders
    probe side before the real join — the runtime-filter pattern
    Spark applies JVM-side for shuffle joins, reconstructed explicitly
    so the false-positive economics are measurable. Output is the
    audit row: probe size, bloom-pass count, true matches, false
    positives, and the structural no-false-negative guarantee
    (superset_ok must be true by construction, and IS verified
    exactly because the md5 hash family reproduces in the oracle).

    Scale shape: the filter is dimension-derived (distinct bit
    positions ≤ 8192 rows → broadcast); the fact table is touched
    once, and the per-row membership test is a broadcast-hash
    existence join + seed count — no corpus shuffle."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    seeds = F.array(*[F.lit(s) for s in range(3)])
    bld = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    bloom = (
        bld.select(F.explode(seeds).alias("seed"), "c_custkey")
        .select(_md5_bucket(F.col("c_custkey"), F.col("seed"), 8192).alias("pos"))
        .distinct()
    )
    probe = orders.select(
        "o_orderkey", "o_custkey", F.explode(seeds).alias("seed")
    ).select(
        "o_orderkey",
        "o_custkey",
        "seed",
        _md5_bucket(F.col("o_custkey"), F.col("seed"), 8192).alias("pos"),
    )
    passed = (
        probe.join(F.broadcast(bloom), "pos")
        .groupBy("o_orderkey")
        .agg(
            F.first("o_custkey").alias("o_custkey"),
            F.countDistinct("seed").alias("nseed"),
        )
        .filter(F.col("nseed") == 3)
        .localCheckpoint(eager=False)  # reused by three audit counts
    )
    truth = bld.distinct()
    n_orders = orders.agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    n_pass = passed.agg(F.count(F.lit(1)).cast("long").alias("n_bloom_pass"))
    n_true = (
        orders.join(
            F.broadcast(truth), orders.o_custkey == truth.c_custkey
        ).agg(F.count(F.lit(1)).cast("long").alias("n_true_match"))
    )
    n_fp = (
        passed.join(
            F.broadcast(truth), passed.o_custkey == truth.c_custkey, "left_anti"
        ).agg(F.count(F.lit(1)).cast("long").alias("n_false_pos"))
    )
    n_pass_true = passed.join(
        F.broadcast(truth), passed.o_custkey == truth.c_custkey
    ).agg(F.count(F.lit(1)).alias("n_pass_true"))
    return (
        n_orders.crossJoin(n_pass)
        .crossJoin(n_true)
        .crossJoin(n_fp)
        .crossJoin(n_pass_true)
        .select(
            "n_orders",
            "n_bloom_pass",
            "n_true_match",
            "n_false_pos",
            (F.col("n_pass_true") == F.col("n_true_match")).alias("superset_ok"),
        )
    )


@query(
    "orders_exact_price_percentiles",
    oracle="""
    WITH ranked AS (
      SELECT o_totalprice AS price,
             ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn
      FROM orders
    ),
    n AS (SELECT COUNT(*) AS n FROM orders),
    p AS (SELECT UNNEST([50, 90, 99]) AS pct)
    SELECT CAST(p.pct AS INT) AS pct,
           CAST((p.pct * n.n + 99) // 100 AS BIGINT) AS at_rank,
           CAST(r.price AS DOUBLE) AS price
    FROM p CROSS JOIN n
    JOIN ranked r ON r.rn = (p.pct * n.n + 99) // 100
    """,
)
def orders_exact_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global percentiles (p50/p90/p99 of order price) with no
    single-partition sort — the exact companion to the
    approx_percentile sketch (approx_quantile_price): the two-pass
    range-partitioned ranking primitive (operators/ranking.py)
    assigns every row its global rank, and each percentile is the row
    at rank ⌈p·n/100⌉ under the total order (price, orderkey) —
    the discontinuous (type-1) quantile definition, computed with one
    integer expression so both engines select the identical row.

    Scale shape: rank filter runs inside the partition-local window
    (each range bucket holds ~n/P rows); the 3-row rank table
    broadcast-joins against it — at 100 TB this is the textbook
    "exact quantiles via distributed sort" plan, linear in data and
    free of the skewed single reducer the naive SQL window implies."""
    from ..operators import ranking as R

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    rdf, n = R.ranked(
        o, [F.asc("o_totalprice"), F.asc("o_orderkey")], rn_col="rn"
    )
    ranks = [(p, (p * n + 99) // 100) for p in (50, 90, 99)]
    pcts = spark.createDataFrame(ranks, "pct int, at_rank long")
    return (
        rdf.join(F.broadcast(pcts), rdf["rn"] == pcts["at_rank"])
        .select(
            "pct",
            "at_rank",
            F.col("o_totalprice").cast("double").alias("price"),
        )
    )


def _kcore_oracle_ctes(k: int, rounds: int) -> str:
    parts = [
        "ed AS (SELECT u AS src, v AS dst FROM e "
        "UNION ALL SELECT v AS src, u AS dst FROM e)",
        "n0 AS (SELECT DISTINCT src AS node FROM ed)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"d{r} AS (SELECT src AS node, COUNT(*) AS d FROM ed "
            f"WHERE src IN (SELECT node FROM n{r - 1}) "
            f"AND dst IN (SELECT node FROM n{r - 1}) GROUP BY src)"
        )
        parts.append(f"n{r} AS (SELECT node FROM d{r} WHERE d >= {k})")
    return ",\n    ".join(parts)


_KCORE_K, _KCORE_ROUNDS = 3, 4


@query(
    "graph_kcore_histogram",
    oracle=f"""
    WITH {_EDGES_SQL},
    {_kcore_oracle_ctes(_KCORE_K, _KCORE_ROUNDS)}
    SELECT CAST(d AS BIGINT) AS core_degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM d{_KCORE_ROUNDS} WHERE d >= {_KCORE_K}
    GROUP BY d
    """,
)
def graph_kcore_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the {k=3}-core of the part co-purchase
    graph after 4 synchronous peeling rounds — the density-tier
    summary graph miners read before community detection (nodes
    outside the k-core are tree-like fringe; the core is where the
    structure is). Peeling is monotone and idempotent at the fixed
    point, so the fixed round count is oracle-checkable by unrolled
    CTEs (operators/graph.py:kcore_degrees has the scale notes: per
    round one semi-join per endpoint + one count agg over the
    checkpointed edge table)."""
    core = G.kcore_degrees(
        _copurchase_edges(spark, sf_dir), k=_KCORE_K, rounds=_KCORE_ROUNDS
    )
    return core.groupBy(
        F.col("core_degree").cast("long").alias("core_degree")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))


@query(
    "events_props_json_stats",
    oracle="""
    WITH px AS (
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(k) AS BIGINT) AS n_with_k,
           CAST(SUM(k) AS BIGINT) AS k_sum,
           CAST(MIN(k) AS INT) AS k_min,
           CAST(MAX(k) AS INT) AS k_max,
           CAST(COUNT(DISTINCT k) AS BIGINT) AS k_distinct
    FROM px GROUP BY event_type
    """,
)
def events_props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column extraction: parse the events.props JSON
    payload with a TYPED ``from_json`` schema and aggregate the
    extracted field per event type — the event-properties pattern every
    product-analytics pipeline starts with (properties bags land as
    JSON strings; analysis needs typed columns).

    ``from_json`` with an explicit schema is the scale-correct choice:
    parsing happens scan-side in the JVM (Jackson, codegen'd null-safe
    field access), malformed rows become NULL instead of failing the
    job, and only the projected field is retained — no
    schema-inference pass over 100 TB, no Python. Exact integer
    aggregates → exact oracle (DuckDB json_extract_string + CAST)."""
    ev = t(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k int")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").cast("long").alias("k_sum"),
            F.min("k").cast("int").alias("k_min"),
            F.max("k").cast("int").alias("k_max"),
            F.countDistinct("k").alias("k_distinct"),
        )
    )


@query(
    "orders_priority_exact_median",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority AS priority, o_totalprice AS price,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS lrn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
      FROM orders
    )
    SELECT priority, CAST(cnt AS BIGINT) AS n_orders,
           CAST(price AS DOUBLE) AS median_price
    FROM ranked WHERE lrn = (cnt + 1) // 2
    """,
)
def orders_priority_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT median price per order priority — the few-huge-groups
    shape: o_orderpriority has 5 values, so a per-group window
    (PARTITION BY priority) puts ~20% of the fact table on ONE task
    each — five stragglers instead of one, the same scale-killer as an
    unpartitioned sort. Instead the global two-pass ranking primitive
    (operators/ranking.py) ranks on the COMPOSITE order (priority,
    price, orderkey) — range partitioning splits each priority across
    many balanced buckets — and the per-group local rank is recovered
    arithmetically as rn − min(rn per group) + 1 (one 5-row broadcast
    join). The median is the type-1 lower-median row
    (local rank = ⌈n/2⌉), selected by exact integer comparison."""
    from ..operators import ranking as R

    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").alias("price"),
        "o_orderkey",
    )
    rdf, _n = R.ranked(
        o, [F.asc("priority"), F.asc("price"), F.asc("o_orderkey")], rn_col="rn"
    )
    rdf = rdf.localCheckpoint(eager=False)  # feeds group stats + filter
    g = rdf.groupBy("priority").agg(
        F.min("rn").alias("rn0"), F.count(F.lit(1)).alias("cnt")
    )
    lrn = F.col("rn") - F.col("rn0") + 1
    # floor-of-double is exact integer division here (counts < 2^53)
    target = F.floor((F.col("cnt") + 1) / 2)
    return (
        rdf.join(F.broadcast(g), "priority")
        .filter(lrn == target)
        .select(
            "priority",
            F.col("cnt").cast("long").alias("n_orders"),
            F.col("price").cast("double").alias("median_price"),
        )
    )


@query(
    "events_mannwhitney_click_purchase",
    oracle="""
    WITH ev AS (
      SELECT event_type, value FROM events
      WHERE event_type IN ('click', 'purchase')
    ),
    g AS (
      SELECT value,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
             COUNT(*) AS n
      FROM ev GROUP BY value
    ),
    r AS (
      SELECT ca, n,
             SUM(n) OVER (ORDER BY value) AS cum_n
      FROM g
    ),
    m AS (
      SELECT SUM(ca * (2 * (cum_n - n) + n + 1)) AS r2a,
             SUM(n * n * n - n) AS ties
      FROM r
    ),
    tot AS (
      SELECT SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS na,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS nb
      FROM ev
    )
    SELECT CAST(na AS BIGINT) AS n_click, CAST(nb AS BIGINT) AS n_purchase,
      CAST((r2a - na * (na + 1)) AS DOUBLE) / 2 AS u_click,
      ROUND((CAST(r2a AS DOUBLE) - na * (na + 1) - CAST(na AS DOUBLE) * nb)
            / (2 * sqrt(CAST(na AS DOUBLE) * nb / 12.0
                        * ((na + nb + 1)
                           - CAST(ties AS DOUBLE)
                             / ((na + nb) * (na + nb - 1.0))))), 6) AS z_score
    FROM m, tot
    """,
)
def events_mannwhitney_click_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mann-Whitney U rank-sum test between the click and purchase
    value distributions — the nonparametric two-sample LOCATION test
    next to the KS sup-distance (events_ks_click_purchase): KS asks
    "are the distributions different anywhere", U asks "is one
    stochastically larger". Midranks (tie-averaged ranks) come from
    the same primitive shape as the KS CDF: one groupBy(value), then
    the range-partitioned prefix sum (operators/ranking.py) gives each
    distinct value its cumulative count — midrank·2 = 2·(cum−n)+n+1 is
    an INTEGER, so the rank sum R_a, the U statistic (kept doubled:
    U2 = 2R_a − n_a(n_a+1)) and the tie term Σ(t³−t) are all exact
    64-bit arithmetic in both engines; only the final z normalization
    (one sqrt + one division of identical doubles, tie-corrected
    variance) is IEEE, rounded to 6 dp."""
    from ..operators import ranking as R

    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    is_a = (F.col("event_type") == "click").cast("long")
    g = ev.groupBy("value").agg(
        F.sum(is_a).alias("ca"), F.count(F.lit(1)).alias("n")
    )
    rdf, _n = R.ranked(
        g, [F.asc("value")], rn_col=None, cumsum_cols={"n": "cum_n"}
    )
    m = rdf.agg(
        F.sum(
            F.col("ca")
            * (2 * (F.col("cum_n") - F.col("n")) + F.col("n") + 1)
        ).alias("r2a"),
        F.sum(
            F.col("n") * F.col("n") * F.col("n") - F.col("n")
        ).alias("ties"),
    )
    tot = ev.agg(
        F.sum(is_a).alias("na"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("nb"),
    )
    na, nb = F.col("na"), F.col("nb")
    r2a, ties = F.col("r2a"), F.col("ties")
    nn = na + nb
    var = (
        na.cast("double") * nb / 12.0
        * ((nn + 1) - ties.cast("double") / (nn * (nn - 1.0)))
    )
    return m.crossJoin(F.broadcast(tot)).select(
        na.cast("long").alias("n_click"),
        nb.cast("long").alias("n_purchase"),
        ((r2a - na * (na + 1)).cast("double") / 2).alias("u_click"),
        F.round(
            (r2a.cast("double") - na * (na + 1) - na.cast("double") * nb)
            / (2 * F.sqrt(var)),
            6,
        ).alias("z_score"),
    )


@query(
    "events_max_concurrent_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL THEN 1
                  WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000 THEN 1
                  ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      FROM flagged
    ), sessions AS (
      SELECT user_id, session_idx,
             MIN(us) // 1000000 AS start_sec,
             MAX(us) // 1000000 AS end_sec
      FROM numbered GROUP BY user_id, session_idx
    ),
    bounds AS (
      SELECT start_sec AS t, 1 AS delta, user_id, session_idx FROM sessions
      UNION ALL
      SELECT end_sec AS t, -1 AS delta, user_id, session_idx FROM sessions
    ),
    swept AS (
      SELECT t, delta,
             SUM(delta) OVER (ORDER BY t, delta DESC, user_id, session_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
      FROM bounds
    ),
    mx AS (SELECT MAX(conc) AS max_conc FROM swept)
    SELECT CAST((SELECT COUNT(*) FROM sessions) AS BIGINT) AS n_sessions,
           CAST(mx.max_conc AS BIGINT) AS max_concurrent,
           CAST((SELECT MIN(t) FROM swept, mx WHERE conc = mx.max_conc)
                AS BIGINT) AS first_peak_epoch_sec
    FROM mx
    """,
)
def events_max_concurrent_sessions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sweep-line interval concurrency: the peak number of
    simultaneously-active sessions and when it first occurs — the
    capacity-planning question (licenses, connection pools, autoscale
    ceilings) that interval data exists to answer, and an operator
    class (interval algebra) the registry didn't cover yet.

    Classic sweep: every session contributes (+1 at start, −1 at end,
    inclusive ends so a start ties BEFORE an end at the same second),
    and concurrency is the running sum of deltas under the total order
    (t, delta desc, user, session). That global cumulative runs
    through the range-partitioned prefix-sum primitive
    (operators/ranking.py) — boundary rows are 2×sessions
    (dimension-scale), and no single task ever holds the sweep. The
    peak and its first timestamp are exact integer aggregates."""
    from ..operators import ranking as R
    from ..operators import windows as W

    sessions = W.sessionize(
        t(spark, sf_dir, "events"), "ts", "user_id", "event_id", 1800, "value"
    ).select("user_id", "session_idx", "session_start_sec", "session_end_sec")
    bounds = sessions.select(
        F.col("session_start_sec").alias("t"),
        F.lit(1).alias("delta"),
        "user_id",
        "session_idx",
    ).unionByName(
        sessions.select(
            F.col("session_end_sec").alias("t"),
            F.lit(-1).alias("delta"),
            "user_id",
            "session_idx",
        )
    )
    swept, n_bounds = R.ranked(
        bounds,
        [F.asc("t"), F.desc("delta"), F.asc("user_id"), F.asc("session_idx")],
        rn_col=None,
        cumsum_cols={"delta": "conc"},
    )
    swept = swept.localCheckpoint(eager=False)  # feeds max + first-peak
    mx = swept.agg(F.max("conc").alias("max_conc"))
    peak = (
        swept.join(F.broadcast(mx), F.col("conc") == F.col("max_conc"))
        .agg(F.min("t").alias("first_peak"))
    )
    return (
        mx.crossJoin(peak)
        .select(
            F.lit(n_bounds // 2).cast("long").alias("n_sessions"),
            F.col("max_conc").cast("long").alias("max_concurrent"),
            F.col("first_peak").cast("long").alias("first_peak_epoch_sec"),
        )
    )


@query(
    "lineitem_weighted_median_price",
    oracle="""
    WITH ranked AS (
      SELECT CAST(l_extendedprice AS DOUBLE) AS price,
             CAST(l_quantity AS BIGINT) AS w,
             SUM(CAST(l_quantity AS BIGINT))
               OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
      FROM lineitem
    ),
    tot AS (SELECT SUM(CAST(l_quantity AS BIGINT)) AS tw FROM lineitem)
    SELECT CAST(tot.tw AS BIGINT) AS total_weight,
           (SELECT CAST(MIN(price) AS DOUBLE) FROM ranked, tot
             WHERE 2 * cw >= tot.tw) AS weighted_median_price
    FROM tot
    """,
)
def lineitem_weighted_median_price(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT weighted median (price weighted by quantity) — the
    inventory-style "half the unit volume sits below this price"
    statistic, which no percentile sketch answers exactly and a naive
    SQL window computes with a single-task sort. The weight cumsum
    rides the range-partitioned prefix-sum primitive under the total
    order (price, orderkey, linenumber); the median is the least value
    whose cumulative weight reaches half the total, selected by the
    exact integer comparison 2·cw ≥ W (quantities are integral)."""
    from ..operators import ranking as R

    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("double").alias("price"),
        F.col("l_quantity").cast("long").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    rdf, _n = R.ranked(
        li,
        [F.asc("price"), F.asc("l_orderkey"), F.asc("l_linenumber")],
        rn_col=None,
        cumsum_cols={"w": "cw"},
    )
    tot = li.agg(F.sum("w").alias("tw"))
    med = (
        rdf.crossJoin(F.broadcast(tot))
        .filter(2 * F.col("cw") >= F.col("tw"))
        .agg(F.min("price").alias("m"))
    )
    return tot.crossJoin(med).select(
        F.col("tw").cast("long").alias("total_weight"),
        F.col("m").cast("double").alias("weighted_median_price"),
    )


@query(
    "events_system_active_time",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL THEN 1
                  WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000 THEN 1
                  ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      FROM flagged
    ), sessions AS (
      SELECT user_id, session_idx,
             MIN(us) // 1000000 AS start_sec,
             MAX(us) // 1000000 AS end_sec
      FROM numbered GROUP BY user_id, session_idx
    ),
    bounds AS (
      SELECT start_sec AS t, 1 AS delta, user_id, session_idx FROM sessions
      UNION ALL
      SELECT end_sec AS t, -1 AS delta, user_id, session_idx FROM sessions
    ),
    swept AS (
      SELECT t, delta,
             SUM(delta) OVER (ORDER BY t, delta DESC, user_id, session_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc,
             ROW_NUMBER() OVER (ORDER BY t, delta DESC, user_id, session_idx)
               AS rn
      FROM bounds
    ),
    segs AS (
      SELECT a.t AS t0, b.t AS t1, a.conc
      FROM swept a JOIN swept b ON b.rn = a.rn + 1
    )
    SELECT
      CAST(SUM(CASE WHEN conc > 0 THEN t1 - t0 ELSE 0 END) AS BIGINT)
        AS busy_seconds,
      CAST(SUM(CASE WHEN conc = 0 AND t1 > t0 THEN 1 ELSE 0 END) + 1 AS BIGINT)
        AS n_busy_periods
    FROM segs
    """,
)
def events_system_active_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval UNION length: total seconds during which at least one
    session is active anywhere in the system, plus the number of
    merged busy periods — the utilization/coverage complement of the
    peak-concurrency sweep (events_max_concurrent_sessions): the same
    +1/−1 boundary stream, but integrating 1{conc > 0} over time
    instead of taking max(conc).

    The global "next boundary" lookahead that SQL writes as
    LEAD()/rn+1 over an unpartitioned window is expressed at scale as
    the ranking primitive's exact row_number + ONE equi-join of rn on
    rn+1 (hash-balanced — consecutive ranks land in arbitrary
    partitions) — the general recipe for global lag/lead without a
    single-task sort. Busy-period count = gaps at conc 0 with positive
    width, + 1 (boundary rows are closed intervals; zero-width gaps
    merge their neighbors)."""
    from ..operators import ranking as R
    from ..operators import windows as W

    sessions = W.sessionize(
        t(spark, sf_dir, "events"), "ts", "user_id", "event_id", 1800, "value"
    ).select("user_id", "session_idx", "session_start_sec", "session_end_sec")
    bounds = sessions.select(
        F.col("session_start_sec").alias("t"),
        F.lit(1).alias("delta"),
        "user_id",
        "session_idx",
    ).unionByName(
        sessions.select(
            F.col("session_end_sec").alias("t"),
            F.lit(-1).alias("delta"),
            "user_id",
            "session_idx",
        )
    )
    swept, _n = R.ranked(
        bounds,
        [F.asc("t"), F.desc("delta"), F.asc("user_id"), F.asc("session_idx")],
        rn_col="rn",
        cumsum_cols={"delta": "conc"},
    )
    swept = swept.select("t", "conc", "rn").localCheckpoint(eager=False)
    nxt = swept.select(
        (F.col("rn") - 1).alias("rn"), F.col("t").alias("t1")
    )
    segs = swept.join(nxt, "rn")
    return segs.agg(
        F.sum(
            F.when(F.col("conc") > 0, F.col("t1") - F.col("t")).otherwise(0)
        )
        .cast("long")
        .alias("busy_seconds"),
        (
            F.sum(
                F.when(
                    (F.col("conc") == 0) & (F.col("t1") > F.col("t")), 1
                ).otherwise(0)
            )
            + 1
        )
        .cast("long")
        .alias("n_busy_periods"),
    )


@query(
    "orders_fd_profile",
    oracle="""
    WITH fd1 AS (
      SELECT COUNT(*) AS n_viol FROM (
        SELECT o_custkey FROM orders
        GROUP BY o_custkey HAVING COUNT(DISTINCT o_orderpriority) > 1
      )
    ),
    fd2 AS (
      SELECT COUNT(*) AS n_viol FROM (
        SELECT o_orderdate FROM orders
        GROUP BY o_orderdate HAVING COUNT(DISTINCT o_orderstatus) > 1
      )
    ),
    fd3 AS (
      SELECT COUNT(*) AS n_viol FROM (
        SELECT o_orderkey FROM orders
        GROUP BY o_orderkey HAVING COUNT(DISTINCT o_orderdate) > 1
      )
    )
    SELECT fd AS candidate_fd, CAST(n_viol AS BIGINT) AS n_violating_lhs,
           n_viol = 0 AS holds
    FROM (
      SELECT 'o_custkey->o_orderpriority' AS fd, n_viol FROM fd1
      UNION ALL SELECT 'o_orderdate->o_orderstatus', n_viol FROM fd2
      UNION ALL SELECT 'o_orderkey->o_orderdate', n_viol FROM fd3
    )
    """,
)
def orders_fd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery probe: for candidate FDs A → B,
    count left-hand-side values that map to MORE than one B — the
    schema-profiling primitive behind normalization advice and silent
    denormalization-drift alarms (an FD that held yesterday and broke
    today means an upstream join or backfill went wrong). Each check
    is one groupBy(A) with a distinct-count HAVING — map-side
    combinable, one shuffle per FD on dimension-sized keys; the three
    candidates exercise holds-trivially (the key), holds-or-not
    (date→status), and definitely-fails (custkey→priority)."""
    o = t(spark, sf_dir, "orders")

    def check(lhs: str, rhs: str) -> DataFrame:
        return (
            o.groupBy(lhs)
            .agg(F.countDistinct(rhs).alias("_nd"))
            .filter(F.col("_nd") > 1)
            .agg(F.count(F.lit(1)).alias("n_viol"))
            .select(
                F.lit(f"{lhs}->{rhs}").alias("candidate_fd"),
                F.col("n_viol").cast("long").alias("n_violating_lhs"),
                (F.col("n_viol") == 0).alias("holds"),
            )
        )

    return (
        check("o_custkey", "o_orderpriority")
        .unionByName(check("o_orderdate", "o_orderstatus"))
        .unionByName(check("o_orderkey", "o_orderdate"))
    )


@query(
    "orders_key_candidate_profile",
    oracle="""
    SELECT col AS column_name, CAST(n_distinct AS BIGINT) AS n_distinct,
           CAST(n_rows AS BIGINT) AS n_rows, n_distinct = n_rows AS is_unique_key
    FROM (
      SELECT 'o_orderkey' AS col, COUNT(DISTINCT o_orderkey) AS n_distinct,
             COUNT(*) AS n_rows FROM orders
      UNION ALL
      SELECT 'o_custkey', COUNT(DISTINCT o_custkey), COUNT(*) FROM orders
      UNION ALL
      SELECT 'o_orderdate', COUNT(DISTINCT o_orderdate), COUNT(*) FROM orders
      UNION ALL
      SELECT 'o_orderstatus', COUNT(DISTINCT o_orderstatus), COUNT(*) FROM orders
    )
    """,
)
def orders_key_candidate_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Key-candidate discovery: per-column distinct count vs row count
    — the uniqueness face of table profiling (which columns COULD be a
    primary key; how far from unique are the rest). All four columns
    profile in ONE scan: count + four count_distincts in a single
    aggregate (Spark expands multiple exact distinct aggregates; at
    100 TB you'd swap approx_count_distinct per column — the HLL
    rollup pattern — and keep this exact form for the final
    verification pass on candidates)."""
    o = t(spark, sf_dir, "orders")
    agg = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_orderkey").alias("d_key"),
        F.countDistinct("o_custkey").alias("d_cust"),
        F.countDistinct("o_orderdate").alias("d_date"),
        F.countDistinct("o_orderstatus").alias("d_status"),
    )
    rows = [
        ("o_orderkey", "d_key"),
        ("o_custkey", "d_cust"),
        ("o_orderdate", "d_date"),
        ("o_orderstatus", "d_status"),
    ]
    out = None
    for name, col in rows:
        piece = agg.select(
            F.lit(name).alias("column_name"),
            F.col(col).cast("long").alias("n_distinct"),
            F.col("n_rows").cast("long").alias("n_rows"),
            (F.col(col) == F.col("n_rows")).alias("is_unique_key"),
        )
        out = piece if out is None else out.unionByName(piece)
    return out


@query(
    "lineitem_corr_matrix",
    oracle="""
    WITH m AS (
      SELECT COUNT(*) AS n,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sp,
        CAST(SUM(CAST(l_quantity AS DECIMAL(4,0))) AS DOUBLE) AS sq,
        CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sd,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS spp,
        CAST(SUM(CAST(l_quantity AS DECIMAL(4,0))
               * CAST(l_quantity AS DECIMAL(4,0))) AS DOUBLE) AS sqq,
        CAST(SUM(CAST(l_discount AS DECIMAL(4,2))
               * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sdd,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_quantity AS DECIMAL(4,0))) AS DOUBLE) AS spq,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS spd,
        CAST(SUM(CAST(l_quantity AS DECIMAL(4,0))
               * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sqd
      FROM lineitem
    )
    SELECT pair, round((n * sxy - sx * sy)
           / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9) AS pearson_r
    FROM (
      SELECT 'price~quantity' AS pair, n, spq AS sxy, sp AS sx, sq AS sy,
             spp AS sxx, sqq AS syy FROM m
      UNION ALL
      SELECT 'price~discount', n, spd, sp, sd, spp, sdd FROM m
      UNION ALL
      SELECT 'quantity~discount', n, sqd, sq, sd, sqq, sdd FROM m
    )
    """,
)
def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the numeric lineitem
    measures — the one-pass profiling companion to the per-pair OLS
    trend: ALL nine moment sums (Σx, Σx², Σxy for three columns) ride
    ONE map-side-combined aggregate over one scan, and each r is a
    closed form of exact inputs. Determinism recipe: every moment is a
    DECIMAL product of width-matched casts (2dp price × integer qty ×
    2dp discount — exact, accumulation-order independent), so the only
    IEEE work is the final normalization, rounded to 9 dp."""
    li = t(spark, sf_dir, "lineitem")
    p = F.col("l_extendedprice").cast("decimal(12,2)")
    q = F.col("l_quantity").cast("decimal(4,0)")
    d = F.col("l_discount").cast("decimal(4,2)")
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(p).cast("double").alias("sp"),
        F.sum(q).cast("double").alias("sq"),
        F.sum(d).cast("double").alias("sd"),
        F.sum(p * p).cast("double").alias("spp"),
        F.sum(q * q).cast("double").alias("sqq"),
        F.sum(d * d).cast("double").alias("sdd"),
        F.sum(p * q).cast("double").alias("spq"),
        F.sum(p * d).cast("double").alias("spd"),
        F.sum(q * d).cast("double").alias("sqd"),
    )

    def r(pair, sxy, sx, sy, sxx, syy):
        n = F.col("n")
        num = n * F.col(sxy) - F.col(sx) * F.col(sy)
        den = F.sqrt(n * F.col(sxx) - F.col(sx) * F.col(sx)) * F.sqrt(
            n * F.col(syy) - F.col(sy) * F.col(sy)
        )
        return m.select(
            F.lit(pair).alias("pair"),
            F.round(num / den, 9).alias("pearson_r"),
        )

    return (
        r("price~quantity", "spq", "sp", "sq", "spp", "sqq")
        .unionByName(r("price~discount", "spd", "sp", "sd", "spp", "sdd"))
        .unionByName(r("quantity~discount", "sqd", "sq", "sd", "sqq", "sdd"))
    )


@query(
    "orders_quantile_sketch_eval",
    oracle="""
    WITH ranked AS (
      SELECT o_totalprice AS price,
             ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn
      FROM orders
    ),
    n AS (SELECT COUNT(*) AS n FROM orders),
    p AS (SELECT UNNEST([50, 90, 99]) AS pct)
    SELECT CAST(p.pct AS INT) AS pct,
           CAST(r.price AS DOUBLE) AS exact_price,
           TRUE AS sketch_rank_ok
    FROM p CROSS JOIN n
    JOIN ranked r ON r.rn = (p.pct * n.n + 99) // 100
    """,
)
def orders_quantile_sketch_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy evaluation loop for approx_percentile: the
    EXACT percentiles (hash-checked, from the ranking primitive) side
    by side with a boolean asserting the sketch's documented rank
    guarantee — the returned value's rank lies within n/accuracy of
    the target rank (Greenwald-Khanna bound, accuracy=1000). Closes
    the same eval loop as knn_ivf_recall_eval: the engine measures its
    own approximation against exact ground truth it computed at scale
    (the exact side costs two balanced passes, no single-task sort).
    Rank bracketing uses strict/inclusive counts vs the sketch values
    (one conditional aggregate; sketch values are a bounded 1-row
    collect), so ties cannot produce a false failure."""
    from ..operators import ranking as R

    accuracy = 1000
    pcts = (50, 90, 99)
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    rdf, n = R.ranked(
        o, [F.asc("o_totalprice"), F.asc("o_orderkey")], rn_col="rn"
    )
    rdf = rdf.localCheckpoint(eager=False)  # feeds exact rows + rank counts
    approx = o.agg(
        F.percentile_approx(
            "o_totalprice", [p / 100 for p in pcts], accuracy
        ).alias("ap")
    ).collect()[0]["ap"]
    tol = n / accuracy + 1
    pieces = []
    for pct, av in zip(pcts, approx):
        target = (pct * n + 99) // 100
        brackets = rdf.agg(
            F.sum((F.col("o_totalprice") < float(av)).cast("long")).alias("r_lo"),
            F.sum((F.col("o_totalprice") <= float(av)).cast("long")).alias("r_hi"),
        )
        exact = rdf.filter(F.col("rn") == target).select(
            F.col("o_totalprice").cast("double").alias("exact_price")
        )
        pieces.append(
            exact.crossJoin(F.broadcast(brackets)).select(
                F.lit(pct).cast("int").alias("pct"),
                "exact_price",
                (
                    (F.col("r_hi") >= F.lit(target - tol))
                    & (F.col("r_lo") <= F.lit(target + tol))
                ).alias("sketch_rank_ok"),
            )
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


@query(
    "session_path_trigrams",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
             CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL THEN 1
                  WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000 THEN 1
                  ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      FROM flagged
    ), paths AS (
      SELECT user_id, session_idx,
             list(event_type ORDER BY us, event_id) AS types
      FROM numbered GROUP BY user_id, session_idx
    )
    SELECT array_to_string(types[1:3], '>') AS path3,
           CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths WHERE len(types) >= 3
    GROUP BY 1
    """,
)
def session_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: the first three event types of every
    session as a '>'-joined path, counted across sessions — the Sankey
    / "how do journeys start" summary one level richer than the
    pairwise transition matrix (events_type_transition_matrix).

    Shape: the per-user gaps-and-islands session index rides the SAME
    single (user-partitioned) window shuffle as sessionization; within
    each session the event order is restored by array_sort over
    collected (time, id, type) structs — the engine's
    no-second-window-sort idiom (user_event_sequences) — and the path
    is a pure array expression. Sessions with fewer than three events
    are excluded (no padding ambiguity)."""
    ev = t(spark, sf_dir, "events")
    us = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    w = Window.partitionBy("user_id").orderBy(us, F.col("event_id"))
    numbered = (
        ev.withColumn(
            "_new",
            F.when(F.lag(us).over(w).isNull(), 1)
            .when(us - F.lag(us).over(w) > 1800 * 1_000_000, 1)
            .otherwise(0),
        )
        .withColumn(
            "_sid",
            F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("_us", us)
    )
    paths = numbered.groupBy("user_id", "_sid").agg(
        F.array_sort(
            F.collect_list(F.struct("_us", "event_id", "event_type"))
        ).alias("arr")
    )
    return (
        paths.filter(F.size("arr") >= 3)
        .select(
            F.concat_ws(
                ">",
                F.expr("transform(slice(arr, 1, 3), x -> x.event_type)"),
            ).alias("path3")
        )
        .groupBy("path3")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    )


@query(
    "orders_price_mean_family",
    oracle="""
    WITH m AS (
      SELECT COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s,
        CAST(SUM(CAST(ln(o_totalprice) AS DECIMAL(20,12))) AS DOUBLE) AS sln,
        CAST(SUM(CAST(1.0 / o_totalprice AS DECIMAL(20,15))) AS DOUBLE) AS sinv
      FROM orders WHERE o_totalprice > 0
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
           ROUND(s / n, 6) AS arith_mean,
           ROUND(exp(sln / n), 6) AS geo_mean,
           ROUND(n / sinv, 6) AS harm_mean,
           TRUE AS am_gm_hm_ordered
    FROM m
    """,
)
def orders_price_mean_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pythagorean mean family (arithmetic / geometric / harmonic)
    of order prices in ONE pass — geometric means are the right
    average for ratio-like quantities (growth factors, price indices)
    and harmonic for rate-like ones; emitting all three with the
    AM ≥ GM ≥ HM invariant asserted makes the family self-checking.

    Cross-engine determinism: the ln and reciprocal terms are snapped
    to DECIMAL before summing (the bigram-LM idiom — ln/÷ may differ
    by 1 ulp between libm and the JVM, so each per-row term is
    quantized first, making the SUMS exact and order-independent);
    exp and the final divisions are single IEEE ops on identical
    inputs, rounded to 6 dp."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    m = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("s"),
        F.sum(F.log(F.col("o_totalprice")).cast("decimal(20,12)"))
        .cast("double")
        .alias("sln"),
        F.sum((F.lit(1.0) / F.col("o_totalprice")).cast("decimal(20,15)"))
        .cast("double")
        .alias("sinv"),
    )
    am = F.col("s") / F.col("n")
    gm = F.exp(F.col("sln") / F.col("n"))
    hm = F.col("n") / F.col("sinv")
    return m.select(
        F.col("n").cast("long").alias("n_orders"),
        F.round(am, 6).alias("arith_mean"),
        F.round(gm, 6).alias("geo_mean"),
        F.round(hm, 6).alias("harm_mean"),
        ((am >= gm) & (gm >= hm)).alias("am_gm_hm_ordered"),
    )


@query(
    "source_exact_dup_matrix",
    oracle="""
    WITH h AS (
      SELECT DISTINCT source, md5(text) AS content_md5 FROM documents
    ),
    srcs AS (SELECT DISTINCT source FROM documents),
    grid AS (
      SELECT a.source AS source_a, b.source AS source_b
      FROM srcs a JOIN srcs b ON a.source < b.source
    ),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS n
      FROM h a JOIN h b
        ON a.content_md5 = b.content_md5 AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT g.source_a, g.source_b,
           CAST(COALESCE(s.n, 0) AS BIGINT) AS n_shared_contents
    FROM grid g LEFT JOIN shared s
      ON s.source_a = g.source_a AND s.source_b = g.source_b
    """,
)
def source_exact_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source EXACT-duplicate matrix: how many distinct document
    contents appear in both sources of each pair — the byte-identical
    complement of the shingle-overlap matrix (source_overlap_matrix):
    that one measures textual similarity, this one measures literal
    mirroring (syndication, scraped copies), which drives "dedup
    across sources before mixing" decisions.

    Shape: distinct (source, content-hash) rows — 16-byte digests
    shuffle, never bodies (the exact-dedup discipline) — then ONE
    groupBy(hash) with a sorted pair-explode bounded by C(sources, 2)
    per content; the full source-pair grid (sources number in the tens
    at any corpus scale) is zero-filled so a clean corpus reports an
    explicit all-zeros matrix rather than an empty result."""
    docs = t(spark, sf_dir, "documents")
    h = docs.select(
        "source", F.md5("text").alias("content_md5")
    ).distinct()
    shared = (
        h.groupBy("content_md5")
        .agg(F.array_sort(F.collect_list("source")).alias("ss"))
        .filter(F.size("ss") >= 2)
        .select(F.explode(sorted_pairs("ss")).alias("p"))
        .groupBy(
            F.col("p.id_a").alias("source_a"), F.col("p.id_b").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # pair grid via the same sorted pair-explode (zero joins): one
    # array of the distinct sources → C(n_sources, 2) rows
    grid = (
        docs.select("source")
        .distinct()
        .agg(F.array_sort(F.collect_list("source")).alias("ss"))
        .select(F.explode(sorted_pairs("ss")).alias("p"))
        .select(
            F.col("p.id_a").alias("source_a"), F.col("p.id_b").alias("source_b")
        )
    )
    return grid.join(
        F.broadcast(shared), ["source_a", "source_b"], "left"
    ).select(
        "source_a",
        "source_b",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias(
            "n_shared_contents"
        ),
    )


@query(
    "customer_balance_frame_profile",
    oracle="""
    SELECT c_custkey, c_nationkey,
      first_value(c_acctbal) OVER w AS nation_min_bal,
      last_value(c_acctbal) OVER
        (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        AS nation_max_bal,
      nth_value(c_acctbal, 2) OVER
        (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        AS nation_2nd_bal,
      CAST(ROUND(AVG(CAST(c_acctbal AS DECIMAL(18,2))) OVER
        (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS DOUBLE)
        AS trailing3_avg
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
)
def customer_balance_frame_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Window-FRAME API surface: first_value / last_value / nth_value
    with explicit ROWS frames plus a bounded trailing average — the
    frame semantics every BI tool generates and the registry's window
    family hadn't pinned yet (last_value is the classic trap: its
    DEFAULT frame ends at CURRENT ROW, so the unbounded-following
    frame must be explicit or it silently returns the current row).
    All windows are PARTITIONED by nation (≤25 balanced groups of the
    customer dimension); the trailing average re-enters DECIMAL so the
    3-term mean is exact before the final round."""
    c = t(spark, sf_dir, "customer")
    order = [F.asc("c_acctbal"), F.asc("c_custkey")]
    w = Window.partitionBy("c_nationkey").orderBy(*order)
    w_full = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_trail = w.rowsBetween(-2, Window.currentRow)
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.first("c_acctbal").over(w).alias("nation_min_bal"),
        F.last("c_acctbal").over(w_full).alias("nation_max_bal"),
        F.nth_value("c_acctbal", 2).over(w_full).alias("nation_2nd_bal"),
        F.round(
            F.avg(F.col("c_acctbal").cast("decimal(18,2)")).over(w_trail), 6
        )
        .cast("double")
        .alias("trailing3_avg"),
    )


@query(
    "nation_balance_unpivot",
    oracle="""
    WITH g AS (
      SELECT c_nationkey,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
        CAST(MIN(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS min_bal,
        CAST(MAX(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS max_bal
      FROM customer GROUP BY c_nationkey
    )
    SELECT c_nationkey, measure, value FROM g
    UNPIVOT (value FOR measure IN (total_bal, min_bal, max_bal))
    """,
)
def nation_balance_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long melt) — the inverse of the pivot surface
    (pivot_status_qty): per-nation balance aggregates melted into
    (measure, value) rows, the shape metric stores and charting
    layers ingest. Spark-side this is ``stack()`` over the ≤25-row
    aggregate (a pure projection — the melt itself is free at any
    scale; only the upstream aggregate touches data)."""
    c = t(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey").agg(
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_bal"),
        F.min(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("min_bal"),
        F.max(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("max_bal"),
    )
    return g.select(
        "c_nationkey",
        F.expr(
            "stack(3, 'total_bal', total_bal, 'min_bal', min_bal, "
            "'max_bal', max_bal) AS (measure, value)"
        ),
    )


@query(
    "priority_bag_set_ops",
    oracle="""
    WITH a AS (
      SELECT o_orderpriority AS p FROM orders
      WHERE CAST(o_orderdate AS DATE) < DATE '1998-01-01'
    ),
    b AS (
      SELECT o_orderpriority AS p FROM orders
      WHERE CAST(o_orderdate AS DATE) >= DATE '1998-01-01'
    ),
    i AS (SELECT p FROM a INTERSECT ALL SELECT p FROM b),
    e AS (SELECT p FROM a EXCEPT ALL SELECT p FROM b)
    SELECT p AS priority, op, CAST(n AS BIGINT) AS n_rows FROM (
      SELECT p, 'intersect_all' AS op, COUNT(*) AS n FROM i GROUP BY p
      UNION ALL
      SELECT p, 'except_all', COUNT(*) FROM e GROUP BY p
    )
    """,
)
def priority_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTISET semantics of INTERSECT ALL / EXCEPT ALL — the
    duplicate-preserving set operators (min(m_a, m_b) and
    max(m_a − m_b, 0) per value) that the distinct-only D-family
    queries (EXCEPT, semi/anti joins) don't exercise; SQL engines
    implement them with dedicated multiplicity logic, so pinning the
    per-value row counts against the oracle guards the engine's
    ``intersectAll``/``exceptAll`` paths. Both inputs are the
    priority column of a date-split fact scan (5 distinct values,
    huge multiplicities — the worst case for multiplicity
    bookkeeping)."""
    o = t(spark, sf_dir, "orders")
    pre = F.col("o_orderdate").cast("date") < "1998-01-01"
    a = o.filter(pre).select(F.col("o_orderpriority").alias("priority"))
    b = o.filter(~pre).select(F.col("o_orderpriority").alias("priority"))
    i = (
        a.intersectAll(b)
        .groupBy("priority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("priority", F.lit("intersect_all").alias("op"), "n")
    )
    e = (
        a.exceptAll(b)
        .groupBy("priority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("priority", F.lit("except_all").alias("op"), "n")
    )
    return i.unionByName(e).select(
        "priority", "op", F.col("n").cast("long").alias("n_rows")
    )


@query(
    "events_props_map_profile",
    oracle="""
    WITH kv AS (
      SELECT j.key AS prop_key,
             CAST(j.value AS BIGINT) AS prop_value
      FROM (
        SELECT UNNEST(json_keys(props)) AS k, props FROM events
      ) t,
      LATERAL (SELECT t.k AS key, json_extract_string(t.props, '$.' || t.k)
               AS value) j
    )
    SELECT prop_key, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(prop_value) AS BIGINT) AS value_sum,
           CAST(COUNT(DISTINCT prop_value) AS BIGINT) AS n_distinct_values
    FROM kv GROUP BY prop_key
    """,
)
def events_props_map_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: parse the JSON property bag as an UNTYPED
    ``map<string,string>`` (the schema-free alternative to the typed
    struct in events_props_json_stats — right when producers add keys
    without coordination) and profile every key that occurs:
    occurrence count, value sum, distinct values. ``from_json`` to a
    map + ``explode`` of the entries keeps parsing scan-side and
    null-safe; the profile is ONE aggregate per observed key, so new
    upstream keys appear in monitoring automatically instead of
    requiring a schema change."""
    ev = t(spark, sf_dir, "events")
    kv = ev.select(
        F.explode(F.from_json(F.col("props"), "map<string,string>")).alias(
            "prop_key", "_v"
        )
    )
    return kv.groupBy("prop_key").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("_v").cast("long")).cast("long").alias("value_sum"),
        F.countDistinct(F.col("_v").cast("long")).alias("n_distinct_values"),
    )


@query(
    "user_time_weighted_value",
    oracle="""
    WITH seq AS (
      SELECT user_id, value, epoch_us(ts) AS us,
             LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_us
      FROM events
    ),
    seg AS (
      SELECT user_id,
             CAST(value AS DECIMAL(18,2)) * (next_us - us) AS wv,
             next_us - us AS w
      FROM seq WHERE next_us IS NOT NULL
    )
    SELECT user_id,
           CAST(SUM(w) // 1000000 AS BIGINT) AS observed_seconds,
           ROUND(CAST(SUM(wv) AS DOUBLE) / CAST(SUM(w) AS DOUBLE), 6)
             AS twap_value
    FROM seg GROUP BY user_id HAVING SUM(w) > 0
    """,
)
def user_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP — the finance /
    monitoring standard when samples arrive irregularly: each reading
    holds until the next one, so it weighs by its holding duration,
    not by sample count). One lead() window under the total order
    (ts, event_id) — the same single user-keyed shuffle as
    sessionization — then exact integral arithmetic: duration is
    integer epoch-micros, value·duration is DECIMAL×integer (exact,
    order-independent), and the final TWAP is one IEEE division of
    identical operands. Users with zero observed span (a single
    event) are excluded rather than emitting 0/0."""
    ev = t(spark, sf_dir, "events")
    us = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    seq = ev.select(
        "user_id",
        F.col("value").cast("decimal(18,2)").alias("v"),
        us.alias("us"),
        F.lead(us).over(w).alias("next_us"),
    ).filter(F.col("next_us").isNotNull())
    seg = seq.select(
        "user_id",
        (F.col("v") * (F.col("next_us") - F.col("us"))).alias("wv"),
        (F.col("next_us") - F.col("us")).alias("w"),
    )
    return (
        seg.groupBy("user_id")
        .agg(F.sum("wv").alias("swv"), F.sum("w").alias("sw"))
        .filter(F.col("sw") > 0)
        .select(
            "user_id",
            F.expr("sw DIV 1000000").cast("long").alias("observed_seconds"),
            F.round(
                F.col("swv").cast("double") / F.col("sw").cast("double"), 6
            ).alias("twap_value"),
        )
    )


@query(
    "orders_price_moments",
    oracle="""
    WITH x AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 0.00001
                  AS DECIMAL(8,7)) AS x
      FROM orders
    ),
    m AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x) AS DOUBLE) AS s1,
             CAST(SUM(x * x) AS DOUBLE) AS s2,
             CAST(SUM(x * x * x) AS DOUBLE) AS s3,
             CAST(SUM(x * x * x * x) AS DOUBLE) AS s4
      FROM x
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
      ROUND(100000 * s1 / n, 6) AS mean_price,
      ROUND(100000 * sqrt((s2 - s1 * s1 / n) / n), 6) AS pop_stddev,
      ROUND((s3 - 3 * s1 * s2 / n + 2 * s1 * s1 * s1 / (n * n)) / n
            / pow((s2 - s1 * s1 / n) / n, 1.5), 6) AS skewness,
      ROUND((s4 - 4 * s1 * s3 / n + 6 * s1 * s1 * s2 / (n * n)
             - 3 * s1 * s1 * s1 * s1 / (n * n * n)) / n
            / pow((s2 - s1 * s1 / n) / n, 2) - 3, 6) AS excess_kurtosis
    FROM m
    """,
)
def orders_price_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment distribution profile (mean / population stddev /
    skewness / excess kurtosis) of order prices in ONE pass — the
    moments that tell a cost model whether a column is symmetric,
    heavy-tailed, or outlier-dominated before it picks a histogram or
    sketch. Scale-invariance trick for exactness: prices are shifted
    by an exact decimal power-of-ten factor (×10⁻⁵, a pure scale
    change) so x⁴ stays inside DECIMAL(38) — all four power sums are
    then exact and order-independent in BOTH engines, skewness and
    kurtosis are scale-free (the factor cancels), and mean/stddev are
    rescaled back by the same constant. Only the closed-form
    normalization is IEEE, rounded to 6 dp."""
    o = t(spark, sf_dir, "orders")
    x = (
        F.col("o_totalprice").cast("decimal(12,2)")
        * F.lit("0.00001").cast("decimal(6,5)")
    ).cast("decimal(8,7)")
    src = o.select(x.alias("x"))
    m = src.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("s2"),
        F.sum(F.col("x") * F.col("x") * F.col("x")).cast("double").alias("s3"),
        F.sum(F.col("x") * F.col("x") * F.col("x") * F.col("x"))
        .cast("double")
        .alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    var = (s2 - s1 * s1 / n) / n
    skew = (s3 - 3 * s1 * s2 / n + 2 * s1 * s1 * s1 / (n * n)) / n / F.pow(
        var, 1.5
    )
    kurt = (
        s4
        - 4 * s1 * s3 / n
        + 6 * s1 * s1 * s2 / (n * n)
        - 3 * s1 * s1 * s1 * s1 / (n * n * n)
    ) / n / F.pow(var, 2) - 3
    return m.select(
        n.cast("long").alias("n_orders"),
        F.round(100000 * s1 / n, 6).alias("mean_price"),
        F.round(100000 * F.sqrt(var), 6).alias("pop_stddev"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
    )


_WEDGES_SQL = """
    we AS (
      SELECT l1.l_partkey AS u, l2.l_partkey AS v,
             CAST(MIN(l1.l_quantity + l2.l_quantity) AS BIGINT) AS w
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
      WHERE l1.l_orderkey % 4 = 0
      GROUP BY 1, 2
    ),
    sym AS (
      SELECT u AS src, v AS dst, w FROM we
      UNION ALL SELECT v AS src, u AS dst, w FROM we
    ),
    s AS (SELECT MIN(u) AS src FROM we)
"""


def _sssp_oracle_ctes(rounds: int) -> str:
    parts = ["d0 AS (SELECT src AS node, CAST(0 AS BIGINT) AS d FROM s)"]
    for r in range(1, rounds + 1):
        parts.append(
            f"d{r} AS (SELECT node, MIN(d) AS d FROM ("
            f"SELECT node, d FROM d{r - 1} "
            f"UNION ALL "
            f"SELECT sym.dst AS node, p.d + sym.w AS d "
            f"FROM d{r - 1} p JOIN sym ON sym.src = p.node"
            f") GROUP BY node)"
        )
    return ",\n    ".join(parts)


_SSSP_ROUNDS = 4


@query(
    "graph_sssp_weighted_histogram",
    oracle=f"""
    WITH {_WEDGES_SQL},
    {_sssp_oracle_ctes(_SSSP_ROUNDS)}
    SELECT d AS distance, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM d{_SSSP_ROUNDS} GROUP BY d
    """,
)
def graph_sssp_weighted_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weighted single-source shortest paths (bounded Bellman-Ford):
    distances from the lowest co-purchased part over the WEIGHTED
    co-purchase graph (edge weight = minimum combined quantity of any
    order containing both parts — integer, data-derived, exact), after
    4 synchronous relaxation rounds. "Distance after R rounds" =
    cheapest path using ≤R edges — a well-defined quantity whether or
    not the graph has converged, which is what makes the unrolled-CTE
    oracle exact (the fixed-iteration discipline shared by pagerank /
    LPA / k-core; BFS is the unweighted special case, this adds the
    min-plus semiring).

    Per round: ONE equi-join of the frontier against the checkpointed
    symmetric edge table + ONE min-aggregate — no driver adjacency;
    integer distances make every min exact in both engines. Output is
    the distance histogram (compact, deterministic)."""
    from ..operators import graph as G  # noqa: F401 — family anchor

    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 4 == 0)  # q4-filtered graph, as BFS
        .select("l_orderkey", "l_partkey", "l_quantity")
    )
    l1, l2 = li.alias("l1"), li.alias("l2")
    we = (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_partkey") < F.col("l2.l_partkey")),
        )
        .groupBy(
            F.col("l1.l_partkey").alias("u"), F.col("l2.l_partkey").alias("v")
        )
        .agg(
            F.min(F.col("l1.l_quantity") + F.col("l2.l_quantity"))
            .cast("long")
            .alias("w")
        )
    )
    sym = (
        we.select(F.col("u").alias("src"), F.col("v").alias("dst"), "w")
        .unionAll(we.select(F.col("v").alias("src"), F.col("u").alias("dst"), "w"))
        .localCheckpoint(eager=False)
    )
    # lazy 1-row source frame — no construction-time job
    dist = sym.agg(F.min(F.least("src", "dst")).cast("long").alias("node")).select(
        "node", F.lit(0).cast("long").alias("d")
    )
    for _ in range(_SSSP_ROUNDS):
        relaxed = (
            dist.withColumnRenamed("node", "src")
            .join(sym, "src")
            .select(F.col("dst").alias("node"), (F.col("d") + F.col("w")).alias("d"))
        )
        # no per-round checkpoint: rounds are FIXED and the query is
        # ONE action, so the 4-round lineage executes once as a single
        # pipelined plan (convergence-checked loops like
        # connected_components need per-iteration checkpoints because
        # every iteration runs its own action; this one doesn't) —
        # only the 4x-referenced edge table is pinned
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
        )
    return dist.groupBy(F.col("d").alias("distance")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


@query(
    "part_abc_classification",
    oracle="""
    WITH rev AS (
      SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS r
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT l_partkey, r,
             SUM(r) OVER (ORDER BY r DESC, l_partkey
                          ROWS UNBOUNDED PRECEDING) AS cum_r
      FROM rev
    ),
    tot AS (SELECT SUM(r) AS tr FROM rev),
    classed AS (
      SELECT CASE WHEN (cum_r - r) * 5 < tr * 4 THEN 'A'
                  WHEN (cum_r - r) * 20 < tr * 19 THEN 'B'
                  ELSE 'C' END AS abc_class, r
      FROM ranked, tot
    )
    SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(r) AS DOUBLE) AS revenue,
           ROUND(CAST(SUM(r) AS DOUBLE) / (SELECT CAST(tr AS DOUBLE) FROM tot), 9)
             AS revenue_share
    FROM classed GROUP BY abc_class
    """,
)
def part_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification — the operations-research staple
    built on the Pareto cumulative: parts whose PRECEDING cumulative
    revenue is under 80% of total are class A, under 95% class B, the
    tail is C (using the exclusive prefix cum−r makes the first part
    over each threshold still belong to the higher class — the
    standard convention). The revenue cumulative runs over the PART
    dimension through the range-partitioned prefix-sum primitive
    (desc revenue, partkey tiebreak); class membership compares in
    EXACT integer-scaled DECIMAL arithmetic ((cum−r)·5 < total·4,
    (cum−r)·20 < total·19), so no float boundary can flip a part
    between classes across engines."""
    from ..operators import ranking as R

    li = t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).alias("r")
    )
    rdf, _n = R.ranked(
        rev,
        [F.desc("r"), F.asc("l_partkey")],
        rn_col=None,
        cumsum_cols={"r": "cum_r"},
    )
    tot = rev.agg(F.sum("r").alias("tr"))
    prev = F.col("cum_r") - F.col("r")  # exclusive prefix
    classed = rdf.crossJoin(F.broadcast(tot)).select(
        F.when(prev * 5 < F.col("tr") * 4, "A")
        .when(prev * 20 < F.col("tr") * 19, "B")
        .otherwise("C")
        .alias("abc_class"),
        "r",
        "tr",
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("r").cast("double").alias("revenue"),
        F.round(
            F.sum("r").cast("double") / F.first("tr").cast("double"), 9
        ).alias("revenue_share"),
    )


@query(
    "discount_quantity_ols_by_priority",
    oracle="""
    WITH m AS (
      SELECT o_orderpriority AS priority,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_quantity AS DECIMAL(4,0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_discount AS DECIMAL(4,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_discount AS DECIMAL(4,2))
                    * CAST(l_quantity AS DECIMAL(4,0))) AS DOUBLE) AS sxy
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      GROUP BY o_orderpriority
    )
    SELECT priority, CAST(n AS BIGINT) AS n_lines,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
             AS intercept
    FROM m
    """,
)
def discount_quantity_ols_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GROUPED least-squares: quantity-on-discount regression fitted
    independently per order priority — the per-segment elasticity
    screen ("does discounting move volume differently for urgent
    orders?"), and the grouped form of the global OLS family
    (events_value_trend_ols). The closed-form fit needs only the five
    moment sums, all DECIMAL-exact (2dp discount × integer quantity)
    and map-side combinable — per-group regression costs ONE
    fact-to-dimension join + ONE aggregate at any group count, with no
    per-group iteration anywhere. Slope and intercept are closed-form
    IEEE on exact inputs, rounded to 6 dp."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_discount", "l_quantity"
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    x = F.col("l_discount").cast("decimal(4,2)")
    y = F.col("l_quantity").cast("decimal(4,0)")
    m = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).cast("double").alias("sx"),
            F.sum(y).cast("double").alias("sy"),
            F.sum(x * x).cast("double").alias("sxx"),
            F.sum(x * y).cast("double").alias("sxy"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy = F.col("sxx"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "priority",
        n.cast("long").alias("n_lines"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


@query(
    "events_seasonal_anomaly_hours",
    oracle="""
    WITH hourly AS (
      SELECT epoch_us(ts) // 3600000000 AS hb,
             SUM(CAST(value AS DECIMAL(18,2))) AS x
      FROM events GROUP BY 1
    ),
    keyed AS (
      SELECT hb, x,
             CAST((hb // 24 + 4) % 7 AS INT) AS dow,
             CAST(hb % 24 AS INT) AS hod
      FROM hourly
    ),
    base AS (
      SELECT dow, hod, COUNT(*) AS n,
             CAST(SUM(x) AS DOUBLE) AS s,
             CAST(SUM(x * x) AS DOUBLE) AS ss
      FROM keyed GROUP BY dow, hod
    ),
    scored AS (
      SELECT k.hb, k.dow, k.hod, CAST(k.x AS DOUBLE) AS x,
             (CAST(k.x AS DOUBLE) - b.s / b.n)
               / sqrt((b.ss - b.s * b.s / b.n) / b.n) AS z
      FROM keyed k JOIN base b ON b.dow = k.dow AND b.hod = k.hod
      WHERE b.n > 1 AND b.ss - b.s * b.s / b.n > 0
    )
    SELECT CAST(hb * 3600 AS BIGINT) AS hour_epoch_sec, dow, hod,
           x AS hour_value, ROUND(z, 6) AS seasonal_z
    FROM scored ORDER BY abs(z) DESC, hb LIMIT 10
    """,
)
def events_seasonal_anomaly_hours(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonality-adjusted anomaly detection: each hour's total value
    is z-scored against the baseline of the SAME (day-of-week,
    hour-of-day) slot — the monitoring de-seasonalizer that stops
    every Monday 9am from alerting just because weekends are quiet
    (a plain global z-score conflates seasonality with anomaly; the
    CUSUM/outlier family here assumes stationarity). Calendar keys are
    pure integer epoch arithmetic (epoch day 0 = Thursday → +4 mod 7),
    baselines are one 168-cell exact-moment aggregate broadcast back
    onto the hourly rollup. Output is the TOP-10 hours by |z| under a
    total order (a fixed-threshold cut like |z| ≥ 2 is unreachable
    when each calendar slot holds only a handful of observations —
    max |z| against an n-sample baseline is (n−1)/√n); degenerate
    slots (n ≤ 1 or zero variance) are excluded explicitly."""
    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").alias("hb")
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("x"))
    keyed = hourly.select(
        "hb",
        "x",
        ((F.expr("hb DIV 24") + 4) % 7).cast("int").alias("dow"),
        (F.col("hb") % 24).cast("int").alias("hod"),
    )
    base = keyed.groupBy("dow", "hod").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("ss"),
    )
    xd = F.col("x").cast("double")
    mean = F.col("s") / F.col("n")
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / F.col("n")
    z = (xd - mean) / F.sqrt(var)
    return (
        keyed.join(F.broadcast(base), ["dow", "hod"])
        .filter((F.col("n") > 1) & (var > 0))
        .select(
            (F.col("hb") * 3600).cast("long").alias("hour_epoch_sec"),
            "dow",
            "hod",
            xd.alias("hour_value"),
            F.round(z, 6).alias("seasonal_z"),
        )
        .orderBy(F.abs(F.col("seasonal_z")).desc(), F.asc("hour_epoch_sec"))
        .limit(10)
    )


@query(
    "sessions_bounce_rate_by_dow",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL THEN 1
                  WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000 THEN 1
                  ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      FROM flagged
    ), sessions AS (
      SELECT user_id, session_idx, MIN(us) AS start_us, COUNT(*) AS n_events
      FROM numbered GROUP BY user_id, session_idx
    )
    SELECT CAST((start_us // 86400000000 + 4) % 7 AS INT) AS dow,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           ROUND(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS bounce_rate
    FROM sessions GROUP BY 1
    """,
)
def sessions_bounce_rate_by_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate by day of week: the share of single-event sessions
    per session-start weekday — the engagement-quality slice product
    teams watch next to session counts (a traffic spike that is all
    bounces is a bot or a broken page, not growth). Rides the single
    sessionization shuffle; the weekday key is integer epoch-day
    arithmetic (epoch day 0 = Thursday → +4 mod 7, the seasonal-
    anomaly convention) and the rate is one rounded division of exact
    counts."""
    from ..operators import windows as W

    sessions = W.sessionize(
        t(spark, sf_dir, "events"), "ts", "user_id", "event_id", 1800, "value"
    )
    dow = (
        (F.expr("session_start_sec DIV 86400") + 4) % 7
    ).cast("int").alias("dow")
    bounce = (F.col("n_events") == 1).cast("long")
    return (
        sessions.select(dow, bounce.alias("b"))
        .groupBy("dow")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum("b").cast("long").alias("n_bounces"),
            F.round(
                F.sum("b").cast("double") / F.count(F.lit(1)), 6
            ).alias("bounce_rate"),
        )
    )


@query(
    "order_to_ship_latency_monthly",
    oracle="""
    WITH first_ship AS (
      SELECT l_orderkey, MIN(CAST(l_shipdate AS DATE)) AS ship_d
      FROM lineitem GROUP BY l_orderkey
    ),
    lat AS (
      SELECT CAST(year(o_orderdate) AS INT) AS yr,
             CAST(month(o_orderdate) AS INT) AS mo,
             date_diff('day', CAST(o_orderdate AS DATE), ship_d) AS days
      FROM orders JOIN first_ship ON l_orderkey = o_orderkey
    )
    SELECT yr, mo, CAST(COUNT(*) AS BIGINT) AS n_orders,
           quantile_cont(days, 0.5) AS p50_days,
           quantile_cont(days, 0.9) AS p90_days,
           CAST(MAX(days) AS BIGINT) AS max_days
    FROM lat GROUP BY yr, mo
    """,
)
def order_to_ship_latency_monthly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-to-first-ship latency percentiles per order month — the
    supply-chain SLA trend (is fulfillment getting slower?). Latency
    is an INTEGER day count bounded by the shipping horizon, so the
    exact interpolated percentile aggregate is safe here: its buffer
    holds one entry per DISTINCT value per group (≤ a few hundred day
    values, regardless of row count) — the documented bounded-values
    exception to the percentile-buffer rule that sent the continuous
    latency queries through the ranking primitive. One fact
    pre-aggregate (first ship per order), one fact-fact join on the
    order key, one monthly aggregate."""
    li = t(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min(F.col("l_shipdate").cast("date")).alias("ship_d")
    )
    o = t(spark, sf_dir, "orders")
    lat = o.join(first_ship, o.o_orderkey == first_ship.l_orderkey).select(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
        F.datediff("ship_d", F.col("o_orderdate").cast("date")).alias("days"),
    )
    return lat.groupBy("yr", "mo").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.expr("percentile(days, 0.5)").alias("p50_days"),
        F.expr("percentile(days, 0.9)").alias("p90_days"),
        F.max("days").cast("long").alias("max_days"),
    )


@query(
    "events_new_vs_returning_daily",
    oracle="""
    WITH ud AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS day
      FROM events GROUP BY 1, 2
    ),
    first_day AS (SELECT user_id, MIN(day) AS d0 FROM ud GROUP BY user_id)
    SELECT CAST(ud.day AS BIGINT) AS day_epoch,
           CAST(SUM(CASE WHEN ud.day = f.d0 THEN 1 ELSE 0 END) AS BIGINT)
             AS new_users,
           CAST(SUM(CASE WHEN ud.day > f.d0 THEN 1 ELSE 0 END) AS BIGINT)
             AS returning_users,
           ROUND(CAST(SUM(CASE WHEN ud.day > f.d0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS returning_share
    FROM ud JOIN first_day f USING (user_id)
    GROUP BY ud.day
    """,
)
def events_new_vs_returning_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """New vs returning daily actives — the growth-accounting split
    every product dashboard leads with (is today's traffic acquisition
    or retention?). A user is NEW on their first-ever active day and
    RETURNING on every later one. Shape: the distinct user-day table
    reduces the event fact once; first-active-day is a second
    user-keyed aggregate of that dimension table; one equi-join on
    user_id classifies every active day. All counts exact integers,
    the share one rounded division."""
    ev = t(spark, sf_dir, "events")
    ud = ev.select(
        "user_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").alias(
            "day"
        ),
    ).distinct()
    first_day = ud.groupBy("user_id").agg(F.min("day").alias("d0"))
    is_new = (F.col("day") == F.col("d0")).cast("long")
    is_ret = (F.col("day") > F.col("d0")).cast("long")
    return (
        ud.join(first_day, "user_id")
        .groupBy(F.col("day").cast("long").alias("day_epoch"))
        .agg(
            F.sum(is_new).cast("long").alias("new_users"),
            F.sum(is_ret).cast("long").alias("returning_users"),
            F.round(
                F.sum(is_ret).cast("double") / F.count(F.lit(1)), 6
            ).alias("returning_share"),
        )
    )


@query(
    "order_basket_size_histogram",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey, COUNT(*) AS n_lines,
             COUNT(DISTINCT l_partkey) AS n_parts
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT CAST(n_lines AS INT) AS basket_lines,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(n_parts) AS BIGINT) AS total_distinct_parts
    FROM per_order GROUP BY n_lines
    """,
)
def order_basket_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Basket-size distribution: orders per line count, with the
    distinct-part mass per bucket — the order-composition profile that
    sizes the co-purchase graph (per-order pair fan-out is
    C(basket, 2), so this histogram IS the graph-cost estimate) and
    feeds promotion design. Two map-side-combined aggregates, fact
    touched once."""
    li = t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )
    return per_order.groupBy(
        F.col("n_lines").cast("int").alias("basket_lines")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("n_parts").cast("long").alias("total_distinct_parts"),
    )


@query(
    "nation_trade_balance",
    oracle="""
    WITH exports AS (
      SELECT s.s_nationkey AS nk,
             SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS exp_rev
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY 1
    ),
    imports AS (
      SELECT c.c_nationkey AS nk,
             SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS imp_rev
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1
    )
    SELECT n.n_nationkey, n.n_name AS nation_name,
           CAST(COALESCE(e.exp_rev, 0) AS DOUBLE) AS supplied_revenue,
           CAST(COALESCE(i.imp_rev, 0) AS DOUBLE) AS purchased_revenue,
           CAST(COALESCE(e.exp_rev, 0) - COALESCE(i.imp_rev, 0) AS DOUBLE)
             AS trade_balance
    FROM nation n
    LEFT JOIN exports e ON e.nk = n.n_nationkey
    LEFT JOIN imports i ON i.nk = n.n_nationkey
    """,
)
def nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation trade balance: revenue its suppliers SELL vs revenue
    its customers BUY, and the net — the bilateral-volume companion
    to TPC-H q7 reframed as each nation's surplus/deficit scalar.
    Both sides aggregate the lineitem fact to nation grain BEFORE the
    final join (supply side: one broadcast of the supplier dim;
    demand side: the fact-fact orders join then a customer broadcast),
    so the 25-row outer joins never touch facts; zero-filled so every
    nation reports even with no activity. DECIMAL sums keep the
    subtraction exact."""
    li = t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    sup = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    exports = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nk_e"))
        .agg(F.sum(price).alias("exp_rev"))
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    imports = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk_i"))
        .agg(F.sum(price).alias("imp_rev"))
    )
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    zero = F.lit(0).cast("decimal(12,2)")
    return (
        n.join(exports, n.n_nationkey == F.col("nk_e"), "left")
        .join(imports, n.n_nationkey == F.col("nk_i"), "left")
        .select(
            "n_nationkey",
            F.col("n_name").alias("nation_name"),
            F.coalesce("exp_rev", zero).cast("double").alias("supplied_revenue"),
            F.coalesce("imp_rev", zero).cast("double").alias("purchased_revenue"),
            (F.coalesce("exp_rev", zero) - F.coalesce("imp_rev", zero))
            .cast("double")
            .alias("trade_balance"),
        )
    )


@query(
    "supplier_concentration_hhi",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS r
      FROM lineitem GROUP BY l_suppkey
    ),
    m AS (
      SELECT COUNT(*) AS n_suppliers,
             CAST(SUM(r) AS DOUBLE) AS total,
             CAST(SUM(r * r) AS DOUBLE) AS sum_sq,
             CAST(MAX(r) AS DOUBLE) AS top_share_num
      FROM rev
    )
    SELECT CAST(n_suppliers AS BIGINT) AS n_suppliers,
           ROUND(10000 * sum_sq / (total * total), 6) AS hhi,
           ROUND(CAST(1 AS DOUBLE) / n_suppliers * 10000, 6) AS hhi_uniform,
           ROUND(top_share_num / total, 9) AS top_supplier_share
    FROM m
    """,
)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index of supplier revenue —
    the antitrust/market-structure scalar (Σ share², in the
    conventional 0-10000 points scale; < 1500 unconcentrated, > 2500
    highly concentrated), with the uniform-market floor (10000/n) and
    the top supplier's share for context. One per-supplier DECIMAL
    reduce; Σr and Σr² are exact (2dp × 2dp products), so HHI is a
    single IEEE division of exact operands — the same one-pass moment
    discipline as the Gini/moments family, measuring the SUPPLY side
    where Gini measured customers."""
    li = t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).alias("r")
    )
    m = rev.agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("r").cast("double").alias("total"),
        F.sum(F.col("r") * F.col("r")).cast("double").alias("sum_sq"),
        F.max("r").cast("double").alias("top"),
    )
    return m.select(
        F.col("n_suppliers").cast("long").alias("n_suppliers"),
        F.round(
            10000 * F.col("sum_sq") / (F.col("total") * F.col("total")), 6
        ).alias("hhi"),
        F.round(
            F.lit(1.0) / F.col("n_suppliers") * 10000, 6
        ).alias("hhi_uniform"),
        F.round(F.col("top") / F.col("total"), 9).alias("top_supplier_share"),
    )


@query(
    "returned_revenue_monthly",
    oracle="""
    SELECT CAST(year(l_shipdate) AS INT) AS yr,
           CAST(month(l_shipdate) AS INT) AS mo,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             AS total_revenue,
           CAST(SUM(CASE WHEN l_returnflag = 'R'
                         THEN CAST(l_extendedprice AS DECIMAL(12,2))
                         ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
             AS returned_revenue,
           ROUND(CAST(SUM(CASE WHEN l_returnflag = 'R'
                          THEN CAST(l_extendedprice AS DECIMAL(12,2))
                          ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE),
                 6) AS return_rate
    FROM lineitem GROUP BY 1, 2
    """,
)
def returned_revenue_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly return-rate trend: share of shipped revenue flagged as
    returned — the quality/ops health series a spike in which
    triggers root-cause work (q10 finds WHO returns; this tracks
    WHEN). One scan, one conditional DECIMAL aggregate per month, one
    rounded division."""
    li = t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    zero = F.lit(0).cast("decimal(12,2)")
    ret = F.when(F.col("l_returnflag") == "R", price).otherwise(zero)
    return (
        li.groupBy(
            F.year("l_shipdate").cast("int").alias("yr"),
            F.month("l_shipdate").cast("int").alias("mo"),
        )
        .agg(
            F.sum(price).cast("double").alias("total_revenue"),
            F.sum(ret).cast("double").alias("returned_revenue"),
            F.round(
                F.sum(ret).cast("double") / F.sum(price).cast("double"), 6
            ).alias("return_rate"),
        )
    )


@query(
    "part_price_dispersion_topk",
    oracle="""
    WITH u AS (
      SELECT l_partkey,
             CAST(l_extendedprice AS DOUBLE) / CAST(l_quantity AS DOUBLE)
               AS unit
      FROM lineitem WHERE l_quantity > 0
    ),
    m AS (
      SELECT l_partkey, COUNT(*) AS n,
             CAST(SUM(CAST(unit AS DECIMAL(20,9))) AS DOUBLE) AS s,
             CAST(SUM(CAST(unit AS DECIMAL(20,9))
                    * CAST(unit AS DECIMAL(20,9))) AS DOUBLE) AS ss
      FROM u GROUP BY l_partkey HAVING COUNT(*) >= 3
    )
    SELECT l_partkey, CAST(n AS BIGINT) AS n_sales,
           ROUND(s / n, 6) AS mean_unit_price,
           ROUND(sqrt((ss - s * s / n) / n) / (s / n), 9) AS price_cv
    FROM m
    ORDER BY ROUND(sqrt((ss - s * s / n) / n) / (s / n), 9) DESC, l_partkey
    LIMIT 15
    """,
)
def part_price_dispersion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part price dispersion screen: the 15 parts whose unit price
    varies most across sales (coefficient of variation = σ/μ) — the
    pricing-anomaly shortlist (inconsistent discounting, data-entry
    errors, grey-market resale). Unit price is an IEEE division of
    identical operands in both engines, then snapped to DECIMAL(20,9)
    BEFORE the per-part moment sums (the snap idiom) so σ/μ is a
    closed form of exact inputs; parts with fewer than 3 sales are
    excluded (a 1-2 sample σ is noise); top-15 under a total order
    compiles to TakeOrdered — no global sort."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    unit = (
        F.col("l_extendedprice").cast("double")
        / F.col("l_quantity").cast("double")
    ).cast("decimal(20,9)")
    m = (
        li.select("l_partkey", unit.alias("u"))
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("u").cast("double").alias("s"),
            F.sum(F.col("u") * F.col("u")).cast("double").alias("ss"),
        )
        .filter(F.col("n") >= 3)
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    cv = F.sqrt((ss - s * s / n) / n) / (s / n)
    return (
        m.select(
            "l_partkey",
            n.cast("long").alias("n_sales"),
            F.round(s / n, 6).alias("mean_unit_price"),
            F.round(cv, 9).alias("price_cv"),
        )
        .orderBy(F.desc(F.round(cv, 9)), F.asc("l_partkey"))
        .limit(15)
    )


@query(
    "embedding_norm_profile",
    oracle="""
    WITH n AS (
      SELECT vec_id,
             CAST(sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  AS DECIMAL(20,12)) AS nrm
      FROM embeddings
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(MIN(nrm) AS DOUBLE) AS min_norm,
           CAST(MAX(nrm) AS DOUBLE) AS max_norm,
           ROUND(CAST(SUM(nrm) AS DOUBLE) / COUNT(*), 9) AS mean_norm,
           CAST(SUM(CASE WHEN nrm BETWEEN 0.99 AND 1.01
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_near_unit,
           CAST(SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero
    FROM n
    """,
)
def embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-hygiene profile: the L2-norm distribution of the
    embedding column (min/max/mean, near-unit count, zero-vector
    count) — the pre-flight every cosine-similarity pipeline needs
    (unnormalized or zero vectors silently corrupt cosine top-k and
    k-means seeding). Per-row Σx² folds scan-side in array order
    (identical left-to-right float sequence in both engines), the
    norm snaps to DECIMAL(20,12) so the SUM of norms is exact and
    order-independent, and the thresholds compare on the snapped
    value — one scan, one aggregate, zero shuffles of vectors."""
    emb = t(spark, sf_dir, "embeddings")
    nrm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0).cast("double"),
            lambda a, x: a + x.cast("double") * x.cast("double"),
        )
    ).cast("decimal(20,12)")
    n = emb.select(nrm.alias("nrm"))
    return n.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.min("nrm").cast("double").alias("min_norm"),
        F.max("nrm").cast("double").alias("max_norm"),
        F.round(F.sum("nrm").cast("double") / F.count(F.lit(1)), 9).alias(
            "mean_norm"
        ),
        F.sum(F.col("nrm").between(0.99, 1.01).cast("long"))
        .cast("long")
        .alias("n_near_unit"),
        F.sum((F.col("nrm") == 0).cast("long")).cast("long").alias("n_zero"),
    )


@query(
    "events_dow_hod_heatmap",
    oracle="""
    SELECT CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS INT) AS dow,
           CAST((epoch_us(ts) // 3600000000) % 24 AS INT) AS hod,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def events_dow_hod_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap — the traffic-shape
    dashboard staple and the BASELINE TABLE the seasonal anomaly
    detector normalizes against (events_seasonal_anomaly_hours),
    exposed as its own 168-cell output. Pure integer epoch arithmetic
    for the calendar keys, one map-side-combined aggregate."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            ((F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000") + 4) % 7)
            .cast("int")
            .alias("dow"),
            (F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000") % 24)
            .cast("int")
            .alias("hod"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )


@query(
    "embedding_label_balance",
    oracle="""
    WITH c AS (
      SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label
    ),
    t AS (SELECT SUM(n) AS total, MAX(n) AS mx, MIN(n) AS mn FROM c)
    SELECT c.label, CAST(c.n AS BIGINT) AS n_vectors,
           ROUND(CAST(c.n AS DOUBLE) / t.total, 6) AS share,
           ROUND(CAST(t.mx AS DOUBLE) / t.mn, 6) AS imbalance_ratio
    FROM c CROSS JOIN t
    """,
)
def embedding_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balance profile of the labeled embeddings: per-label
    counts and shares plus the global max/min imbalance ratio repeated
    on every row — the first thing to check before training or
    stratified sampling on a labeled corpus (a 10:1 imbalance silently
    dominates both). One aggregate + a 1-row broadcast; exact counts,
    two rounded divisions."""
    emb = t(spark, sf_dir, "embeddings")
    c = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    tt = c.agg(
        F.sum("n").alias("total"), F.max("n").alias("mx"), F.min("n").alias("mn")
    )
    return c.crossJoin(F.broadcast(tt)).select(
        "label",
        F.col("n").cast("long").alias("n_vectors"),
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
        F.round(F.col("mx").cast("double") / F.col("mn"), 6).alias(
            "imbalance_ratio"
        ),
    )


@query(
    "token_pmi_collocations",
    oracle="""
    WITH tk AS (
      SELECT DISTINCT doc_id, u.tok
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
            FROM documents) t, UNNEST(t.toks) AS u(tok)
      WHERE length(u.tok) >= 3
    ),
    top20 AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS df FROM tk GROUP BY tok
        ORDER BY df DESC, tok LIMIT 20
      )
    ),
    pres AS (SELECT doc_id, tok FROM tk WHERE tok IN (SELECT tok FROM top20)),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
    df AS (SELECT tok, COUNT(*) AS d FROM pres GROUP BY tok),
    pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS nab
      FROM pres a JOIN pres b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY 1, 2
    )
    SELECT p.tok_a, p.tok_b, CAST(p.nab AS BIGINT) AS n_docs_both,
           CAST(CAST(ln(CAST(p.nab AS DOUBLE) * nd.n
                        / (da.d * CAST(db.d AS DOUBLE)))
                AS DECIMAL(28,6)) AS DOUBLE) AS pmi
    FROM pairs p
    JOIN df da ON da.tok = p.tok_a
    JOIN df db ON db.tok = p.tok_b
    CROSS JOIN nd
    WHERE p.nab >= 5
    """,
)
def token_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information between the
    top-20 document-frequency tokens — PMI = ln(P(a,b)/(P(a)P(b)))
    over document co-occurrence, the classic "which words travel
    together" statistic behind phrase detection and topic seeds
    (positive = attract, negative = repel).

    Scale shape: the candidate vocabulary is TakeOrdered-top-20 FIRST
    (deterministic df desc, tok asc), the presence table is a
    broadcast semi-join of the distinct (doc, token) pairs against
    those 20 tokens (≤ 20 rows/doc), and the pair join runs per doc_id
    with fan-out ≤ C(20,2) — never a vocabulary-scale self-join. The
    PMI argument is a ratio of exact integer counts (one IEEE double
    in both engines); the log output snaps to DECIMAL(28,6) (the PSI
    idiom, ln may differ 1 ulp between libm and the JVM). Pairs
    co-occurring in fewer than 5 docs are dropped (PMI of rare pairs
    is noise)."""
    from ..operators import text as TX

    docs = t(spark, sf_dir, "documents")
    tk = (
        docs.select(
            "doc_id", F.explode(TX.tokens_col("text")).alias("tok")
        )
        .filter(F.length("tok") >= 3)
        .distinct()
    )
    top20 = (
        tk.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("tok"))
        .limit(20)
        .select("tok")
    )
    pres = tk.join(F.broadcast(top20), "tok", "leftsemi")
    nd = docs.agg(F.countDistinct("doc_id").alias("n"))
    df = pres.groupBy("tok").agg(F.count(F.lit(1)).alias("d"))
    a = pres.select(F.col("doc_id"), F.col("tok").alias("tok_a"))
    b = pres.select(F.col("doc_id").alias("doc_b"), F.col("tok").alias("tok_b"))
    pairs = (
        a.join(b, (F.col("doc_id") == F.col("doc_b")) & (F.col("tok_a") < F.col("tok_b")))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("nab"))
        .filter(F.col("nab") >= 5)
    )
    da = df.select(F.col("tok").alias("tok_a"), F.col("d").alias("da"))
    db = df.select(F.col("tok").alias("tok_b"), F.col("d").alias("db"))
    return (
        pairs.join(F.broadcast(da), "tok_a")
        .join(F.broadcast(db), "tok_b")
        .crossJoin(F.broadcast(nd))
        .select(
            "tok_a",
            "tok_b",
            F.col("nab").cast("long").alias("n_docs_both"),
            F.log(
                F.col("nab").cast("double")
                * F.col("n")
                / (F.col("da") * F.col("db").cast("double"))
            )
            .cast("decimal(28,6)")
            .cast("double")
            .alias("pmi"),
        )
    )


@query(
    "orders_inverse_percentiles",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS n FROM orders),
    probes AS (SELECT UNNEST([50000.0, 150000.0, 300000.0]) AS probe)
    SELECT CAST(probe AS DOUBLE) AS probe_price,
           CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice <= probe)
                AS BIGINT) AS n_at_or_below,
           ROUND(CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice <= probe)
                 AS DOUBLE) / n.n, 6) AS fraction_at_or_below
    FROM probes CROSS JOIN n
    """,
)
def orders_inverse_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INVERSE percentiles (the CDF at given probe values): for each
    reference price, what fraction of orders fall at or below it —
    the quantile question asked backwards ("is $150k a big order?"),
    which needs NO sort at all: one scan with one conditional count
    per probe (map-side combinable), then three divisions. The exact
    complement of the rank-based quantile family — quantiles map
    fraction → value, this maps value → fraction."""
    o = t(spark, sf_dir, "orders")
    probes = [50000.0, 150000.0, 300000.0]
    agg = o.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum((F.col("o_totalprice") <= p).cast("long")).alias(f"c{i}")
            for i, p in enumerate(probes)
        ],
    )
    out = None
    for i, p in enumerate(probes):
        piece = agg.select(
            F.lit(p).cast("double").alias("probe_price"),
            F.col(f"c{i}").cast("long").alias("n_at_or_below"),
            F.round(F.col(f"c{i}").cast("double") / F.col("n"), 6).alias(
                "fraction_at_or_below"
            ),
        )
        out = piece if out is None else out.unionByName(piece)
    return out


@query(
    "supplier_scorecard_topk",
    oracle="""
    WITH per_supp AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS revenue,
             COUNT(*) AS n_lines,
             COUNT(DISTINCT l_partkey) AS n_parts,
             SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS n_returned
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name AS supplier_name, n.n_name AS nation_name,
           CAST(p.revenue AS DOUBLE) AS revenue,
           CAST(p.n_lines AS BIGINT) AS n_lines,
           CAST(p.n_parts AS BIGINT) AS n_distinct_parts,
           ROUND(CAST(p.n_returned AS DOUBLE) / p.n_lines, 6) AS return_rate,
           CAST(s.s_acctbal AS DOUBLE) AS acctbal
    FROM per_supp p
    JOIN supplier s ON s.s_suppkey = p.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    ORDER BY p.revenue DESC, s.s_suppkey LIMIT 20
    """,
)
def supplier_scorecard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier 360 scorecard: the top-20 suppliers by revenue with
    their volume, assortment breadth, return rate, nation, and
    balance in one row — the entity-level reporting shape
    (vendor-management reviews) that composes one fact reduce with two
    broadcast dimension joins. The fact aggregates FIRST (supplier
    grain), so the joins and the TakeOrdered top-20 run on the
    supplier dimension; DECIMAL revenue makes the ranking and the
    tie-broken cut engine-identical."""
    li = t(spark, sf_dir, "lineitem")
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.sum((F.col("l_returnflag") == "R").cast("long")).alias("n_returned"),
    )
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        per_supp.join(F.broadcast(s), per_supp.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == F.col("n_nationkey"))
        .select(
            "s_suppkey",
            F.col("s_name").alias("supplier_name"),
            F.col("n_name").alias("nation_name"),
            F.col("revenue").cast("double").alias("revenue"),
            F.col("n_lines").cast("long").alias("n_lines"),
            F.col("n_parts").cast("long").alias("n_distinct_parts"),
            F.round(
                F.col("n_returned").cast("double") / F.col("n_lines"), 6
            ).alias("return_rate"),
            F.col("s_acctbal").cast("double").alias("acctbal"),
            F.col("revenue").alias("_r"),
        )
        .orderBy(F.desc("_r"), F.asc("s_suppkey"))
        .limit(20)
        .drop("_r")
    )


@query(
    "session_entry_conversion",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
             CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL THEN 1
                  WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000 THEN 1
                  ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      FROM flagged
    ), sessions AS (
      SELECT user_id, session_idx,
             (list(event_type ORDER BY us, event_id))[1] AS entry_type,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM numbered GROUP BY user_id, session_idx
    )
    SELECT entry_type, CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(converted) AS BIGINT) AS n_converted,
           ROUND(CAST(SUM(converted) AS DOUBLE) / COUNT(*), 6)
             AS conversion_rate
    FROM sessions GROUP BY entry_type
    """,
)
def session_entry_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion rate by session ENTRY event: do sessions that open
    with a view convert to a purchase more often than ones opening
    with a click/search? — the landing-experience question funnels
    can't answer without session attribution. The entry event is
    min_by under the (time, id) total order riding the single
    sessionization shuffle; conversion is a boolean max per session;
    rates are one rounded division of exact counts per entry type."""
    ev = t(spark, sf_dir, "events")
    us = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    w = Window.partitionBy("user_id").orderBy(us, F.col("event_id"))
    numbered = (
        ev.withColumn(
            "_new",
            F.when(F.lag(us).over(w).isNull(), 1)
            .when(us - F.lag(us).over(w) > 1800 * 1_000_000, 1)
            .otherwise(0),
        )
        .withColumn(
            "_sid",
            F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn("_us", us)
    )
    sessions = numbered.groupBy("user_id", "_sid").agg(
        F.min_by(
            "event_type", F.struct(F.col("_us"), F.col("event_id"))
        ).alias("entry_type"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias(
            "converted"
        ),
    )
    return sessions.groupBy("entry_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("converted").cast("long").alias("n_converted"),
        F.round(
            F.sum("converted").cast("double") / F.count(F.lit(1)), 6
        ).alias("conversion_rate"),
    )
