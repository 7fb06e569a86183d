"""Round-7 registry: asymmetric containment dedup, label-propagation
communities, point-in-time SCD2 lookup, and blocking-quality metrics —
the quote-inclusion dedup case, a third community-structure operator,
and the ER-evaluation loop (how good is a blocking key, measured).

Registered into the same QUERIES/ORACLE dicts as plans.registry.
Import side effects: importing this module populates the registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import dedup as D
from ..operators.partitioning import fan_out
from .registry import query, t
from .registry_ext import _SHINGLES_CTE


@query(
    "dedup_containment_pairs",
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
    SELECT i.id_a, i.id_b, i.intersection,
           sa.set_size AS size_a, sb.set_size AS size_b,
           ROUND(CAST(i.intersection AS DOUBLE)
                 / LEAST(sa.set_size, sb.set_size), 6) AS containment
    FROM inter i
    JOIN sizes sa ON sa.id = i.id_a
    JOIN sizes sb ON sb.id = i.id_b
    WHERE CAST(i.intersection AS DOUBLE)
          / LEAST(sa.set_size, sb.set_size) >= 0.6
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup pairs — |A∩B|/min(|A|,|B|) ≥
    0.6: the quote-inclusion / boilerplate-wrapper case Jaccard
    structurally misses (a short doc embedded in a long one has tiny
    union-normalized similarity but full containment from the short
    side). Same one-shuffle df-capped pair generator as
    dedup_ngram_jaccard; see operators.dedup.ngram_containment_pairs
    for the scale argument."""
    docs = fan_out(t(spark, sf_dir, "documents"))
    return D.ngram_containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.6, max_shingle_df=25
    )


_LPA_EDGES_CTE = """
    e0 AS (
      SELECT DISTINCT o.o_custkey AS src, -l.l_suppkey - 1 AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    e AS (
      SELECT src, dst FROM e0
      UNION SELECT dst AS src, src AS dst FROM e0
    ),
    nodes AS (SELECT DISTINCT src AS node FROM e)
"""

# 2-round deterministic LPA unroll over the CTEs above; ends at lab2 =
# (node, label). Shared by the graph_lpa_communities oracle and the
# graph_modularity_score oracle (registry_r8) so both verify against
# the IDENTICAL label assignment.
_LPA_LABELS_CTE = """
    lab0 AS (SELECT node, node AS label FROM nodes),
    v1 AS (
      SELECT e.dst AS node, l.label FROM e JOIN lab0 l ON l.node = e.src
      UNION ALL SELECT node, label FROM lab0
    ),
    c1 AS (SELECT node, label, COUNT(*) AS cnt FROM v1 GROUP BY node, label),
    r1 AS (
      SELECT node, label, row_number() OVER (
        PARTITION BY node ORDER BY cnt DESC, label ASC) AS rk FROM c1
    ),
    lab1 AS (SELECT node, label FROM r1 WHERE rk = 1),
    v2 AS (
      SELECT e.dst AS node, l.label FROM e JOIN lab1 l ON l.node = e.src
      UNION ALL SELECT node, label FROM lab1
    ),
    c2 AS (SELECT node, label, COUNT(*) AS cnt FROM v2 GROUP BY node, label),
    r2 AS (
      SELECT node, label, row_number() OVER (
        PARTITION BY node ORDER BY cnt DESC, label ASC) AS rk FROM c2
    ),
    lab2 AS (SELECT node, label FROM r2 WHERE rk = 1)
"""


def lpa_trade_graph_labels(spark: SparkSession, sf_dir: str):
    """Shared LPA core over the customer-supplier trade graph: builds
    the canonical directed edge set e0 (customer → sign-disjoint
    supplier node), the symmetric edge table e (checkpointed), and the
    2-round deterministic label assignment. Returns (e0, e, lab) so
    graph_lpa_communities (membership rollup) and
    graph_modularity_score (partition quality) run on the IDENTICAL
    community structure."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (-F.col("l_suppkey") - 1).alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # feeds e AND the modularity join
    )
    e = (
        e0.unionByName(
            e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    lab = e.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    w = Window.partitionBy("node").orderBy(F.desc("cnt"), F.asc("label"))
    for _ in range(2):
        votes = (
            e.join(lab.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"), "label")
            .unionByName(lab)
        )
        counts = votes.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        lab = (
            counts.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("node", "label")
        )
    return e0, e, lab



@query(
    "graph_lpa_communities",
    oracle=f"""
    WITH {_LPA_EDGES_CTE},
    {_LPA_LABELS_CTE}
    SELECT CAST(label AS BIGINT) AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(node) AS BIGINT) AS min_node,
           CAST(SUM(CASE WHEN node > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_customers
    FROM lab2 GROUP BY label
    """,
)
def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via synchronous LABEL PROPAGATION (2 fixed
    rounds) on the customer-supplier trade graph — the third
    community-structure lens next to connected components (pure
    reachability) and k-core (density): each node adopts the most
    frequent label among its neighbors PLUS its own current label,
    ties broken by smallest label — the deterministic variant of
    Raghavan et al. 2007 (random tie-breaks don't survive a
    cross-engine hash gate). Emits per-community size, min node id,
    and customer count. Supplier nodes live in a SIGN-DISJOINT id
    space (-l_suppkey - 1): a fixed additive offset collides with
    customer keys once o_custkey exceeds it (at +1e6, TPC-H SF ≥ ~7),
    silently merging communities in engine AND oracle alike; negation
    cannot collide at any scale factor.

    Scale shape: per round ONE equi-join (symmetric edges ⋈ current
    labels) + ONE (node,label) count aggregate + ONE per-node
    row_number over the vote counts — all partitioned by node id, no
    global window, no driver round-trip; fixed round count makes the
    job a restartable 2-stage artifact like pagerank/hits. The oracle
    unrolls both rounds as chained CTEs."""
    _e0, _e, lab = lpa_trade_graph_labels(spark, sf_dir)
    return lab.groupBy(F.col("label").cast("long").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.min("node").cast("long").alias("min_node"),
        F.sum(F.when(F.col("node") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_customers"),
    )


def order_status_changes(orders: DataFrame) -> DataFrame:
    """SCD2 change extraction over the order-status stream of each
    customer — one lag() window per custkey keeps the first row and
    every status flip: (c_custkey, status, odate, ckey). Shared by the
    batch PIT lookup below and its streaming twin
    (streaming.jobs.pit_status_stream, registered in streaming.jobs.TWINS),
    so both resolve probes against the IDENTICAL history."""
    w = Window.partitionBy("o_custkey").orderBy("odate", "o_orderkey")
    ordered = (
        orders.select(
            "o_custkey",
            "o_orderstatus",
            F.col("o_orderdate").cast("date").alias("odate"),
            "o_orderkey",
        )
        .withColumn("prev_status", F.lag("o_orderstatus").over(w))
    )
    return ordered.filter(
        F.col("prev_status").isNull()
        | (F.col("o_orderstatus") != F.col("prev_status"))
    ).select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderstatus").alias("status"),
        "odate",
        F.col("o_orderkey").alias("ckey"),
    )



@query(
    "orders_pit_status_lookup",
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
      SELECT o_custkey, o_orderstatus AS status, odate, o_orderkey AS ckey
      FROM ordered
      WHERE prev_status IS NULL OR o_orderstatus <> prev_status
    ),
    probe AS (
      SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS pdate,
             o_orderstatus AS own_status
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    ranked AS (
      SELECT p.o_orderkey, p.pdate, p.own_status, c.status,
             row_number() OVER (
               PARTITION BY p.o_orderkey
               ORDER BY c.odate DESC, c.ckey DESC) AS rk
      FROM probe p JOIN changes c
        ON c.o_custkey = p.o_custkey AND c.odate <= p.pdate
    )
    SELECT o_orderkey, pdate AS as_of_date, status AS pit_status,
           status = own_status AS matches_own
    FROM ranked WHERE rk = 1
    """,
)
def orders_pit_status_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME lookup against an SCD2 dimension — the query
    every feature store runs: for each probe fact (here every 7th
    order, as-of its order date), fetch the dimension row effective at
    that instant from the change history scd2_order_status_history
    builds. PIT is expressed as "latest change at or before the probe
    date" (argmax over (change_date, change_key)) rather than a
    BETWEEN interval join — half-open interval semantics get ambiguous
    when two changes share a date, while the argmax form is total-
    ordered and engine-exact.

    Scale shape: change detection is one lag() window per custkey
    (same single shuffle as the SCD2 build); the probe→history join is
    an EQUI-join on custkey whose per-key fanout is (orders/customer ×
    changes/customer) — bounded by per-customer activity, never corpus
    size — followed by one per-probe row_number. No range-join nested
    loop, no driver collect."""
    changes = order_status_changes(t(spark, sf_dir, "orders"))
    probe = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderdate").cast("date").alias("pdate"),
            F.col("o_orderstatus").alias("own_status"),
        )
    )
    joined = probe.join(
        changes,
        (probe.o_custkey == changes.c_custkey)
        & (changes.odate <= probe.pdate),
    )
    wp = Window.partitionBy("o_orderkey").orderBy(
        F.desc("odate"), F.desc("ckey")
    )
    return (
        joined.withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") == 1)
        .select(
            "o_orderkey",
            F.col("pdate").alias("as_of_date"),
            F.col("status").alias("pit_status"),
            (F.col("status") == F.col("own_status")).alias("matches_own"),
        )
    )


@query(
    "customer_blocking_quality",
    oracle="""
    WITH probe AS (
      SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal
      FROM customer WHERE c_custkey % 10 = 0
    ),
    truth AS (
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
      FROM probe a JOIN probe b
        ON a.c_custkey < b.c_custkey
       AND a.c_mktsegment = b.c_mktsegment
       AND abs(a.c_acctbal - b.c_acctbal) <= 10.0
    ),
    tot AS (
      SELECT COUNT(*) AS n,
             COUNT(*) * (COUNT(*) - 1) / 2 AS all_pairs
      FROM probe
    ),
    schemes AS (
      SELECT 'nation' AS scheme, a.c_custkey AS id_a, b.c_custkey AS id_b
      FROM probe a JOIN probe b
        ON a.c_custkey < b.c_custkey AND a.c_nationkey = b.c_nationkey
      UNION ALL
      SELECT 'nation_segment', a.c_custkey, b.c_custkey
      FROM probe a JOIN probe b
        ON a.c_custkey < b.c_custkey AND a.c_nationkey = b.c_nationkey
       AND a.c_mktsegment = b.c_mktsegment
    )
    SELECT s.scheme,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
           CAST(SUM(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_found,
           CAST(SUM(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE)
             / greatest((SELECT COUNT(*) FROM truth), 1)
             AS pair_completeness,
           1.0 - CAST(COUNT(*) AS DOUBLE)
                 / greatest((SELECT all_pairs FROM tot), 1)
             AS reduction_ratio
    FROM schemes s
    LEFT JOIN truth t ON t.id_a = s.id_a AND t.id_b = s.id_b
    GROUP BY s.scheme
    """,
)
def customer_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOCKING-SCHEME EVALUATION — the metric loop that closes the ER
    tier: for two candidate blocking keys (nation; nation+segment),
    pair completeness (share of ground-truth matches the blocking
    keeps) and reduction ratio (share of the all-pairs space it
    prunes) — Christen 2012's standard quality pair. Ground truth on
    the probe subset (every 10th customer) is same-segment balance
    within ±10.

    Scale shape: every pair set is BLOCK-generated (segment blocks for
    truth, nation / nation×segment blocks for candidates) over a 4%
    probe — Σ|block|² stays probe-bounded, nothing all-pairs on the
    full table; the all-pairs DENOMINATOR is computed from the 1-row
    probe count (scalar broadcast), never materialized. The blocked
    pair families this evaluates are the budget-guarded operators in
    operators.dedup; the metric tail is the factored
    operators.dedup.blocking_quality_metrics, whose output feeds
    operators.dedup.choose_blocking — the assertable decision rule
    (max reduction subject to a completeness floor) that selects a
    pipeline's blocking key, pytest-pinned on a fixture where the
    coarse scheme fails the floor."""
    probe = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 == 0)
        .select("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
        .localCheckpoint(eager=False)
    )
    a = probe.select(*[F.col(c).alias(c + "_a") for c in probe.columns])
    b = probe.select(*[F.col(c).alias(c + "_b") for c in probe.columns])
    truth = (
        a.join(
            b,
            (F.col("c_custkey_a") < F.col("c_custkey_b"))
            & (F.col("c_mktsegment_a") == F.col("c_mktsegment_b")),
        )
        .filter(F.abs(F.col("c_acctbal_a") - F.col("c_acctbal_b")) <= 10.0)
        .select(
            F.col("c_custkey_a").alias("id_a"),
            F.col("c_custkey_b").alias("id_b"),
        )
    )
    cand_nation = (
        a.join(
            b,
            (F.col("c_custkey_a") < F.col("c_custkey_b"))
            & (F.col("c_nationkey_a") == F.col("c_nationkey_b")),
        )
        .select(
            F.lit("nation").alias("scheme"),
            F.col("c_custkey_a").alias("id_a"),
            F.col("c_custkey_b").alias("id_b"),
        )
    )
    cand_ns = (
        a.join(
            b,
            (F.col("c_custkey_a") < F.col("c_custkey_b"))
            & (F.col("c_nationkey_a") == F.col("c_nationkey_b"))
            & (F.col("c_mktsegment_a") == F.col("c_mktsegment_b")),
        )
        .select(
            F.lit("nation_segment").alias("scheme"),
            F.col("c_custkey_a").alias("id_a"),
            F.col("c_custkey_b").alias("id_b"),
        )
    )
    schemes = cand_nation.unionByName(cand_ns)
    return D.blocking_quality_metrics(schemes, truth, probe)
