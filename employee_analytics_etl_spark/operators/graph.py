"""Graph analytics (extension tier): PageRank power iteration.

Companion to the transitive-closure machinery in ``dedup.
connected_components`` (min-label propagation): components answer
"which nodes form one group", PageRank ranks influence WITHIN the
graph — the standard importance prior for entity resolution review
queues and link-graph-weighted corpus sampling.

Scale design mirrors connected_components: the edge table is the only
corpus-scale object; each power iteration is ONE join (edges ⋈ current
ranks, co-partitioned on src across iterations) + ONE aggregate
(contributions by dst) — no driver-side adjacency, no per-node loops.
Out-degrees are folded onto the edge table once before iterating, so
the per-iteration join carries a single rank column.

Cross-engine determinism (the property that lets a SQL oracle verify a
distributed iterative algorithm EXACTLY): each contribution
rank/outdeg is one IEEE division (bit-identical in both engines), and
the per-node sum runs over DECIMAL(28,15)-cast terms — accumulation-
order-independent, so any partitioning yields the same ranks. The
oracle unrolls the fixed iteration count as chained CTEs.
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _oriented_edge_triangles(
    edges_canonical: DataFrame,
    u_col: str = "u",
    v_col: str = "v",
):
    """Shared core for exact triangle analytics: degree-oriented
    adjacency-set intersection (the compact-forward / GraphFrames
    shape; Suri & Vassilvitskii WWW'11 for the orientation bound).

    Orient every edge from its lower-(degree, id) endpoint to the
    higher one (max out-degree O(sqrt(m)) even on hub graphs), build
    each source's out-neighbor list ONCE, then re-derive the oriented
    edge list by exploding those lists so every edge (u→v) already
    carries N+(u); a join attaches N+(v) and ``array_intersect``
    yields exactly the triangles closed over the edge. This never
    materializes the wedge set — on the sf0.1 co-purchase graph that
    is 1.9 M intersection hits instead of 41 M wedge rows probed
    against the edge table (measured ~2× end-to-end on both
    consumers). Degrees are folded on via broadcast (the node table
    is |V|, edges are the corpus-scale object).

    The N+(v)-attach join is always a shuffle join, so construction
    never runs a job and the plan explain_audit audits is the plan
    production executes. A broadcast of the adjacency measured
    within noise at sf0.1 and ~10% faster at the 10× multifile layout,
    but past ~13 M adjacency cells the broadcast itself becomes the
    memory hazard; the shuffle join is the plan that is safe at
    unbounded |E|.

    Returns (e, deg, tri) where ``tri`` is one row per oriented edge
    with ``ws`` = the array of third corners closing it. All counts
    downstream are exact integers → engine-independent.
    """
    e = edges_canonical.select(
        F.col(u_col).alias("u"), F.col(v_col).alias("v")
    )
    # referenced by degrees, orientation and the edge count: truncate
    # lineage once or the upstream edge construction re-runs per
    # reference (measured 12 s -> ~3 s at sf0.01 on the co-purchase
    # graph, same discipline as pagerank below)
    e = e.localCheckpoint(eager=False)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ed = e.join(
        F.broadcast(deg.select(F.col("node").alias("u"), F.col("d").alias("du"))),
        "u",
    ).join(
        F.broadcast(deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))),
        "v",
    )
    lower_is_u = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(lower_is_u, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower_is_u, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    # r13: NO localCheckpoint here. The adjacency is consumed twice
    # (exploded and joined below), but both consumers share the same
    # canonical aggregate subtree over the checkpointed edge table, so
    # AQE materializes the src-hash exchange ONCE per execution
    # (runtime stage reuse) and only the cheap final collect_list
    # re-runs per consumer. The former lazy checkpoint (a) executed
    # the whole deg+orient+aggregate pipeline as a SERIAL job at
    # DataFrame-construction time (~0.7 s of graph_local_clustering_
    # topk's 3.8 s — the r12 "construction checkpoint" finding), and
    # (b) pinned an |E|-cell corpus-scale adjacency on executor
    # storage (guide §5). Measured (interleaved min-of-5/6, sf0.1):
    # construction 1.92 -> 1.45 s, total 3.68 -> 3.23 s on local[32]
    # and 3.80 -> 3.20 s under local-cluster[4,8,8192] combined with
    # the shuffle_hash hint below.
    adj = oriented.groupBy("src").agg(F.collect_list("dst").alias("nbr"))
    # FORCE a shuffle join with the COMPACT adjacency as the build
    # side (r12 established the hazard, r13 the strategy). Leaving
    # the choice to the optimizer let it broadcast the EXPLODED
    # left side: Catalyst's Generate estimate is the pre-explode
    # relation, so the per-edge rows each dragging their
    # |N+(src)|-element array — the Σ|N+(u)|² wedge-mass object —
    # priced as the compact adjacency and slid under the session's
    # 64 MB threshold. At the factor-10 multifile layout
    # (1.2 M edges, 148 M wedges) the deserialized
    # LongToUnsafeRowMap blew an 8 GiB executor heap in
    # local-cluster mode, single query, reproducibly. r12 pinned a
    # sort-merge join; r13 switches the pin to SHUFFLE_HASH with
    # adj_dst as the hinted (build) side: both sides still shuffle
    # — the plan the docstring promises — but neither sorts, and
    # the sort SMJ paid on the streamed side was over the wedge-
    # mass rows each dragging its array (guide §3.1: per-partition
    # hash build beats sort-merge when one side is per-partition
    # small — the build side here is the |E|-cell adjacency split
    # across partitions, never the exploded side). Measured
    # (interleaved min-of-5/6, sf0.1): merge -> shuffle_hash is
    # 3.68 -> 3.23 s on local[32], 3.80 -> 3.40 s under
    # local-cluster[4,8,8192]; the factor-10 multifile cluster
    # layout that OOM'd the broadcast plan runs green (see
    # OPTIMIZATION_r13.md). AQE skew-join splitting still applies
    # to shuffled-hash joins.
    adj_dst = adj.select(
        F.col("src").alias("dst"), F.col("nbr").alias("nb")
    ).hint("shuffle_hash")
    tri = (
        adj.select(
            F.col("src"),
            F.explode("nbr").alias("dst"),
            F.col("nbr").alias("na"),
        )
        .join(adj_dst, "dst")
        .select("src", "dst", F.array_intersect("na", "nb").alias("ws"))
        .filter(F.size("ws") > 0)
    )
    return e, deg, tri


def triangle_stats(
    edges_canonical: DataFrame,
    u_col: str = "u",
    v_col: str = "v",
) -> DataFrame:
    """Distributed exact triangle counting over an undirected
    canonical edge set (one row per edge, ``u < v``, no duplicate
    rows — callers deduplicate). Returns one
    row: (n_nodes, n_edges, n_triangles, n_wedges, global_clustering).

    Built on ``_oriented_edge_triangles`` (degree-oriented
    adjacency-set intersection — see its docstring for the scale
    argument); this consumer just sums intersection sizes. Counts are
    exact integers → engine-independent, no float tolerance needed.
    """
    e, deg, tri_sets = _oriented_edge_triangles(edges_canonical, u_col, v_col)
    tri = tri_sets.agg(
        F.coalesce(F.sum(F.size("ws")), F.lit(0))
        .cast("long")
        .alias("n_triangles")
    )
    nodes = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) / 2")).cast("long").alias("n_wedges"),
    )
    n_edges = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        nodes.crossJoin(n_edges)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.round(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 9
            ).alias("global_clustering"),
        )
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Power-iteration PageRank over a directed edge table (pass both
    directions for an undirected graph — then every node with an edge
    has out-degree ≥ 1 and no dangling-mass correction is needed).
    Returns (node, rank) for every node that appears as a source.

    ``iters`` is fixed, not convergence-tested: rank queues want a
    deterministic, restartable artifact, and 3-5 iterations already
    order the head correctly on short-diameter graphs (the same
    argument as connected_components' bounded label waves)."""
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # fold outdeg onto the edge table once and CHECKPOINT it: the DAG
    # references the edge table every iteration (plus the node count),
    # and without truncation Spark recomputes the upstream edge
    # construction per reference — measured 7-9 s -> ~2 s at sf0.1.
    # Same lineage discipline as dedup.connected_components.
    e_deg = e.join(deg, "src").localCheckpoint(eager=False)
    n_nodes = e_deg.select("src").distinct().count()  # metadata-scale
    base = (1.0 - damping) / n_nodes

    rank = (
        e_deg.select("src").distinct().select("src", (F.lit(1.0) / n_nodes).alias("rank"))
    )
    for _ in range(iters):
        contribs = e_deg.join(rank, "src").select(
            F.col("dst"),
            (F.col("rank") / F.col("outdeg")).cast("decimal(28,15)").alias("c"),
        )
        rank = (
            contribs.groupBy(F.col("dst").alias("src"))
            .agg(
                (
                    F.lit(base)
                    + F.lit(damping) * F.sum("c").cast("double")
                ).alias("rank")
            )
        )
    return rank.select(F.col("src").alias("node"), "rank")


def hits(
    edges: DataFrame,
    iters: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
) -> tuple[DataFrame, DataFrame]:
    """HITS hubs & authorities (Kleinberg, JACM 1999) over a directed
    edge table. Returns ``(hubs, authorities)``: (node, hub) for every
    source node and (node, authority) for every destination node,
    L1-normalized after each half-step.

    Mutual reinforcement on a bipartite trade graph reads naturally:
    a customer is a strong HUB if it buys from strong suppliers; a
    supplier is a strong AUTHORITY if strong customers buy from it —
    the two-sided importance prior PageRank's single score collapses.

    Scale shape mirrors ``pagerank``: per half-step ONE equi-join
    (edges ⋈ current scores, edge table checkpointed once) + ONE
    aggregate by the opposite endpoint + ONE 1-row total broadcast
    back for the L1 normalization (scalar-broadcast shape). Fixed
    ``iters`` for the same restartable-artifact argument as pagerank.

    Cross-engine determinism: per-node sums and the normalization
    totals run over DECIMAL(28,15)-cast terms (accumulation-order
    independent); the normalizing division is one IEEE op. The SQL
    oracle unrolls the half-steps as chained CTEs."""
    if iters < 1:
        raise ValueError(
            f"hits: iters must be >= 1 (got {iters}); zero iterations "
            "would leave the authority table undefined"
        )
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _l1(df: DataFrame, key: str, raw: str, out: str) -> DataFrame:
        tot = df.agg(
            F.sum(F.col(raw).cast("decimal(28,15)")).cast("double").alias("_t")
        )
        return df.crossJoin(F.broadcast(tot)).select(
            key, (F.col(raw) / F.col("_t")).alias(out)
        )

    h = e.select("src").distinct().select("src", F.lit(1.0).alias("h"))
    a = None
    for _ in range(iters):
        a_raw = (
            e.join(h, "src")
            .groupBy("dst")
            .agg(
                F.sum(F.col("h").cast("decimal(28,15)"))
                .cast("double")
                .alias("a_raw")
            )
        )
        a = _l1(a_raw, "dst", "a_raw", "a").localCheckpoint(eager=False)
        h_raw = (
            e.join(a, "dst")
            .groupBy("src")
            .agg(
                F.sum(F.col("a").cast("decimal(28,15)"))
                .cast("double")
                .alias("h_raw")
            )
        )
        h = _l1(h_raw, "src", "h_raw", "h").localCheckpoint(eager=False)
    hubs = h.select(F.col("src").alias("node"), F.col("h").alias("hub"))
    auths = a.select(F.col("dst").alias("node"), F.col("a").alias("authority"))
    return hubs, auths


def bfs_levels(
    edges: DataFrame,
    seed: int,
    max_hops: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Breadth-first hop distance from ``seed`` over a directed edge
    table (pass both directions for undirected reach): returns
    (node, level) with level = MINIMUM hop count, for every node
    reachable within ``max_hops`` — the traversal primitive the graph
    family lacked (components answer "connected at all?", this answers
    "how far?": blast-radius, fraud-ring proximity, supply-chain tier
    depth).

    Per hop: ONE equi-join of the current frontier against the edge
    table + one anti-join against the visited set — the standard
    level-synchronous distributed BFS; frontier and visited are
    localCheckpoint-truncated so the plan stays flat across
    iterations (connected_components' lineage discipline). All-integer
    state, so results are partition-count-independent and exactly
    SQL-expressible by unrolled per-level CTEs."""
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    e = e.localCheckpoint(eager=False)
    spark = edges.sparkSession
    visited = spark.createDataFrame(
        [(int(seed), 0)], "node long, level int"
    ).localCheckpoint(eager=True)
    frontier = visited.select("node")
    for lvl in range(1, max_hops + 1):
        nxt = (
            e.join(frontier, e.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("level", F.lit(lvl))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("node")
    return visited


def kcore_degrees(
    edges_canonical: DataFrame,
    k: int,
    rounds: int,
    u_col: str = "u",
    v_col: str = "v",
) -> DataFrame:
    """Synchronous k-core peeling over an undirected canonical edge set
    (one row per edge, ``u < v``): ``rounds`` iterations of "recompute
    degrees among survivors, drop nodes with degree < k". Returns the
    surviving nodes with their within-survivor-set degree
    (node, core_degree).

    Peeling is MONOTONE (survivor set only shrinks) and IDEMPOTENT at
    the fixed point, so a fixed round count is both restartable and
    oracle-checkable (the SQL oracle unrolls the same rounds; extra
    rounds after convergence are no-ops — the same fixed-iteration
    discipline as pagerank/label propagation). When converged, the
    result is exactly the k-core (Seidman 1983; the distributed
    formulation is Montresor et al.'s message-passing k-core).

    Scale shape: per round ONE semi-join of the directed edge table
    against the survivor set per endpoint + ONE count aggregate — the
    edge table is checkpointed once and reused every round; survivor
    sets are node-dimension-scale and lazily checkpointed to truncate
    the iterative lineage. No adjacency ever sits on the driver.
    """
    if rounds < 1:
        raise ValueError(
            f"kcore_degrees needs rounds >= 1, got {rounds}: the result "
            "is the survivor degrees of the final peeling round, which "
            "does not exist before the first round has run"
        )
    ed = (
        edges_canonical.select(F.col(u_col).alias("src"), F.col(v_col).alias("dst"))
        .unionAll(
            edges_canonical.select(
                F.col(v_col).alias("src"), F.col(u_col).alias("dst")
            )
        )
        .localCheckpoint(eager=False)
    )
    nodes = ed.select(F.col("src").alias("node")).distinct()
    deg = None
    for _ in range(rounds):
        alive = ed.join(
            nodes.withColumnRenamed("node", "src"), "src", "leftsemi"
        ).join(nodes.withColumnRenamed("node", "dst"), "dst", "leftsemi")
        deg = alive.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("core_degree")
        )
        nodes = (
            deg.filter(F.col("core_degree") >= k)
            .select("node")
            .localCheckpoint(eager=False)
        )
    # survivors of the final round: degrees are w.r.t. the previous
    # round's survivor set — exactly what the unrolled oracle computes
    return deg.filter(F.col("core_degree") >= k)


def personalized_pagerank(
    edges: DataFrame,
    seeds: list[int],
    iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Personalized PageRank (random walk with restart): teleportation
    returns to the SEED set instead of the whole graph, so mass
    concentrates around the seeds — "importance relative to THESE
    nodes", the standard graph-recommendation / related-entities
    primitive (global ``pagerank`` answers importance overall).

    Like ``pagerank``, each iteration is one equi-join against the
    edge table (checkpointed once) + one exact aggregate, but the
    contribution snap is TRUNCATION to integer
    1e-15 units (floor(x·1e15)) instead of a DECIMAL cast: rounding a
    double to 15 decimals has TIES, and the two engines break them
    differently (half-up on the shortest repr vs half-even on the
    exact binary), which surfaced as 1-ulp rank divergence at sf0.1.
    floor of the identical IEEE product is tie-free, so the iteration
    is engine-exact by construction. The teleport term is a scan-side
    CASE on seed membership ((1−d)/|S| for seeds, 0 elsewhere). ``seeds`` is a driver-side literal list — seed sets
    are query parameters (a user, a product), not data-scale objects.
    Nodes only acquire rank through in-edges or seed membership, and
    the result emits every node that receives any contribution —
    mirrored exactly by the unrolled SQL oracle.

    Out-degrees are NOT folded onto the edge table: per iteration,
    rank ⋈ deg is a NODE-scale join producing share = rank/outdeg, and that
    share table is broadcast into the edge join, so after the one
    edge checkpoint the edges never shuffle again (the only
    per-iteration exchange is the map-side-combined contribution
    aggregate, ≤|V| rows per partition). share·1e15 floors the same
    IEEE double as (rank/outdeg)·1e15. Measured on
    graph_ppr_related_entities at sf0.1 idle against folding outdeg
    onto the edges: 3.08 → 2.61 s min-of-3. The broadcast share table
    is node-dimension-scale, so ``edges`` must have a node set bounded
    by construction (the trade graph: |customer|+|supplier| dimension
    rows). Measured REJECTED alternative: checkpointing the canonical
    HALF edge set and running both contribution directions from it —
    3.46 s, the doubled per-iteration broadcast join costs more than
    the halved checkpoint saves."""
    spark = edges.sparkSession
    n_s = len(seeds)
    if n_s == 0:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).localCheckpoint(eager=False)
    # counted from the pinned edges: over the unpinned select, this lazy
    # checkpoint would run the edges' upstream again at construction
    deg = (
        e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")).localCheckpoint(eager=False)
    )
    base_of = lambda col: F.when(  # noqa: E731
        col.isin(*seeds), F.lit((1.0 - damping) / n_s)
    ).otherwise(F.lit(0.0))
    rank = spark.createDataFrame(
        [(int(s),) for s in seeds], "src long"
    ).select("src", F.lit(1.0 / n_s).alias("rank"))
    for _ in range(iters):
        share = rank.join(deg, "src").select(
            "src", (F.col("rank") / F.col("outdeg")).alias("share")
        )
        contribs = e.join(F.broadcast(share), "src").select(
            F.col("dst"),
            F.floor(F.col("share") * F.lit(1e15))
            .cast("decimal(38,0)")
            .alias("c"),
        )
        rank = contribs.groupBy(F.col("dst").alias("src")).agg(
            (
                base_of(F.col("dst"))
                + F.lit(damping)
                * (F.sum("c").cast("double") / F.lit(1e15))
            ).alias("rank")
        )
    return rank.select(F.col("src").alias("node"), "rank")


def local_clustering_topk(
    edges_canonical: DataFrame,
    k: int = 20,
    u_col: str = "u",
    v_col: str = "v",
) -> DataFrame:
    """Per-node local clustering coefficient, top-k, over the same
    distinct canonical edge set as ``triangle_stats``: for each node
    with degree ≥ 2, triangles(v) / C(deg(v), 2) — how close the
    node's neighborhood is to a clique (the ego-density signal behind
    community seeds and spam/bot neighborhood detection). Returns the
    k highest-coefficient nodes under the (coefficient desc, node asc)
    total order: (node, degree, triangles, local_cc).

    Built on ``_oriented_edge_triangles`` (degree-oriented
    adjacency-set intersection — hub wedges never square, wedges are
    never materialized); each closed edge (u→v, corners ws) credits
    u, v, and every w: one explode per corner, one groupBy. Top-k is
    TakeOrdered — no global sort. Counts are exact integers; the
    coefficient is a single IEEE division."""
    _e, deg, tri_sets = _oriented_edge_triangles(edges_canonical, u_col, v_col)
    # each closed edge row stands for size(ws) triangles: w is one
    # corner of exactly one of them, but src and dst corner EVERY one
    # — credit (w, src, dst) per element of ws, not per edge row
    tri_nodes = (
        tri_sets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ws",
                        lambda w: F.array(w, F.col("src"), F.col("dst")),
                    )
                )
            ).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    cc = F.col("t").cast("double") / (
        F.col("d").cast("double") * (F.col("d") - 1).cast("double") / F.lit(2.0)
    )
    return (
        deg.filter(F.col("d") >= 2)
        .join(tri_nodes, "node", "left")
        .withColumn("t", F.coalesce(F.col("t"), F.lit(0)))
        .withColumn("_cc", cc)
        .orderBy(F.col("_cc").desc(), F.col("node").asc())
        .limit(k)
        .select(
            F.col("node").cast("long").alias("node"),
            F.col("d").cast("long").alias("degree"),
            F.col("t").cast("long").alias("triangles"),
            F.round("_cc", 6).alias("local_cc"),
        )
    )
