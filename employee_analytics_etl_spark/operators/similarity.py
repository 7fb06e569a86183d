"""Similarity search over an embedding column (extension tier).

Three tiers:
- ``brute_force_topk`` — exact cosine top-k: broadcast the (small)
  query set against all candidates; one pass, no shuffle of the
  candidate table. The baseline and the verifier for approximate
  methods.
- ``ivf_topk`` — IVF-style: coarse-quantize vectors into sign-pattern
  cells (first ``ivf_bits`` components' signs); search only the
  query's cell. SQL-expressible, deterministic, oracle-checkable.
- ``lsh_multitable_topk`` — random-hyperplane LSH with seeded numpy
  hyperplanes via a vectorized Pandas UDF (Arrow batches): the scale
  path when cells must be data-independent. ``n_tables=1`` is
  single-table LSH; the multi-table (OR-amplified) default is the
  production form — single-table recall collapses as planes grow.
  The hashing is not SQL-expressible, so the registry query emits a
  bounds-style envelope (recall vs brute force ≥ threshold) that the
  DuckDB oracle checks as TRUE literals; raw recall is additionally
  pytest-verified.

All dot products run in double precision with sequential fold order
(``F.aggregate``) — bit-identical to the DuckDB oracle's
``list_cosine_similarity`` on DOUBLE[].
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def vec_norm(a: Column) -> Column:
    """Public scan-side L2 norm — compute once per VECTOR in a
    projection and feed ``cosine_from_prenorm`` in the pair term, so
    the interpreted aggregate fold runs O(n) times instead of
    O(pairs) (the r12 §4 hoist). Same expression tree as the private
    ``_norm``, exported (r12 ADVICE) so registry queries stop
    hand-assembling the pattern."""
    return _norm(a)


def cosine_from_prenorm(
    a: Column, b: Column, na: Column, nb: Column
) -> Column:
    """``cosine(a, b)`` assembled from precomputed per-vector norms
    (``vec_norm`` columns): the identical IEEE expression tree — same
    ``_dot`` fold, same division shape — so results are bit-identical
    to ``cosine``; only the norm-fold evaluation count changes."""
    return _dot(a, b) / (na * nb)


def _cosine_prenorm() -> Column:
    """``cosine`` assembled from scan-side norms: the identical IEEE
    expression tree (same ``_dot`` fold, same ``_norm`` folds, same
    single division — bit-identical results) but with the per-VECTOR
    norm folds evaluated once in the q/c projections (columns ``_qn``
    / ``_cn``) instead of twice per joined PAIR. r12 optimization
    round: the folds are interpreted higher-order aggregates, so
    hoisting them out of the quadratic term cut semdedup_embedding_
    prune 1.72 → 1.06 s at sf0.1; the same join shape recurs in every
    topk scorer here."""
    return _dot(F.col("q_vec"), F.col("c_vec")) / (
        F.col("_qn") * F.col("_cn")
    )


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query: (query_id, neighbor_id, sim).

    The query side is broadcast — the candidate scan is embarrassingly
    parallel and shuffles only (n_queries × k) result rows. Ranking is
    total-ordered (sim desc, id asc) for determinism.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("_cn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", _cosine_prenorm())
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"))
    )


def brute_force_topk_vectorized(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = 10_000,
) -> DataFrame:
    """Exact cosine top-k, matrix-multiply formulation.

    The query set (small by construction — it's a top-k serving
    workload) is collected to a (q × dim) float64 matrix and closed
    over by a ``mapInPandas`` scorer; each Arrow batch of candidates
    is scored with one numpy matmul and reduced to a per-batch
    partial top-k, so only (batches × q × k) rows reach the final
    global window instead of (candidates × q). This is the plan that
    survives 100×: candidate scan is embarrassingly parallel, no
    cross-join materialization, shuffle is O(q·k) per partition.

    ``max_query_rows`` guards the driver-side collect (r2 verdict):
    a caller who hands a corpus-sized "query set" would OOM the
    driver, so the size is probed first (a ``limit(cap+1)`` count —
    stops scanning at cap+1 rows) and a too-large set raises with a
    pointer at ``lsh_multitable_topk``, the path that never collects
    vectors. Raise the cap explicitly only if the driver can hold
    cap × dim float64s.

    Equivalent to ``brute_force_topk`` (same math in float64; sims
    rounded to 4 decimals), ~20× faster: whole-batch BLAS matmul vs
    an interpreted per-pair ``F.aggregate`` fold.
    """
    import numpy as np
    import pandas as pd

    probe = queries.select(id_col).limit(max_query_rows + 1).count()
    if probe > max_query_rows:
        raise ValueError(
            f"brute_force_topk_vectorized collects the query set to the "
            f"driver and got more than max_query_rows={max_query_rows} "
            f"rows. For large query sets use lsh_multitable_topk "
            f"(operators/similarity.py) — the bucketed LSH path that never "
            f"collects vectors — or pass a larger max_query_rows if the "
            f"driver can hold the matrix."
        )
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype="int64")
    q_mat = np.stack([np.asarray(r[1], dtype="float64") for r in q_rows])
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))

    def score(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            m = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            sims = (m @ q_mat.T) / (
                np.sqrt((m * m).sum(axis=1))[:, None] * q_norm[None, :]
            )  # (batch, q)
            sims[ids[:, None] == q_ids[None, :]] = -np.inf  # self-match
            kk = min(k, sims.shape[0])
            # per-query partial top-k, tie-broken by neighbor_id asc so
            # batch-boundary ties select exactly what the global
            # (sim desc, id asc) window would keep
            part = np.empty((kk, sims.shape[1]), dtype="int64")
            for j in range(sims.shape[1]):
                part[:, j] = np.lexsort((ids, -sims[:, j]))[:kk]
            out = {
                "query_id": np.repeat(q_ids[None, :], kk, axis=0).ravel(),
                "neighbor_id": ids[part].ravel(),
                "sim": np.take_along_axis(sims, part, axis=0).ravel(),
            }
            df = pd.DataFrame(out)
            yield df[np.isfinite(df["sim"])]

    schema = "query_id long, neighbor_id long, sim double"
    partial = candidates.select(
        F.col(id_col).cast("long").alias(id_col), vec_col
    ).mapInPandas(score, schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"))
    )


def sign_cell(vec_col: str, bits: int = 4) -> Column:
    """IVF coarse cell: integer from the sign bits of the first
    ``bits`` components (0-based in Spark; the oracle uses 1-based
    list indexing)."""
    expr = F.lit(0)
    for i in range(bits):
        expr = expr + F.when(F.element_at(F.col(vec_col), i + 1) > 0, 1 << i).otherwise(0)
    return expr.cast("int")


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ivf_bits: int = 4,
) -> DataFrame:
    """Approximate top-k: search only candidates in the query's sign
    cell. The cell equi-join replaces the cross join — at scale this
    is a hash join on a 16-way (2^bits) partition of the corpus. Probing
    only 1 cell trades recall for a 2^bits cost cut (nprobe>1 = also
    join neighboring cells; kept minimal here for oracle clarity)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        sign_cell(vec_col, ivf_bits).alias("cell"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        sign_cell(vec_col, ivf_bits).alias("cell"),
        _norm(F.col(vec_col)).alias("_cn"),
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", _cosine_prenorm())
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"))
    )


def lsh_multitable_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    n_tables: int = 8,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """Multi-table (OR-amplified) hyperplane LSH top-k.

    Single-table LSH with ``n_planes`` planes puts two vectors in the
    same bucket only when ALL plane signs agree — recall collapses as
    planes grow (measured 0.02–0.05 at 6 planes on the test
    embeddings). The standard fix is L independent tables: a true
    neighbor is a candidate if it collides in ANY table, lifting
    recall to 1−(1−p^b)^L (measured 0.30–0.42 here with L=8).

    Scale shape: ALL L bucket ids are computed in ONE Arrow kernel
    pass (one numpy matmul against the concatenated plane matrix), so
    the corpus is scanned once for hashing — not once per table — and
    exploded to L skinny (table, bucket) rows. One broadcast bucket
    join on (table, bucket), candidate ids deduped WITHOUT carrying
    vectors, then one join back to fetch candidate vectors for exact
    scoring. Cost is O(L · n/2^planes) candidates per query — linear
    in corpus size, never all-pairs. Table i's planes are generated
    from ``seed + i``, so ``n_tables=1`` is the single-table form and
    L tables give the union of L independent single tables."""
    import numpy as np
    import pandas as pd

    planes = np.concatenate(
        [
            np.random.default_rng(seed + i)
            .standard_normal((dim, n_planes))
            .astype("float64")
            for i in range(n_tables)
        ],
        axis=1,
    )  # (dim, L * n_planes)
    weights = (1 << np.arange(n_planes)).astype("int64")

    def _buckets_kernel(vecs):
        m = np.stack(vecs.to_numpy()).astype("float64")  # (batch, dim)
        signs = (m @ planes) > 0  # (batch, L * planes)
        b = signs.reshape(len(m), n_tables, n_planes) @ weights  # (batch, L)
        return pd.Series(list(b.astype("int32")))

    _buckets_kernel.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    buckets = F.pandas_udf(_buckets_kernel, "array<int>")

    def hashed(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.posexplode(buckets(F.col(vec_col))).alias("tbl", "bucket"),
        )

    q_ids = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            _norm(F.col(vec_col)).alias("_qn"),
        )
    )
    pairs = (
        hashed(candidates, "neighbor_id")
        .join(F.broadcast(hashed(queries, "query_id")), ["tbl", "bucket"])
        .select("query_id", "neighbor_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .distinct()
    )
    cv = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("_cn"),
    )
    scored = (
        pairs.join(cv, "neighbor_id")
        .join(q_ids, "query_id")
        .withColumn("sim", _cosine_prenorm())
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"))
    )


def norm_stats_by_label(df: DataFrame, vec_col: str = "embedding", label_col: str = "label") -> DataFrame:
    """Per-label count + mean L2 norm. The norm is rounded to a
    decimal before summation so the group aggregate is exact and
    order-independent (same trick as functions.expr.dsum)."""
    norm_dec = _norm(F.col(vec_col)).cast("decimal(18,6)")
    return df.groupBy(label_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        (F.sum(norm_dec).cast("double") / F.count(F.lit(1))).alias("avg_norm"),
    )


def int8_quantize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q_i = floor(x_i / scale + 0.5). The storage op for embedding
    tables at scale (4× smaller than float32, 8× than float64); each
    element's reconstruction error is ≤ scale/2 by construction.

    Everything is codegen'd array expressions — no UDF — and every
    step (max, division, floor) is IEEE-exact, so quantized codes are
    bit-identical across engines (unlike round(), whose tie rule is
    engine-defined). Zero vectors quantize to all-zero codes with
    scale 0. Output: (id, scale, q int8-range codes, q_checksum)."""
    v = F.col(vec_col).cast("array<double>")
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = (maxabs / F.lit(127.0)).alias("scale")
    q = F.when(
        maxabs == 0.0,
        F.transform(v, lambda x: F.lit(0).cast("long")),
    ).otherwise(
        F.transform(v, lambda x: F.floor(x / (maxabs / F.lit(127.0)) + F.lit(0.5)))
    )
    return df.select(
        F.col(id_col).alias("id"),
        scale,
        q.alias("q"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, b: a + b).alias(
            "q_checksum"
        ),
    )


def ivf_kmeans_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 2,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN with a LEARNED coarse quantizer — the production IVF
    shape (FAISS IVFFlat): k-means centroids partition the corpus into
    ``n_cells`` inverted lists; each query probes only its ``nprobe``
    nearest cells. Even on the isotropic testdata embeddings (unit
    vectors with no label cluster structure — measured within-label
    cosine ≈ 0.002) the learned Voronoi cells beat the
    probed-fraction baseline: recall 0.28 at nprobe 2/16 of the corpus
    scanned ≈ 0.125, because the query's nearest cells preferentially
    contain its neighbors; on genuinely clustered corpora the gap
    widens. Learned cells are also load-BALANCED (each ~n/n_cells),
    which at scale is a tail-latency property no data-oblivious
    partition guarantees — verified in pytest.

    Scale shape: the fit is ``clustering.kmeans_fit`` (corpus never
    shuffles; k×dim partial sums to the driver); list assignment is one
    scan-side Arrow kernel; the probe set (query × nprobe cells) is
    broadcast into ONE equi-join on cell id — candidates outside probed
    cells are never read past the join hash, giving the n_cells/nprobe
    cost cut. Each candidate lives in exactly one cell, so no
    dedup pass is needed after probing. Recall is monotone
    non-decreasing in nprobe (probing more cells only adds candidates)
    — the knob a serving deployment tunes.

    Deterministic end-to-end: seeded k-means++ on a hash-ordered
    sample, DECIMAL-snapped centroid updates, stable argsort probe
    order, total-order (sim desc, id asc) top-k cut."""
    import numpy as np

    from .clustering import kmeans_assign, kmeans_fit

    centroids, _ = kmeans_fit(
        candidates, k=n_cells, iters=iters, id_col=id_col, vec_col=vec_col
    )
    assigned = kmeans_assign(candidates, centroids, id_col, vec_col)
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("_cn"),
    ).join(
        assigned.select(
            F.col("id").alias("neighbor_id"), F.col("cluster").alias("cell")
        ),
        "neighbor_id",
    )

    def probe_kernel(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["v"].to_numpy())
            d2 = ((m[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
            order = np.argsort(d2, axis=1, kind="stable")[:, :nprobe]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(pdf["id"].to_numpy(), nprobe),
                    "cell": order.ravel().astype("int32"),
                }
            )

    q_vecs = queries.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    probes = q_vecs.mapInPandas(probe_kernel, "query_id long, cell int")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("_qn"),
    ).join(probes, "query_id")
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", _cosine_prenorm())
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"))
    )


def max_sim_vs_reference(
    corpus: DataFrame,
    reference: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_reference_rows: int = 10_000,
) -> DataFrame:
    """Per-CORPUS-vector maximum cosine similarity against a small
    REFERENCE set — the screening shape of semantic decontamination
    (reference = benchmark/eval embeddings) and semantic near-dup
    blocking (reference = canonical exemplars). The dual of
    ``brute_force_topk_vectorized``: same collected-matrix matmul
    kernel, but reduced per CANDIDATE (a row-wise max) instead of per
    query, so the output is exactly one row per corpus vector:
    (id, max_sim, argmax_ref_id).

    Scale: the corpus is never collected, never joined, never
    shuffled — one mapInPandas scan with a (r × dim) broadcast-by-
    closure matrix; the reference set carries the same bounded-collect
    cap discipline as the top-k scorer."""
    import numpy as np
    import pandas as pd

    probe = reference.select(id_col).limit(max_reference_rows + 1).count()
    if probe > max_reference_rows:
        raise ValueError(
            f"max_sim_vs_reference collects the reference set and got "
            f"more than max_reference_rows={max_reference_rows} rows; "
            f"shrink the reference or raise the cap if the driver can "
            f"hold the matrix."
        )
    # sort by id so argmax's first-occurrence tie-break is the
    # smallest reference id — matching the SQL (sim desc, id asc) rank
    r_rows = sorted(
        reference.select(id_col, vec_col).collect(), key=lambda r: r[0]
    )
    r_ids = np.array([r[0] for r in r_rows], dtype="int64")
    r_mat = np.stack([np.asarray(r[1], dtype="float64") for r in r_rows])
    r_norm = np.sqrt((r_mat * r_mat).sum(axis=1))

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            c_mat = np.stack(
                [np.asarray(v, dtype="float64") for v in pdf[vec_col]]
            )
            c_norm = np.sqrt((c_mat * c_mat).sum(axis=1))
            sims = (c_mat @ r_mat.T) / np.outer(c_norm, r_norm)
            best = sims.argmax(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(dtype="int64"),
                    "max_sim": sims[np.arange(len(pdf)), best],
                    "nearest_ref_id": r_ids[best],
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        score, schema="vec_id long, max_sim double, nearest_ref_id long"
    )


def choose_ann_index(
    recall_eval: DataFrame,
    recall_floor: float = 0.7,
    recall_col: str = "recall5",
) -> str:
    """The third decision rule of the planner triad (blocking →
    dedup.choose_blocking, LSH banding → dedup.choose_lsh_bands, ANN
    index → here): given the per-query recall table an index
    evaluation emits (knn_ivf_recall_eval's recall@5 against
    brute-force ground truth), ship the APPROXIMATE index iff its MEAN
    recall meets ``recall_floor``; otherwise fall back to the exact
    brute-force scan. Mean (not min) is the deployment criterion —
    per-query recall over a %-sampled probe set is noisy at small k,
    while the mean is the quantity the evaluation estimates; a caller
    with a hard per-query SLA should floor on min(recall) instead and
    accept the sampling variance.

    The input is the bounded query-subset evaluation (|corpus|/50
    rows), so the 1-row mean collect is probe-bounded, never
    corpus-bounded. Raises on an empty evaluation — silently choosing
    an index with zero evidence is the failure this closes."""
    row = recall_eval.agg(
        F.avg(recall_col).alias("mean_recall"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    if not row or not row["n"]:
        raise ValueError(
            "choose_ann_index got an EMPTY recall evaluation — refusing "
            "to pick an index with zero evidence; run the recall eval "
            "over a non-empty probe set first"
        )
    return "ivf" if row["mean_recall"] >= recall_floor else "brute_force"
