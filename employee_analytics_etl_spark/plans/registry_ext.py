"""Extension-tier query registry: text analysis, deduplication,
similarity search over documents/embeddings (the training-data-pipeline
operators — SURVEY.md §7 step 7).

Registered into the same QUERIES/ORACLE dicts as plans.registry.
Import side effects: importing this module populates the registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import dedup as D
from ..operators.partitioning import fan_out
from ..operators import similarity as S
from ..operators import text as TX
from .registry import query, t

# Shared oracle SQL fragments -------------------------------------------------

_TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+')"
# distinct word-3-gram shingles per doc (DuckDB lateral unnest; 1-based lists)
_SHINGLES_CTE = f"""
    toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    sh AS (
      SELECT DISTINCT doc_id AS id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
      FROM toks, UNNEST(range(1, greatest(len(tk) - 1, 1))) AS u(i)
    )
"""


@query(
    "doc_text_stats",
    oracle=f"""
    SELECT doc_id,
      CAST(length(text) AS INT) AS n_chars_calc,
      CAST(len({_TOKS}) AS INT) AS n_tokens,
      CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS INT) AS n_bpe_tokens,
      CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS INT) AS punct_count,
      CASE WHEN len({_TOKS}) > 0
           THEN CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE)
                / len({_TOKS})
           ELSE 0.0 END AS avg_token_len,
      CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
        / greatest(length(text), 1) AS punct_ratio
    FROM documents
    """,
)
def doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text surface statistics: char/word/BPE-ish-token/punct counts and
    ratios — all JVM-side regexp/array expressions."""
    docs = t(spark, sf_dir, "documents")
    return TX.with_text_stats(docs, "text").select(
        "doc_id", "n_chars_calc", "n_tokens", "n_bpe_tokens",
        "punct_count", "avg_token_len", "punct_ratio",
    )


def _lang_count_sql(lang: str) -> str:
    words = "|".join(TX.LANG_STOPWORDS[lang])
    return f"len(regexp_extract_all(lower(text), '\\b({words})\\b'))"


@query(
    "doc_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             {_lang_count_sql('en')} AS sw_en,
             {_lang_count_sql('es')} AS sw_es,
             {_lang_count_sql('de')} AS sw_de,
             {_lang_count_sql('fr')} AS sw_fr
      FROM documents
    )
    SELECT doc_id,
      CASE WHEN greatest(sw_en, sw_es, sw_de, sw_fr) <= 0 THEN 'und'
           WHEN sw_en = greatest(sw_en, sw_es, sw_de, sw_fr) THEN 'en'
           WHEN sw_es = greatest(sw_en, sw_es, sw_de, sw_fr) THEN 'es'
           WHEN sw_de = greatest(sw_en, sw_es, sw_de, sw_fr) THEN 'de'
           ELSE 'fr' END AS lang_pred
    FROM scored
    """,
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (deterministic heuristic)."""
    docs = t(spark, sf_dir, "documents")
    return TX.with_lang_id(docs, "text").select("doc_id", "lang_pred")


@query(
    "doc_lang_fertility",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             {_lang_count_sql('en')} AS sw_en,
             {_lang_count_sql('es')} AS sw_es,
             {_lang_count_sql('de')} AS sw_de,
             {_lang_count_sql('fr')} AS sw_fr,
             len({_TOKS}) AS n_tokens,
             list_sum(list_transform({_TOKS}, x -> len(x))) AS n_tok_chars
      FROM documents
    ),
    lp AS (
      SELECT CASE WHEN greatest(sw_en, sw_es, sw_de, sw_fr) <= 0 THEN 'und'
               WHEN sw_en = greatest(sw_en, sw_es, sw_de, sw_fr) THEN 'en'
               WHEN sw_es = greatest(sw_en, sw_es, sw_de, sw_fr) THEN 'es'
               WHEN sw_de = greatest(sw_en, sw_es, sw_de, sw_fr) THEN 'de'
               ELSE 'fr' END AS lang_pred,
             n_tokens, COALESCE(n_tok_chars, 0) AS n_tok_chars
      FROM scored
    )
    SELECT lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      round(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 6) AS tokens_per_doc,
      round(CAST(SUM(n_tok_chars) AS DOUBLE) / nullif(SUM(n_tokens), 0), 6)
        AS chars_per_token
    FROM lp GROUP BY lang_pred
    """,
)
def doc_lang_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility profile by predicted language: docs, token
    mass, tokens/doc and chars/token per language — the fit signal a
    multilingual pipeline watches (a language whose chars-per-token
    balloons is being shredded by the tokenizer and will eat context
    budget). All counts are exact integers aggregated per language
    (map-side combine); the two ratios are single IEEE divisions."""
    docs = TX.with_lang_id(t(spark, sf_dir, "documents"), "text")
    per_doc = docs.select(
        "lang_pred",
        F.size(TX.tokens_col("text")).alias("n_tokens"),
        F.coalesce(
            F.aggregate(
                F.transform(TX.tokens_col("text"), F.length),
                F.lit(0),
                lambda a, x: a + x,
            ),
            F.lit(0),
        ).alias("n_tok_chars"),
    )
    return per_doc.groupBy("lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.round(
            F.sum("n_tokens").cast("double") / F.count(F.lit(1)), 6
        ).alias("tokens_per_doc"),
        F.round(
            F.sum("n_tok_chars").cast("double")
            / F.nullif(F.sum("n_tokens"), F.lit(0)),
            6,
        ).alias("chars_per_token"),
    )


@query(
    "doc_quality_score",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
        len({_TOKS}) AS n_tokens,
        len(regexp_extract_all(lower(text),
            '\\b({'|'.join(TX.LANG_STOPWORDS['en'])})\\b')) AS sw,
        CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
          / greatest(length(text), 1) AS punct_ratio,
        CASE WHEN len({_TOKS}) > 0
             THEN CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE)
                  / len({_TOKS})
             ELSE 0.0 END AS avg_token_len
      FROM documents
    ), scored AS (
      SELECT doc_id,
        ROUND(
          least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.4
          + least(CASE WHEN n_tokens > 0
                       THEN CAST(sw AS DOUBLE) / n_tokens ELSE 0.0 END * 5.0, 1.0) * 0.3
          + (CASE WHEN punct_ratio < 0.1 THEN 1.0 ELSE 0.0 END) * 0.15
          + (CASE WHEN avg_token_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.15,
        6) AS quality_score
      FROM s
    )
    SELECT doc_id, quality_score,
      CASE WHEN quality_score >= 0.7 THEN 'good'
           WHEN quality_score >= 0.4 THEN 'ok'
           ELSE 'bad' END AS quality_bucket
    FROM scored
    """,
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality score + bucket."""
    docs = t(spark, sf_dir, "documents")
    return TX.with_quality_score(docs, "text").select(
        "doc_id", "quality_score", "quality_bucket"
    )


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id, md5(text) AS content_md5,
           CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprinting: md5 hex + 60-bit integer key."""
    docs = t(spark, sf_dir, "documents")
    return TX.with_fingerprint(docs, "text").select(
        "doc_id", "content_md5", "fingerprint"
    )


@query(
    "dedup_exact_groups",
    oracle="""
    SELECT md5(text) AS content_md5, MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: the shuffle moves 16-byte digests,
    never document bodies."""
    docs = t(spark, sf_dir, "documents")
    return D.exact_dedup_groups(docs, "doc_id", "text").select(
        "content_md5", "canonical_id", "n_copies"
    )


@query(
    "dedup_ngram_jaccard",
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
                 / (sa.set_size + sb.set_size - i.intersection), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.id = i.id_a
    JOIN sizes sb ON sb.id = i.id_b
    WHERE CAST(i.intersection AS DOUBLE)
          / (sa.set_size + sb.set_size - i.intersection) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (stop-shingle pruned)."""
    docs = fan_out(t(spark, sf_dir, "documents"))
    return D.ngram_jaccard_pairs(docs, "doc_id", "text",
                                 n=3, threshold=0.2, max_shingle_df=25)


@query(
    "dedup_minhash_candidates",
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
    )
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    """,
)
def dedup_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (8 hashes, 4 bands × 2 rows) — the
    linear-cost near-dup candidate generator; exact Jaccard
    (dedup_ngram_jaccard) is the verifier."""
    docs = fan_out(t(spark, sf_dir, "documents"))
    return D.minhash_lsh_candidates(docs, "doc_id", "text",
                                    num_hashes=8, rows_per_band=2, shingle_n=3)


@query(
    "dedup_simhash",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT doc_id AS id, u.tok
      FROM documents, UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS u(tok)
    ), hashed AS (
      SELECT id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h FROM toks
    ), votes AS (
      SELECT id, j.j, SUM(((h >> j.j) & 1) * 2 - 1) AS vote
      FROM hashed, UNNEST(range(0, 32)) AS j(j)
      GROUP BY id, j.j
    )
    SELECT id, CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signatures over distinct word tokens."""
    docs = fan_out(t(spark, sf_dir, "documents"))
    return D.simhash_signatures(docs, "doc_id", "text", bits=32)


@query(
    "knn_bruteforce_cosine",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE vec_id % 50 = 0),
         c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings)
    SELECT query_id, neighbor_id, ROUND(sim, 4) AS sim FROM (
      SELECT q.query_id, c.neighbor_id,
             list_cosine_similarity(q.v, c.v) AS sim,
             ROW_NUMBER() OVER (PARTITION BY q.query_id
               ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.neighbor_id) AS rn
      FROM q JOIN c ON q.query_id <> c.neighbor_id
    ) WHERE rn <= 5
    """,
)
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for the query subset (vec_id % 50
    == 0) — the ANN baseline/verifier. Vectorized matmul scorer with
    per-batch partial top-k; float64 throughout, ≡ DuckDB
    list_cosine_similarity on DOUBLE[] after 4-decimal rounding."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return S.brute_force_topk_vectorized(queries, emb, k=5)


@query(
    "knn_ivf_cosine",
    oracle="""
    WITH cells AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
        + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
        + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
        + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS cell
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v, cell FROM cells WHERE vec_id % 50 = 0),
    c AS (SELECT vec_id AS neighbor_id, v, cell FROM cells)
    SELECT query_id, neighbor_id, ROUND(sim, 4) AS sim FROM (
      SELECT q.query_id, c.neighbor_id,
             list_cosine_similarity(q.v, c.v) AS sim,
             ROW_NUMBER() OVER (PARTITION BY q.query_id
               ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.neighbor_id) AS rn
      FROM q JOIN c ON q.cell = c.cell AND q.query_id <> c.neighbor_id
    ) WHERE rn <= 5
    """,
)
def knn_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-5: sign-cell coarse quantization turns
    the cross join into a 16-way cell equi-join (the scale path)."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return S.ivf_topk(queries, emb, k=5, ivf_bits=4)


@query(
    "knn_ivf_recall_eval",
    oracle="""
    WITH cells AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
        + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
        + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
        + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS cell
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v, cell FROM cells WHERE vec_id % 50 = 0),
    c AS (SELECT vec_id AS neighbor_id, v, cell FROM cells),
    bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                          c.neighbor_id) AS rn
        FROM q JOIN c ON q.query_id <> c.neighbor_id
      ) WHERE rn <= 5
    ),
    ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                          c.neighbor_id) AS rn
        FROM q JOIN c ON q.cell = c.cell AND q.query_id <> c.neighbor_id
      ) WHERE rn <= 5
    )
    SELECT bf.query_id, CAST(COUNT(ivf.neighbor_id) AS BIGINT) AS n_overlap,
           round(COUNT(ivf.neighbor_id) / 5.0, 6) AS recall5
    FROM bf LEFT JOIN ivf
      ON bf.query_id = ivf.query_id AND bf.neighbor_id = ivf.neighbor_id
    GROUP BY bf.query_id
    """,
)
def knn_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@5 of the IVF index against brute-force ground
    truth — the evaluation harness an ANN deployment runs before
    trusting the approximate path (the similarity-tier analogue of
    dedup_screen_precision_recall). Both sides share the exact cosine
    + total-order tie-break (sim desc, neighbor asc), so the set
    intersection — and therefore the recall — is deterministic and
    carries an EXACT oracle.

    Scale shape: ground truth is the bounded query subset ONLY
    (|q| = |corpus|/50) — a recall evaluation never brute-forces the
    full corpus; the overlap join is per-(query, neighbor) over ≤ 5·|q|
    rows a side."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    bf = S.brute_force_topk_vectorized(queries, emb, k=5).select(
        "query_id", "neighbor_id"
    )
    ivf = S.ivf_topk(queries, emb, k=5, ivf_bits=4).select(
        F.col("query_id").alias("iq"), F.col("neighbor_id").alias("inb")
    )
    return (
        bf.join(
            ivf,
            (F.col("query_id") == F.col("iq"))
            & (F.col("neighbor_id") == F.col("inb")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("inb").cast("long").alias("n_overlap"))
        .select(
            "query_id",
            "n_overlap",
            F.round(F.col("n_overlap") / F.lit(5.0), 6).alias("recall5"),
        )
    )


@query(
    "embedding_norm_stats",
    oracle="""
    SELECT label, COUNT(*) AS n_vectors,
      CAST(SUM(CAST(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[]))) AS DECIMAL(18,6))) AS DOUBLE)
        / COUNT(*) AS avg_norm
    FROM embeddings GROUP BY label
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector stats; norms snapped to DECIMAL(18,6) before
    summation so the group aggregate is exact and order-independent."""
    emb = t(spark, sf_dir, "embeddings")
    return S.norm_stats_by_label(emb, "embedding", "label").select(
        "label", "n_vectors", "avg_norm"
    )


@query(
    "knn_lsh_hyperplane",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           TRUE AS recall_ok, TRUE AS no_self_matches, TRUE AS k_bounded
    FROM embeddings WHERE vec_id % 50 = 0
    """,
)
def knn_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane-LSH ANN, bounds-style oracle.

    The seeded-numpy hashing itself is not SQL-expressible, so the
    query emits its verifiable envelope instead of raw neighbors:
    ``n_queries`` (DuckDB re-derives the query-point count) plus
    booleans asserting (a) mean recall@5 vs the exact brute-force
    top-5 — itself oracle-gated as ``knn_bruteforce_cosine`` — is
    ≥ 0.2 (measured 0.30–0.42 across sf0.001/0.01/0.1; deterministic
    given the seed), (b) no query returned itself, (c) no query
    returned more than k rows. The oracle emits TRUE literals — the
    same bounds pattern as approx_quantile_price. Raw neighbor lists
    remain available via operators.similarity.lsh_multitable_topk
    and are recall-gated in pytest."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    lsh = S.lsh_multitable_topk(
        queries, emb, k=5, n_planes=6, n_tables=8, seed=42, dim=64
    )
    exact = S.brute_force_topk_vectorized(queries, emb, k=5)
    n_q = queries.agg(F.count(F.lit(1)).alias("n_queries"))
    # single evaluation of the LSH subtree: flag hits with a left join,
    # then one two-level aggregation produces every envelope stat
    flagged = lsh.join(
        exact.select("query_id", "neighbor_id").withColumn("_hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    stats = (
        flagged.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_per_q"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("hits_q"),
            F.max((F.col("neighbor_id") == F.col("query_id")).cast("int")).alias("s"),
        )
        .agg(
            F.sum("hits_q").alias("n_hits"),
            F.max("n_per_q").alias("max_per_q"),
            F.max("s").alias("any_self"),
        )
    )
    return (
        n_q.crossJoin(stats)
        .select(
            F.col("n_queries").cast("long").alias("n_queries"),
            (F.col("n_hits") >= 0.2 * 5 * F.col("n_queries")).alias("recall_ok"),
            (F.coalesce(F.col("any_self"), F.lit(0)) == 0).alias("no_self_matches"),
            (F.coalesce(F.col("max_per_q"), F.lit(0)) <= 5).alias("k_bounded"),
        )
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4) AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (sim ≥ 0.4 — chosen so the
    synthetic fixtures actually produce pairs at every SF; a vacuous
    0-row oracle match verifies nothing — exact
    all-pairs). At 100 TB the LSH/IVF candidate generators
    (knn_lsh_hyperplane / knn_ivf_cosine cells) prune the pair space
    first and this exact check verifies only candidates — the same
    generate→verify split as MinHash→Jaccard."""
    emb = t(spark, sf_dir, "embeddings")
    # norms hoisted scan-side (r12 optimization round): same IEEE
    # _norm fold, evaluated O(n) times instead of twice per pair —
    # bit-identical sim values, see similarity._cosine_prenorm.
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
    sim = S.cosine_from_prenorm(
        F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("_sim", sim)
        .filter(F.col("_sim") >= 0.4)
        .select("id_a", "id_b", F.round("_sim", 4).alias("sim"))
    )


# ---------------------------------------------------------------------------
# Multimodal tier (operators/multimodal.py): binary payload + typed
# metadata, Pandas-UDF decode plumbing. The fake-decode kernel is
# deterministic, so frame sampling (pure metadata arithmetic) gets a
# full oracle; byte-statistics features ride the mapInPandas path the
# real codecs would use → rows-only check, pytest-verified kernel.
# ---------------------------------------------------------------------------

@query(
    "media_frame_sample",
    oracle="""
    SELECT doc_id AS media_id, CAST(u.f AS INT) AS frame_idx
    FROM documents, UNNEST(range(0, (doc_id % 10 + 1), 2)) AS u(f)
    WHERE doc_id % 3 = 2
    """,
)
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling (every 2nd frame) over the fake media
    table: explode(sequence(...)) on metadata only — no payload
    decode, no Python; at scale this is the pre-filter that decides
    WHICH frames are worth sending to the (expensive) decode UDF."""
    from ..operators import multimodal as MM

    media = MM.fake_media_from_documents(t(spark, sf_dir, "documents"))
    return MM.sample_frames(media, every_k=2).select(
        "media_id", F.col("frame_idx").cast("int").alias("frame_idx")
    )


@query(
    "media_feature_stats",
    oracle="""
    WITH f AS (
      SELECT doc_id,
        CASE WHEN doc_id % 3 = 0 THEN 'image'
             WHEN doc_id % 3 = 1 THEN 'audio'
             ELSE 'video' END AS kind,
        strlen(text) AS n_bytes,
        COALESCE(list_aggregate(list_transform(
                   list_filter(string_split_regex(text, ''), c -> c != ''),
                   c -> unicode(c)), 'sum'), 0) AS byte_sum
      FROM documents
    )
    SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_media,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(SUM(byte_sum) AS DOUBLE) / greatest(SUM(n_bytes), 1)
             AS overall_mean_byte
    FROM f GROUP BY kind
    """,
)
def media_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-kind feature aggregates after the mapInPandas decode UDF
    (fake byte-stats kernel; schema/batching identical to a real
    codec). ORACLE-GATED: the corpus is pure ASCII, so DuckDB can
    recompute the kernel's byte statistics from codepoints
    (octet == codepoint), making the whole Arrow round-trip —
    encode → binary payload → numpy stats — cross-engine-verified.
    The per-kind mean rides EXACT integer byte sums (per-doc byte_sum
    recovered from the kernel's mean×n — the true value is integral
    and the double error is far below 0.5, so round() is exact) with
    one final IEEE division — order-independent, no quantization-tie
    risk (averaging per-doc double means hits decimal rounding-mode
    ties between engines; observed at sf0.1)."""
    from ..operators import multimodal as MM

    media = MM.fake_media_from_documents(t(spark, sf_dir, "documents"))
    feats = MM.extract_features(media, decode="fake")
    return feats.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        (
            F.sum(
                F.round(F.col("mean_byte") * F.col("n_bytes")).cast("long")
            ).cast("double")
            / F.greatest(F.sum("n_bytes"), F.lit(1))
        ).alias("overall_mean_byte"),
    )


@query(
    "dedup_survivors",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT id, COUNT(*) AS set_size FROM sh GROUP BY id),
    pairs AS (
      SELECT s1.id AS id_a, s2.id AS id_b, COUNT(*) AS inter
      FROM (SELECT sh.id, sh.shingle FROM sh
            JOIN (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 25) r
            USING (shingle)) s1
      JOIN (SELECT sh.id, sh.shingle FROM sh
            JOIN (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 25) r
            USING (shingle)) s2
        ON s1.shingle = s2.shingle AND s1.id < s2.id
      GROUP BY s1.id, s2.id
    ),
    near_drops AS (
      SELECT DISTINCT p.id_b AS doc_id
      FROM pairs p
      JOIN sizes sa ON sa.id = p.id_a
      JOIN sizes sb ON sb.id = p.id_b
      WHERE CAST(p.inter AS DOUBLE) / (sa.set_size + sb.set_size - p.inter) >= 0.5
    ),
    exact_drops AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical
        FROM documents
      ) WHERE doc_id <> canonical
    )
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM exact_drops)
      AND d.doc_id NOT IN (SELECT doc_id FROM near_drops)
    """,
)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup resolution: exact-duplicate groups drop
    non-canonical copies (keep min doc_id per content hash); near-dup
    pairs at Jaccard ≥ 0.5 drop the higher id of each pair (one-hop
    pair-pruning policy — deterministic, no transitive closure, so a
    chain A~B~C keeps A and C: documented behavior, not an accident).
    Survivors are everything not dropped — composed entirely from the
    generate→verify operators, two anti-joins, no new shuffles beyond
    the underlying candidates."""
    docs = fan_out(t(spark, sf_dir, "documents"))
    exact_drops = (
        D.exact_dedup_groups(docs, "doc_id", "text")
        .filter(F.col("n_copies") > 1)
        .join(
            docs.select("doc_id", F.md5("text").alias("content_md5")),
            "content_md5",
        )
        .filter(F.col("doc_id") != F.col("canonical_id"))
        .select("doc_id")
    )
    near_drops = (
        D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5,
                              max_shingle_df=25)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    return (
        docs.select("doc_id")
        .join(exact_drops, "doc_id", "left_anti")
        .join(near_drops, "doc_id", "left_anti")
    )


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    sizes AS (SELECT id, COUNT(*) AS set_size FROM sh GROUP BY id),
    pairs AS (
      SELECT s1.id AS id_a, s2.id AS id_b, COUNT(*) AS inter
      FROM (SELECT sh.id, sh.shingle FROM sh
            JOIN (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 25) r
            USING (shingle)) s1
      JOIN (SELECT sh.id, sh.shingle FROM sh
            JOIN (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 25) r
            USING (shingle)) s2
        ON s1.shingle = s2.shingle AND s1.id < s2.id
      GROUP BY s1.id, s2.id
    ),
    edges AS (
      SELECT p.id_a AS src, p.id_b AS dst
      FROM pairs p JOIN sizes sa ON sa.id = p.id_a JOIN sizes sb ON sb.id = p.id_b
      WHERE CAST(p.inter AS DOUBLE) / (sa.set_size + sb.set_size - p.inter) >= 0.2
    ),
    sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
    walk(id, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.dst, w.label FROM walk w JOIN sym s ON s.src = w.id
    )
    SELECT id AS doc_id, MIN(label) AS cluster_id
    FROM walk GROUP BY id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: connected components over the
    Jaccard >= 0.2 pair graph (the closure that one-hop pair-pruning
    in dedup_survivors deliberately skips). cluster_id = min doc_id of
    the component; singletons cluster with themselves.

    Cross-checked against a fundamentally different algorithm: Spark
    runs iterative min-label propagation, the DuckDB oracle runs a
    recursive-CTE reachability walk — agreement pins the closure
    semantics, not just the implementation."""
    docs = fan_out(t(spark, sf_dir, "documents"))
    pairs = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.2, max_shingle_df=25
    ).select("id_a", "id_b")
    nodes = docs.select("doc_id")
    return D.connected_components(
        nodes, pairs, id_col="doc_id", src_col="id_a", dst_col="id_b"
    ).select(F.col("id").alias("doc_id"), "cluster_id")


@query(
    "doc_vocab_topk",
    oracle=f"""
    WITH tk AS (
      SELECT u.tok FROM (SELECT {_TOKS} AS toks FROM documents) t,
                        UNNEST(t.toks) AS u(tok)
    )
    SELECT tok, COUNT(*) AS freq FROM tk
    GROUP BY tok
    ORDER BY freq DESC, tok
    LIMIT 100
    """,
)
def doc_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: corpus-wide token frequencies, top 100
    under a total order (freq desc, token asc). explode + one hash
    aggregate + TakeOrdered — the map-side partial counts mean the
    shuffle carries one row per distinct token per partition, not one
    per occurrence; at 100 TB this is the standard first pass of
    tokenizer/vocab training."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(TX.tokens_col("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("tok"))
        .limit(100)
    )


@query(
    "vocab_zipf_fit",
    oracle=f"""
    WITH tk AS (
      SELECT u.tok FROM (SELECT {{toks}} AS toks FROM documents) t,
                        UNNEST(t.toks) AS u(tok)
    ),
    f AS (SELECT tok, COUNT(*) AS freq FROM tk GROUP BY tok),
    r AS (
      SELECT freq,
             row_number() OVER (ORDER BY freq DESC, tok ASC) AS rank
      FROM f QUALIFY rank <= 200
    ),
    lg AS (
      SELECT CAST(log10(CAST(rank AS DOUBLE)) AS DECIMAL(15,10)) AS lx,
             CAST(log10(CAST(freq AS DOUBLE)) AS DECIMAL(15,10)) AS ly
      FROM r
    ),
    st AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(lx) AS DOUBLE) AS sx, CAST(SUM(ly) AS DOUBLE) AS sy,
             CAST(SUM(lx * lx) AS DOUBLE) AS sxx,
             CAST(SUM(ly * ly) AS DOUBLE) AS syy,
             CAST(SUM(lx * ly) AS DOUBLE) AS sxy
      FROM lg
    )
    SELECT CAST(n AS BIGINT) AS n_ranks,
      round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
      round(POWER(n * sxy - sx * sy, 2)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM st
    """.replace("{toks}", _TOKS),
)
def vocab_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit of the vocabulary: OLS slope of log10(freq)
    on log10(rank) over the top-200 tokens (natural text ≈ −1; a
    far-off slope flags synthetic, templated, or heavily-deduplicated
    corpora — a standard corpus-card diagnostic next to token entropy).

    Scale shape: ONE token-count aggregate (map-side combine) →
    TakeOrdered 200 under a total order (freq desc, tok asc) → the
    regression runs on 200 rows. Cross-engine determinism follows the
    bigram-LM pattern: each log10 snaps to DECIMAL(15,10) BEFORE the
    moment sums, so Σx/Σy/Σxx/Σyy/Σxy are exact decimal arithmetic in
    both engines and only the final closed-form division is IEEE."""
    docs = t(spark, sf_dir, "documents")
    f = (
        docs.select(F.explode(TX.tokens_col("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # TakeOrdered 200 first (distributed top-k), THEN the row_number
    # window runs over 200 rows — never a global sort of the vocab.
    top = f.orderBy(F.desc("freq"), F.asc("tok")).limit(200)
    r = (
        top.withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("freq"), F.asc("tok"))),
        )
        .select(
            F.log10(F.col("rank").cast("double"))
            .cast("decimal(15,10)")
            .alias("lx"),
            F.log10(F.col("freq").cast("double"))
            .cast("decimal(15,10)")
            .alias("ly"),
        )
    )
    st = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lx").cast("double").alias("sx"),
        F.sum("ly").cast("double").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).cast("double").alias("sxx"),
        F.sum(F.col("ly") * F.col("ly")).cast("double").alias("syy"),
        F.sum(F.col("lx") * F.col("ly")).cast("double").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return st.select(
        F.col("n").cast("long").alias("n_ranks"),
        F.round(num / dx, 6).alias("zipf_slope"),
        F.round(F.pow(num, F.lit(2)) / (dx * dy), 6).alias("r2"),
    )


def stratified_sample_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sampling primitive: keep 50% of 'en' docs and 10% of
    everything else (seeded ``sampleBy`` — the training-data
    rebalancing primitive). Runs entirely scan-side: no shuffle, each
    partition filters by a seeded hash. The stratum domain comes from
    the STATIC language inventory (``LANG_STOPWORDS`` + 'und') — no
    ``distinct().collect()`` driver round-trip, so building the plan
    costs zero Spark jobs at any scale."""
    docs = TX.with_lang_id(t(spark, sf_dir, "documents"), "text")
    langs = [*sorted(TX.LANG_STOPWORDS), "und"]
    fractions = {l: (0.5 if l == "en" else 0.1) for l in langs}
    return docs.sampleBy("lang_pred", fractions, seed=42).select(
        "doc_id", "lang_pred"
    )


# Seeded sampling is deterministic WITHIN Spark (hash-based Bernoulli
# per partition) but not reproducible in DuckDB, so the oracle is
# bounds-style: DuckDB verifies the exact per-stratum population
# counts, and Spark self-asserts the realized sample count within a
# 5σ binomial envelope (+1 absolute slack for tiny strata).
@query(
    "stratified_sample_documents",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             {_lang_count_sql('en')} AS sw_en,
             {_lang_count_sql('es')} AS sw_es,
             {_lang_count_sql('de')} AS sw_de,
             {_lang_count_sql('fr')} AS sw_fr
      FROM documents
    ),
    lang AS (
      SELECT doc_id,
        CASE WHEN greatest(sw_en, sw_es, sw_de, sw_fr) <= 0 THEN 'und'
             WHEN sw_en = greatest(sw_en, sw_es, sw_de, sw_fr) THEN 'en'
             WHEN sw_es = greatest(sw_en, sw_es, sw_de, sw_fr) THEN 'es'
             WHEN sw_de = greatest(sw_en, sw_es, sw_de, sw_fr) THEN 'de'
             ELSE 'fr' END AS lang_pred
      FROM scored
    )
    SELECT lang_pred, CAST(COUNT(*) AS BIGINT) AS n_total,
           TRUE AS sample_in_bounds
    FROM lang GROUP BY lang_pred
    """,
)
def stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounds-style oracle wrapper around :func:`stratified_sample_rows`:
    per stratum, the exact population count (DuckDB-verified) plus a
    boolean asserting |n_sampled − f·n| ≤ 5·sqrt(f·(1−f)·n) + 1 — the
    5σ binomial envelope for seeded Bernoulli sampling."""
    docs = TX.with_lang_id(t(spark, sf_dir, "documents"), "text")
    sampled = stratified_sample_rows(spark, sf_dir)
    frac = F.when(F.col("lang_pred") == "en", F.lit(0.5)).otherwise(F.lit(0.1))
    n_tot = docs.groupBy("lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    n_smp = sampled.groupBy("lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("_n_sampled")
    )
    return (
        n_tot.join(F.broadcast(n_smp), "lang_pred", "left")
        .withColumn("_n_sampled", F.coalesce("_n_sampled", F.lit(0)))
        .select(
            "lang_pred",
            "n_total",
            (
                F.abs(F.col("_n_sampled") - frac * F.col("n_total"))
                <= F.lit(5.0) * F.sqrt(frac * (F.lit(1.0) - frac) * F.col("n_total"))
                + F.lit(1.0)
            ).alias("sample_in_bounds"),
        )
    )


@query(
    "doc_repetition_stats",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS} AS tk FROM documents
    ),
    bg AS (
      SELECT doc_id, tk,
             CASE WHEN len(tk) >= 2
                  THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
             END AS bgl
      FROM tk
    ),
    st AS (
      SELECT doc_id,
        CAST(len(tk) AS INT) AS n_words,
        CASE WHEN len(tk) > 0
             THEN CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)
             ELSE 0.0 END AS distinct_word_frac,
        CASE WHEN len(tk) > 0
             THEN CAST(list_max(list_transform(list_distinct(tk),
                    w -> len(list_filter(tk, x -> x = w)))) AS DOUBLE) / len(tk)
             ELSE 0.0 END AS top_word_frac,
        CASE WHEN len(tk) >= 2
             THEN CAST(list_max(list_transform(list_distinct(bgl),
                    w -> len(list_filter(bgl, x -> x = w)))) AS DOUBLE) / (len(tk) - 1)
             ELSE 0.0 END AS top_bigram_frac
      FROM bg
    )
    SELECT doc_id, n_words, distinct_word_frac, top_word_frac, top_bigram_frac,
           (distinct_word_frac < 0.4 OR top_word_frac > 0.12) AS repetition_flagged
    FROM st
    """,
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter signals (duplicate-word ratio,
    mode word/bigram frequency) with a composite flag. Pure scan-side
    array expressions — zero shuffle (see
    operators/text.py:with_repetition_stats for the scale rationale).
    Quality-filtering analogue of the reference's accuracy checks
    (validation.py:47-57) applied to text instead of columns."""
    docs = t(spark, sf_dir, "documents")
    st = TX.with_repetition_stats(docs, "text")
    return st.select(
        "doc_id",
        "n_words",
        "distinct_word_frac",
        "top_word_frac",
        "top_bigram_frac",
        (
            (F.col("distinct_word_frac") < 0.4) | (F.col("top_word_frac") > 0.12)
        ).alias("repetition_flagged"),
    )


@query(
    "domain_quota_sample",
    oracle="""
    SELECT source, doc_id, CAST(rn AS INT) AS sample_rank
    FROM (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    WHERE rn <= 5
    """,
)
def domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota sampling: keep at most K=5 documents per
    source, selected in md5(doc_id) hash order — deterministic,
    seed-free, and engine-independent (unlike seeded Bernoulli
    sampling, the pick is a pure function of the data). One shuffle on
    source; rank truncation happens inside each partition, so the
    output is K·|domains| rows no matter the corpus size — the
    standard per-domain cap in web-crawl curation."""
    docs = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select(
            "source", "doc_id", F.row_number().over(w).alias("sample_rank")
        )
        .filter(F.col("sample_rank") <= 5)
    )


@query(
    "doc_length_band_filter",
    oracle="""
    WITH st AS (
      SELECT lang,
             quantile_cont(n_chars, 0.05) AS p05,
             quantile_cont(n_chars, 0.95) AS p95
      FROM documents GROUP BY lang
    )
    SELECT d.lang,
           COUNT(*) AS n_kept,
           MIN(d.n_chars) AS min_chars,
           MAX(d.n_chars) AS max_chars,
           CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars
    FROM documents d
    JOIN st ON st.lang = d.lang
    WHERE d.n_chars >= st.p05 AND d.n_chars <= st.p95
    GROUP BY d.lang
    """,
)
def doc_length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-percentile outlier filter: keep documents inside their
    language's [p05, p95] n_chars band (drop truncation stubs and
    concatenation monsters — the distribution-trimming step of corpus
    curation). Exact interpolated percentiles per language (small
    group cardinality → tiny aggregate), broadcast back onto the
    corpus scan, then a per-language profile of what survived. Two
    scans of documents, one broadcast, one 5-row shuffle."""
    docs = t(spark, sf_dir, "documents").select("lang", "n_chars")
    st = docs.groupBy(F.col("lang").alias("s_lang")).agg(
        F.expr("percentile(n_chars, 0.05)").alias("p05"),
        F.expr("percentile(n_chars, 0.95)").alias("p95"),
    )
    return (
        docs.join(F.broadcast(st), docs.lang == st.s_lang)
        .filter(F.col("n_chars").between(F.col("p05"), F.col("p95")))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


@query(
    "embedding_centroid_components",
    oracle="""
    SELECT e.label, CAST(r.i - 1 AS INT) AS dim,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(CAST(e.embedding[r.i] AS DOUBLE) AS DECIMAL(28,12)))
                AS DOUBLE) / COUNT(*), 6) AS mean_v
    FROM embeddings e, UNNEST(range(1, len(e.embedding) + 1)) AS r(i)
    GROUP BY e.label, r.i
    """,
)
def embedding_centroid_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column, long form
    (label, dim, mean component) — the k-means/IVF centroid-update
    step as one posexplode + grouped aggregate. Shuffle carries
    (labels × dims) partial sums, not vectors; the decimal-sum rule
    keeps the reduction order-independent (float addition is not
    associative — summing in decimal is how the mean stays identical
    across any partitioning / executor count; the 6-dp output rounding
    absorbs the one place the engines legitimately disagree — the
    tie-rounding rule of the double→decimal cast's last digit)."""
    e = t(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("dim", "v"))
    total = F.sum(F.col("v").cast("double").cast("decimal(28,12)")).cast("double")
    return ex.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(total / F.count(F.lit(1)), 6).alias("mean_v"),
    )


@query(
    "custkeys_f_exceptall_o",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def custkeys_f_exceptall_o(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset difference — keeps surplus multiplicity,
    unlike the distinct EXCEPT twin custkeys_f_except_o). Spark plans
    a single hash aggregate counting per-key multiplicities on both
    sides and replays max(left − right, 0) copies — one shuffle, no
    distinct."""
    orders = t(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.exceptAll(o)


@query(
    "doc_train_split",
    oracle="""
    SELECT doc_id,
      CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f0' THEN 'train'
           WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f8' THEN 'val'
           ELSE 'test' END AS split
    FROM documents
    """,
)
def doc_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by content-free stable hash
    of the document id — the standard way a training pipeline assigns
    splits so they survive re-runs, repartitioning, and incremental
    appends (no rand(), no order dependence). md5 hex digits are
    uniform and '0'-'9','a'-'f' are ASCII-ordered, so a lexicographic
    threshold on the first two digits carves exact 240/8/8-in-256
    (93.75%/3.125%/3.125%) buckets using a hash both engines define
    identically. Per-row expression only — no shuffle at any scale."""
    docs = t(spark, sf_dir, "documents")
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return docs.select(
        "doc_id",
        F.when(h2 < "f0", "train").when(h2 < "f8", "val")
         .otherwise("test").alias("split"),
    )


@query(
    "doc_decontaminate",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    ev AS (SELECT DISTINCT shingle FROM sh WHERE id % 97 = 0),
    tr AS (SELECT id, shingle FROM sh WHERE id % 97 <> 0),
    tot AS (SELECT id, COUNT(*) AS n_shingles FROM tr GROUP BY id),
    ov AS (SELECT tr.id, COUNT(*) AS n_shared
           FROM tr JOIN ev USING (shingle) GROUP BY tr.id)
    SELECT ov.id AS doc_id, ov.n_shared, tot.n_shingles,
           ROUND(CAST(ov.n_shared AS DOUBLE) / tot.n_shingles, 6)
             AS contamination_ratio
    FROM ov JOIN tot USING (id)
    """,
)
def doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per training document, how many of
    its distinct word-3-gram shingles also occur in a held-out eval
    set (here: doc_id % 97 == 0, standing in for the benchmark
    corpus). The eval shingle set is tiny relative to the corpus, so
    it broadcasts — the corpus side is never shuffled by shingle, and
    the only exchange is the per-doc count aggregate. This is the
    n-gram-overlap decontamination pass (a la GPT-3/PaLM dataset
    reports) expressed as a broadcast semi-structured join."""
    docs = t(spark, sf_dir, "documents")
    sh = D.shingles(docs, "doc_id", "text", 3, distinct=True)
    ev = (
        sh.filter(F.col("id") % 97 == 0).select("shingle").distinct()
    )
    tr = sh.filter(F.col("id") % 97 != 0)
    # r12 (optimization round): the total-shingle and shared-shingle
    # counts previously ran as TWO corpus shingle passes (tot, ov)
    # joined back on id. A broadcast LEFT join against the eval set
    # marks shared shingles in place, so ONE groupBy(id) yields both
    # counts; docs with zero overlap are filtered exactly as the
    # former inner join ov ⋈ tot dropped them. Integer counts —
    # results identical (oracle MATCH sf0.01/0.1); 3 corpus scans ->
    # 2 and the id-keyed join-back exchange is gone.
    hits = tr.join(
        F.broadcast(ev.withColumn("_ev", F.lit(1))), "shingle", "left"
    )
    return (
        hits.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_ev").alias("n_shared"),
        )
        .filter(F.col("n_shared") >= 1)
        .select(
            F.col("id").alias("doc_id"),
            "n_shared",
            "n_shingles",
            F.round(
                F.col("n_shared").cast("double") / F.col("n_shingles"), 6
            ).alias("contamination_ratio"),
        )
    )


@query(
    "doc_salient_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    ranked AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf DESC, dfq.df ASC, tf.term ASC) AS INT) AS rank
      FROM tf JOIN dfq USING (term)
    )
    SELECT doc_id, term, tf, df, rank FROM ranked WHERE rank <= 3
    """,
)
def doc_salient_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 salient terms per document — the TF-IDF keyword-extraction
    shape with a purely integer ordering (tf desc, then rarer-term df
    asc, then term) so the ranking is exactly portable across engines
    (no float idf in the sort key; idf is monotone in df, so df-asc IS
    the idf tiebreak). Two hash aggregates + a broadcast of the tiny
    term→df table + one per-doc window; the token explode is the only
    row fanout and it never shuffles raw text."""
    docs = t(spark, sf_dir, "documents")
    from ..operators.text import tokens_col

    toks = docs.select("doc_id", F.explode(tokens_col("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        tf.join(F.broadcast(dfq), "term")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "rank")
    )


@query(
    "user_event_sequences",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS seq
    FROM events
    GROUP BY user_id
    """,
)
def user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-sequence construction: per user, the full event-type
    history as one ordered string — the sequence-building step of a
    behavioral / session training-data pipeline. Order is the TOTAL
    order (ts, event_id): collect_list alone is partition-order-
    dependent, so the structs are array_sort-ed AFTER collection —
    one groupBy shuffle, deterministic under any partitioning, and no
    window (a window would add a second sort). At scale the state per
    user is the user's own history only, so this parallelizes by
    user_id with no global sort."""
    ev = t(spark, sf_dir, "events")
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: s["event_type"],
        ),
        ">",
    )
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), seq.alias("seq")
    )


@query(
    "doc_pack_sequential",
    oracle="""
    WITH c AS (
      SELECT doc_id, source, n_chars,
             SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
      FROM documents
    )
    SELECT doc_id, source, n_chars,
           CAST(floor((cum - n_chars) / 4096.0) AS BIGINT) AS pack_id,
           CAST(cum - n_chars
             - CAST(floor((cum - n_chars) / 4096.0) AS BIGINT) * 4096
             AS BIGINT) AS pack_offset
    FROM c
    """,
)
def doc_pack_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential example packing: assign each document to a fixed-size
    context-window pack (4096 chars here) by running size within its
    source shard — the deterministic streaming-concat approximation of
    bin packing that training pipelines actually use (greedy global
    bin packing is order-dependent and unparallelizable).

    Scale shape (r4): a PARTITION BY source window is still one task
    per source shard — a handful of corpus-scale sorts. Instead the
    GLOBAL prefix sum over the composite order (source, doc_id) runs
    through the range-partitioned ranking primitive (balanced at any
    source skew), and each source's local running size is recovered
    arithmetically: base(source) = min(global_cum − n_chars) over the
    source (the global cum just before its first row), local cum =
    global cum − base — exact integers, one tiny broadcast join. The
    projection to (doc_id, source, n_chars) happens BEFORE the
    primitive, so the underlying scan still never reads text."""
    from ..operators import ranking as R

    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    rdf, _n = R.ranked(
        docs,
        [F.asc("source"), F.asc("doc_id")],
        rn_col=None,
        cumsum_cols={"n_chars": "gcum"},
    )
    rdf = rdf.localCheckpoint(eager=False)  # feeds per-source base + output
    base = rdf.groupBy("source").agg(
        F.min(F.col("gcum") - F.col("n_chars")).alias("_base")
    )
    with_cum = rdf.join(F.broadcast(base), "source").withColumn(
        "cum", F.col("gcum") - F.col("_base")
    )
    start = F.col("cum") - F.col("n_chars")
    pack = F.floor(start / 4096.0)
    return with_cum.select(
        "doc_id",
        "source",
        "n_chars",
        pack.alias("pack_id"),
        (start - pack * 4096).alias("pack_offset"),
    )


@query(
    "source_mixture_weights",
    oracle="""
    WITH per_src AS (
      SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS total_chars
      FROM documents GROUP BY source
    )
    SELECT source, n_docs, CAST(total_chars AS BIGINT) AS total_chars,
           ROUND(CAST(total_chars AS DOUBLE)
                 / (SELECT SUM(total_chars) FROM per_src), 6) AS corpus_share,
           ROUND((1.0 / (SELECT COUNT(*) FROM per_src))
                 / (CAST(total_chars AS DOUBLE)
                    / (SELECT SUM(total_chars) FROM per_src)), 6)
             AS uniform_multiplier
    FROM per_src
    """,
)
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture weighting: each source's share of the corpus (by
    chars) and the resampling multiplier that would equalize sources —
    the mixture-rebalancing step of a pretraining pipeline. One
    groupBy(source) shuffle; the global totals are windows over the
    ALREADY-AGGREGATED per-source frame (a handful of rows), so the
    single-partition window costs nothing at any corpus size — the
    100 TB never flows through it."""
    docs = t(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    w = Window.partitionBy()
    share = F.col("total_chars").cast("double") / F.sum("total_chars").over(w)
    n_sources = F.count(F.lit(1)).over(w)
    return per_src.select(
        "source",
        "n_docs",
        "total_chars",
        F.round(share, 6).alias("corpus_share"),
        F.round((F.lit(1.0) / n_sources) / share, 6).alias("uniform_multiplier"),
    )


# The synthetic corpus contains no PII (verified: zero matches for all
# three patterns), and an all-zero oracle verifies nothing — so the
# query deterministically INJECTS synthetic PII from doc_id (same CASE
# in both engines) before scanning/redacting. The cross-engine value
# is real: it pins Java-regex (Spark) vs RE2 (DuckDB) parity for the
# extraction counts AND the global regexp_replace redaction.
_PII_INJECT = (
    "CASE WHEN doc_id % 7 = 0 THEN concat(text, ' contact user', "
    "CAST(doc_id AS STRING), '@example.com') "
    "WHEN doc_id % 7 = 1 THEN concat(text, ' call 555-867-', "
    "CAST(1000 + doc_id % 9000 AS STRING)) "
    "WHEN doc_id % 7 = 2 THEN concat(text, ' from 10.0.', "
    "CAST(doc_id % 256 AS STRING), '.1') "
    "ELSE text END"
)


@query(
    "doc_pii_redact",
    oracle=f"""
    WITH injected AS (
      SELECT doc_id,
        CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' ||
                  CAST(doc_id AS VARCHAR) || '@example.com'
             WHEN doc_id % 7 = 1 THEN text || ' call 555-867-' ||
                  CAST(1000 + doc_id % 9000 AS VARCHAR)
             WHEN doc_id % 7 = 2 THEN text || ' from 10.0.' ||
                  CAST(doc_id % 256 AS VARCHAR) || '.1'
             ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, '{TX.PII_PATTERNS["email"]}')) AS INT) AS n_email,
      CAST(len(regexp_extract_all(text, '{TX.PII_PATTERNS["phone"]}')) AS INT) AS n_phone,
      CAST(len(regexp_extract_all(text, '{TX.PII_PATTERNS["ipv4"]}')) AS INT) AS n_ipv4,
      (len(regexp_extract_all(text, '{TX.PII_PATTERNS["email"]}'))
       + len(regexp_extract_all(text, '{TX.PII_PATTERNS["phone"]}'))
       + len(regexp_extract_all(text, '{TX.PII_PATTERNS["ipv4"]}'))) > 0 AS pii_flagged,
      md5(regexp_replace(regexp_replace(regexp_replace(text,
            '{TX.PII_PATTERNS["email"]}', '<EMAIL>', 'g'),
            '{TX.PII_PATTERNS["phone"]}', '<PHONE>', 'g'),
            '{TX.PII_PATTERNS["ipv4"]}', '<IP>', 'g')) AS redacted_md5
    FROM injected
    """,
)
def doc_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII audit + redaction over the documents table: per-doc match
    counts for email/phone/IPv4, a flag, and the md5 of the globally
    redacted text. Entirely scan-side regexp Column expressions — zero
    shuffle, codegen'd; the shape survives any scale."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_PII_INJECT).alias("text")
    )
    out = TX.redact_pii(TX.with_pii_stats(docs))
    return out.select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_ipv4",
        "pii_flagged",
        F.md5(F.col("text_redacted")).alias("redacted_md5"),
    )


@query(
    "doc_chunk_tokens",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    starts AS (
      SELECT doc_id, tk, u.s,
             CAST((u.s - 1) // 48 AS INT) AS chunk_idx
      FROM tk, UNNEST(range(1, greatest(len(tk), 1) + 1, 48)) AS u(s)
      WHERE len(tk) > 0
    )
    SELECT doc_id, chunk_idx,
           CAST(len(list_slice(tk, s, least(s + 63, len(tk)))) AS INT)
             AS n_chunk_tokens,
           md5(array_to_string(list_slice(tk, s, least(s + 63, len(tk))), ' '))
             AS chunk_md5
    FROM starts
    """,
)
def doc_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking with overlap (chunk=64 tokens, stride
    48 → 16-token overlap) — the standard long-document splitter ahead
    of tokenization/packing. Pure array expressions + one posexplode:
    zero shuffle, chunk boundaries deterministic, so the same document
    chunks identically on any cluster. Emits per-chunk token count and
    an md5 chunk fingerprint (what a downstream exact-dedup of chunks
    would key on)."""
    chunk, stride = 64, 48
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", TX.tokens_col("text").alias("_tk")
    ).filter(F.size("_tk") > 0)
    chunks = F.expr(
        f"transform(sequence(1, size(_tk), {stride}), "
        f"s -> slice(_tk, s, {chunk}))"
    )
    return (
        docs.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "_chunk"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.size("_chunk").alias("n_chunk_tokens"),
            F.md5(F.concat_ws(" ", F.col("_chunk"))).alias("chunk_md5"),
        )
    )


@query(
    "doc_feature_hashing",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id,
             list_transform({_TOKS},
               t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 1024) AS bk
      FROM documents
    )
    SELECT doc_id,
           CAST(u.b AS BIGINT) AS bucket,
           CAST(len(list_filter(bk, x -> x = u.b)) AS INT) AS n
    FROM tk, UNNEST(list_distinct(bk)) AS u(b)
    """,
)
def doc_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (hashing-trick term counts): token → md5-derived
    bucket in [0, 1024), term frequency per (doc, bucket). Computed
    ENTIRELY per-row with array expressions — bucket list, distinct
    buckets, in-row occurrence counts — then one explode. ZERO
    shuffles: the classic explode+groupBy(doc,bucket) formulation
    shuffles one row per token occurrence; this emits one row per
    distinct bucket per doc with no exchange at all. md5 bucketing
    (not Spark's murmur3 ``hash``) keeps the oracle reproducible."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", TX.tokens_col("text").alias("_tk")
    )
    bk = (
        "transform(_tk, t -> CAST(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT) % 1024)"
    )
    pairs = (
        "transform(array_distinct(_bk), "
        "b -> struct(b AS bucket, size(filter(_bk, x -> x = b)) AS n))"
    )
    return (
        docs.withColumn("_bk", F.expr(bk))
        .select("doc_id", F.explode(F.expr(pairs)).alias("p"))
        .select("doc_id", F.col("p.bucket").alias("bucket"), F.col("p.n").alias("n"))
    )


@query(
    "training_corpus_pipeline",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, text,
             len({_TOKS}) AS n_tokens,
             {_lang_count_sql('en')} AS sw_en,
             {_lang_count_sql('es')} AS sw_es,
             {_lang_count_sql('de')} AS sw_de,
             {_lang_count_sql('fr')} AS sw_fr,
             CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
               / greatest(length(text), 1) AS punct_ratio,
             CASE WHEN len({_TOKS}) > 0
                  THEN CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE)
                       / len({_TOKS})
                  ELSE 0.0 END AS avg_token_len
      FROM documents
    ),
    lq AS (
      SELECT doc_id, text, n_tokens,
        CASE WHEN greatest(sw_en, sw_es, sw_de, sw_fr) <= 0 THEN 'und'
             WHEN sw_en = greatest(sw_en, sw_es, sw_de, sw_fr) THEN 'en'
             WHEN sw_es = greatest(sw_en, sw_es, sw_de, sw_fr) THEN 'es'
             WHEN sw_de = greatest(sw_en, sw_es, sw_de, sw_fr) THEN 'de'
             ELSE 'fr' END AS lang_pred,
        ROUND(
          least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.4
          + least(CASE WHEN n_tokens > 0
                       THEN CAST(sw_en AS DOUBLE) / n_tokens ELSE 0.0 END * 5.0, 1.0) * 0.3
          + (CASE WHEN punct_ratio < 0.1 THEN 1.0 ELSE 0.0 END) * 0.15
          + (CASE WHEN avg_token_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.15,
        6) AS quality_score
      FROM scored
    ),
    kept AS (
      SELECT doc_id, text, n_tokens, lang_pred, quality_score,
        CASE WHEN quality_score >= 0.7 THEN 'good'
             WHEN quality_score >= 0.4 THEN 'ok'
             ELSE 'bad' END AS quality_bucket
      FROM lq
      WHERE lang_pred = 'en'
    ),
    flt AS (SELECT * FROM kept WHERE quality_bucket <> 'bad'),
    surv AS (
      SELECT * FROM flt
      QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
    )
    SELECT doc_id, lang_pred, CAST(n_tokens AS INT) AS n_tokens,
           quality_score, quality_bucket,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f0' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f8' THEN 'val'
                ELSE 'test' END AS split
    FROM surv
    """,
)
def training_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus preparation as ONE declarative plan —
    the tier's operators COMPOSED the way a real pipeline runs them:
    language-ID → quality scoring → lang/quality filter → exact-dedup
    survivor selection → deterministic split assignment.

    Plan shape (three measured r8 levers, PERF.md): (1) the scan is
    ``fan_out`` so the lang-ID/quality regex CPU is not serialized by
    the single-row-group fixture (no-op on parallel input — the
    100 TB case); (2) the enriched rows are cut to SIX NARROW columns
    — the content digest is computed in the SAME projection, so the
    text payload dies at the scan — and pinned with a lazy
    localCheckpoint: without the pin, Catalyst substitutes the full
    lang/quality expression trees into the pushed-down filter and
    re-evaluates the regex work per predicate AND per output column
    (noop-write floor measured 2.1 → 0.36 s at sf0.1); (3) exact-dedup
    survivors come from a ``min_by(outputs-struct, doc_id)`` AGGREGATE
    on the digest — map-side partial combine collapses duplicates
    before the exchange, and only ~50-byte rows ever shuffle (the
    window form shuffled every full row). End-to-end collect-based
    A/B at sf0.1, min-of-3, both orders: original window pipeline
    2.28–2.55 s → this plan 0.88–1.03 s (~2.4×; PERF.md r8). The
    checkpoint stores score-width rows, never text, so the pin is
    ~50 B/doc at any scale."""
    from ..operators.partitioning import fan_out

    docs = fan_out(t(spark, sf_dir, "documents"))
    enriched = TX.with_quality_score(TX.with_lang_id(docs, "text"), "text")
    out_cols = [
        "doc_id",
        "lang_pred",
        "n_tokens",
        "quality_score",
        "quality_bucket",
    ]
    narrow = enriched.select(
        F.md5(F.col("text")).alias("_digest"), *out_cols
    ).localCheckpoint(eager=False)
    kept = narrow.filter(
        (F.col("lang_pred") == "en") & (F.col("quality_bucket") != "bad")
    )
    surv = (
        kept.groupBy("_digest")
        .agg(F.min_by(F.struct(*out_cols), F.col("doc_id")).alias("_s"))
        .select(*[F.col(f"_s.{c}").alias(c) for c in out_cols])
    )
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return surv.select(
        *out_cols,
        F.when(h2 < "f0", "train").when(h2 < "f8", "val")
        .otherwise("test").alias("split"),
    )


# 60-bit signature (15 hex chars of md5 per token): 15-bit bands give
# 32768 bucket values per band — near-singleton buckets at test scale,
# vs 256 values for 8-bit bands whose pair-explode grows quadratically.
_SIMHASH_CTE = """
    toks AS (
      SELECT DISTINCT doc_id AS id, u.tok
      FROM documents, UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS u(tok)
    ), hashed AS (
      SELECT id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks
    ), votes AS (
      SELECT id, j.j, SUM(((h >> j.j) & 1) * 2 - 1) AS vote
      FROM hashed, UNNEST(range(0, 60)) AS j(j)
      GROUP BY id, j.j
    ), sig AS (
      SELECT id, CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << j)
                               ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY id
    )
"""


@query(
    "dedup_simhash_candidates",
    oracle=f"""
    WITH {_SIMHASH_CTE},
    bands AS (
      SELECT id, simhash, b.b AS band, (simhash >> (b.b * 15)) & 32767 AS val
      FROM sig, UNNEST(range(0, 4)) AS b(b)
    ),
    pairs AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             bit_count(xor(a.simhash, b.simhash)) AS hamming
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.val = b.val AND a.id < b.id
    )
    SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
    FROM pairs WHERE hamming <= 3
    """,
)
def dedup_simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SimHash candidate pairs with exact hamming verification
    (guaranteed complete for hamming ≤ 3 by pigeonhole over 4 15-bit
    bands of the 60-bit signature; 32768 values/band keeps buckets
    near-singleton so the pair-explode stays linear)."""
    docs = fan_out(t(spark, sf_dir, "documents"))
    out = D.simhash_candidates(docs, "doc_id", "text", bits=60, bands=4, max_hamming=3)
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


@query(
    "kmeans_embedding_clusters",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           TRUE AS all_assigned, TRUE AS k_bounded, TRUE AS inertia_monotone
    FROM embeddings
    """,
)
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (k=8, 4 iterations) over the
    embeddings table, bounds-style oracle.

    The iteration is not SQL-expressible, so the query emits its
    verifiable envelope: ``n_vectors`` (DuckDB re-derives the corpus
    count) plus booleans asserting (a) every vector received exactly
    one cluster, (b) at most k clusters were used, (c) per-iteration
    inertia was non-increasing — the Lloyd's-convergence invariant,
    which holds deterministically here because centroid sums are
    snapped to DECIMAL(28,10) (accumulation-order independent, see
    operators/clustering.py). Init: k-means++ over a deterministic
    hash-ordered sample (seeded numpy — fully reproducible)."""
    from ..operators import clustering as C

    emb = t(spark, sf_dir, "embeddings")
    centroids, inertia = C.kmeans_fit(emb, k=8, iters=4)
    monotone = all(b <= a + 1e-9 for a, b in zip(inertia, inertia[1:]))
    assigned = C.kmeans_assign(emb, centroids)
    stats = assigned.agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.countDistinct("cluster").alias("k_used"),
    )
    total = emb.agg(F.count(F.lit(1)).alias("n_vectors"))
    return total.crossJoin(stats).select(
        F.col("n_vectors").cast("long").alias("n_vectors"),
        (F.col("n_assigned") == F.col("n_vectors")).alias("all_assigned"),
        (F.col("k_used") <= F.lit(8)).alias("k_bounded"),
        F.lit(bool(monotone)).alias("inertia_monotone"),
    )


@query(
    "kmeans_diversity_sample",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           TRUE AS quota_ok, TRUE AS coverage_ok, TRUE AS subset_ok
    FROM embeddings
    """,
)
def kmeans_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity sampling — the curation use k-means
    exists for: fit k=8 clusters, then keep ≤ 20 vectors per cluster
    (deterministic md5-order quota via the skew-safe two-phase top-K).

    Bounds-style oracle: ``n_vectors`` re-derived by DuckDB; booleans
    assert (a) no cluster exceeded its quota, (b) every cluster
    contributed exactly least(cluster_size, quota) rows — the sample
    covers all occupied clusters, (c) every sampled id exists in the
    corpus exactly once (inner-join count equality)."""
    from ..operators import clustering as C

    quota = 20
    emb = t(spark, sf_dir, "embeddings")
    centroids, _ = C.kmeans_fit(emb, k=8, iters=4)
    assigned = C.kmeans_assign(emb, centroids)
    sample = C.cluster_quota_sample(assigned, per_cluster=quota)
    sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_in_cluster"))
    per_cluster = (
        sample.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .join(sizes, "cluster")
        .agg(
            F.max("n_sampled").alias("max_sampled"),
            F.min(
                (
                    F.col("n_sampled")
                    == F.least(F.col("n_in_cluster"), F.lit(quota))
                ).cast("int")
            ).alias("all_covered"),
        )
    )
    matched = (
        sample.select("id")
        .join(emb.select(F.col("vec_id").alias("id")), "id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    n_sampled = sample.agg(F.count(F.lit(1)).alias("n_sampled_total"))
    total = emb.agg(F.count(F.lit(1)).alias("n_vectors"))
    return (
        total.crossJoin(per_cluster)
        .crossJoin(matched)
        .crossJoin(n_sampled)
        .select(
            F.col("n_vectors").cast("long").alias("n_vectors"),
            (F.col("max_sampled") <= F.lit(quota)).alias("quota_ok"),
            (F.col("all_covered") == 1).alias("coverage_ok"),
            (F.col("n_matched") == F.col("n_sampled_total")).alias("subset_ok"),
        )
    )


@query(
    "dedup_minhash_incremental",
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
    )
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    WHERE a.id % 10 = 0 OR b.id % 10 = 0
    """,
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LSH-index maintenance: documents with doc_id % 10
    == 0 play the daily delta, the rest the persisted base corpus.
    Only the delta is hashed fresh; delta-vs-base pairs come from an
    equi-join against the base band table (bucketable → zero base-side
    exchange in production), delta-vs-delta from the ordinary bucket
    pair-explode. The EXACT oracle recomputes full-corpus LSH in
    DuckDB and restricts to pairs touching the delta — proving
    incremental ≡ full recompute, not just plausible."""
    docs = fan_out(t(spark, sf_dir, "documents"))
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    base = docs.filter(F.col("doc_id") % 10 != 0)
    return D.minhash_incremental_candidates(
        delta, base, "doc_id", "text", num_hashes=8, rows_per_band=2, shingle_n=3
    )


@query(
    "doc_mixture_resample",
    oracle="""
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           TRUE AS p_valid, TRUE AS rate_ok
    FROM documents GROUP BY source
    """,
)
def doc_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted mixture resampling (τ = 0.5): target share
    ∝ share^τ flattens the source distribution; each source keeps
    docs deterministically where md5(doc_id)-fraction < p_source, with
    p = min(1, target_share / share) — downsample-only, no
    duplication. τ = 0.5 is computed via sqrt (IEEE correctly-rounded)
    — but cross-engine float thresholds can still flip borderline
    rows, so the oracle is bounds-style: per-source ``n_docs`` is
    re-derived exactly by DuckDB, and booleans assert p ∈ [0, 1] and
    that the realized keep-rate lands within ±0.08 of p (md5 hashing
    is uniform; the check is deterministic, the margin covers the
    binomial spread at the smallest per-source counts).

    Scale shape: one groupBy(source) for the stats; the per-source p
    table (a handful of rows) broadcasts back onto the corpus — the
    documents table itself never shuffles."""
    docs = t(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    w = Window.partitionBy()
    share = F.col("total_chars").cast("double") / F.sum("total_chars").over(w)
    tgt = F.sqrt(share) / F.sum(F.sqrt(share)).over(w)
    rates = per_src.select(
        "source", "n_docs", F.least(F.lit(1.0), tgt / share).alias("p_keep")
    )
    frac = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        / F.lit(4294967296.0)
    )
    kept = (
        docs.select("source", "doc_id")
        .join(F.broadcast(rates), "source")
        .groupBy("source")
        .agg(
            F.first("n_docs").alias("n_docs"),
            F.first("p_keep").alias("p_keep"),
            F.sum((frac < F.col("p_keep")).cast("long")).alias("n_kept"),
        )
    )
    realized = F.col("n_kept").cast("double") / F.col("n_docs")
    return kept.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        ((F.col("p_keep") >= 0.0) & (F.col("p_keep") <= 1.0)).alias("p_valid"),
        (F.abs(realized - F.col("p_keep")) <= 0.08).alias("rate_ok"),
    )


@query(
    "embedding_int8_quantize",
    oracle="""
    WITH q AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> abs(x))) / 127.0 AS scale
      FROM embeddings
    )
    SELECT vec_id AS id, scale,
           CAST(list_sum(list_transform(v, x -> CAST(floor(x / scale + 0.5)
                                                     AS BIGINT))) AS BIGINT)
             AS q_checksum,
           list_max(list_transform(v,
             x -> abs(CAST(floor(x / scale + 0.5) AS BIGINT) * scale - x)))
             <= scale * 0.5 + 1e-12 AS err_bounded,
           list_max(list_transform(v,
             x -> abs(CAST(floor(x / scale + 0.5) AS BIGINT)))) <= 127
             AS range_ok
    FROM q WHERE scale > 0
    """,
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embeddings table with an
    EXACT oracle: the integer code checksum and scale are value-hash
    compared (floor(x/scale + 0.5) is IEEE-exact in both engines —
    round() is not, its tie rule is engine-defined), and booleans pin
    the ≤ scale/2 reconstruction-error bound and the int8 code range.
    Zero-scale (all-zero) vectors are excluded on both sides."""
    emb = t(spark, sf_dir, "embeddings")
    out = S.int8_quantize(emb, "vec_id", "embedding")
    err = F.array_max(
        F.zip_with(
            F.col("q"),
            F.col("_v"),
            lambda qi, xi: F.abs(qi * F.col("scale") - xi),
        )
    )
    rng = F.array_max(F.transform(F.col("q"), lambda qi: F.abs(qi)))
    return (
        out.join(
            emb.select(
                F.col("vec_id").alias("id"),
                F.col("embedding").cast("array<double>").alias("_v"),
            ),
            "id",
        )
        .filter(F.col("scale") > 0)
        .select(
            "id",
            "scale",
            "q_checksum",
            (err <= F.col("scale") * 0.5 + 1e-12).alias("err_bounded"),
            (rng <= 127).alias("range_ok"),
        )
    )


@query(
    "knn_brp_euclidean",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           TRUE AS pairs_verified, TRUE AS has_pairs
    FROM embeddings WHERE vec_id % 50 = 0
    """,
)
def knn_brp_euclidean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib interop: BucketedRandomProjectionLSH (Euclidean) approx
    similarity join of the query subset against the corpus at distance
    threshold 1.2 (the observed p01–p05 band of the pair-distance
    distribution, so each query keeps a thin true-neighbor slice).

    Seeded and deterministic; the hash choice itself is not
    SQL-expressible, so the envelope is bounds-style: ``n_queries`` is
    re-derived by DuckDB; booleans assert every returned pair's exact
    distance (recomputed from the raw arrays with a sequential-fold
    sqrt-sum) both stays under the threshold and agrees with MLlib's
    reported distCol to 1e-9 — i.e. the approx join returns only true
    sub-threshold pairs — and that the join is non-degenerate (≥ 1
    pair at every SF)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("arr")
    ).withColumn("v", array_to_vector("arr"))
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    brp = BucketedRandomProjectionLSH(
        inputCol="v", outputCol="hashes", bucketLength=2.0,
        numHashTables=4, seed=42,
    )
    model = brp.fit(emb)
    joined = (
        model.approxSimilarityJoin(queries, emb, 1.2, distCol="dist")
        .filter(F.col("datasetA.vec_id") != F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.arr").alias("qa"),
            F.col("datasetB.arr").alias("ca"),
            "dist",
        )
    )
    exact = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("qa"), F.col("ca"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    stats = joined.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min(
            ((exact <= 1.2 + 1e-9) & (F.abs(exact - F.col("dist")) <= 1e-9)).cast(
                "int"
            )
        ).alias("all_ok"),
    )
    n_q = queries.agg(F.count(F.lit(1)).alias("n_queries"))
    return n_q.crossJoin(stats).select(
        F.col("n_queries").cast("long").alias("n_queries"),
        (F.coalesce(F.col("all_ok"), F.lit(1)) == 1).alias("pairs_verified"),
        (F.col("n_pairs") >= 1).alias("has_pairs"),
    )


@query(
    "orders_morton_code",
    oracle="""
    WITH s AS (
      SELECT o_orderkey,
             o_custkey & 65535 AS a,
             (epoch_us(o_orderdate) // 86400000000) & 65535 AS b
      FROM orders
    ),
    sp AS (
      SELECT o_orderkey, a, b,
        ((((((a | (a << 8)) & 16711935) | (((a | (a << 8)) & 16711935) << 4))
            & 252645135)
          | ((((((a | (a << 8)) & 16711935)
                | (((a | (a << 8)) & 16711935) << 4)) & 252645135) << 2))
         ) & 858993459) AS pa2,
        ((((((b | (b << 8)) & 16711935) | (((b | (b << 8)) & 16711935) << 4))
            & 252645135)
          | ((((((b | (b << 8)) & 16711935)
                | (((b | (b << 8)) & 16711935) << 4)) & 252645135) << 2))
         ) & 858993459) AS pb2
      FROM s
    )
    SELECT o_orderkey,
           CAST(((pa2 | (pa2 << 1)) & 1431655765)
                | (((pb2 | (pb2 << 1)) & 1431655765) << 1) AS BIGINT)
             AS morton
    FROM sp
    """,
)
def orders_morton_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) interleave over (custkey, orderdate-day) —
    the bit-spread primitive a Z-ordered write range-partitions and
    sorts by, so parquet zone-maps prune range predicates on EITHER
    column (the data-layout analogue of a composite index). Pure
    integer shift/mask expressions; the oracle re-derives the
    interleave bit-for-bit. NB such a write must min-max scale both
    columns to the bit domain first — raw interleave of unequal
    domains lets the wider column's high bits dominate the curve."""
    from ..operators.partitioning import morton_code

    o = t(spark, sf_dir, "orders")
    day = F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
    return o.select(
        "o_orderkey",
        morton_code(F.col("o_custkey"), day, bits=16).alias("morton"),
    )


@query(
    "corpus_summary_stats",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT)
             AS n_exact_dup_docs,
           CAST(SUM(CASE WHEN strlen(text) = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_empty,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY source
    """,
)
def corpus_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus data card: volume, language spread, exact-dup
    excess (docs beyond one per distinct content hash), empties, and
    length extremes — the at-a-glance table a curation run starts
    from. One groupBy(source) pass; the dup excess rides the same
    aggregate via count_distinct(md5), no second shuffle."""
    docs = t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text")))
        .cast("long")
        .alias("n_exact_dup_docs"),
        F.sum((F.length("text") == 0).cast("int")).cast("long").alias("n_empty"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


@query(
    "bpe_merge_table",
    oracle="""
    SELECT CAST(u.r AS INT) AS rank, TRUE AS pair_wellformed,
           TRUE AS count_positive, TRUE AS count_nonincreasing
    FROM UNNEST(range(1, 9)) AS u(r)
    """,
)
def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 BPE merges learned from the documents corpus
    (operators/bpe.py: one corpus pass builds the word-freq dict;
    every iteration runs on the dict). Bounds-style oracle: ranks are
    re-derived; booleans assert each merge pairs two non-empty
    symbols, carries a positive weighted count, and that counts are
    non-increasing in learned order (a BPE invariant: a merge only
    removes occurrences of existing pairs, and pairs created around
    the new symbol inherit at most its count). The exact merge
    sequence is pinned against an independent pure-Python reference
    BPE in pytest."""
    from ..operators import bpe as B

    docs = fan_out(t(spark, sf_dir, "documents"))
    merges, _ = B.bpe_train(B.word_freqs(docs), n_merges=8)
    prev = float("inf")
    rows = []
    for i, (left, right, cnt) in enumerate(merges, start=1):
        rows.append(
            (
                i,
                bool(left) and bool(right),
                cnt > 0,
                cnt <= prev,
            )
        )
        prev = cnt
    return spark.createDataFrame(
        rows,
        "rank int, pair_wellformed boolean, count_positive boolean, "
        "count_nonincreasing boolean",
    )


_BIGRAM_LM_ORACLE = """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
      FROM documents
    ),
    grams AS (
      SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
      FROM toks, UNNEST(range(1, len(tk))) AS u(i)
    ),
    unis AS (
      SELECT tk[i] AS w
      FROM toks, UNNEST(range(1, len(tk) + 1)) AS u(i)
    ),
    uc AS (SELECT w, COUNT(*) AS cu FROM unis GROUP BY w),
    bc AS (SELECT w1, w2, COUNT(*) AS cb FROM grams GROUP BY w1, w2),
    v AS (SELECT COUNT(*) AS v FROM uc)
    SELECT doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      CAST(SUM(CAST(ln(CAST(cb + 1 AS DOUBLE) / CAST(cu + v.v AS DOUBLE))
               AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS avg_logp
    FROM grams
    JOIN bc USING (w1, w2)
    JOIN uc ON grams.w1 = uc.w
    CROSS JOIN v
    GROUP BY doc_id
    """


@query("doc_bigram_lm_score", oracle=_BIGRAM_LM_ORACLE)
def doc_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-one-smoothed bigram LM trained on the corpus, scoring each
    document by mean bigram log-probability (the CCNet/KenLM-style
    quality-filter signal). See operators.text.bigram_lm_score for the
    scale + cross-engine-determinism design."""
    docs = fan_out(t(spark, sf_dir, "documents"))
    return TX.bigram_lm_score(docs)


@query(
    "dedup_levenshtein_pairs",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, lang, source, length(text) // 64 AS band
      FROM documents
    )
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
      CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev_dist
    FROM d a
    JOIN d b
      ON a.lang = b.lang AND a.source = b.source AND a.band = b.band
     AND a.doc_id < b.doc_id
    WHERE levenshtein(a.text, b.text)
          <= greatest(length(a.text), length(b.text)) * 10 / 100
    """,
)
def dedup_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance fuzzy pairs (record-linkage blocking:
    same lang/source/length-band, Levenshtein <= 10% of the longer
    text). See operators.dedup.blocked_levenshtein_pairs."""
    docs = fan_out(t(spark, sf_dir, "documents"))
    return D.blocked_levenshtein_pairs(docs)


@query(
    "dedup_damerau_pairs",
    oracle="""
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(damerau_levenshtein(a.c_name, b.c_name) AS BIGINT) AS dl_dist
    FROM customer a
    JOIN customer b ON a.c_nationkey = b.c_nationkey
    WHERE a.c_custkey % 25 = 5 AND b.c_custkey % 25 = 18
      AND damerau_levenshtein(a.c_name, b.c_name) <= 3
    """,
)
def dedup_damerau_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transposition-aware (FULL Damerau-Levenshtein) fuzzy customer-
    name pairs under nation blocking — typo-shaped linkage where a
    swapped adjacent character pair costs one edit. Kernel semantics
    pinned to DuckDB's damerau_levenshtein (Lowrance-Wagner, not OSA:
    dl('ca','abc')=2) by a 20k-pair fuzz test, making the exact
    value-hash oracle possible. See
    operators.dedup.blocked_damerau_pairs."""
    cust = t(spark, sf_dir, "customer")
    return D.blocked_damerau_pairs(
        cust.filter(F.col("c_custkey") % 25 == 5),
        cust.filter(F.col("c_custkey") % 25 == 18),
        text_col="c_name",
        id_col="c_custkey",
        block_cols=("c_nationkey",),
        max_dist=3,
    )


@query(
    "dedup_jaro_winkler_pairs",
    oracle="""
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           round(jaro_winkler_similarity(a.c_name, b.c_name), 6) AS jw_sim
    FROM customer a
    JOIN customer b ON a.c_nationkey = b.c_nationkey
    WHERE a.c_custkey % 25 = 0 AND b.c_custkey % 25 = 13
      AND jaro_winkler_similarity(a.c_name, b.c_name) >= 0.9
    """,
)
def dedup_jaro_winkler_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro-Winkler record-linkage scoring over blocked customer-name
    pairs (nation blocking; two hash-carved probe sets stand in for the
    dirty/clean sides of a linkage job). Spark lacks a jaro builtin, so
    the scorer is the Arrow pandas_udf kernel in
    operators.dedup.blocked_jaro_winkler_pairs — fuzz-pinned
    bit-for-bit against DuckDB's jaro_winkler_similarity (35k random
    pairs in pytest), which is what lets this lossy-looking similarity
    carry an EXACT value-hash oracle."""
    cust = t(spark, sf_dir, "customer")
    return D.blocked_jaro_winkler_pairs(
        cust.filter(F.col("c_custkey") % 25 == 0),
        cust.filter(F.col("c_custkey") % 25 == 13),
        text_col="c_name",
        id_col="c_custkey",
        block_cols=("c_nationkey",),
        min_sim=0.9,
    )


@query(
    "events_debounce",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
        lag(epoch_us(ts)) OVER (
          PARTITION BY user_id, event_type
          ORDER BY epoch_us(ts), event_id
        ) AS prev_us
      FROM events
    )
    SELECT event_id, user_id, event_type, ts_us
    FROM e
    WHERE prev_us IS NULL OR ts_us - prev_us >= 300 * 1000000
    """,
)
def events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce the event stream: drop events of the same (user, type)
    arriving within 5 minutes of the previous raw event — see
    operators.windows.debounce_events for the raw-lag-vs-kept-lag
    semantics note."""
    from ..operators.windows import debounce_events

    return debounce_events(t(spark, sf_dir, "events"))


@query(
    "events_debounce_kept",
    oracle="""
    WITH RECURSIVE seq AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
        row_number() OVER (
          PARTITION BY user_id, event_type
          ORDER BY epoch_us(ts), event_id
        ) AS rn
      FROM events
    ),
    walk AS (
      SELECT event_id, user_id, event_type, ts_us, rn,
             ts_us AS last_kept, TRUE AS kept
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.event_id, s.user_id, s.event_type, s.ts_us, s.rn,
        CASE WHEN s.ts_us - w.last_kept >= 300 * 1000000
             THEN s.ts_us ELSE w.last_kept END,
        s.ts_us - w.last_kept >= 300 * 1000000
      FROM seq s
      JOIN walk w
        ON s.user_id = w.user_id AND s.event_type = w.event_type
       AND s.rn = w.rn + 1
    )
    SELECT event_id, user_id, event_type, ts_us FROM walk WHERE kept
    """,
)
def events_debounce_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential (kept-lag) debounce — the per-key state machine form;
    the oracle must walk each key's events with a recursive CTE because
    no window-function composition expresses it. See
    operators.windows.debounce_events_kept."""
    from ..operators.windows import debounce_events_kept

    return debounce_events_kept(t(spark, sf_dir, "events"))


@query(
    "orders_merge_upsert",
    oracle="""
    WITH upd0 AS (
      SELECT * REPLACE ('U' AS o_orderstatus,
                        o_totalprice * 2 AS o_totalprice)
      FROM orders WHERE o_orderkey % 97 = 0
    ),
    upd AS (
      SELECT * FROM upd0
      UNION ALL
      SELECT * REPLACE (o_orderkey + 900000000 AS o_orderkey) FROM upd0
    ),
    merged AS (
      SELECT * FROM upd
      UNION ALL
      SELECT * FROM orders
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
    )
    SELECT o_orderstatus,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM merged GROUP BY o_orderstatus
    """,
)
def orders_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO / CDC-apply semantics end-to-end: a deterministic
    delta derived from orders (keys ≡ 0 mod 97 get status 'U' and a
    doubled price; the same rows shifted to key+9e8 are inserts),
    applied with operators.dedup.merge_upsert (tag-union + one-shuffle
    keyed survivor, updates win), then summarized per status so the
    oracle checks update/insert/untouched rows all landed. The oracle
    replays the merge relationally (delta ∪ base-minus-delta-keys)."""
    o = t(spark, sf_dir, "orders")
    # price bump is *2, not *1.1: doubling a 2-decimal double is EXACT
    # in binary, so the later DECIMAL(18,2) cast can't hit a .xx5
    # boundary where the engines' double->decimal rounding rules differ
    # (Spark rounds the shortest decimal repr HALF_UP via
    # BigDecimal.valueOf; DuckDB rounds the exact binary value)
    mod = o.filter(F.col("o_orderkey") % 97 == 0).withColumns(
        {
            "o_orderstatus": F.lit("U"),
            "o_totalprice": F.col("o_totalprice") * 2,
        }
    )
    ins = mod.withColumn("o_orderkey", F.col("o_orderkey") + 900000000)
    updates = mod.unionByName(ins)
    merged = D.merge_upsert(o, updates, ["o_orderkey"])
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


@query(
    "media_audio_stats",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS media_id,
      CAST(1000 + doc_id % 500 AS BIGINT) AS n_frames,
      CAST(1000 + doc_id % 500 AS DOUBLE) / 16000 AS duration_sec,
      TRUE AS rms_in_envelope
    FROM documents WHERE doc_id % 3 = 1
    """,
)
def media_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL audio decode under the driver gate: synthesize a
    deterministic 440 Hz/16 kHz PCM WAV payload per 'audio' doc
    (length 1000 + doc_id mod 500 frames) in one Arrow kernel, run it
    through the real wave-module decode path
    (multimodal.extract_features decode="real"), and emit what the
    oracle can re-derive arithmetically — frame count and duration
    recovered FROM THE DECODED BYTES — plus an envelope boolean
    asserting the decoded RMS is within 2% of amplitude/√2 (the sine
    RMS identity; a corrupted encode/decode cannot pass it). This is
    the bounds-oracle pattern used for every engine-specific kernel."""
    import math

    from ..operators import multimodal as MM

    def gen(batches):
        import numpy as np
        import pandas as pd

        from ..operators.codecs import encode_wav

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                n = int(1000 + did % 500)
                ts = np.arange(n)
                s = (8000 * np.sin(2 * np.pi * 440 * ts / 16000)).astype(
                    np.int16
                )
                payloads.append(encode_wav(16000, s))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": ["audio"] * len(pdf),
                    "payload": payloads,
                }
            )

    docs = fan_out(
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 1)
        .select("doc_id")
    )
    media = docs.mapInPandas(gen, schema="media_id long, kind string, payload binary")
    feats = MM.extract_features(media, decode="real")
    target_rms = 8000 / math.sqrt(2)
    return feats.select(
        "media_id",
        F.element_at("feature", 2).cast("long").alias("n_frames"),
        F.element_at("feature", 3).alias("duration_sec"),
        (
            F.abs(F.element_at("feature", 4) - F.lit(target_rms))
            <= F.lit(0.02 * target_rms)
        ).alias("rms_in_envelope"),
    )


@query(
    "media_image_stats",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS media_id,
      CAST(8 + doc_id % 8 AS DOUBLE) AS width,
      CAST(4 + doc_id % 4 AS DOUBLE) AS height,
      CAST(7 + doc_id % 8 AS DOUBLE) / 2 AS mean_r,
      CAST(3 + doc_id % 4 AS DOUBLE) / 2 AS mean_g,
      CAST((8 + doc_id % 8) + (4 + doc_id % 4) - 2 AS DOUBLE) / 2 AS mean_b,
      CAST((8 + doc_id % 8) + (4 + doc_id % 4) - 2 AS DOUBLE) / 3 AS mean_byte
    FROM documents WHERE doc_id % 3 = 0
    """,
)
def media_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL PNG decode under the driver gate (r3: the PNG
    codec is pure stdlib zlib + the five scanline filters,
    operators/codecs.py:decode_png): synthesize a deterministic RGB
    gradient PNG per 'image' doc (R=x, G=y, B=x+y at w=8+id%8,
    h=4+id%4 — every channel mean is closed-form: mean_r=(w-1)/2,
    mean_g=(h-1)/2, mean_b=(w+h-2)/2, mean_byte=(w+h-2)/3, all exact
    or correctly-rounded identically in both engines since numerator/
    denominator are exact integers), push it through the Arrow
    mapInPandas encode → real decode_png → pixel-stats pipeline, and
    let DuckDB re-derive every output arithmetically. A corrupted
    inflate, filter pass, or channel order cannot match."""
    from ..operators import multimodal as MM

    def gen(batches):
        import numpy as np
        import pandas as pd

        from ..operators.codecs import encode_png

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                w, h = int(8 + did % 8), int(4 + did % 4)
                x = np.arange(w, dtype=np.uint8)[None, :].repeat(h, 0)
                y = np.arange(h, dtype=np.uint8)[:, None].repeat(w, 1)
                img = np.stack([x, y, x + y], axis=-1)  # x+y ≤ 28, no wrap
                payloads.append(encode_png(img))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": ["image"] * len(pdf),
                    "payload": payloads,
                }
            )

    docs = fan_out(
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 0)
        .select("doc_id")
    )
    media = docs.mapInPandas(gen, schema="media_id long, kind string, payload binary")
    feats = MM.extract_features(media, decode="real")
    return feats.select(
        "media_id",
        F.element_at("feature", 1).alias("width"),
        F.element_at("feature", 2).alias("height"),
        F.element_at("feature", 3).alias("mean_r"),
        F.element_at("feature", 4).alias("mean_g"),
        F.element_at("feature", 5).alias("mean_b"),
        "mean_byte",
    )


@query(
    "media_jpeg_stats",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS media_id,
      CAST(8 + doc_id % 9 AS DOUBLE) AS width,
      CAST(4 + doc_id % 5 AS DOUBLE) AS height,
      CAST(80 + 2 * (doc_id % 49) AS DOUBLE) AS mean_r,
      CAST(80 + 2 * (doc_id % 49) AS DOUBLE) AS mean_g,
      CAST(80 + 2 * (doc_id % 49) AS DOUBLE) AS mean_b,
      CAST(80 + 2 * (doc_id % 49) AS DOUBLE) AS mean_byte
    FROM documents WHERE doc_id % 3 = 2
    """,
)
def media_jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL baseline-JPEG decode under the driver gate (r3:
    pure-numpy DCT + Annex K Huffman coder, operators/codecs.py:
    encode_jpeg/decode_jpeg — the boundary the r2 verdict listed as the
    last multimodal stub). JPEG is lossy, so the fixture exploits the
    one shape the pipeline preserves exactly: a FLAT grayscale image
    whose level-shifted DC coefficient 8·(v−128) is a multiple of the
    DC quantization step (16 at quality 50 ⟺ v−128 even). Every 8×8
    block then quantizes to a lone DC value that dequantizes and
    inverse-DCTs back to exactly v, pad+crop included — so DuckDB can
    re-derive width/height/all channel means arithmetically, and any
    defect in segment framing, Huffman tables, byte (un)stuffing,
    dequantization, or the IDCT breaks the hash. Sizes 8+id%9 ×
    4+id%5 exercise non-multiple-of-8 crops; v = 80 + 2·(id%49) spans
    even offsets on both sides of 128 (negative and positive DC,
    multi-block DC differentials included)."""
    from ..operators import multimodal as MM

    def gen(batches):
        import numpy as np
        import pandas as pd

        from ..operators.codecs import encode_jpeg

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                w, h = int(8 + did % 9), int(4 + did % 5)
                v = int(80 + 2 * (did % 49))
                payloads.append(
                    encode_jpeg(np.full((h, w), v, dtype=np.uint8), quality=50)
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": ["image"] * len(pdf),
                    "payload": payloads,
                }
            )

    docs = fan_out(
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 2)
        .select("doc_id")
    )
    media = docs.mapInPandas(gen, schema="media_id long, kind string, payload binary")
    feats = MM.extract_features(media, decode="real")
    return feats.select(
        "media_id",
        F.element_at("feature", 1).alias("width"),
        F.element_at("feature", 2).alias("height"),
        F.element_at("feature", 3).alias("mean_r"),
        F.element_at("feature", 4).alias("mean_g"),
        F.element_at("feature", 5).alias("mean_b"),
        "mean_byte",
    )


@query(
    "source_overlap_matrix",
    oracle=f"""
    WITH {_SHINGLES_CTE.replace("doc_id", "source")},
    sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id)
    SELECT a.id AS source_a, b.id AS source_b,
      CAST(COUNT(*) AS BIGINT) AS n_shared,
      round(CAST(COUNT(*) AS DOUBLE) / (sa.n + sb.n - COUNT(*)), 6) AS jaccard
    FROM sh a
    JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
    JOIN sizes sa ON sa.id = a.id
    JOIN sizes sb ON sb.id = b.id
    GROUP BY a.id, b.id, sa.n, sb.n
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source shingle-overlap matrix: Jaccard similarity between
    every pair of corpus sources — the corpus-card companion to
    document dedup ("which sources mirror each other"), the signal that
    drives source-level dedup priority and mixture down-weighting.

    Same one-shuffle shape as ngram_jaccard_pairs but keyed by SOURCE:
    distinct (source, shingle) rows, one groupBy(shingle) with a
    sorted pair-explode, then a size join. Per-shingle fanout is
    bounded by C(n_sources, 2) — sources number in the tens at any
    corpus scale, so this stays linear where a document-level matrix
    would be quadratic."""
    docs = fan_out(t(spark, sf_dir, "documents"))
    # r9 A/B: REJECTED the shingle_sets feed here. Per-SOURCE set
    # semantics need the cross-document distinct regardless, the two
    # consumers (sizes, pair counts) already share that distinct
    # EXCHANGE via ReusedExchange (one scan, one shuffle), and both
    # measured alternatives lost: per-doc array_distinct feeding the
    # distinct (explode-over-computed-array filter-inference tax,
    # 1.65 -> 4.97 s at sf0.1) and checkpoint-pinning the distinct
    # output (row-serialized materialization replacing the reused
    # exchange, ~3x). The pin-narrow lesson pays only when there is
    # no common exchange to reuse (ngram_jaccard_pairs,
    # prefix_filter_jaccard_pairs).
    sh = D.shingles(docs, id_col="source", text_col="text")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    shared = (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.explode(D.sorted_pairs("ids")).alias("p"))
        .groupBy(F.col("p.id_a").alias("source_a"), F.col("p.id_b").alias("source_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        shared.join(
            sizes.select(F.col("id").alias("source_a"), F.col("n").alias("na")),
            "source_a",
        )
        .join(
            sizes.select(F.col("id").alias("source_b"), F.col("n").alias("nb")),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


@query(
    "doc_weighted_sample",
    oracle="""
    WITH k AS (
      SELECT doc_id, n_chars,
        pow(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                 AS BIGINT) / 1152921504606846976.0,
            1.0 / n_chars) AS key
      FROM documents
    )
    SELECT doc_id, n_chars, round(key, 9) AS sample_key
    FROM k ORDER BY key DESC, doc_id LIMIT 50
    """,
)
def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis-Spirakis A-Res): each doc draws u from its md5-derived
    60-bit fingerprint (uniform in (0,1), reproducible across engines
    and re-runs — the same derandomization as doc_train_split) and is
    ranked by u^(1/w) with weight w = n_chars; the top-50 keys ARE a
    weighted sample without replacement. This is THE distributed
    weighted-sampling recipe: keys are computed scan-side with zero
    shuffle and the top-k compiles to TakeOrderedAndProject (per-
    partition heaps + driver merge), never a global sort — at 100 TB
    the cost is one scan, the same shape as top_customers_by_spend.

    Quality-weighted corpus downsampling drops in by swapping w for a
    quality score (doc_quality_score)."""
    docs = t(spark, sf_dir, "documents")
    fp = F.expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"
    )
    key = F.pow(fp / F.lit(1152921504606846976.0), 1.0 / F.col("n_chars"))
    return (
        docs.select("doc_id", "n_chars", key.alias("_key"))
        .orderBy(F.col("_key").desc(), "doc_id")
        .limit(50)
        .select("doc_id", "n_chars", F.round("_key", 9).alias("sample_key"))
    )


# ---------------------------------------------------------------------------
# r3 additions: exact heavy hitters (mergeable Misra-Gries candidates →
# exact verify) and winnowing substring-level fingerprint pairs.
# ---------------------------------------------------------------------------

@query(
    "token_heavy_hitters",
    oracle="""
    WITH occ AS (
      SELECT u.tok FROM documents,
        UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS u(tok)
    )
    SELECT tok AS item, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM occ GROUP BY tok
    HAVING COUNT(*) * 30 > (SELECT COUNT(*) FROM occ)
    """,
)
def token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT frequent tokens (count > n/30) without ever shuffling the
    long tail: per-partition mergeable Misra-Gries summaries nominate
    candidates (provably a superset of every true heavy hitter —
    operators/frequent.py has the pigeonhole argument), then one
    candidate-only exact count verifies. The oracle is the plain
    GROUP BY + HAVING ground truth, so the sketch can only ever
    over-generate, never change the answer. The final scalar-total
    threshold is a 1-row-build BNLJ (allowlisted scalar shape)."""
    from ..operators import frequent as FQ

    docs = fan_out(t(spark, sf_dir, "documents"))
    occ = docs.select(F.explode(TX.tokens_col("text")).alias("tok"))
    return FQ.heavy_hitters(occ, "tok", k=30)


@query(
    "dedup_winnow_pairs",
    oracle="""
    WITH toks AS (SELECT doc_id AS id,
                         regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
                  FROM documents),
    grams AS (
      SELECT id, i,
        CAST(('0x' || substr(md5(array_to_string(tk[i:i+3], ' ')), 1, 15))
             AS BIGINT) AS h,
        len(tk) - 3 AS n_grams
      FROM toks, UNNEST(range(1, len(tk) - 2)) AS u(i)
      WHERE len(tk) >= 7
    ),
    wins AS (
      SELECT id, i, n_grams,
        MIN(h) OVER (PARTITION BY id ORDER BY i
                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM grams
    ),
    fps AS (SELECT DISTINCT id, fp FROM wins WHERE i <= n_grams - 3),
    rare AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 25)
    SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM (SELECT f.* FROM fps f JOIN rare USING (fp)) a
    JOIN (SELECT f.* FROM fps f JOIN rare USING (fp)) b
      ON a.fp = b.fp AND a.id < b.id
    GROUP BY 1, 2 HAVING COUNT(*) >= 3
    """,
)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level near-dup pairs via winnowing fingerprints
    (Schleimer et al. SIGMOD'03): documents sharing ≥3 window-min
    k-gram hashes. Catches COPIED PASSAGES between otherwise-different
    documents — the failure mode whole-document MinHash/SimHash
    resemblance misses. Fingerprints are md5-parity bigints so the
    oracle reproduces them bit-for-bit; the pair stage reuses the
    DF-capped groupBy+pair-explode shape (never an all-pairs join)."""
    docs = fan_out(t(spark, sf_dir, "documents"))
    return D.winnow_pairs(docs, "doc_id", "text", k=4, w=4, min_shared=3, max_df=25)


@query(
    "knn_ivf_kmeans",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           TRUE AS recall_ok, TRUE AS no_self_matches, TRUE AS k_bounded
    FROM embeddings WHERE vec_id % 50 = 0
    """,
)
def knn_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-quantizer IVF ANN (FAISS-IVFFlat shape), bounds-style
    oracle — same envelope pattern as knn_lsh_hyperplane: the k-means
    fit is not SQL-expressible, so the query emits n_queries plus
    booleans asserting (a) recall@5 vs the exact brute-force top-5
    ≥ 0.15 at nprobe=2 of 16 cells (measured 0.28 on the isotropic
    sf embeddings; the threshold leaves 2x margin and already beats
    the 0.125 probed-fraction baseline), (b) no self-matches, (c) ≤ k
    rows per query. Deterministic given the seeded fit. Raw neighbor
    lists via operators.similarity.ivf_kmeans_topk; recall monotonicity
    in nprobe and cell balance are pytest-gated."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    approx = S.ivf_kmeans_topk(queries, emb, k=5, n_cells=16, nprobe=2)
    exact = S.brute_force_topk_vectorized(queries, emb, k=5)
    n_q = queries.agg(F.count(F.lit(1)).alias("n_queries"))
    flagged = approx.join(
        exact.select("query_id", "neighbor_id").withColumn("_hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    stats = (
        flagged.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_per_q"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("hits_q"),
            F.max((F.col("neighbor_id") == F.col("query_id")).cast("int")).alias("s"),
        )
        .agg(
            F.sum("hits_q").alias("n_hits"),
            F.max("n_per_q").alias("max_per_q"),
            F.max("s").alias("any_self"),
        )
    )
    return (
        n_q.crossJoin(stats)
        .select(
            F.col("n_queries").cast("long").alias("n_queries"),
            (F.col("n_hits") >= 0.15 * 5 * F.col("n_queries")).alias("recall_ok"),
            (F.coalesce(F.col("any_self"), F.lit(0)) == 0).alias("no_self_matches"),
            (F.coalesce(F.col("max_per_q"), F.lit(0)) <= 5).alias("k_bounded"),
        )
    )


@query(
    "graph_pagerank_suppliers",
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT o.o_custkey AS a, l.l_suppkey + 1000000 AS b
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (SELECT a AS src, b AS dst FROM e0
              UNION ALL SELECT b AS src, a AS dst FROM e0),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM deg),
    r0 AS (SELECT src, 1.0 / nn AS rank FROM deg, n),
    i1 AS (
      SELECT e.dst AS src,
        0.15 / (SELECT nn FROM n)
          + 0.85 * CAST(SUM(CAST(r.rank / d.outdeg AS DECIMAL(28,15)))
                        AS DOUBLE) AS rank
      FROM edges e
      JOIN deg d ON d.src = e.src
      JOIN r0 r ON r.src = e.src
      GROUP BY e.dst
    ),
    i2 AS (
      SELECT e.dst AS src,
        0.15 / (SELECT nn FROM n)
          + 0.85 * CAST(SUM(CAST(r.rank / d.outdeg AS DECIMAL(28,15)))
                        AS DOUBLE) AS rank
      FROM edges e
      JOIN deg d ON d.src = e.src
      JOIN i1 r ON r.src = e.src
      GROUP BY e.dst
    ),
    i3 AS (
      SELECT e.dst AS src,
        0.15 / (SELECT nn FROM n)
          + 0.85 * CAST(SUM(CAST(r.rank / d.outdeg AS DECIMAL(28,15)))
                        AS DOUBLE) AS rank
      FROM edges e
      JOIN deg d ON d.src = e.src
      JOIN i2 r ON r.src = e.src
      GROUP BY e.dst
    )
    SELECT CAST(src AS BIGINT) AS node, ROUND(rank, 12) AS rank FROM i3
    """,
)
def graph_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bipartite customer↔supplier trade graph
    (edges: customer bought from supplier, both directions; supplier
    ids offset into their own range) — graph centrality beyond the
    connected-components family; the importance prior for review
    queues and link-weighted sampling.

    EXACT oracle for a distributed iterative algorithm: contributions
    are single IEEE divisions summed through DECIMAL(28,15)
    (order-independent), so every iteration's ranks are
    engine-identical regardless of partitioning; the oracle unrolls
    the 3 fixed power iterations as chained CTEs and the output snaps
    to 12 decimals (sub-ulp literal differences in (1-d)/N). Per
    iteration: ONE join + ONE aggregate — connected_components' plan
    discipline (operators/graph.py has the scale notes)."""
    from ..operators import graph as G

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
    edges = e0.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        e0.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    pr = G.pagerank(edges, iters=3, damping=0.85)
    return pr.select(
        F.col("node").cast("long").alias("node"), F.round("rank", 12).alias("rank")
    )



@query(
    "doc_bm25_topk",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_TOKS} AS tk, len({_TOKS}) AS dl FROM documents
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
    scored AS (
      SELECT doc_id,
        round(
          ln((n - df_hash + 0.5) / (df_hash + 0.5) + 1)
            * tf_hash * 2.2 / (tf_hash + 1.2 * (0.25 + 0.75 * dl / avgdl))
          + ln((n - df_join + 0.5) / (df_join + 0.5) + 1)
            * tf_join * 2.2 / (tf_join + 1.2 * (0.25 + 0.75 * dl / avgdl))
          + ln((n - df_stream + 0.5) / (df_stream + 0.5) + 1)
            * tf_stream * 2.2 / (tf_stream + 1.2 * (0.25 + 0.75 * dl / avgdl)),
        6) AS bm25
      FROM tf, st
    )
    SELECT doc_id, bm25 FROM scored
    ORDER BY bm25 DESC, doc_id ASC LIMIT 20
    """,
)
def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (k1=1.2, b=0.75, Lucene idf variant) of
    the corpus against a fixed 3-term query — the lexical-search
    primitive a curation pipeline uses to pull topical slices, next to
    the embedding kNN family for hybrid retrieval.

    Scale shape: term frequencies are THREE scan-side
    size(filter(tokens)) expressions — for a fixed query there is no
    explode and no shuffle; corpus stats (N, avgdl, per-term df) are
    ONE 1-row aggregate broadcast back (scalar-BNLJ shape), and the
    3-term score is a single fixed-order arithmetic expression, so no
    summation-order nondeterminism exists to snap away. Top-20 is
    TakeOrdered under (rounded score desc, doc_id asc)."""
    docs = t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        TX.tokens_col("text").alias("tk"),
        F.size(TX.tokens_col("text")).alias("dl"),
    )
    tf = d.select(
        "doc_id",
        "dl",
        *[
            F.size(F.expr(f"filter(tk, x -> x = '{term}')")).alias(f"tf_{term}")
            for term in ("hash", "join", "stream")
        ],
    )
    st = tf.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{term}") > 0).cast("int")).alias(f"df_{term}")
            for term in ("hash", "join", "stream")
        ],
    )

    def contrib(term: str):
        idf = F.log(
            (F.col("n") - F.col(f"df_{term}") + 0.5)
            / (F.col(f"df_{term}") + 0.5)
            + 1
        )
        norm = F.col(f"tf_{term}") + 1.2 * (
            0.25 + 0.75 * F.col("dl") / F.col("avgdl")
        )
        return idf * F.col(f"tf_{term}") * 2.2 / norm

    scored = tf.crossJoin(F.broadcast(st)).select(
        "doc_id",
        F.round(
            contrib("hash") + contrib("join") + contrib("stream"), 6
        ).alias("bm25"),
    )
    return scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(20)


def _bm25_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared retrieval helper: BM25 top-20 (score desc, doc_id asc)
    for the fixed 3-term query — TakeOrdered FIRST, then a rank window
    over the 20 survivors only (never a global sort). Returns
    (doc_id, rb)."""
    docs = t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        TX.tokens_col("text").alias("tk"),
        F.size(TX.tokens_col("text")).alias("dl"),
    )
    tf = d.select(
        "doc_id",
        "dl",
        *[
            F.size(F.expr(f"filter(tk, x -> x = '{term}')")).alias(f"tf_{term}")
            for term in ("hash", "join", "stream")
        ],
    )
    st = tf.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{term}") > 0).cast("int")).alias(f"df_{term}")
            for term in ("hash", "join", "stream")
        ],
    )

    def contrib(term: str):
        idf = F.log(
            (F.col("n") - F.col(f"df_{term}") + 0.5)
            / (F.col(f"df_{term}") + 0.5)
            + 1
        )
        norm = F.col(f"tf_{term}") + 1.2 * (
            0.25 + 0.75 * F.col("dl") / F.col("avgdl")
        )
        return idf * F.col(f"tf_{term}") * 2.2 / norm

    bm = tf.crossJoin(F.broadcast(st)).select(
        "doc_id",
        F.round(
            contrib("hash") + contrib("join") + contrib("stream"), 6
        ).alias("bm25"),
    )
    return (
        bm.orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
        .withColumn(
            "rb",
            F.row_number().over(Window.orderBy(F.desc("bm25"), F.asc("doc_id"))),
        )
        .select("doc_id", "rb")
    )


def _embed_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared retrieval helper: embedding-cosine top-20 against the
    fixed query vector vec_id=0, same TakeOrdered-then-rank shape.
    Returns (edoc, re)."""
    emb = t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    es = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            S.cosine(F.col("embedding"), F.col("qvec")).alias("sim"),
        )
    )
    return (
        es.orderBy(F.desc("sim"), F.asc("doc_id"))
        .limit(20)
        .withColumn(
            "re",
            F.row_number().over(Window.orderBy(F.desc("sim"), F.asc("doc_id"))),
        )
        .select(F.col("doc_id").alias("edoc"), "re")
    )


@query(
    "doc_rrf_hybrid_topk",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_TOKS} AS tk, len({_TOKS}) AS dl FROM documents
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
            * tf_stream * 2.2 / (tf_stream + 1.2 * (0.25 + 0.75 * dl / avgdl)),
        6) AS bm25
      FROM tf, st
    ),
    bm20 AS (
      SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rb
      FROM bm QUALIFY rb <= 20
    ),
    qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           WHERE vec_id = 0),
    es AS (
      SELECT e.vec_id AS doc_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv.v) AS sim
      FROM embeddings e, qv WHERE e.vec_id <> 0
    ),
    em20 AS (
      SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id ASC) AS re
      FROM es QUALIFY re <= 20
    )
    SELECT COALESCE(bm20.doc_id, em20.doc_id) AS doc_id,
      CAST(bm20.rb AS BIGINT) AS bm25_rank,
      CAST(em20.re AS BIGINT) AS embed_rank,
      round(COALESCE(1.0 / (60 + bm20.rb), 0)
            + COALESCE(1.0 / (60 + em20.re), 0), 6) AS rrf
    FROM bm20 FULL OUTER JOIN em20 ON bm20.doc_id = em20.doc_id
    ORDER BY rrf DESC, doc_id ASC LIMIT 10
    """,
)
def doc_rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (k=60) of the two retrieval modalities:
    the BM25 lexical top-20 and the embedding-cosine top-20 against a
    fixed query vector — hybrid search exactly as a curation/retrieval
    stack runs it (fuse bounded top-k LISTS, never full rankings, so
    the fusion cost is O(k) regardless of corpus size). Both ranks are
    total-ordered (score desc, doc_id asc) and the RRF sum is a fixed
    two-term expression — deterministic end-to-end, exact oracle.
    Nullable ranks in the output show WHICH modality surfaced each
    hit."""
    bm20 = _bm25_top20(spark, sf_dir)
    em20 = _embed_top20(spark, sf_dir)
    fused = bm20.join(em20, bm20["doc_id"] == em20["edoc"], "full_outer").select(
        F.coalesce("doc_id", "edoc").alias("doc_id"),
        F.col("rb").cast("long").alias("bm25_rank"),
        F.col("re").cast("long").alias("embed_rank"),
        F.round(
            F.coalesce(1.0 / (60 + F.col("rb")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("re")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(10)


@query(
    "knn_ivf_ndcg_eval",
    oracle="""
    WITH cells AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
        + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
        + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
        + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS cell
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v, cell FROM cells WHERE vec_id % 50 = 0),
    c AS (SELECT vec_id AS neighbor_id, v, cell FROM cells),
    bf AS (
      SELECT query_id, rn, sim FROM (
        SELECT q.query_id,
               round(list_cosine_similarity(q.v, c.v), 4) AS sim,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                          c.neighbor_id) AS rn
        FROM q JOIN c ON q.query_id <> c.neighbor_id
      ) WHERE rn <= 5
    ),
    ivf AS (
      SELECT query_id, rn, sim FROM (
        SELECT q.query_id,
               round(list_cosine_similarity(q.v, c.v), 4) AS sim,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                          c.neighbor_id) AS rn
        FROM q JOIN c ON q.cell = c.cell AND q.query_id <> c.neighbor_id
      ) WHERE rn <= 5
    ),
    idcg AS (
      SELECT query_id,
        SUM(CAST(sim / log2(rn + 1) AS DECIMAL(28,12))) AS idcg
      FROM bf GROUP BY query_id
    ),
    dcg AS (
      SELECT query_id,
        SUM(CAST(sim / log2(rn + 1) AS DECIMAL(28,12))) AS dcg
      FROM ivf GROUP BY query_id
    )
    SELECT idcg.query_id,
      round(CAST(COALESCE(dcg.dcg, 0) AS DOUBLE), 6) AS dcg5,
      round(CAST(idcg.idcg AS DOUBLE), 6) AS idcg5,
      round(CAST(COALESCE(dcg.dcg, 0) AS DOUBLE)
            / CAST(idcg.idcg AS DOUBLE), 6) AS ndcg5
    FROM idcg LEFT JOIN dcg ON idcg.query_id = dcg.query_id
    """,
)
def knn_ivf_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@5 of the IVF ranking against brute-force ground truth —
    the graded companion to knn_ivf_recall_eval: recall counts set
    overlap, NDCG weighs each returned neighbor by its TRUE cosine
    gain under the 1/log2(rank+1) discount, so returning the 6th-best
    instead of the best is penalized proportionally, not binarily.
    Gains are the 4-decimal cosine sims shared with the knn queries;
    each gain/discount term snaps to DECIMAL(28,12) before the per-
    query sum (the bigram-LM idiom), so the 5-term reduction is
    order-independent in both engines and the metric carries an EXACT
    oracle. Ground truth stays restricted to the bounded query subset
    — same scale discipline as the recall eval."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )

    def dcg_of(df, out_col):
        ranked = df.withColumn("rn", F.row_number().over(w))
        return ranked.groupBy("query_id").agg(
            F.sum(
                (F.col("sim") / F.log2(F.col("rn") + 1)).cast("decimal(28,12)")
            ).alias(out_col)
        )

    bf = S.brute_force_topk_vectorized(queries, emb, k=5)
    ivf = S.ivf_topk(queries, emb, k=5, ivf_bits=4)
    idcg = dcg_of(bf, "idcg")
    dcg = dcg_of(ivf, "dcg").withColumnRenamed("query_id", "qi")
    return idcg.join(dcg, idcg["query_id"] == dcg["qi"], "left").select(
        "query_id",
        F.round(F.coalesce(F.col("dcg"), F.lit(0)).cast("double"), 6).alias(
            "dcg5"
        ),
        F.round(F.col("idcg").cast("double"), 6).alias("idcg5"),
        F.round(
            F.coalesce(F.col("dcg"), F.lit(0)).cast("double")
            / F.col("idcg").cast("double"),
            6,
        ).alias("ndcg5"),
    )


@query(
    "graph_bfs_levels",
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT o.o_custkey AS a, l.l_suppkey + 1000000 AS b
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (SELECT a AS src, b AS dst FROM e0
              UNION ALL SELECT b AS src, a AS dst FROM e0),
    l0 AS (SELECT CAST(1 AS BIGINT) AS node),
    l1 AS (
      SELECT DISTINCT e.dst AS node FROM edges e JOIN l0 ON l0.node = e.src
      WHERE e.dst NOT IN (SELECT node FROM l0)
    ),
    l2 AS (
      SELECT DISTINCT e.dst AS node FROM edges e JOIN l1 ON l1.node = e.src
      WHERE e.dst NOT IN (SELECT node FROM l0)
        AND e.dst NOT IN (SELECT node FROM l1)
    ),
    l3 AS (
      SELECT DISTINCT e.dst AS node FROM edges e JOIN l2 ON l2.node = e.src
      WHERE e.dst NOT IN (SELECT node FROM l0)
        AND e.dst NOT IN (SELECT node FROM l1)
        AND e.dst NOT IN (SELECT node FROM l2)
    )
    SELECT node, 0 AS level FROM l0
    UNION ALL SELECT node, 1 FROM l1
    UNION ALL SELECT node, 2 FROM l2
    UNION ALL SELECT node, 3 FROM l3
    """,
)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance from customer 1 over the bipartite
    customer↔supplier trade graph (3 hops: my suppliers → their other
    customers → those customers' suppliers — supply-chain tier depth /
    blast-radius). Level-synchronous frontier expansion, one join + one
    anti-join per hop; exact oracle via unrolled per-level CTEs. See
    operators.graph.bfs_levels."""
    from ..operators import graph as G

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
    edges = e0.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        e0.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    return G.bfs_levels(edges, seed=1, max_hops=3)


@query(
    "graph_degree_assortativity",
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT o.o_custkey AS a, l.l_suppkey + 1000000 AS b
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (SELECT a AS src, b AS dst FROM e0
              UNION ALL SELECT b AS src, a AS dst FROM e0),
    deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
    pairs AS (
      SELECT ds.d AS x, dd.d AS y
      FROM edges e
      JOIN deg ds ON ds.node = e.src
      JOIN deg dd ON dd.node = e.dst
    ),
    st AS (
      SELECT COUNT(*) AS n,
        SUM(CAST(x AS DECIMAL(28,0))) AS sx, SUM(CAST(y AS DECIMAL(28,0))) AS sy,
        SUM(CAST(x * x AS DECIMAL(28,0))) AS sxx,
        SUM(CAST(y * y AS DECIMAL(28,0))) AS syy,
        SUM(CAST(x * y AS DECIMAL(28,0))) AS sxy
      FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n_directed_edges,
      round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        AS assortativity
    FROM st
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the trade graph: Pearson correlation of
    endpoint degrees over the (symmetric) edge list — do hubs trade
    with hubs (r>0, social-network-like) or with the periphery (r<0,
    bipartite hub-and-spoke, the expected shape here)? The one-number
    topology fingerprint next to the degree histogram and triangle
    stats. All moment sums are exact integer DECIMALs (the corr-matrix
    recipe) from ONE edge scan + two broadcast-sized degree joins, so
    the statistic is engine-identical before the 1e-6 round."""
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
    edges = e0.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        e0.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    pairs = (
        edges.join(
            deg.select(F.col("node").alias("sn"), F.col("d").alias("x")),
            F.col("src") == F.col("sn"),
        )
        .join(
            deg.select(F.col("node").alias("dn"), F.col("d").alias("y")),
            F.col("dst") == F.col("dn"),
        )
        .select("x", "y")
    )
    st = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(28,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(28,0)")).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,0)")).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(28,0)")).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(28,0)")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    return st.select(
        F.col("n").cast("long").alias("n_directed_edges"),
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            6,
        ).alias("assortativity"),
    )


@query(
    "dedup_cluster_survivorship",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    sizes AS (SELECT id, COUNT(*) AS set_size FROM sh GROUP BY id),
    pairs AS (
      SELECT s1.id AS id_a, s2.id AS id_b, COUNT(*) AS inter
      FROM (SELECT sh.id, sh.shingle FROM sh
            JOIN (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 25) r
            USING (shingle)) s1
      JOIN (SELECT sh.id, sh.shingle FROM sh
            JOIN (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 25) r
            USING (shingle)) s2
        ON s1.shingle = s2.shingle AND s1.id < s2.id
      GROUP BY s1.id, s2.id
    ),
    edges AS (
      SELECT p.id_a AS src, p.id_b AS dst
      FROM pairs p JOIN sizes sa ON sa.id = p.id_a JOIN sizes sb ON sb.id = p.id_b
      WHERE CAST(p.inter AS DOUBLE) / (sa.set_size + sb.set_size - p.inter) >= 0.2
    ),
    sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
    walk(id, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.dst, w.label FROM walk w JOIN sym s ON s.src = w.id
    ),
    comp AS (SELECT id AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY id),
    scored AS (
      SELECT c.cluster_id, d.doc_id, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                ORDER BY d.n_chars DESC, d.doc_id) AS rk
      FROM comp c JOIN documents d USING (doc_id)
    )
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(MIN(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS survivor_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN rk = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept,
           CAST(SUM(CASE WHEN rk > 1 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_dropped
    FROM scored GROUP BY cluster_id HAVING COUNT(*) >= 2
    """,
)
def dedup_cluster_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level dedup SURVIVORSHIP: for every transitive near-dup
    cluster (Jaccard >= 0.2 pair graph, same closure as
    dedup_clusters), keep the single best document under the quality
    policy (longest text, min doc_id tiebreak) and account for what
    the policy keeps vs drops — the canonical "representative per
    duplicate cluster" step a production corpus dedup runs after
    candidate generation + verification + clustering (one-hop
    dedup_survivors deliberately skips the closure; this is the
    closure-aware variant).

    Scale shape: survivor election is one row_number window
    PARTITIONED BY cluster (bounded by the largest true near-dup
    cluster, never global) over (cluster_id, n_chars) rows — the text
    column never enters the election (n_chars is a stored column), and
    the output is one row per multi-member cluster. Iterative closure
    cost notes live on operators/dedup.py:connected_components."""
    docs = fan_out(t(spark, sf_dir, "documents"))
    pairs = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.2, max_shingle_df=25
    ).select("id_a", "id_b")
    comp = D.connected_components(
        docs.select("doc_id"), pairs, id_col="doc_id",
        src_col="id_a", dst_col="id_b",
    ).select(F.col("id").alias("doc_id"), "cluster_id")
    scored = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    ranked = scored.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy(F.col("cluster_id").cast("long").alias("cluster_id"))
        .agg(
            F.min(F.when(F.col("rk") == 1, F.col("doc_id")))
            .cast("long")
            .alias("survivor_id"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum(F.when(F.col("rk") == 1, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("chars_kept"),
            F.sum(F.when(F.col("rk") > 1, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("chars_dropped"),
        )
        .filter(F.col("n_members") >= 2)
    )


@query(
    "orders_cdc_extract",
    oracle="""
    WITH upd0 AS (
      SELECT * REPLACE ('U' AS o_orderstatus,
                        o_totalprice * 2 AS o_totalprice)
      FROM orders WHERE o_orderkey % 97 = 0
    ),
    upd AS (
      SELECT * FROM upd0
      UNION ALL
      SELECT * REPLACE (o_orderkey + 900000000 AS o_orderkey) FROM upd0
    ),
    merged AS (
      SELECT * FROM upd
      UNION ALL
      SELECT * FROM orders
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
    ),
    new_snap AS (SELECT * FROM merged WHERE o_orderkey % 101 <> 0),
    diff AS (
      SELECT CASE
        WHEN o.o_orderkey IS NULL THEN 'insert'
        WHEN n.o_orderkey IS NULL THEN 'delete'
        WHEN o.o_custkey       IS DISTINCT FROM n.o_custkey
          OR o.o_orderstatus   IS DISTINCT FROM n.o_orderstatus
          OR o.o_totalprice    IS DISTINCT FROM n.o_totalprice
          OR o.o_orderdate     IS DISTINCT FROM n.o_orderdate
          OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
        THEN 'update' ELSE 'unchanged' END AS change_type
      FROM orders o FULL OUTER JOIN new_snap n ON n.o_orderkey = o.o_orderkey
    )
    SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_keys
    FROM diff GROUP BY change_type
    """,
)
def orders_cdc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC EXTRACT end-to-end — the inverse of orders_merge_upsert:
    build a new snapshot with known updates (keys ≡ 0 mod 97: status
    'U', doubled price), inserts (the same rows at key+9e8) and
    deletes (keys ≡ 0 mod 101 dropped), then recover the change set
    with operators.dedup.snapshot_diff (ONE full-outer join on the key
    over (key, row-digest) projections) and count keys per change
    type. The oracle replays the snapshot construction and classifies
    by direct column comparison (IS DISTINCT FROM) — a fundamentally
    different equality mechanism than the Spark side's md5 row digest,
    so agreement pins the diff semantics, not the hash."""
    o = t(spark, sf_dir, "orders")
    mod = o.filter(F.col("o_orderkey") % 97 == 0).withColumns(
        {
            "o_orderstatus": F.lit("U"),
            # *2 not *1.1: doubling a 2dp double is exact in binary
            "o_totalprice": F.col("o_totalprice") * 2,
        }
    )
    ins = mod.withColumn("o_orderkey", F.col("o_orderkey") + 900000000)
    new_snap = D.merge_upsert(o, mod.unionByName(ins), ["o_orderkey"]).filter(
        F.col("o_orderkey") % 101 != 0
    )
    diff = D.snapshot_diff(o, new_snap, ["o_orderkey"])
    return diff.groupBy("change_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys")
    )
