"""Round-7/8 additions: the PLANNER tier — queries whose output is a
measured configuration decision rather than a data product. The ER
loop got its metric round 6 (blocking quality) and its decision rule
round 7 (choose_blocking); these close more loops the same way: LSH
banding parameters (S-curve error areas → choose_lsh_bands),
sequence-packing strategy (padding/packing waste accounting), the
streaming watermark (lateness loss curve over candidate delays, plus
— r8 — the per-floor decision table that choose_watermark_delay and
streaming.jobs.DEFAULT_WATERMARK are pinned against), and the Gopher
heuristic-filter audit (r8).

Registered into the same QUERIES/ORACLE dicts as plans.registry.
Import side effects: importing this module populates the registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import tokens_col
from .registry import query, t
from .registry_ext import _BIGRAM_LM_ORACLE, doc_bigram_lm_score
from .registry_r7 import _LPA_EDGES_CTE, _LPA_LABELS_CTE, lpa_trade_graph_labels

# (n_hashes, bands, rows_per_band) factorization grid the planner
# scores: the engine's production signature width (8, used by every
# minhash_* operator) and the literature-standard 64, power-of-two
# band counts. A Python literal and a SQL VALUES list kept in lockstep.
_LSH_GRID = [
    (n, b, n // b)
    for n in (8, 64)
    for b in (2**k for k in range(0, 7))
    if b <= n and n % b == 0
]
_LSH_GRID_SQL = ", ".join(f"({n}, {b}, {r})" for n, b, r in _LSH_GRID)
_LSH_T = 0.6  # target Jaccard threshold (the dedup tier's convention)
_LSH_STEPS = 200


@query(
    "lsh_band_planner",
    oracle=f"""
    WITH grid(n_hashes, bands, rows_per_band) AS (
      VALUES {_LSH_GRID_SQL}
    ),
    terms AS (
      SELECT n_hashes, bands, rows_per_band,
             (2 * i.i - 1) / {2 * _LSH_STEPS}.0 AS s
      FROM grid, UNNEST(range(1, {_LSH_STEPS + 1})) AS i(i)
    ),
    probs AS (
      SELECT n_hashes, bands, rows_per_band, s,
             1.0 - pow(1.0 - pow(s, rows_per_band), bands) AS p
      FROM terms
    ),
    snapped AS (
      SELECT n_hashes, bands, rows_per_band,
        CASE WHEN s < {_LSH_T}
             THEN CAST(round(p, 12) AS DECIMAL(14,12))
             ELSE CAST(0 AS DECIMAL(14,12)) END AS fp_term,
        CASE WHEN s >= {_LSH_T}
             THEN CAST(round(1.0 - p, 12) AS DECIMAL(14,12))
             ELSE CAST(0 AS DECIMAL(14,12)) END AS fn_term
      FROM probs
    )
    SELECT n_hashes, bands, rows_per_band,
           round(pow(1.0 / bands, 1.0 / rows_per_band), 6) AS s50,
           round(CAST(SUM(fp_term) AS DOUBLE) / {_LSH_STEPS}, 6) AS fp_area,
           round(CAST(SUM(fn_term) AS DOUBLE) / {_LSH_STEPS}, 6) AS fn_area,
           round(CAST(SUM(fp_term) + SUM(fn_term) AS DOUBLE)
                 / {_LSH_STEPS}, 6) AS total_err
    FROM snapped
    GROUP BY n_hashes, bands, rows_per_band
    """,
)
def lsh_band_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH BAND PLANNER: for each factorization n = bands ×
    rows of the signature width, the S-curve candidate probability
    p(s) = 1 − (1 − s^r)^b (Leskovec-Rajaraman-Ullman ch.3) scored
    against the dedup tier's target threshold t=0.6 — FP area
    (∫₀ᵗ p ds: candidates the verifier must discard), FN area
    (∫ₜ¹ (1−p) ds: true duplicates the index never surfaces), their
    sum, and s50 = (1/b)^(1/r), the similarity where the curve crosses
    ½. operators.dedup.choose_lsh_bands turns this table into the
    (bands, rows) decision; the engine-wide default (8 hashes, 4×2) is
    its fn_weight=10 answer — a pytest pins both that and the
    area-balanced optimum (2×4).

    Determinism across engines: the integral is a fixed 200-step
    midpoint Riemann sum; each term is ONE pow() chain snapped to
    DECIMAL(14,12) (the house ln/round idiom) so summation is exact
    decimal arithmetic in any order, then one rounded division.
    Scale: the grid is a config-scale literal (11 rows × 200 terms) —
    the planner reads no corpus data; it plans the job that will."""
    grid = spark.createDataFrame(
        _LSH_GRID, "n_hashes int, bands int, rows_per_band int"
    )
    s = (2 * F.col("i") - 1) / F.lit(float(2 * _LSH_STEPS))
    p = F.lit(1.0) - F.pow(
        F.lit(1.0) - F.pow(s, F.col("rows_per_band")), F.col("bands")
    )
    zero = F.lit(0).cast("decimal(14,12)")
    snapped = grid.select(
        "*", F.explode(F.sequence(F.lit(1), F.lit(_LSH_STEPS))).alias("i")
    ).select(
        "n_hashes",
        "bands",
        "rows_per_band",
        F.when(s < _LSH_T, F.round(p, 12).cast("decimal(14,12)"))
        .otherwise(zero)
        .alias("fp_term"),
        F.when(s >= _LSH_T, F.round(F.lit(1.0) - p, 12).cast("decimal(14,12)"))
        .otherwise(zero)
        .alias("fn_term"),
    )
    steps = F.lit(float(_LSH_STEPS))
    return snapped.groupBy("n_hashes", "bands", "rows_per_band").agg(
        F.round(
            F.pow(F.lit(1.0) / F.col("bands"), F.lit(1.0) / F.col("rows_per_band")),
            6,
        ).alias("s50"),
        F.round(F.sum("fp_term").cast("double") / steps, 6).alias("fp_area"),
        F.round(F.sum("fn_term").cast("double") / steps, 6).alias("fn_area"),
        F.round(
            (F.sum("fp_term") + F.sum("fn_term")).cast("double") / steps, 6
        ).alias("total_err"),
    )


_PACK_CAP = 4096
_PACK_Q = 256


_PACK_REPORT_ORACLE = f"""
    WITH per_doc AS (
      SELECT CAST(SUM((n_chars + {_PACK_CAP - 1}) // {_PACK_CAP}) AS BIGINT)
               AS bins_a,
             CAST(SUM(n_chars) AS BIGINT) AS payload
      FROM documents
    ),
    per_src AS (
      SELECT source, SUM(n_chars) AS total,
             SUM(((n_chars + {_PACK_Q - 1}) // {_PACK_Q}) * {_PACK_Q})
               AS padded_total
      FROM documents GROUP BY source
    ),
    src_bins AS (
      SELECT CAST(SUM((total + {_PACK_CAP - 1}) // {_PACK_CAP}) AS BIGINT)
               AS bins_b,
             CAST(SUM((padded_total + {_PACK_CAP - 1}) // {_PACK_CAP})
                  AS BIGINT) AS bins_c
      FROM per_src
    )
    SELECT s.strategy, s.n_bins, d.payload AS payload_chars,
           s.n_bins * {_PACK_CAP} - d.payload AS waste_chars,
           round(CAST(d.payload AS DOUBLE)
                 / (s.n_bins * {_PACK_CAP}), 6) AS utilization
    FROM per_doc d, src_bins b,
         (SELECT 'pad_per_doc' AS strategy, bins_a AS n_bins FROM per_doc
          UNION ALL
          SELECT 'concat_per_source', bins_b FROM src_bins
          UNION ALL
          SELECT 'quantized_concat', bins_c FROM src_bins) s
    """


@query(
    "doc_packing_strategy_report",
    oracle=_PACK_REPORT_ORACLE,
)
def doc_packing_strategy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE-PACKING STRATEGY accounting — the waste analysis a
    training pipeline runs before choosing how documents become
    fixed-size context windows (capacity 4096 chars here), closing the
    loop on doc_pack_sequential the way blocking-quality closed ER:
    per strategy, total bins, payload, padding waste, and utilization.

      pad_per_doc       one document per window, padded to capacity
                        (long docs span ⌈len/cap⌉ windows) — the naive
                        fine-tuning batcher;
      concat_per_source doc_pack_sequential's streaming concat within
                        each source shard — waste is only each shard's
                        final partial window;
      quantized_concat  concat of docs padded to the next 256-char
                        quantum (the alignment/“smart batching” middle
                        ground: cheap doc boundaries, bounded waste).

    All three are CLOSED-FORM integer aggregates (ceil-divisions under
    sums) — no packing is simulated row-by-row, so the report costs
    two groupBys at any corpus size: one over documents, one over the
    per-source table. Output is exact integers plus one rounded
    division."""
    docs = t(spark, sf_dir, "documents").select("source", "n_chars")
    cap = F.lit(_PACK_CAP)
    per_doc = docs.agg(
        F.sum(F.expr(f"(n_chars + {_PACK_CAP - 1}) DIV {_PACK_CAP}"))
        .cast("long")
        .alias("bins_a"),
        F.sum("n_chars").cast("long").alias("payload"),
    )
    per_src = docs.groupBy("source").agg(
        F.sum("n_chars").alias("total"),
        F.sum(
            F.expr(f"((n_chars + {_PACK_Q - 1}) DIV {_PACK_Q}) * {_PACK_Q}")
        ).alias("padded_total"),
    )
    src_bins = per_src.agg(
        F.sum(F.expr(f"(total + {_PACK_CAP - 1}) DIV {_PACK_CAP}"))
        .cast("long")
        .alias("bins_b"),
        F.sum(
            F.expr(f"(padded_total + {_PACK_CAP - 1}) DIV {_PACK_CAP}")
        )
        .cast("long")
        .alias("bins_c"),
    )
    strategies = F.explode(
        F.array(
            F.struct(
                F.lit("pad_per_doc").alias("strategy"),
                F.col("bins_a").alias("n_bins"),
            ),
            F.struct(
                F.lit("concat_per_source").alias("strategy"),
                F.col("bins_b").alias("n_bins"),
            ),
            F.struct(
                F.lit("quantized_concat").alias("strategy"),
                F.col("bins_c").alias("n_bins"),
            ),
        )
    )
    return (
        per_doc.crossJoin(F.broadcast(src_bins))  # 1-row x 1-row scalars
        .select("payload", strategies.alias("s"))
        .select(
            F.col("s.strategy").alias("strategy"),
            F.col("s.n_bins").alias("n_bins"),
            F.col("payload").alias("payload_chars"),
            (F.col("s.n_bins") * cap - F.col("payload")).alias("waste_chars"),
            F.round(
                F.col("payload").cast("double")
                / (F.col("s.n_bins") * cap).cast("double"),
                6,
            ).alias("utilization"),
        )
    )


_WM_DELAYS = (0, 60, 300, 900, 3600)  # candidate watermark delays, sec

# Shared by events_watermark_loss_curve and (as a derived table)
# events_watermark_delay_choice below.
_WM_CURVE_ORACLE = f"""
    WITH ev AS (
      SELECT event_id, epoch_us(ts) AS ts_us FROM events
    ),
    arr AS (
      SELECT event_id, ts_us,
             ts_us + (CAST(('0x' || substr(md5(
                 CAST(event_id AS VARCHAR) || ':'
                 || CAST(ts_us AS VARCHAR)), 1, 15)) AS BIGINT)
               % 600) * 1000000 AS arrival_us
      FROM ev
    ),
    scored AS (
      SELECT ts_us,
             MAX(ts_us) OVER (
               ORDER BY arrival_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - ts_us AS late_us
      FROM arr
    ),
    counts AS (
      SELECT COUNT(*) AS n,
        {", ".join(f"SUM(CASE WHEN late_us > {d * 1_000_000} THEN 1 ELSE 0 END) AS d{d}" for d in _WM_DELAYS)}
      FROM scored
    )
    {" UNION ALL ".join(
        f"SELECT CAST({d} AS BIGINT) AS watermark_delay_s, "
        f"CAST(d{d} AS BIGINT) AS n_dropped, "
        f"round(d{d} * 1.0 / n, 6) AS dropped_share FROM counts"
        for d in _WM_DELAYS
    )}
"""


@query("events_watermark_loss_curve", oracle=_WM_CURVE_ORACLE)
def events_watermark_loss_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK PLANNER for the streaming tier: before picking
    ``withWatermark(ts, D)``, measure what each candidate delay D
    would DROP. Arrival order is simulated as event time plus a
    deterministic per-event jitter (md5-derived, 0–600 s — testdata
    carries no ingest timestamp, so disorder is synthesized the same
    reproducible way both engines see); a row's LATENESS is the
    high-watermark at its arrival (running max of event time over
    arrival order, inclusive) minus its own event time — exactly
    Structured Streaming's drop rule: late_us > D ⇒ dropped. Emits one
    row per candidate delay: (watermark_delay_s, n_dropped,
    dropped_share) — the loss curve the operator reads before trading
    state size against completeness. The row-level rule is the UPPER
    BOUND on engine drops: Spark filters late input against the
    PREVIOUS batch's watermark (SPARK-40925 two-watermark semantics),
    so it drops at most this curve's count, with equality once arrival
    lag spans a micro-batch —
    tests/test_streaming.py:TestWatermarkDropSemantics pins the exact
    correspondence against numRowsDroppedByWatermark on a replay.

    Scale shape: the global running max runs through the
    range-partitioned ranking primitive's new ``cummax_cols`` (max is
    an idempotent order-independent monoid, so the two-pass offset
    scheme is exact for ANY type) — no single-partition WindowExec;
    the curve itself is one conditional aggregate folded to
    |delays| rows."""
    from ..operators import ranking as R

    ev = (
        t(spark, sf_dir, "events")
        .select(
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
        .withColumn(
            "arrival_us",
            F.col("ts_us")
            + (
                F.expr(
                    "CAST(conv(substr(md5(concat(CAST(event_id AS STRING), "
                    "':', CAST(ts_us AS STRING))), 1, 15), 16, 10) AS BIGINT)"
                )
                % 600
            )
            * F.lit(1_000_000),
        )
    )
    scored, _n = R.ranked(
        ev,
        [F.asc("arrival_us"), F.asc("event_id")],
        rn_col=None,
        cummax_cols={"ts_us": "wm_us"},
    )
    late = (F.col("wm_us") - F.col("ts_us")).alias("late_us")
    counts = scored.select(late).agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.when(F.col("late_us") > d * 1_000_000, 1).otherwise(0)
            ).alias(f"d{d}")
            for d in _WM_DELAYS
        ],
    )
    curve = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(d).cast("long").alias("watermark_delay_s"),
                    F.col(f"d{d}").cast("long").alias("n_dropped"),
                )
                for d in _WM_DELAYS
            ]
        )
    )
    return counts.select("n", curve.alias("c")).select(
        F.col("c.watermark_delay_s").alias("watermark_delay_s"),
        F.col("c.n_dropped").alias("n_dropped"),
        F.round(F.col("c.n_dropped") / F.col("n"), 6).alias("dropped_share"),
    )


_MODULARITY_ORACLE = f"""
    WITH {_LPA_EDGES_CTE},
    {_LPA_LABELS_CTE},
    m AS (SELECT COUNT(*) AS m FROM e0),
    within AS (
      SELECT la.label AS community, COUNT(*) AS l_c
      FROM e0
      JOIN lab2 la ON la.node = e0.src
      JOIN lab2 lb ON lb.node = e0.dst
      WHERE la.label = lb.label
      GROUP BY la.label
    ),
    deg AS (SELECT src AS node, COUNT(*) AS d FROM e GROUP BY src),
    dmass AS (
      SELECT l.label AS community, SUM(d.d) AS d_c, COUNT(*) AS n_members
      FROM lab2 l JOIN deg d ON d.node = l.node
      GROUP BY l.label
    )
    SELECT CAST(dm.community AS BIGINT) AS community,
           CAST(dm.n_members AS BIGINT) AS n_members,
           CAST(COALESCE(w.l_c, 0) AS BIGINT) AS internal_edges,
           CAST(dm.d_c AS BIGINT) AS degree_mass,
           round(CAST(COALESCE(w.l_c, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
                 - (CAST(dm.d_c AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
                   * (CAST(dm.d_c AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE))),
                 6) + 0.0 AS contribution
    FROM dmass dm
    LEFT JOIN within w ON w.community = dm.community
    CROSS JOIN m
"""


@query("graph_modularity_score", oracle=_MODULARITY_ORACLE)
def graph_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODULARITY of the LPA communities (Newman-Girvan Q) — the
    quality metric that closes the community loop the way
    blocking-quality closed ER and recall@k closed ANN: per community,
    its contribution L_c/m − (d_c/2m)² (internal-edge share minus the
    share expected under a degree-preserving random rewiring), so
    Σ contributions = Q and a community with negative contribution is
    worse-than-random structure. Runs on the IDENTICAL label
    assignment as graph_lpa_communities
    (registry_r7.lpa_trade_graph_labels, checkpoint-shared edges).

    Determinism: L_c, d_c, m are exact integers; each contribution is
    two IEEE divisions + one multiply + one subtract in a fixed
    expression shape, rounded to 6 — no pow(), no order-sensitive
    accumulation. Scale shape: two label attaches onto the canonical
    edge table (equi-joins on node id), one degree aggregate, one
    per-community rollup — all node/edge-dimension shuffles; m is a
    1-row scalar broadcast."""
    e0, e, lab = lpa_trade_graph_labels(spark, sf_dir)
    lab = lab.localCheckpoint(eager=False)  # attached to edges twice
    m = e0.agg(F.count(F.lit(1)).alias("m"))
    # internal edges per community: both endpoints share a label
    within = (
        e0.join(
            lab.select(F.col("node").alias("src"), F.col("label").alias("la")),
            "src",
        )
        .join(
            lab.select(F.col("node").alias("dst"), F.col("label").alias("lb")),
            "dst",
        )
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("community"))
        .agg(F.count(F.lit(1)).alias("l_c"))
    )
    # degree mass per community over the symmetric edge table
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    dmass = (
        lab.join(deg, "node")
        .groupBy(F.col("label").alias("community"))
        .agg(
            F.sum("d").alias("d_c"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )
    md = F.col("m").cast("double")
    frac = F.col("d_c").cast("double") / (F.lit(2.0) * md)
    return (
        dmass.join(within, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("community").cast("long").alias("community"),
            F.col("n_members").cast("long").alias("n_members"),
            F.coalesce("l_c", F.lit(0)).cast("long").alias("internal_edges"),
            F.col("d_c").cast("long").alias("degree_mass"),
            (
                F.round(
                    F.coalesce("l_c", F.lit(0)).cast("double") / md
                    - frac * frac,
                    6,
                )
                + F.lit(0.0)  # −0.0 + 0.0 = +0.0: IEEE negative-zero snap
            ).alias("contribution"),
        )
    )


_WM_FLOORS = (0.0, 0.01, 0.05, 0.1, 0.25)  # candidate loss floors


@query(
    "events_watermark_delay_choice",
    oracle=f"""
    WITH curve AS MATERIALIZED ({_WM_CURVE_ORACLE}),
    floors(max_dropped_share) AS (
      VALUES {", ".join(f"(CAST({f} AS DOUBLE))" for f in _WM_FLOORS)}
    ),
    choice AS (
      SELECT f.max_dropped_share,
             MIN(c.watermark_delay_s) AS chosen_delay_s
      FROM floors f JOIN curve c ON c.dropped_share <= f.max_dropped_share
      GROUP BY f.max_dropped_share
    )
    SELECT CAST(ch.max_dropped_share AS DOUBLE) AS max_dropped_share,
           CAST(ch.chosen_delay_s AS BIGINT) AS chosen_delay_s,
           c.n_dropped, c.dropped_share
    FROM choice ch
    JOIN curve c ON c.watermark_delay_s = ch.chosen_delay_s
    """,
)
def events_watermark_delay_choice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermark DECISION TABLE — choose_watermark_delay
    (streaming/jobs.py) materialized as an oracle-gated query: for
    each loss floor in a config grid, the smallest candidate delay
    whose measured dropped_share clears it, with the achieved drop
    stats. One row per floor: (max_dropped_share, chosen_delay_s,
    n_dropped, dropped_share). This puts the decision rule itself
    under the DuckDB value-hash gate (the same loop closure the
    blocking-quality → choose_blocking pair has), and documents the
    measured provenance of streaming.jobs.DEFAULT_WATERMARK (floor
    0.0 → 900 s at every SF of this testdata).

    Scale shape: the loss curve is |delays| aggregated rows and the
    floor grid is |floors| literal rows — the theta join (share ≤
    floor) is a bounded-by-construction 5×5 broadcast nested loop on
    AGGREGATED inputs, the documented scalar-BNLJ idiom (never
    data-scale on either side); everything upstream is the curve's
    one range-partitioned pass over events. dropped_share is rounded
    to 6dp on both engines BEFORE the ≤ comparison, so the join
    predicate sees bit-identical doubles."""
    curve = events_watermark_loss_curve(spark, sf_dir).localCheckpoint(
        eager=False  # consumed twice: the floor join and the stats join-back
    )
    floors = F.explode(
        F.array(*[F.lit(f).cast("double") for f in _WM_FLOORS])
    ).alias("max_dropped_share")
    choice = (
        curve.sparkSession.range(1)
        .select(floors)
        .join(curve, F.col("dropped_share") <= F.col("max_dropped_share"))
        .groupBy("max_dropped_share")
        .agg(F.min("watermark_delay_s").alias("chosen_delay_s"))
    )
    return choice.join(
        curve.select(
            F.col("watermark_delay_s").alias("chosen_delay_s"),
            "n_dropped",
            "dropped_share",
        ),
        "chosen_delay_s",
    ).select(
        "max_dropped_share",
        F.col("chosen_delay_s").cast("long").alias("chosen_delay_s"),
        "n_dropped",
        "dropped_share",
    )


# Gopher quality-rule thresholds (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", Appendix A1.1), restricted to the rules
# meaningful for single-line ASCII documents (no line-level bullet/
# ellipsis-start rules). Kept as integers so every rule evaluates in
# exact integer arithmetic — see the docstring.
_GOPHER_STOPWORDS = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


@query(
    "doc_gopher_quality_flags",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS tk,
             len(text) - len(replace(text, '#', '')) AS n_hash,
             (len(text) - len(replace(text, '...', ''))) // 3 AS n_ell
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(tk) AS n,
             CAST(list_sum(list_transform(tk, t -> len(t))) AS BIGINT)
               AS sum_len,
             len(list_filter(tk, t -> regexp_matches(t, '[a-z]')))
               AS n_alpha,
             len(list_intersect(list_distinct(tk),
                 [{", ".join(f"'{w}'" for w in _GOPHER_STOPWORDS)}]))
               AS n_stop,
             n_hash + n_ell AS n_sym
      FROM feats
    ),
    flags AS (
      SELECT doc_id,
             CASE WHEN n < 50 OR n > 100000 THEN 1 ELSE 0 END AS f_wc,
             CASE WHEN sum_len < 3 * n OR sum_len > 10 * n
                  THEN 1 ELSE 0 END AS f_mwl,
             CASE WHEN 5 * n_alpha < 4 * n THEN 1 ELSE 0 END AS f_alpha,
             CASE WHEN n_stop < 2 THEN 1 ELSE 0 END AS f_stop,
             CASE WHEN 10 * n_sym > n THEN 1 ELSE 0 END AS f_sym
      FROM m
    ),
    agg AS (
      SELECT COUNT(*) AS n_docs,
             SUM(f_wc) AS c_wc, SUM(f_mwl) AS c_mwl,
             SUM(f_alpha) AS c_alpha, SUM(f_stop) AS c_stop,
             SUM(f_sym) AS c_sym,
             SUM(CASE WHEN f_wc + f_mwl + f_alpha + f_stop + f_sym > 0
                      THEN 1 ELSE 0 END) AS c_any
      FROM flags
    )
    SELECT rule, CAST(n_flagged AS BIGINT) AS n_flagged,
           round(n_flagged * 1.0 / n_docs, 6) AS flagged_share
    FROM (
      SELECT 'word_count' AS rule, c_wc AS n_flagged, n_docs FROM agg
      UNION ALL SELECT 'mean_word_length', c_mwl, n_docs FROM agg
      UNION ALL SELECT 'alpha_word_share', c_alpha, n_docs FROM agg
      UNION ALL SELECT 'stopword_presence', c_stop, n_docs FROM agg
      UNION ALL SELECT 'symbol_ratio', c_sym, n_docs FROM agg
      UNION ALL SELECT 'any_rule', c_any, n_docs FROM agg
    )
    """,
)
def doc_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOPHER QUALITY RULES (Rae et al. 2021, Appendix A1.1) as a
    corpus report: for each rule, how many documents it would drop —
    word count outside [50, 100k], mean word length outside [3, 10],
    <80% of words containing an alphabetic character, fewer than two
    distinct Gopher stopwords, and a hash/ellipsis symbol-to-word
    ratio over 0.1 — plus the union row ('any_rule'). The standard
    pretraining heuristic-filter audit, complementing the continuous
    doc_quality_score: that ranks, this reports exactly what a
    rule-based C4/Gopher-style gate would remove.

    Determinism: every rule threshold is evaluated in EXACT integer
    arithmetic on token counts (mean length < 3 ⟺ sum_len < 3·n,
    alpha share < 0.8 ⟺ 5·n_alpha < 4·n, symbol ratio > 0.1 ⟺
    10·n_sym > n) — no float comparisons anywhere; the output share is
    one rounded division per rule. Both engines count non-overlapping
    '...' occurrences via the same replace()-length idiom.

    Scale shape: token features are in-row array expressions (zero
    shuffle); ONE map-side-combined aggregate folds the corpus to a
    single row of rule counters, and the 6-rule report is an explode
    of that row — corpus touched once, nothing keyed, nothing
    driver-side."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        tokens_col("text").alias("_tk"),
        (
            F.length("text") - F.length(F.regexp_replace("text", "#", ""))
        ).alias("n_hash"),
        (
            (
                F.length("text")
                - F.length(F.regexp_replace("text", r"\.\.\.", ""))
            )
            / F.lit(3)
        ).cast("long").alias("n_ell"),
    )
    stop_arr = F.array(*[F.lit(w) for w in _GOPHER_STOPWORDS])
    m = docs.select(
        F.size("_tk").cast("long").alias("n"),
        F.expr(
            "aggregate(_tk, CAST(0 AS BIGINT), (a, t) -> a + length(t))"
        ).alias("sum_len"),
        F.size(F.expr("filter(_tk, t -> t rlike '[a-z]')"))
        .cast("long")
        .alias("n_alpha"),
        F.size(F.array_intersect(F.array_distinct("_tk"), stop_arr))
        .cast("long")
        .alias("n_stop"),
        (F.col("n_hash") + F.col("n_ell")).cast("long").alias("n_sym"),
    )
    flag = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    flags = m.select(
        flag((F.col("n") < 50) | (F.col("n") > 100000)).alias("f_wc"),
        flag(
            (F.col("sum_len") < 3 * F.col("n"))
            | (F.col("sum_len") > 10 * F.col("n"))
        ).alias("f_mwl"),
        flag(5 * F.col("n_alpha") < 4 * F.col("n")).alias("f_alpha"),
        flag(F.col("n_stop") < 2).alias("f_stop"),
        flag(10 * F.col("n_sym") > F.col("n")).alias("f_sym"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("f_wc").alias("c_wc"),
        F.sum("f_mwl").alias("c_mwl"),
        F.sum("f_alpha").alias("c_alpha"),
        F.sum("f_stop").alias("c_stop"),
        F.sum("f_sym").alias("c_sym"),
        F.sum(
            F.when(
                F.col("f_wc")
                + F.col("f_mwl")
                + F.col("f_alpha")
                + F.col("f_stop")
                + F.col("f_sym")
                > 0,
                1,
            ).otherwise(0)
        ).alias("c_any"),
    )
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(rule).alias("rule"),
                    F.col(col).cast("long").alias("n_flagged"),
                )
                for rule, col in [
                    ("word_count", "c_wc"),
                    ("mean_word_length", "c_mwl"),
                    ("alpha_word_share", "c_alpha"),
                    ("stopword_presence", "c_stop"),
                    ("symbol_ratio", "c_sym"),
                    ("any_rule", "c_any"),
                ]
            ]
        )
    )
    return agg.select("n_docs", rows.alias("r")).select(
        F.col("r.rule").alias("rule"),
        F.col("r.n_flagged").alias("n_flagged"),
        F.round(F.col("r.n_flagged") / F.col("n_docs"), 6).alias(
            "flagged_share"
        ),
    )


_CCNET_BUCKET_ORACLE = f"""
    WITH scores AS ({_BIGRAM_LM_ORACLE}),
    ranked AS (
      SELECT doc_id, avg_logp,
             ROW_NUMBER() OVER (ORDER BY avg_logp DESC, doc_id ASC) AS r,
             COUNT(*) OVER () AS n
      FROM scores
    )
    SELECT CAST(1 + ((r - 1) * 3) // n AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(AVG(avg_logp), 6) AS mean_logp,
           round(MAX(avg_logp), 6) AS best_logp,
           round(MIN(avg_logp), 6) AS worst_logp
    FROM ranked
    GROUP BY 1
"""


@query("doc_ccnet_perplexity_bucket", oracle=_CCNET_BUCKET_ORACLE)
def doc_ccnet_perplexity_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-STYLE PERPLEXITY BUCKETING (Wenzek et al., LREC 2020):
    rank every document by its corpus-trained bigram-LM mean log-prob
    (doc_bigram_lm_score — higher = more fluent = lower perplexity)
    and split the corpus into three equal-rank buckets, head/middle/
    tail; report each bucket's size and score envelope. The standard
    pretraining triage: keep head, LM-filter middle, drop tail.

    Bucket assignment is the INTEGER formula 1 + ((r−1)·3) ÷ n over
    the exact global rank r (order: avg_logp DESC, doc_id ASC) — both
    engines compute the identical expression, sidestepping NTILE's
    engine-specific remainder placement. The rank comes from the
    range-partitioned ranking primitive (no single-partition window);
    avg_logp itself is the established decimal-summed score, so the
    cross-engine order is total and identical.

    Scale shape: the LM scoring is doc_bigram_lm_score's one-pass
    vocab-scale aggregation; ranking is the two-pass range-partition
    scheme; the report is one groupBy over three keys."""
    from ..operators import ranking as R

    scores = doc_bigram_lm_score(spark, sf_dir)
    ranked_df, n = R.ranked(
        scores,
        [F.desc("avg_logp"), F.asc("doc_id")],
        rn_col="r",
    )
    # integer division: ((r-1)*3) DIV n, then +1 — express exactly
    bucket = (
        F.lit(1)
        + F.floor(((F.col("r") - 1) * 3).cast("double") / F.lit(float(n)))
    ).cast("long")
    return (
        ranked_df.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("avg_logp"), 6).alias("mean_logp"),
            F.round(F.max("avg_logp"), 6).alias("best_logp"),
            F.round(F.min("avg_logp"), 6).alias("worst_logp"),
        )
    )


_EPOCH_RMAX = 4  # Muennighoff et al. 2023: returns decay fast past ~4 epochs
# 3.5-epoch-equivalent training budget: strictly inside (0, RMAX·Σt), so
# the water-filling always has an interior solution (integer DIV keeps
# the budget exact in both engines).
_EPOCH_BUDGET_SQL = "(7 * tot) // 2"


@query(
    "doc_epoch_mix_waterfill",
    oracle=f"""
    WITH per_lang AS (
      SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS t FROM documents
      GROUP BY lang
    ),
    scal AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(t) AS BIGINT) AS tot,
             CAST({_EPOCH_BUDGET_SQL.replace("tot", "SUM(t)")} AS BIGINT)
               AS b
      FROM per_lang
    ),
    seg AS (
      SELECT lang, t, {_EPOCH_RMAX} * t AS cap,
             ROW_NUMBER() OVER (ORDER BY {_EPOCH_RMAX} * t, lang) AS j,
             SUM({_EPOCH_RMAX} * t) OVER (ORDER BY {_EPOCH_RMAX} * t, lang)
               - {_EPOCH_RMAX} * t AS prev_prefix,
             COALESCE(LAG({_EPOCH_RMAX} * t)
               OVER (ORDER BY {_EPOCH_RMAX} * t, lang), 0) AS prev_cap
      FROM per_lang
    ),
    lvl AS (
      SELECT MAX(l_cand) AS l FROM (
        SELECT CAST(s.b - g.prev_prefix AS DOUBLE) / (s.k - g.j + 1)
                 AS l_cand,
               g.prev_cap, g.cap
        FROM seg g, scal s
      ) WHERE prev_cap <= l_cand AND l_cand <= cap
    ),
    alloc AS (
      SELECT g.lang, g.t, g.cap,
             LEAST(CAST(g.cap AS DOUBLE), lvl.l) AS a, lvl.l
      FROM seg g, lvl
    )
    SELECT lang, t AS unique_chars, CAST(cap AS BIGINT) AS cap_chars,
           round(a, 6) AS alloc_chars,
           round(a / t, 6) AS epochs,
           CAST(CASE WHEN CAST(cap AS DOUBLE) <= l THEN 1 ELSE 0 END
                AS INT) AS at_cap
    FROM alloc
    """,
)
def doc_epoch_mix_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-CONSTRAINED EPOCH ALLOCATION (Muennighoff et al., NeurIPS
    2023 "Scaling Data-Constrained Language Models"): split a fixed
    training-token budget (3.5 epoch-equivalents of the corpus, char
    proxy) across languages as EVENLY as possible — the α→0 limit of
    multilingual temperature sampling that up-weights low-resource
    languages — subject to the paper's repetition ceiling of
    4 (_EPOCH_RMAX) epochs per language. The unique max-min solution is
    exact WATER-FILLING: a level L with every language receiving
    min(cap, L), Σ alloc = budget. Low-resource languages hit the
    4-epoch cap (repeat their data); the head language absorbs the
    remainder at fewer epochs — the measured answer to "how many
    epochs of each language do we train on?".

    One row per language: (lang, unique_chars, cap_chars,
    alloc_chars, epochs, at_cap).

    Exactness: the level has the closed form L_j = (B − prefix_(j−1))
    / (k − j + 1) on the capacity-sorted segment j where
    prev_cap ≤ L_j ≤ cap_j; every feasible segment yields the SAME L
    (boundary ties collapse), so MAX over valid candidates is
    deterministic, and both engines evaluate the identical
    integer-exact prefix sums and one IEEE double division.

    Scale shape: one groupBy over the corpus → a CONSTANT-cardinality
    language rollup (the window runs on ≤|langs| rows — allowlisted
    like source_mixture_weights); everything downstream is arithmetic
    on config-scale tables, so the query costs one corpus scan at any
    size."""
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents").select("lang", "n_chars")
    per_lang = docs.groupBy("lang").agg(
        F.sum("n_chars").cast("long").alias("t")
    )
    scal = per_lang.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("t").cast("long").alias("tot"),
    ).select("k", "tot", F.expr("(7 * tot) DIV 2").alias("b"))
    cap = (F.lit(_EPOCH_RMAX) * F.col("t")).alias("cap")
    w = Window.orderBy("cap", "lang")
    seg = (
        per_lang.select("lang", "t", cap)
        .withColumn("j", F.row_number().over(w))
        .withColumn("prev_prefix", F.sum("cap").over(w) - F.col("cap"))
        .withColumn("prev_cap", F.lag("cap", 1, 0).over(w))
    )
    cand = seg.crossJoin(F.broadcast(scal)).withColumn(
        "l_cand",
        (F.col("b") - F.col("prev_prefix")).cast("double")
        / (F.col("k") - F.col("j") + 1),
    )
    lvl = cand.filter(
        (F.col("prev_cap") <= F.col("l_cand"))
        & (F.col("l_cand") <= F.col("cap"))
    ).agg(F.max("l_cand").alias("l"))
    a = F.least(F.col("cap").cast("double"), F.col("l"))
    return seg.crossJoin(F.broadcast(lvl)).select(
        "lang",
        F.col("t").alias("unique_chars"),
        F.col("cap").cast("long").alias("cap_chars"),
        F.round(a, 6).alias("alloc_chars"),
        F.round(a / F.col("t"), 6).alias("epochs"),
        F.when(F.col("cap").cast("double") <= F.col("l"), 1)
        .otherwise(0)
        .cast("int")
        .alias("at_cap"),
    )


# utilization floors for the packing decision table; the 0.5 row is
# the one the boundary constraint flips on this corpus (concat wins
# raw utilization, quantized_concat wins under cheap-boundaries)
_PACK_FLOORS = (0.0, 0.5, 0.75, 0.9)


@query(
    "doc_packing_choice",
    oracle=f"""
    WITH report AS MATERIALIZED ({_PACK_REPORT_ORACLE}),
    grid(min_utilization, cheap_boundaries) AS (
      VALUES {", ".join(
          f"(CAST({f} AS DOUBLE), {b})" for f in _PACK_FLOORS for b in (0, 1)
      )}
    ),
    admissible AS (
      SELECT g.min_utilization, g.cheap_boundaries,
             r.strategy, r.n_bins, r.utilization,
             ROW_NUMBER() OVER (
               PARTITION BY g.min_utilization, g.cheap_boundaries
               ORDER BY r.utilization DESC, r.strategy
             ) AS rk
      FROM grid g JOIN report r
        ON r.utilization >= g.min_utilization
       AND (g.cheap_boundaries = 0 OR r.strategy <> 'concat_per_source')
    )
    SELECT min_utilization, CAST(cheap_boundaries AS INT) AS cheap_boundaries,
           strategy AS chosen_strategy, n_bins, utilization
    FROM admissible WHERE rk = 1
    """,
)
def doc_packing_choice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packing DECISION TABLE — operators.text.choose_packing
    materialized as an oracle-gated query (the same loop closure as
    events_watermark_delay_choice): for each utilization floor in a
    config grid × both boundary regimes, the winning strategy with
    its measured stats. One row per (floor, regime) that HAS a winner
    — floors nothing clears drop out, exactly where choose_packing
    raises. Columns: (min_utilization, cheap_boundaries,
    chosen_strategy, n_bins, utilization).

    Determinism: utilization is rounded to 6dp in the report before
    any comparison, so the ≥-floor predicate and the (utilization
    DESC, strategy ASC) tiebreak see bit-identical values in both
    engines.

    Scale shape: the report is a 3-row aggregate, the grid an 8-row
    literal — the theta join and the rank window run on ≤24
    CONSTANT-cardinality rows (allowlisted like the watermark table);
    everything upstream is the report's two corpus aggregates."""
    from pyspark.sql.window import Window

    report = doc_packing_strategy_report(spark, sf_dir).localCheckpoint(
        eager=False
    )
    grid = (
        spark.range(1)
        .select(
            F.explode(
                F.array(*[F.lit(float(f)) for f in _PACK_FLOORS])
            ).alias("min_utilization")
        )
        .select(
            "min_utilization",
            F.explode(F.array(F.lit(0), F.lit(1))).alias("cheap_boundaries"),
        )
    )
    admissible = grid.join(
        report,
        (F.col("utilization") >= F.col("min_utilization"))
        & (
            (F.col("cheap_boundaries") == 0)
            | (F.col("strategy") != "concat_per_source")
        ),
    )
    w = Window.partitionBy("min_utilization", "cheap_boundaries").orderBy(
        F.desc("utilization"), F.asc("strategy")
    )
    return (
        admissible.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "min_utilization",
            F.col("cheap_boundaries").cast("int").alias("cheap_boundaries"),
            F.col("strategy").alias("chosen_strategy"),
            "n_bins",
            "utilization",
        )
    )
