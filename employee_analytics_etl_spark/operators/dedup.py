"""Deduplication operators (extension tier): exact, keyed, n-gram
Jaccard, MinHash-LSH (full + incremental index maintenance), SimHash
(signatures + banded candidate pairs), transitive clusters.

Scale design:
- **Exact dedup** groups on a content hash (md5), never on the raw
  text — the shuffle moves 16-byte keys, not documents.
- **MinHash-LSH** is the 100 TB path: shingle → k minhashes → band →
  bucket-join. Only documents sharing a band bucket are ever paired,
  so the candidate set is ~linear, not quadratic. Band buckets with a
  single doc produce no pairs and cost nothing.
- **n-gram Jaccard** (the exact verifier) prunes high-document-
  frequency shingles before the self-join — the classic stop-shingle
  cut that caps per-shingle fanout; at scale you'd also salt any
  residual hot shingle.
- Candidate generation is hash/group/join built-ins — no driver loops.
  The only Python is the Arrow scorers Spark has no builtin for
  (SimHash bit votes, Damerau, Jaro-Winkler), one UDF each.

MinHash uses md5 as the hash family (seeded by prefixing the seed
index) so the DuckDB oracle can reproduce signatures exactly; a
production variant would use xxhash64 (cheaper) — semantics identical.
"""

from __future__ import annotations

import uuid
import weakref

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text import tokens_col


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact-duplicate groups by content hash: canonical (min) id +
    multiplicity per distinct content."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
    )


def keyed_dedup_first(df: DataFrame, keys: list[str], order: list[str]) -> DataFrame:
    """Keep the first row per key under a total order (W3 generalized:
    ``row_number() == 1`` over a window). ``order`` columns must make
    the sort total for determinism."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def sorted_pairs(ids: str) -> Column:
    """Every pair of the sorted array column ``ids`` as an array of
    ``(id_a, id_b)`` structs, each unordered pair once with id_a <
    id_b (for a distinct array). Exploding it after a
    ``groupBy(key).agg(array_sort(collect_list(id)))`` replaces a
    self-join on the key: one shuffle instead of three, and the fanout
    per key is bounded by its group size squared."""
    pairs = (
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS id_a, y AS id_b))))"
    )
    return F.expr(pairs.replace("ids", ids))


def _word_ngrams(n: int, short_whole_text: bool = False) -> Column:
    """The word ``n``-grams of the token array column ``_tk``.

    The CASE guard is needed because ``sequence(1, 0)`` in Spark is the
    DESCENDING [1, 0]: documents with fewer than ``n`` tokens yield an
    empty array, or with ``short_whole_text`` one whole-text gram when
    they have any token (see ``shingle_sets``)."""
    short_arm = (
        "WHEN size(_tk) >= 1 THEN array(concat_ws(' ', _tk)) "
        if short_whole_text
        else ""
    )
    return F.expr(
        f"CASE WHEN size(_tk) >= {n} THEN "
        f"transform(sequence(1, size(_tk) - {n - 1}), "
        f"i -> concat_ws(' ', slice(_tk, i, {n}))) "
        f"{short_arm}ELSE array() END"
    )


def shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """Word n-gram shingles per document: (id, shingle).

    Tokenization and n-gram assembly are array expressions (codegen'd);
    explode fans out to one row per shingle.

    ``distinct=True`` (set semantics) costs a full shuffle of shingle
    strings — required when downstream counts shingles (Jaccard
    intersections). Pass ``distinct=False`` for consumers where
    duplicates are harmless (MinHash: min over a multiset equals min
    over its set), saving that exchange entirely.
    """
    # Materialize the token array ONCE per row — embedding the regexp
    # inside size()/transform() would re-evaluate it several times per
    # row (Catalyst does not CSE across lambda boundaries).
    out = (
        df.select(F.col(id_col).alias("id"), tokens_col(text_col).alias("_tk"))
        .select("id", F.explode(_word_ngrams(n)).alias("shingle"))
    )
    return out.distinct() if distinct else out


def shingle_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    short_whole_text: bool = False,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document DISTINCT shingle sets, computed entirely scan-side:
    (id, shingle_set sorted array<string>, set_size long).

    ``short_whole_text`` (default False) governs documents with FEWER
    than ``n`` tokens. False: such documents get an EMPTY shingle set
    — they can never appear in any shingle-keyed pair, an exclusion
    the minhash/jaccard oracles encode identically (their
    ``range(1, greatest(len-n+2, 1))`` is empty below ``n`` tokens),
    so short exact duplicates are invisible to those operators by
    contract (r11 ADVICE #1). True: a document with 1..n-1 tokens
    emits ONE whole-text shingle (its space-joined token sequence),
    so short near-identical texts can still collide; zero-token
    documents stay empty either way (an empty-string shingle would
    pair every blank doc with every other). Callers that flip this
    must flip their oracle's shingle CTE the same way.

    The r9 lever behind the exact-similarity family: set semantics are
    PER DOCUMENT, so deduplication is local to the row —
    ``array_distinct`` inside the projection replaces
    ``shingles(distinct=True)``'s corpus-wide (id, shingle) DISTINCT
    exchange with zero shuffle, and the set size rides along for free
    (the old shape paid a second shuffle — groupBy(id).count() over
    the exploded table — to recover it). Consumers explode this for
    shingle-keyed work and read set_size/shingle_set directly for
    sizes and verify joins; the per-row array is bounded by the
    document's own token count, the same bound the verify join
    already ships.

    The result is lazily ``localCheckpoint``\\ ed. The pin is a
    measured single-JVM win (truncating the lineage stops
    InferFiltersFromGenerate re-inlining the regexp+transform tree ~8x
    per consuming explode, 0.4 -> 3.3 s at sf0.1 without it), at a
    cost: local checkpoints are non-replicated executor state, so on a
    multi-executor cluster an executor loss makes the downstream job
    unrecoverable-by-recompute, and the materialized per-doc shingle
    arrays hold roughly n x the corpus text in block storage.
    """
    # carry_cols (r12, optimization round): extra source columns to ride
    # the projection (and the checkpoint) so downstream verify joins can
    # attach them for free instead of re-joining the source by id — the
    # candidate-first verifier family carries the raw text this way,
    # removing two corpus-scale join-backs per query. The checkpoint
    # then materializes those columns too (for text, roughly the corpus
    # bytes on top of the ~n× shingle arrays it already holds).
    # r13 (ADVICE): reject carry names that collide with this
    # function's own output/internal columns — a carry named "id" or
    # "set_size" would silently produce duplicate/ambiguous columns.
    _reserved = {"id", "shingle_set", "set_size", "_tk", "shingle"}
    bad = [c for c in carry_cols if c in _reserved]
    if bad:
        raise ValueError(
            f"shingle_sets carry_cols {bad} collide with reserved "
            f"internal/output column names {sorted(_reserved)}; rename "
            "the source column(s) before carrying them"
        )
    out = (
        df.select(
            F.col(id_col).alias("id"),
            tokens_col(text_col).alias("_tk"),
            *[F.col(c) for c in carry_cols],
        )
        .select(
            "id",
            F.array_sort(
                F.array_distinct(_word_ngrams(n, short_whole_text))
            ).alias("shingle_set"),
            *[F.col(c) for c in carry_cols],
        )
        .withColumn("set_size", F.size("shingle_set").cast("long"))
    )
    # Lazy pin: exploding a computed array column triggers
    # InferFiltersFromGenerate, whose size(...)>0 / isnotnull filter
    # re-inlines the whole regexp+transform+distinct+sort tree several
    # times per row. The checkpoint truncates the tree so every consumer
    # (explode, sizes, verify arrays) reads stored values.
    return out.localCheckpoint(eager=False)


def _shingle_overlaps(
    df: DataFrame, id_col: str, text_col: str, n: int, max_shingle_df: int
) -> DataFrame:
    """(id_a, id_b, intersection, size_a, size_b) for every document
    pair sharing at least one shingle present in at most
    ``max_shingle_df`` documents, id_a < id_b: the shared stage of the
    exact shingle-overlap verifiers.

    Both consumers (set sizes, pair counts) read ``shingle_sets`` —
    per-document distinct arrays built scan-side — so there is no
    corpus-wide (id, shingle) DISTINCT exchange and no groupBy(id) size
    shuffle; the one wide shuffle is the groupBy(shingle) that the
    algorithm needs. It yields both the document-frequency filter
    (2 ≤ |ids| ≤ max_df) and the co-occurring id list, whose sorted
    pair-explode replaces the classic shingle self-join, so per-shingle
    fanout is bounded by max_df²/2. The df cap is the documented
    completeness trade-off (at scale: also the skew guard). Nothing is
    cached: sizes is a second scan-side pass that parallelizes
    perfectly, and the exploded table is never materialized (several×
    the corpus size at 100 TB)."""
    ss = shingle_sets(df, id_col, text_col, n)
    sh = ss.select("id", F.explode("shingle_set").alias("shingle"))
    sizes = ss.select("id", "set_size")
    inter = (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_shingle_df))
        .select(F.explode(sorted_pairs("ids")).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("intersection"))
    )
    return inter.join(
        sizes.withColumnRenamed("id", "id_a").withColumnRenamed("set_size", "size_a"), "id_a"
    ).join(
        sizes.withColumnRenamed("id", "id_b").withColumnRenamed("set_size", "size_b"), "id_b"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
    max_shingle_df: int = 25,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs sharing ≥1
    (non-stop) shingle. Returns (id_a, id_b, intersection, size_a,
    size_b, jaccard) with id_a < id_b and jaccard ≥ threshold.

    ``max_shingle_df`` drops shingles present in more than that many
    documents before pairing — bounds the self-join fanout (see
    ``_shingle_overlaps`` for the plan shape)."""
    return (
        _shingle_overlaps(df, id_col, text_col, n, max_shingle_df)
        .withColumn(
            "jaccard",
            F.col("intersection").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("intersection")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "intersection", "size_a", "size_b",
                F.round("jaccard", 6).alias("jaccard"))
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    max_shingle_df: int = 25,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: max-containment pairs.
    Containment |A∩B|/|A| catches the quote-inclusion / boilerplate-
    wrapper case Jaccard misses — a short doc fully embedded in a long
    one has tiny Jaccard (union is dominated by the long doc) but
    containment 1.0 from the short side. Emits unordered pairs with
    ``containment = intersection / min(size_a, size_b)`` (the larger
    of the two directed containments) ≥ threshold.

    The pair counts and set sizes are ``ngram_jaccard_pairs``' own
    (``_shingle_overlaps``); only the ratio differs."""
    return (
        _shingle_overlaps(df, id_col, text_col, n, max_shingle_df)
        .withColumn(
            "containment",
            F.col("intersection").cast("double")
            / F.least("size_a", "size_b").cast("double"),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "intersection", "size_a", "size_b",
                F.round("containment", 6).alias("containment"))
    )


def minhash_signatures_wide(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """k seeded minhashes per document in ONE groupBy: each shingle row
    carries an array of its k seeded hashes (md5('seed:shingle')) and
    the aggregate takes the element-wise min. Output: (id, m0..m{k-1}).

    Shuffle volume = k small strings per doc (map-side partial min);
    no (id, seed) re-shuffle, no seed explosion. Shingles are taken
    non-distinct: min over a multiset equals min over its set, so the
    distinct's shuffle of raw shingle strings is skipped."""
    sh = shingles(df, id_col, text_col, shingle_n, distinct=False)
    hashes = F.array(
        *[
            F.md5(F.concat_ws(":", F.lit(str(s)), F.col("shingle")))
            for s in range(num_hashes)
        ]
    )
    return (
        sh.withColumn("_h", hashes)
        .groupBy("id")
        .agg(
            *[
                F.min(F.element_at(F.col("_h"), s + 1)).alias(f"m{s}")
                for s in range(num_hashes)
            ]
        )
    )


def minhash_band_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    wide: DataFrame | None = None,
) -> DataFrame:
    """(id, band, bucket) LSH band table — the persistable index form.
    At scale this is what you write bucketed on (band, bucket) so
    that tomorrow's delta joins it with zero base-side exchange; see
    ``minhash_incremental_candidates``.

    ``wide``: precomputed ``minhash_signatures_wide`` output. Pass it
    (checkpointed) when the caller also consumes the signatures
    directly — skips a second corpus-scale shingle+hash pass."""
    if wide is None:
        wide = minhash_signatures_wide(df, id_col, text_col, num_hashes, shingle_n)
    return _band_rows(wide, num_hashes, rows_per_band)


def _band_rows(sigs: DataFrame, num_hashes: int, rows_per_band: int) -> DataFrame:
    """(id, band, bucket) rows of a signature table (id, m0..m{k-1}):
    band b's bucket is the concatenation of its ``rows_per_band``
    minhashes, one skinny row per band."""
    assert num_hashes % rows_per_band == 0
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(
                    *[F.col(f"m{b * rows_per_band + p}") for p in range(rows_per_band)]
                ).alias("bucket"),
            )
            for b in range(num_hashes // rows_per_band)
        ]
    )
    return sigs.select("id", F.explode(bands).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    wide: DataFrame | None = None,
) -> DataFrame:
    """LSH banding: concat each band's minhashes into a bucket key;
    documents sharing any (band, bucket) become candidate pairs
    (id_a < id_b, distinct). This is the linear-cost candidate
    generator the exact Jaccard verifier then confirms. ``wide``
    forwards a precomputed signature table (see minhash_band_rows).

    The defaults (num_hashes=8, rows_per_band=2 → 4 bands) are the
    ``choose_lsh_bands(fn_weight=10)`` answer on ``lsh_band_planner``'s
    S-curve table at t=0.6: false positives cost one verification each
    while false negatives are duplicates lost for good, so the chosen
    point trades FP area 0.2096 for FN area 0.0159 rather than the
    area-balanced (2 bands × 4 rows) optimum — see the planner query
    and its pytest for the measured table."""
    per_band = minhash_band_rows(
        df, id_col, text_col, num_hashes, rows_per_band, shingle_n, wide=wide
    )
    # groupBy + pair-explode instead of a bucket self-join: one shuffle
    # of (band, bucket) keys, and singleton buckets vanish in the
    # filter instead of flowing into a join probe side.
    return _bucket_pairs(per_band).distinct()


def _bucket_pairs(band_rows: DataFrame) -> DataFrame:
    """(id_a, id_b) for every pair of ids sharing a (band, bucket), once
    per shared bucket."""
    return (
        band_rows.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.explode(sorted_pairs("ids")).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
    )


def minhash_incremental_candidates(
    delta: DataFrame,
    base: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Incremental LSH maintenance: candidate pairs TOUCHING the delta
    only — hash the delta, never re-mine the base corpus.

    The operational dedup shape at scale: the base band table is a
    persisted artifact (``minhash_band_rows`` written bucketed on
    (band, bucket)); a daily delta only (a) hashes its own
    documents, (b) equi-joins the base index on (band, bucket) for
    delta-vs-base pairs — zero base-side exchange when the index is
    bucketed — and (c) runs the ordinary bucket pair-explode on
    itself for delta-vs-delta pairs. Output is exactly
    ``minhash_lsh_candidates(base ∪ delta)`` restricted to pairs with
    ≥ 1 delta member (asserted by test and by the registry query's
    exact DuckDB oracle), with ids normalized to id_a < id_b."""
    d_bands = minhash_band_rows(
        delta, id_col, text_col, num_hashes, rows_per_band, shingle_n
    )
    b_bands = minhash_band_rows(
        base, id_col, text_col, num_hashes, rows_per_band, shingle_n
    )
    cross = (
        d_bands.alias("d")
        .join(b_bands.alias("b"), ["band", "bucket"])
        .select(
            F.least(F.col("d.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("d.id"), F.col("b.id")).alias("id_b"),
        )
    )
    return cross.unionByName(_bucket_pairs(d_bands)).distinct()


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """SimHash over distinct word tokens: per bit position j, sum the
    ±1 contributions of each token's md5-derived integer; bit j is set
    iff the sum is positive. Output: (id, simhash).

    Computed in ONE Arrow ``pandas_udf`` kernel — all bit votes for a
    whole batch of documents in a single numpy reduction. ZERO
    shuffles: tokenization (``regexp_extract_all`` + ``array_distinct``)
    stays JVM-side, the token array rides the Arrow batch into numpy,
    and the signature comes back as a long. The previous pure-Column
    formulation exploded tokens × bits rows through two groupBys (~32×
    row inflation) — at 100 TB that is a multi-terabyte shuffle for
    what is inherently a per-row computation.

    Hash parity: token hash = first ``ceil(bits/4)`` hex chars of md5,
    as an int — identical to ``conv(substr(md5(tok),1,n),16,10)``, so
    the DuckDB oracle reproduces signatures bit-for-bit (8 chars at
    the 32-bit default; 15 chars for the 60-bit banding variant —
    60 ≤ 63 keeps every shift inside a signed BIGINT). Docs with zero
    tokens are absent from the output (explode parity with the old
    shape)."""
    import numpy as np
    import pandas as pd

    assert bits <= 60, "signature must fit a signed 64-bit int with headroom"
    hex_chars = (bits + 3) // 4

    # NB: no inline type hints — ``from __future__ import annotations``
    # stringifies them, which pandas_udf's hint parser rejects; real
    # annotation objects are attached below before wrapping.
    def _simhash_kernel(tok_arrays):
        import hashlib

        n = len(tok_arrays)
        out = np.zeros(n, dtype=np.int64)
        lens = np.fromiter((len(t) for t in tok_arrays), dtype=np.int64, count=n)
        total = int(lens.sum())
        if total == 0:
            return pd.Series(out)
        flat = np.fromiter(
            (
                int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:hex_chars], 16)
                for toks in tok_arrays
                for tok in toks
            ),
            dtype=np.int64,
            count=total,
        )
        # (total, bits) ±1 contributions, summed per document slice
        contribs = (((flat[:, None] >> np.arange(bits)) & 1) * 2 - 1).astype(
            np.int64
        )
        bounds = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lens, out=bounds[1:])
        nz = lens > 0
        # reduceat needs strictly increasing starts — empty docs would
        # alias their successor's first row, so slice them out (their
        # signature is 0 and they are filtered upstream anyway)
        votes = np.add.reduceat(contribs, bounds[:-1][nz], axis=0)
        out[nz] = ((votes > 0).astype(np.int64) << np.arange(bits)).sum(axis=1)
        return pd.Series(out)

    _simhash_kernel.__annotations__ = {"tok_arrays": pd.Series, "return": pd.Series}
    _simhash = F.pandas_udf(_simhash_kernel, T.LongType())

    toks_df = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(tokens_col(text_col)).alias("_toks"),
    ).filter(F.size("_toks") > 0)
    return toks_df.select("id", _simhash("_toks").alias("simhash"))


def simhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs via signature banding + exact hamming
    verify.

    Pigeonhole guarantee: a pair within ``bands - 1`` flipped bits
    shares at least one intact band, so banding on ``bands`` equal
    slices of the signature finds EVERY pair with hamming ≤ bands−1
    (= ``max_hamming`` at the defaults) while only ever pairing
    documents that collide in a band bucket — the same linear-cost
    generate→verify split as MinHash-LSH→Jaccard, but on the integer
    signature instead of shingle sets. One groupBy of (band, value)
    keys; singleton buckets vanish before any pairing; the exact
    ``bit_count(xor)`` verification runs only on candidates.

    Band width sets the bucket count and hence the candidate volume:
    8-bit bands (32-bit sig / 4 bands) give only 256 values per band,
    so buckets — and the pair explode — grow QUADRATICALLY with corpus
    size (measured 10× wall at sf0.1). The 60-bit / 15-bit-band
    default gives 32768 values per band; widen further (more bits, or
    6×10-bit bands for hamming ≤ 5) before quadratic growth, the
    standard LSH capacity trade.

    Duplicate-heavy corpora (r3 restructure): banding raw documents
    collapses when many docs share a signature — template-generated
    corpora (and the sf testdata) put 100s of docs in ONE band bucket
    (sf0.1: a 1582-doc bucket → 1.25M pairs in a single task, a 2.9M-
    row candidate explode and a 2.9M-row DISTINCT shuffle; this was the
    bench's unexplained 2-8 s run-to-run variance — one straggler task
    plus GC, not Arrow or the exchange). The operator therefore (1)
    groups ids by signature FIRST — intra-signature pairs (hamming 0)
    are emitted directly from the sorted id array, (2) bands only the
    DISTINCT signatures (sf0.1: 4.6× fewer candidate pairs, max bucket
    573 vs 1582), (3) replaces the candidate DISTINCT with a zero-
    shuffle first-collision-band filter — a pair is kept only in the
    lowest band where its two signatures agree, a predicate computable
    from the signatures alone, and (4) expands surviving signature
    pairs (post-hamming-filter, i.e. output-sized) back to id pairs via
    two AQE-broadcastable joins against the signature→ids table. Every
    remaining quadratic term is bounded by the true near-dup cluster
    structure — i.e. by the output size — not by bucket skew.

    The signature→ids table is pinned with a lazy ``localCheckpoint``
    (r4): it feeds FOUR consumers (intra pairs, the distinct-signature
    band table, and both id-expansion joins), and without the pin the
    expensive part of the whole operator — the corpus scan + Arrow
    simhash kernel + collect_list shuffle — re-executed once per
    consumer (4×; this was the residual 4–5 s / 1.5–1.9× bench spread
    the r3 verdict flagged). Checkpoint size is |distinct signatures|
    rows of (long, id array) — dimension-scale, never the corpus."""
    assert bits % bands == 0
    width = bits // bands
    mask = (1 << width) - 1
    sigs = simhash_signatures(df, id_col, text_col, bits)
    groups = (
        sigs.groupBy("simhash")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .localCheckpoint(eager=False)
    )

    # (1) hamming-0 pairs: every id pair within one signature group
    intra = (
        groups.filter(F.size("ids") >= 2)
        .select(F.explode(sorted_pairs("ids")).alias("p"))
        .select(
            F.col("p.id_a").alias("id_a"),
            F.col("p.id_b").alias("id_b"),
            F.lit(0).cast("integer").alias("hamming"),
        )
    )

    # (2) band the distinct signatures only
    dsig = groups.select("simhash")
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.expr(f"(simhash >> {b * width}) & {mask}").alias("val"),
            )
            for b in range(bands)
        ]
    )
    per_band = dsig.select("simhash", F.explode(band_arr).alias("bb")).select(
        "simhash", F.col("bb.band").alias("band"), F.col("bb.val").alias("val")
    )
    # (3) multi-band dedup as a filter: keep a signature pair only in
    # the LOWEST band in which the two signatures collide — decidable
    # from (s_a, s_b, band) alone, so no DISTINCT exchange is needed.
    first_band = (
        "band = 0 OR NOT exists(sequence(0, band - 1), "
        f"b -> ((s_a >> b * {width}) & {mask}) = ((s_b >> b * {width}) & {mask}))"
    )
    sig_pairs = (
        per_band.groupBy("band", "val")
        .agg(F.array_sort(F.collect_list("simhash")).alias("ss"))
        .filter(F.size("ss") >= 2)
        .select("band", F.explode(sorted_pairs("ss")).alias("p"))
        .select("band", F.col("p.id_a").alias("s_a"), F.col("p.id_b").alias("s_b"))
        .filter(F.expr(first_band))
        .withColumn("hamming", F.expr("bit_count(s_a ^ s_b)"))
        .filter(F.col("hamming") <= max_hamming)
        .drop("band")
    )

    # (4) signature pairs → id pairs; sig_pairs is output-sized (post
    # hamming filter) so AQE broadcasts it against the groups table
    cross = (
        sig_pairs.join(
            groups.select(F.col("simhash").alias("s_a"), F.col("ids").alias("ids_a")),
            "s_a",
        )
        .join(
            groups.select(F.col("simhash").alias("s_b"), F.col("ids").alias("ids_b")),
            "s_b",
        )
        .select(F.explode("ids_a").alias("x"), F.col("ids_b"), F.col("hamming"))
        .select(F.col("x"), F.explode("ids_b").alias("y"), F.col("hamming"))
        .select(
            F.least("x", "y").alias("id_a"),
            F.greatest("x", "y").alias("id_b"),
            F.col("hamming"),
        )
    )
    return intra.unionByName(cross)


def _union_find_kernel(batches):
    """Single-partition union-find over the (src, dst) edge stream:
    union by MIN root (so every root IS the component minimum — the
    same label the iterative path converges to) with path halving.
    Emits (id, cluster_id) for every id seen in an edge."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        r = parent.setdefault(x, x)
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression to the root
            parent[x], x = r, parent[x]
        return r

    for pdf in batches:
        for a, b in zip(pdf["src"], pdf["dst"]):
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
    ids = list(parent)
    yield pd.DataFrame({"id": ids, "cluster_id": [find(x) for x in ids]})


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 20,
    small_graph_edges: int = 5_000_000,
    small_graph_nodes: int = 2_000_000,
) -> DataFrame:
    """Connected components: every node's label converges to the
    minimum node id reachable in its component. Returns
    (id, cluster_id).

    Scale design is a SIZE-GATED HYBRID, because the match graph
    after blocking/scoring is orders of magnitude smaller than the
    corpus that produced it (the ER-system shape): the edge list is
    materialized once and counted, and when BOTH gates pass — at most
    ``small_graph_edges`` edges AND at most ``small_graph_nodes``
    distinct touched endpoints (the second gate is the one that
    actually bounds heap: the union-find holds a Python dict over the
    touched node ids, ≈ 90–150 B/entry incl. key objects, so the 2M
    default caps the single task near ~300 MB; edge batches stream
    through as Arrow chunks and are not retained) — the closure runs
    as a single-task executor-side union-find (union-by-min + path
    compression — exact same min-label semantics, one job, no
    iterations; measured 5-7 s → <1 s on a 1200-node closure where
    per-iteration scheduler overhead dominates). The node gate is one
    extra distinct-count over the already-checkpointed symmetric edge
    list. Larger graphs take the iterative min-label propagation
    path: each iteration is one shuffle (groupBy dst of
    the symmetric edge list) plus a join back to labels, with
    ``localCheckpoint`` truncating lineage per round and iteration
    parallelism sized to the label table (one partition per ~50k
    labels) so small closures don't pay 32-partition fixed costs.
    Early-stops when no label changes; cluster diameter of near-dup
    graphs is tiny, so convergence is a handful of rounds.
    """
    from pyspark.sql import functions as F

    sym = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).union(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
    sym = sym.localCheckpoint(eager=True)
    n_sym = sym.count()

    nodes_sel = nodes.select(F.col(id_col).alias("id"))
    small = n_sym <= 2 * small_graph_edges
    if small:
        # sym is symmetric, so distinct src == distinct touched nodes.
        n_touched = sym.select("src").distinct().count()
        small = n_touched <= small_graph_nodes
    if small:
        id_type = nodes_sel.schema["id"].dataType.simpleString()
        uf = sym.coalesce(1).mapInPandas(
            _union_find_kernel, f"id {id_type}, cluster_id {id_type}"
        )
        return nodes_sel.join(uf, "id", "left").select(
            "id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id")
        )

    labels = nodes_sel.select(
        "id", F.col("id").alias("cluster_id")
    ).localCheckpoint(eager=True)
    n_nodes = labels.count()
    parallelism = nodes.sparkSession.sparkContext.defaultParallelism
    parts = max(1, min(parallelism, n_nodes // 50_000 + 1))
    labels = labels.repartition(parts, "id").localCheckpoint(eager=True)
    sym = sym.repartition(parts, "src").localCheckpoint(eager=True)

    for _ in range(max_iter):
        neighbor_min = (
            labels.join(sym, labels.id == sym.src)
            .groupBy("dst")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        # Carry a per-row "label improved" flag through the update so
        # convergence detection is an agg on the SAME pass: the lazy
        # localCheckpoint materializes on the agg action below — ONE
        # job per iteration instead of update-job + compare-join-job.
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.dst, "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce("nbr_min", F.col("cluster_id"))
                ).alias("new_cluster_id"),
                (
                    F.coalesce("nbr_min", F.col("cluster_id")) < F.col("cluster_id")
                ).alias("_changed"),
            )
            .withColumnRenamed("new_cluster_id", "cluster_id")
            .localCheckpoint(eager=False)
        )
        row = new_labels.agg(F.max("_changed").alias("any_changed")).first()
        labels = new_labels.drop("_changed")
        if not (row and row["any_changed"]):
            break
    return labels


# (session identity, left.semanticHash, right.semanticHash,
# block_cols, max_pairs) → verified budget. Keeps the eager guard from
# re-running Spark jobs every time the SAME plan is rebuilt
# (explain_audit, repeated registry invocations, plan-only tests).
# STALENESS WINDOW: semanticHash identifies the logical plan, NOT the
# data underneath — a plan re-run after files were appended to the
# same path (or a view/JDBC table refreshed) returns the cached budget
# without re-verification. Session identity is (applicationId,
# startTime) — stable for a context's lifetime and never reused, where
# id(sparkSession) CAN be reused by CPython after GC and would let a
# fresh session inherit a dead one's budgets. Inserting under a new
# session identity evicts all other sessions' entries, so the cache is
# bounded by one live session's plan count. Long-lived sessions that
# mutate inputs in place should call clear_pair_budget_cache() after
# ingest.
_PAIR_BUDGET_CACHE: dict = {}


# Per-SESSION (not per-context) component of the identity: a uuid
# stamped on each SparkSession object the first time it is seen. Weak
# keys mean a dead session's stamp is collected with it and can never
# be recycled onto a new session (unlike CPython id()).
_SESSION_UUIDS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _session_identity(df: DataFrame):
    """Stable, non-reusable identity for the SESSION owning ``df``.

    (applicationId, startTime) pins the context — stable across the
    app's lifetime, never recycled by CPython object reuse. But every
    ``SparkSession.newSession()`` sibling shares one context (r7
    ADVICE #2: keying on the context alone silently weakened the
    per-session isolation contract — a sibling re-registering data
    under the same path could inherit a stale verified budget), so a
    weakly-held per-session uuid is appended: siblings get distinct
    identities, and a collected session's uuid dies with it."""
    sess = df.sparkSession
    sc = sess.sparkContext
    try:
        stamp = _SESSION_UUIDS.get(sess)
        if stamp is None:
            stamp = uuid.uuid4().hex
            _SESSION_UUIDS[sess] = stamp
    except TypeError:  # non-weakrefable session impl: context identity only
        stamp = None
    return (sc.applicationId, sc.startTime, stamp)


def clear_pair_budget_cache() -> None:
    """Invalidation hook for the eager pair-budget memo: call after
    appending data under a path an earlier budget check already
    verified (the cache is keyed by logical plan + session, so
    in-place data growth is otherwise invisible to it)."""
    _PAIR_BUDGET_CACHE.clear()


def assert_blocked_pair_budget(
    left: DataFrame,
    right: DataFrame,
    block_cols: list,
    max_pairs: int,
    op_name: str,
) -> int:
    """Fail LOUD before a bad blocking key silently goes quadratic:
    computes the exact scored-pair budget Σ_b |left_b|·|right_b| with
    one tiny count-aggregate per side (map-side combined — block-key
    cardinality rows, never the texts) and raises naming the worst
    blocks when it exceeds ``max_pairs``. The Python pair scorers
    (Jaro-Winkler ~20k pairs/s/core, Damerau ~1.3k pairs/s/core at
    ~40-char strings — PERF.md) are only safe because blocking bounds
    the pairs; this makes that bound an enforced contract instead of a
    docstring promise.

    EAGERNESS is the documented cost of the contract: the check runs
    Spark jobs at operator-CONSTRUCTION time (bounded collect: 1 total
    + 3 rows on failure), so building the plan is not free. Two
    escape hatches: results are memoized on the logical plan
    (``semanticHash``) so rebuilding the same plan never re-runs the
    jobs, and callers that only want the plan can pass
    ``max_pairs=None`` to the blocked_* operators, which skips the
    check entirely."""
    try:
        cache_key = (
            _session_identity(left),
            left.semanticHash(),
            right.semanticHash(),
            tuple(str(c) for c in block_cols),
            max_pairs,
        )
    except Exception:
        cache_key = None
    if cache_key is not None and cache_key in _PAIR_BUDGET_CACHE:
        return _PAIR_BUDGET_CACHE[cache_key]
    la = left.groupBy(*block_cols).agg(F.count(F.lit(1)).alias("_nl"))
    rb = right.groupBy(*block_cols).agg(F.count(F.lit(1)).alias("_nr"))
    per = la.join(rb, [str(c) for c in block_cols]).select(
        *block_cols, (F.col("_nl") * F.col("_nr")).alias("n_pairs")
    )
    row = per.agg(F.sum("n_pairs").alias("t")).first()
    total = int(row["t"] or 0)
    if total > max_pairs:
        worst = per.orderBy(F.desc("n_pairs")).limit(3).collect()
        detail = ", ".join(
            f"{tuple(r[c] for c in block_cols)}={r['n_pairs']:,}" for r in worst
        )
        raise ValueError(
            f"{op_name}: blocked-pair budget exceeded: "
            f"sum(|l_b|*|r_b|) = {total:,} > max_pairs = {max_pairs:,}; "
            f"worst blocks: {detail}. Refine the blocking key (add a "
            "length band, split hot blocks) or raise max_pairs explicitly."
        )
    if cache_key is not None:
        sess = cache_key[0]
        stale = [k for k in _PAIR_BUDGET_CACHE if k[0] != sess]
        for k in stale:
            del _PAIR_BUDGET_CACHE[k]
        _PAIR_BUDGET_CACHE[cache_key] = total
    return total


def _blocked_text_pairs(
    left: DataFrame,
    right: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: tuple[str, ...],
    max_pairs: int | None,
    op_name: str,
) -> DataFrame:
    """Candidate pairs of the blocked scorers: (k_<block col>..., id_a,
    text_a, id_b, text_b) for every left/right row pair that agrees on
    all ``block_cols``. Candidates come from an ordinary equi-join on
    the block keys, never a cartesian product, so Σ_b |left_b|·|right_b|
    bounds the scored pairs at any scale. Unless ``max_pairs`` is None,
    that bound is checked up front (``assert_blocked_pair_budget``,
    eager) and the operator fails loud naming the hot blocks instead of
    silently launching a quadratic job."""
    keys = [f"k_{c}" for c in block_cols]
    a = left.select(
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias("text_a"),
        *[F.col(c).alias(k) for c, k in zip(block_cols, keys)],
    )
    b = right.select(
        F.col(id_col).alias("id_b"),
        F.col(text_col).alias("text_b"),
        *[F.col(c).alias(k) for c, k in zip(block_cols, keys)],
    )
    if max_pairs is not None:
        assert_blocked_pair_budget(a, b, keys, max_pairs, op_name)
    return a.join(b, keys)


def _pair_cap(pct: float) -> Column:
    """Each pair's distance cap: ``pct``% of its longer text."""
    return (F.greatest(F.length("text_a"), F.length("text_b")) * pct) / 100


def _levenshtein_within(pairs: DataFrame, pct: float) -> DataFrame:
    """``pairs`` with ``lev_dist``, the Levenshtein distance of text_a
    and text_b, kept where it is at most ``pct``% of the longer text.
    Both engines implement identical classic single-character edit
    distance (insert/delete/substitute).

    Banded early-exit DP: Spark's 3-arg ``levenshtein(l, r, T)``
    computes only the |i-j| <= T diagonal band and returns -1 as soon
    as the distance provably exceeds T — O(n·T) instead of the full
    O(n·m) table. T = greatest(1, floor(max(len_a, len_b)·pct/100)) is
    each pair's own cap, so the output is exact: integer d <= cap ⟺
    d <= T → exact distance; d > cap ⇒ d > T → -1 → filtered. The band
    uses the exact ``pct`` (CAST truncates toward zero), never int(pct),
    which would band tighter than the cap for a fractional pct. At 10%
    this is ~10x less DP work per scored pair: measured against the
    full DP on identical outputs, 7.9x at the 1x layout (17.0 -> 2.15 s)
    and 11.3x at 10x (227 -> 20.1 s); at 100x (442M pairs) the banded
    form finishes in 831 s where the full DP could not complete one
    pass in 900+ s (PERF.md r10). Construction runs no job."""
    lev = F.expr(
        "levenshtein(text_a, text_b, greatest(1, CAST("
        f"greatest(length(text_a), length(text_b)) * {pct!r} / 100 AS INT)))"
    )
    return pairs.withColumn("lev_dist", lev.cast("long")).filter(
        (F.col("lev_dist") >= 0) & (F.col("lev_dist") <= _pair_cap(pct))
    )


def blocked_levenshtein_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: tuple[str, ...] = ("lang", "source"),
    band_chars: int = 64,
    max_rel_dist_pct: float = 10,
    max_pairs: int | None = 50_000_000,
) -> DataFrame:
    """Entity-resolution-style fuzzy pair finder: blocked edit-distance
    join. Candidate pairs come only from the SAME block — the categorical
    ``block_cols`` plus a text-length band (``length DIV band_chars``) —
    then each pair is verified with exact Levenshtein distance at most
    ``max_rel_dist_pct``% of the longer text (``_levenshtein_within``).

    This is the classical record-linkage blocking pattern: the O(n²)
    all-pairs comparison collapses to Σ_b |b|² over blocks, and the
    equi-join on block keys is an ordinary shuffle join — no cartesian
    product at any scale (block sizes bound the quadratic term; at
    100 TB you'd additionally cap or split pathological blocks, the
    same guard `ngram_jaccard` applies via max_shingle_df).

    Length-band blocking is also a correctness-preserving filter for
    the verifier threshold: two texts whose lengths differ by more than
    the allowed distance can never match, and a relative threshold of
    10% with 64-char bands misses only pairs straddling a band edge —
    the standard multi-pass blocking tradeoff, documented rather than
    hidden.

    ``max_pairs`` guards the quadratic term: the self-join budget
    Σ_b |b|² (a conservative 2× bound on the id<id pairs actually
    scored) is checked up front — ONE eager one-row aggregate over
    ``docs`` at construction, a **construction-time snapshot** (rebuild
    the plan after appends). With ``max_pairs=None`` construction is
    plan-only (``assert_blocked_pair_budget``'s documented escape
    hatch); the banded verifier needs no snapshot either way.
    """
    banded = docs.withColumn(
        "band", F.expr(f"length({text_col}) DIV {band_chars}")
    )
    pairs = _blocked_text_pairs(
        banded, banded, text_col, id_col, (*block_cols, "band"), max_pairs,
        "blocked_levenshtein_pairs",
    ).filter(F.col("id_a") < F.col("id_b"))
    return _levenshtein_within(pairs, max_rel_dist_pct).select(
        F.col("id_a").alias("doc_id_a"), F.col("id_b").alias("doc_id_b"), "lev_dist"
    )


def _jaro_winkler_py(a: str, b: str) -> float:
    """Canonical Jaro-Winkler (match window ⌊max/2⌋−1, transpositions =
    half the out-of-order matches, +0.1·prefix≤4 boost only when
    jaro > 0.7, empty string → 0.0 even against itself) — fuzz-verified
    bit-for-bit against DuckDB's jaro_winkler_similarity over 35k
    random pairs, so the oracle can use the SQL builtin directly."""
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    if a == b:
        return 1.0
    window = max(max(la, lb) // 2 - 1, 0)
    b_matched = [False] * lb
    a_matched = [False] * la
    m = 0
    for i, ca in enumerate(a):
        for j in range(max(0, i - window), min(lb, i + window + 1)):
            if not b_matched[j] and b[j] == ca:
                a_matched[i] = b_matched[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(la):
        if a_matched[i]:
            while not b_matched[k]:
                k += 1
            if a[i] != b[k]:
                t += 1
            k += 1
    t //= 2
    jaro = (m / la + m / lb + (m - t) / m) / 3
    if jaro > 0.7:
        prefix = 0
        for ca, cb in zip(a, b):
            if ca == cb and prefix < 4:
                prefix += 1
            else:
                break
        jaro = jaro + prefix * 0.1 * (1 - jaro)
    return jaro


def _damerau_levenshtein_py(a: str, b: str) -> int:
    """FULL Damerau-Levenshtein (Lowrance-Wagner DP with the last-seen
    character table — transposed characters may be edited afterwards,
    unlike the cheaper OSA variant: dl('ca','abc') = 2, OSA = 3).
    Fuzz-verified to equal DuckDB's damerau_levenshtein on 20k random
    pairs, so the oracle can use the SQL builtin directly."""
    da: dict[str, int] = {}
    la, lb = len(a), len(b)
    maxdist = la + lb
    d = [[0] * (lb + 2) for _ in range(la + 2)]
    d[0][0] = maxdist
    for i in range(la + 1):
        d[i + 1][0] = maxdist
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[0][j + 1] = maxdist
        d[1][j + 1] = j
    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            k = da.get(b[j - 1], 0)
            l = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,  # substitute / match
                d[i + 1][j] + 1,  # insert
                d[i][j + 1] + 1,  # delete
                d[k][l] + (i - k - 1) + 1 + (j - l - 1),  # transpose
            )
        da[a[i - 1]] = i
    return d[la + 1][lb + 1]


def _damerau_levenshtein_capped(a: str, b: str, cap: int) -> int:
    """Cap-bounded Damerau-Levenshtein: returns the EXACT
    Lowrance-Wagner distance when it is <= ``cap``, else ``cap + 1``
    (callers filter on <= cap, so any over-cap value is equivalent).
    Three sound accelerations over ``_damerau_levenshtein_py``:

    1. Length prefilter: dl >= |len(a) - len(b)| (inserts/deletes
       alone must bridge the gap), so a longer gap than ``cap``
       rejects in O(1).
    2. Character-bag prefilter: transpositions permute characters and
       a substitution/insert/delete changes each side's surplus
       multiset by at most one character, so dl >= max(|bag(a) -
       bag(b)|, |bag(b) - bag(a)|) (multiset differences) — an O(len)
       reject that kills most true-negative candidate pairs before
       any DP.
    3. Ukkonen band: every DP cell satisfies d(i, j) >= |i - j| (the
       distance between prefixes is at least their length gap), so
       cells outside the |i - j| <= cap band can never contribute to
       a <= cap result — only the 2·cap+1-wide band is computed
       (O(len·cap) instead of O(len²)). Out-of-band cells keep the
       ``maxdist`` sentinel, which also correctly prices the
       Lowrance-Wagner transpose term's d[k][l] jump when (k, l)
       falls outside the band (its true value would exceed cap too).

    4. Common-affix trim: matched leading/trailing runs are removed
       before the DP (dl(xaz, xbz) = dl(a, b) — an optimal
       Lowrance-Wagner trace never pays to edit an aligned equal
       affix; verified EXHAUSTIVELY over all {a,b}-strings to length
       5 plus 20k random abc pairs, zero divergences). Candidate
       pairs are near-duplicates by construction, so this typically
       collapses kilobyte texts to the handful of differing bytes.

    Fuzz-verified against the full kernel (tests/test_r12_queries.py)
    on transposition-dense alphabets including cap boundary hits."""
    if cap < 0:
        return 0 if a == b else cap + 1
    if abs(len(a) - len(b)) > cap:
        return cap + 1
    i = 0
    while i < len(a) and i < len(b) and a[i] == b[i]:
        i += 1
    ea, eb = len(a), len(b)
    while ea > i and eb > i and a[ea - 1] == b[eb - 1]:
        ea -= 1
        eb -= 1
    a, b = a[i:ea], b[i:eb]
    la, lb = len(a), len(b)
    if not la and not lb:
        return 0
    from collections import Counter

    ca, cb = Counter(a), Counter(b)
    if max(sum((ca - cb).values()), sum((cb - ca).values())) > cap:
        return cap + 1
    da: dict[str, int] = {}
    maxdist = la + lb
    d = [[maxdist] * (lb + 2) for _ in range(la + 2)]
    for i in range(la + 1):
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[1][j + 1] = j
    for i in range(1, la + 1):
        db = 0
        lo, hi = max(1, i - cap), min(lb, i + cap)
        for j in range(lo, hi + 1):
            k = da.get(b[j - 1], 0)
            l = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,  # substitute / match
                d[i + 1][j] + 1,  # insert
                d[i][j + 1] + 1,  # delete
                d[k][l] + (i - k - 1) + 1 + (j - l - 1),  # transpose
            )
        da[a[i - 1]] = i
    res = d[la + 1][lb + 1]
    return res if res <= cap else cap + 1


# The Arrow scorers. Kernels carry no inline annotations (``from
# __future__ import annotations`` turns them into strings pandas_udf
# cannot resolve) and the UDFs take DataType objects, not DDL strings:
# parsing a DDL string needs a live session, and these are built at
# import.
def _damerau_kernel(sa, sb, caps):
    import pandas as pd

    # caps arrive as float64 when the batch holds a NULL cap (a NULL
    # text), hence int(); NULL texts score -1 and are filtered.
    return pd.Series(
        [
            _damerau_levenshtein_capped(a, b, int(c))
            if a is not None and b is not None
            else -1
            for a, b, c in zip(sa, sb, caps)
        ],
        dtype="int64",
    )


_damerau_udf = F.pandas_udf(_damerau_kernel, T.LongType())


def _damerau_within(pairs: DataFrame, cap: Column) -> DataFrame:
    """``pairs`` with ``dl_dist``, the Damerau-Levenshtein distance of
    text_a and text_b, kept where it is at most the per-row ``cap``.
    Spark has no damerau builtin, so the scorer is an Arrow pandas_udf
    over ``_damerau_levenshtein_capped``: exact for distances <= cap,
    cap + 1 past it, at O(len·cap) band cost instead of O(len²)."""
    return pairs.withColumn(
        "dl_dist", _damerau_udf(F.col("text_a"), F.col("text_b"), cap)
    ).filter((F.col("dl_dist") >= 0) & (F.col("dl_dist") <= cap))


def _jaro_winkler_kernel(sa, sb):
    import pandas as pd

    return pd.Series(
        [
            _jaro_winkler_py(a, b) if a is not None and b is not None else 0.0
            for a, b in zip(sa, sb)
        ],
        dtype="float64",
    )


_jaro_winkler_udf = F.pandas_udf(_jaro_winkler_kernel, T.DoubleType())


def blocked_damerau_pairs(
    left: DataFrame,
    right: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: tuple[str, ...],
    max_dist: int = 3,
    max_pairs: int | None = 50_000_000,
) -> DataFrame:
    """Transposition-aware fuzzy pair finder — completes the string-
    similarity family (Levenshtein for raw edits, Jaro-Winkler for
    prefix-weighted short identifiers, Damerau for typo-shaped data
    where swapped adjacent characters are ONE error, not two). The
    scorer is the capped Damerau Arrow UDF over block-key equi-join
    candidates; the Σ_b |l_b|·|r_b| cost bound is ENFORCED up front via
    ``assert_blocked_pair_budget`` (the Damerau DP is the slowest
    scorer in the family — PERF.md — so a silent hot block hurts most
    here)."""
    pairs = _blocked_text_pairs(
        left, right, text_col, id_col, block_cols, max_pairs,
        "blocked_damerau_pairs",
    )
    return _damerau_within(pairs, F.lit(max_dist)).select("id_a", "id_b", "dl_dist")


def blocked_jaro_winkler_pairs(
    left: DataFrame,
    right: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: tuple[str, ...],
    min_sim: float = 0.9,
    max_pairs: int | None = 50_000_000,
) -> DataFrame:
    """Record-linkage scoring with Jaro-Winkler similarity — the
    companion to ``blocked_levenshtein_pairs`` for SHORT identifier
    strings (names, codes), where edit distance over-penalizes
    transpositions and prefix agreement carries signal. Spark has no
    jaro builtin, so the scorer is an Arrow-batched pandas_udf (the
    extension tier's documented Python boundary); candidate generation
    stays a relational equi-join on the block keys, so there is no
    cartesian product at any scale — Σ_b |left_b|·|right_b| bounds the
    scored pairs exactly as in the Levenshtein verifier.
    """
    pairs = _blocked_text_pairs(
        left, right, text_col, id_col, block_cols, max_pairs,
        "blocked_jaro_winkler_pairs",
    )
    return (
        pairs.withColumn("jw_sim", _jaro_winkler_udf(F.col("text_a"), F.col("text_b")))
        .filter(F.col("jw_sim") >= min_sim)
        .select("id_a", "id_b", F.round("jw_sim", 6).alias("jw_sim"))
    )


def merge_upsert(
    base: DataFrame, updates: DataFrame, keys: list[str]
) -> DataFrame:
    """MERGE/upsert (CDC apply): rows from ``updates`` replace same-key
    rows in ``base``; unmatched update keys are inserted. The lakehouse
    MERGE INTO shape expressed engine-agnostically: tag-union the two
    sides and keep one survivor per key with updates winning —
    ``keyed_dedup_first`` over (key, precedence), i.e. ONE shuffle on
    the merge key, no join at all.

    Both inputs must share a schema. Determinism: within one side a key
    must be unique (the usual MERGE precondition — duplicate update
    keys are a user error that SQL MERGE rejects at runtime; here the
    precedence column makes cross-SIDE survivorship total, so the only
    nondeterminism possible is the precondition violation itself).

    At scale this is the nightly-CDC-apply pattern: base is the big
    side and shuffles once; a small delta could instead drive a
    broadcast anti-join union (base ∖ delta-keys ∪ delta) — same
    result, chosen by delta size. This operator is the general form.
    """
    tagged = base.withColumn("_prec", F.lit(1)).unionByName(
        updates.withColumn("_prec", F.lit(0))
    )
    return keyed_dedup_first(tagged, keys, ["_prec"]).drop("_prec")


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every token k-gram, slide a
    w-window over the hash sequence, keep each window's MINIMUM hash.
    Guarantees: any shared token run of length ≥ k + w - 1 between two
    documents produces at least one IDENTICAL fingerprint in both —
    position-robust SUBSTRING-level duplicate detection, the gap
    MinHash (whole-set resemblance) and SimHash (whole-doc signature)
    both leave open.

    Plan shape: k-gram construction and hashing are scan-side array
    exprs (transform over sequence — zero Python); the window min is
    ONE hash-partition by doc; fingerprints dedup in the same exchange.
    Output: distinct (id, fp) rows, ~n_tokens/((w+1)/2) per doc in
    expectation — a 2/(w+1) density guarantee from the paper.

    Hash parity: fingerprint = first 15 md5 hex chars of the k-gram as
    a bigint, so the DuckDB oracle reproduces every fingerprint
    bit-for-bit (same idiom as MinHash/SimHash above)."""
    from pyspark.sql.window import Window

    gram_hashes = (
        f"transform(sequence(1, size(tk) - {k - 1}), i -> "
        f"cast(conv(substr(md5(concat_ws(' ', slice(tk, i, {k}))), 1, 15), 16, 10) "
        f"as bigint))"
    )
    grams = (
        df.select(
            F.col(id_col).alias("id"),
            tokens_col(text_col).alias("tk"),
        )
        .filter(F.size("tk") >= k + w - 1)  # need at least one full window
        .select(
            "id",
            (F.size("tk") - (k - 1)).alias("n_grams"),
            F.posexplode(F.expr(gram_hashes)).alias("pos0", "h"),
        )
    )
    win = Window.partitionBy("id").orderBy("pos0").rowsBetween(0, w - 1)
    return (
        grams.withColumn("fp", F.min("h").over(win))
        .filter(F.col("pos0") <= F.col("n_grams") - w)  # full windows only
        .select("id", "fp")
        .distinct()
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
    min_shared: int = 3,
    max_df: int = 25,
) -> DataFrame:
    """Substring-level near-dup candidate pairs: documents sharing
    ≥ ``min_shared`` winnowing fingerprints. Same generate→pair shape
    as the shingle Jaccard verifier: one groupBy(fp) with a document-
    frequency cap (``max_df`` — boilerplate fingerprints shared by many
    docs carry no pair signal and would fan out quadratically), sorted
    pair-explode, pair-count aggregate. Never an all-pairs self-join."""
    fps = winnow_fingerprints(df, id_col, text_col, k, w)
    return (
        fps.groupBy("fp")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_df))
        .select(F.explode(sorted_pairs("ids")).alias("p"))
        .groupBy(
            F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def snapshot_diff(
    old: DataFrame, new: DataFrame, keys: list[str]
) -> DataFrame:
    """CDC EXTRACT — the inverse of ``merge_upsert``: given two
    snapshots of the same keyed table, classify every key as
    insert / delete / update / unchanged. One full-outer join on the
    key (the only shuffle; both sides pre-projected to key + a row
    digest), with row equality decided by md5 over the JSON rendering
    of a struct of the non-key columns — JSON escapes every byte of the
    values and spells field boundaries and NULLs structurally, so no
    value (embedded separators, a literal sentinel string vs a true
    NULL) can make two different rows collide, unlike a
    concat_ws/coalesce scheme (digests only ever compare WITHIN this
    engine, so string rendering of doubles needs no cross-engine
    contract). This is the nightly snapshot-to-CDC
    pattern for sources without a changelog; at 100 TB both sides
    shuffle once on the key and the digest keeps the join payload at
    one 32-char column regardless of table width."""
    non_keys = [c for c in old.columns if c not in keys]
    assert non_keys, "snapshot_diff needs at least one non-key column"

    def digest(df: DataFrame) -> F.Column:
        # to_json(struct(...)) drops null fields, but the KEY NAMES of
        # the present fields disambiguate: (a=null, b='x') → {"b":"x"}
        # vs (a='x', b=null) → {"a":"x"}. NOT xxhash64(struct): Spark's
        # hash leaves the accumulator untouched on null fields, so
        # (x, null) and (null, x) would collide.
        return F.md5(F.to_json(F.struct(*[F.col(c) for c in non_keys])))

    o = old.select(*keys, digest(old).alias("_h_old"))
    n = new.select(*keys, digest(new).alias("_h_new"))
    change = (
        F.when(F.col("_h_old").isNull(), "insert")
        .when(F.col("_h_new").isNull(), "delete")
        .when(F.col("_h_old") != F.col("_h_new"), "update")
        .otherwise("unchanged")
    )
    return o.join(n, keys, "full_outer").select(
        *keys, change.alias("change_type")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.5,
    short_whole_text: bool = False,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact set-similarity join via PREFIX FILTERING (SSJoin /
    PPJoin family — Chaudhuri et al. ICDE'06, Xiao et al. WWW'08):
    all pairs with n-gram Jaccard ≥ ``threshold``, but candidates are
    generated from each document's PREFIX — its first
    ``|d| − ⌈τ·|d|⌉ + 1`` shingles in the global (df asc, shingle asc)
    frequency order — instead of from every shared shingle.

    Why this exists next to ``ngram_jaccard_pairs``: that operator
    bounds fanout with a df CAP (drops evidence above max_df — exact
    only w.r.t. the surviving shingles), while prefix filtering is
    provably LOSSLESS for the threshold: two sets with J ≥ τ must
    share at least one token within both prefixes under any global
    total order (the prefix-filtering principle), so the candidate
    set is complete — the verify step computes Jaccard on the full
    shingle sets and the output equals the brute-force all-pairs
    answer exactly. The rarest-first order makes prefixes collide as
    little as possible, so candidate volume tracks the true near-dup
    density rather than the corpus' boilerplate.

    Returns (id_a, id_b, intersection, size_a, size_b, jaccard) with
    id_a < id_b and jaccard ≥ threshold, jaccard rounded to 6.
    ``carry_cols`` (r12, optimization round) appends ``{col}_a`` /
    ``{col}_b`` pass-through columns from the source rows: they ride
    the shingle_sets projection/checkpoint and the verify joins, so a
    downstream verifier (the candidate-first edit-distance family)
    gets e.g. both raw texts for free instead of re-joining the corpus
    by id twice.

    Scale shape: one shuffle to df-count shingles, a per-document
    window (bounded by the doc's own shingle count) to take the
    prefix, an equi-join on PREFIX shingles only (plus the τ·|a| ≤
    |b| ≤ |a|/τ length filter on candidates), and a verify join that
    ships each candidate's sorted shingle ARRAY (doc-bounded, never
    quadratic). No all-pairs stage anywhere; skew is capped by the
    rarest-first prefix order (a boilerplate shingle is in nobody's
    prefix unless the doc is mostly boilerplate)."""
    from pyspark.sql.window import Window

    # r9: every consumer derives from scan-side per-document distinct
    # sets — the old shape re-derived the exploded DISTINCT table four
    # times (dfreq, sizes, prefix join, verify sets), paying the
    # corpus-wide distinct exchange each time AQE couldn't reuse it.
    # Now: zero distinct exchanges, sizes ride the explode, and the
    # verify join reads the already-sorted arrays directly.
    # short_whole_text passes straight through to shingle_sets (see
    # its docstring): False (default) keeps the historical
    # sub-n-token exclusion the existing oracles encode; True lets
    # short near-duplicates collide on a whole-text shingle.
    # r13 (ADVICE): shingle_sets rejects carries colliding with its own
    # columns; additionally reject ones whose {c}_a / {c}_b suffixed
    # forms would collide with THIS function's output schema.
    _out_names = {"id_a", "id_b", "intersection", "size_a", "size_b", "jaccard"}
    bad = [
        c
        for c in carry_cols
        if f"{c}_a" in _out_names or f"{c}_b" in _out_names
    ]
    if bad:
        raise ValueError(
            f"prefix_filter_jaccard_pairs carry_cols {bad}: their _a/_b "
            f"suffixed forms collide with output columns {sorted(_out_names)}"
        )
    ss = shingle_sets(
        df,
        id_col,
        text_col,
        n,
        short_whole_text=short_whole_text,
        carry_cols=carry_cols,
    )
    sh = ss.select("id", "set_size", F.explode("shingle_set").alias("shingle"))
    # r12 (optimization round): the document frequency was an aggregate
    # joined BACK onto the exploded table (groupBy exchange + sort-merge
    # join — two shingle-keyed passes). A count over
    # Window.partitionBy(shingle) attaches _df to every occurrence in
    # ONE shuffle+sort; groups are per-shingle (df-sized, boilerplate-
    # bounded), the same shape that replaced the digest join-back in
    # the exact-substring family.
    # rarest-first global order; (df, shingle) is a total order within
    # a doc because shingles are distinct per doc
    w = Window.partitionBy("id").orderBy(
        F.col("_df").asc(), F.col("shingle").asc()
    )
    prefix_len = (
        F.col("set_size")
        - F.ceil(F.lit(float(threshold)) * F.col("set_size"))
        + F.lit(1)
    )
    # Corpus-proportional join sides must NEVER broadcast (r9: the
    # local-cluster leg exposed this — AQE's 64 MB threshold
    # underestimates string-heavy hashed relations ~5-10x, and
    # building + shipping + pinning a multi-million-row broadcast
    # per executor OOM'd 8 GB heaps; in one JVM the same broadcast is
    # a shared in-process reference, which is how it stayed hidden).
    # The prefix table and the verify arrays are corpus-scale: both
    # get explicit sort-merge hints. Not shuffle_hash: SHJ's
    # per-partition hash map cannot spill, and with AQE coalescing
    # shuffle outputs to ~64 MB advisory partitions the build OOM'd
    # 8 GB executors ("not enough memory to build hash map") — SMJ
    # sorts both sides with full spill support, the only strategy
    # whose memory is bounded regardless of partition sizing, which
    # is the property a corpus-scale join must have.
    pre = (
        sh.withColumn(
            "_df",
            F.count(F.lit(1)).over(Window.partitionBy("shingle")),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= prefix_len)
        .select("id", "shingle", "set_size")
        # r12 (optimization round): the prefix table feeds BOTH sides of
        # the candidate self-join, and the physical plan duplicated the
        # entire upstream subtree per side — corpus explode, the dfreq
        # aggregation, the df join and the per-doc window sort all ran
        # TWICE (plans/r12/dedup_prefix_filter_pairs_before.txt shows
        # the mirrored operator trees; no ReusedExchange fires because
        # the sides' aliased projections don't canonicalize equal). One
        # lazy localCheckpoint pins the narrow (id, shingle, set_size)
        # prefix rows — bounded by Σ per-doc prefix lengths, a fraction
        # of the exploded table — so the pipeline executes once. Same
        # multi-consumer discipline as shingle_sets' own pin (r4
        # simhash precedent); same cluster-mode recompute tradeoff,
        # documented there.
        .localCheckpoint(eager=False)
    )
    a = pre.select(
        F.col("id").alias("id_a"),
        "shingle",
        F.col("set_size").alias("_sz_a"),
    )
    b = pre.select(
        F.col("id").alias("id_b"),
        "shingle",
        F.col("set_size").alias("_sz_b"),
    )
    cand = (
        a.join(b.hint("merge"), "shingle")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # length filter: J ≥ τ forces τ·max(|a|,|b|) ≤ min(|a|,|b|)
            & (
                F.lit(float(threshold))
                * F.greatest("_sz_a", "_sz_b")
                <= F.least("_sz_a", "_sz_b")
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sets = ss.select(
        "id", F.col("shingle_set").alias("_set"), "set_size", *carry_cols
    ).hint("merge")
    out = (
        cand.join(
            sets.select(
                F.col("id").alias("id_a"),
                F.col("_set").alias("_set_a"),
                F.col("set_size").alias("size_a"),
                *[F.col(c).alias(f"{c}_a") for c in carry_cols],
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col("id").alias("id_b"),
                F.col("_set").alias("_set_b"),
                F.col("set_size").alias("size_b"),
                *[F.col(c).alias(f"{c}_b") for c in carry_cols],
            ),
            "id_b",
        )
        .withColumn(
            "intersection",
            F.size(F.array_intersect("_set_a", "_set_b")).cast("long"),
        )
        .withColumn(
            "jaccard",
            F.col("intersection").cast("double")
            / (
                F.col("size_a") + F.col("size_b") - F.col("intersection")
            ).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(float(threshold)))
        .select(
            "id_a",
            "id_b",
            "intersection",
            "size_a",
            "size_b",
            F.round("jaccard", 6).alias("jaccard"),
            *[f"{c}_{side}" for c in carry_cols for side in ("a", "b")],
        )
    )
    return out


def candidate_levenshtein_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    jaccard_floor: float = 0.3,
    max_rel_dist_pct: float = 10,
    short_whole_text: bool = True,
) -> DataFrame:
    """CANDIDATE-FIRST edit-distance linkage: prefix-filter SSJoin
    candidates → banded-Levenshtein verify. This is the composed scale
    path BENCH_heavy100_r10.json names for the density where
    ``blocked_levenshtein_pairs``' (lang, source, length-band)
    blocking saturates its pair budget: candidate volume tracks true
    near-duplicate density (lossless prefix filtering at the Jaccard
    floor), not block-size squares, so no pair budget is needed — the
    candidate generator IS the bound.

    Semantics: all pairs (id_a < id_b) with distinct-``n``-gram
    Jaccard >= ``jaccard_floor`` AND Levenshtein distance <=
    ``max_rel_dist_pct``% of the longer text. The Jaccard floor is
    the recall knob, grounded in the classical q-gram count filter
    (Gravano et al. VLDB'01): one edit disturbs at most q = ``n``
    overlapping q-grams, so two strings within edit distance d share
    >= m − q·d of their ~m q-grams; at d = 10% of length and q = 5,
    q·d ≈ 0.5·m gives J >= 0.5m/1.5m = 1/3 — the default floor 0.3
    sits just under that bound (set-vs-multiset slack means repeated
    shingles can still push a rare true pair below any set-Jaccard
    floor; the floor is a documented recall contract, not a hidden
    cap — same tradeoff class as the blocked form's band edges).

    Short documents (r11 ADVICE #1): with ``short_whole_text=True``
    (the default HERE, unlike the raw candidate generator) a document
    with 1..n-1 tokens contributes ONE whole-text shingle instead of
    an empty set, so short exact/near-exact duplicates — which the
    pure n-gram generator structurally excludes — still surface as
    candidates and get verified by the same banded Levenshtein.
    Zero-token documents remain unpaired either way. Pass
    ``short_whole_text=False`` to recover the strict n-gram-only
    candidate semantics (the pre-r12 behavior).

    Returns (doc_id_a, doc_id_b, jaccard, lev_dist).

    Scale shape: the candidate stage is ``prefix_filter_jaccard_pairs``
    (one df-count shuffle + prefix equi-join, sort-merge everywhere,
    no all-pairs stage), whose verify joins carry both texts
    (``_candidate_text_pairs``), and ONLY candidate pairs are scored.
    The verifier is ``_levenshtein_within``, the banded early-exit
    levenshtein with a PER-ROW threshold (each pair's own cap —
    O(len·T_pair) instead of O(len²) per pair); construction is
    plan-only.
    """
    cand = _candidate_text_pairs(
        docs, id_col, text_col, n, jaccard_floor, short_whole_text
    )
    return _levenshtein_within(cand, max_rel_dist_pct).select(
        F.col("id_a").alias("doc_id_a"),
        F.col("id_b").alias("doc_id_b"),
        "jaccard",
        "lev_dist",
    )


def _candidate_text_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    jaccard_floor: float,
    short_whole_text: bool,
) -> DataFrame:
    """Shared candidate stage of the candidate-first verifier family:
    prefix-filter SSJoin candidates (lossless at the Jaccard floor)
    with both raw texts attached — (id_a, id_b, jaccard, text_a,
    text_b). r12 (optimization round): the texts now RIDE the prefix
    filter's own verify joins via ``carry_cols`` instead of two
    additional corpus-scale sort-merge join-backs — the verify join
    already shuffles by id_a/id_b, so attaching text there widens
    those rows but removes two full exchanges of the candidate table
    plus two corpus re-scans (measured plan diff: 4 SMJ joins → 2 on
    the candidate path). Every verifier (Levenshtein / Damerau /
    Jaro-Winkler) scores ONLY these candidate rows, so verifier cost
    tracks true near-duplicate density, not block-size squares."""
    return prefix_filter_jaccard_pairs(
        docs,
        id_col,
        text_col,
        n=n,
        threshold=jaccard_floor,
        short_whole_text=short_whole_text,
        carry_cols=(text_col,),
    ).select(
        "id_a",
        "id_b",
        "jaccard",
        F.col(f"{text_col}_a").alias("text_a"),
        F.col(f"{text_col}_b").alias("text_b"),
    )


def candidate_damerau_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    jaccard_floor: float = 0.25,
    max_rel_dist_pct: float = 10,
    short_whole_text: bool = True,
) -> DataFrame:
    """Candidate-first DAMERAU-Levenshtein linkage — the composed
    scale path for the transposition-aware verifier, same shape as
    ``candidate_levenshtein_pairs``: prefix-filter SSJoin candidates
    → Arrow-batched Damerau DP verify over ONLY the candidates. The
    blocked form (``blocked_damerau_pairs``) hits the identical pair
    budget wall at factor-100 density as blocked Levenshtein — this
    composition needs no budget because candidate volume tracks true
    near-duplicate density.

    Semantics: all pairs (id_a < id_b) with distinct-token-``n``-gram
    Jaccard >= ``jaccard_floor`` AND Damerau-Levenshtein distance <=
    ``max_rel_dist_pct``% of the longer text.

    The default floor is LOWER than the Levenshtein composition's
    (0.25 vs 0.3): the q-gram count filter (Gravano et al. VLDB'01)
    bounds substitutions/insertions/deletions at <= n disturbed
    shingles each, but an adjacent TRANSPOSITION can straddle a token
    boundary and disturb TWO tokens — up to n+1 shingles. At d =
    10%·m and n = 5, (n+1)·d = 0.6m disturbed gives J >= 0.4m/1.6m =
    0.25 — the floor sits exactly at that transposition-adjusted
    bound (same set-vs-multiset slack caveat as the Levenshtein
    composition; ``short_whole_text=True`` applies the same
    sub-n-token whole-text fallback).

    Returns (doc_id_a, doc_id_b, jaccard, dl_dist).

    Scale shape: identical to ``candidate_levenshtein_pairs`` except
    the verifier is ``_damerau_within``, the capped Damerau Arrow UDF
    that ``blocked_damerau_pairs`` also uses, here with each pair's own
    cap (the kernel is fuzz-verified against DuckDB's full DP);
    construction is fully plan-only."""
    cand = _candidate_text_pairs(
        docs, id_col, text_col, n, jaccard_floor, short_whole_text
    )
    # The per-pair cap ⌊max_len·pct/100⌋ keeps the capped kernel exact
    # for every pair the filter keeps (integer dl <= cap ⟺ dl <=
    # ⌊cap⌋); floor of the exact pct, never int(pct), which would cap
    # tighter for a fractional pct.
    return _damerau_within(cand, F.floor(_pair_cap(max_rel_dist_pct))).select(
        F.col("id_a").alias("doc_id_a"),
        F.col("id_b").alias("doc_id_b"),
        "jaccard",
        "dl_dist",
    )


def candidate_jaro_winkler_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    jaccard_floor: float = 0.3,
    min_sim: float = 0.9,
    short_whole_text: bool = True,
) -> DataFrame:
    """Candidate-first JARO-WINKLER linkage — the composed scale path
    for the record-linkage scorer: prefix-filter SSJoin candidates →
    Arrow-batched Jaro-Winkler verify over ONLY the candidates, so the
    blocked form's pair budget is unnecessary at any density.

    Semantics: all pairs (id_a < id_b) with distinct-token-``n``-gram
    Jaccard >= ``jaccard_floor`` AND Jaro-Winkler similarity >=
    ``min_sim``.

    Recall contract (HONEST DIFFERENCE from the edit-distance
    compositions): Jaro-Winkler is NOT edit-bounded, so the q-gram
    count filter gives no theorem connecting ``min_sim`` to a Jaccard
    floor — a high-JW pair built from heavy transposition of whole
    blocks can in principle fall below any n-gram floor. The floor
    here is the standard record-linkage BLOCKING choice (candidate
    generation + scoring, Christen 2012), with the knob surfaced and
    documented rather than hidden — the same contract class as the
    blocked form's block-key choice, where a cross-block high-JW pair
    is equally invisible. At ``min_sim`` ≥ 0.9 on running text, the
    shared-shingle requirement is mild in practice: ~90% character
    agreement with prefix weighting leaves long common token runs.

    Returns (doc_id_a, doc_id_b, jaccard, jw_sim rounded to 6).

    Scale shape: identical to ``candidate_levenshtein_pairs`` except
    the verifier is the Jaro-Winkler Arrow UDF of
    ``blocked_jaro_winkler_pairs`` (``_jaro_winkler_py``, DuckDB-exact,
    fuzz-verified); construction fully plan-only."""
    cand = _candidate_text_pairs(
        docs, id_col, text_col, n, jaccard_floor, short_whole_text
    )
    return (
        cand.withColumn("jw_sim", _jaro_winkler_udf(F.col("text_a"), F.col("text_b")))
        .filter(F.col("jw_sim") >= F.lit(float(min_sim)))
        .select(
            F.col("id_a").alias("doc_id_a"),
            F.col("id_b").alias("doc_id_b"),
            "jaccard",
            F.round("jw_sim", 6).alias("jw_sim"),
        )
    )


def blocking_quality_metrics(
    schemes: DataFrame,
    truth: DataFrame,
    probe: DataFrame,
    scheme_names: list[str] | None = None,
) -> DataFrame:
    """Christen 2012's blocking-quality pair for N candidate schemes
    at once: PAIR COMPLETENESS (share of ground-truth matches the
    blocking keeps) and REDUCTION RATIO (share of the all-pairs space
    it prunes). ``schemes`` is (scheme, id_a, id_b) candidate pairs,
    ``truth`` is (id_a, id_b) ground-truth matches, ``probe`` the
    record set both were generated from. Emits one row per scheme:
    (scheme, n_candidates, n_truth, n_found, pair_completeness,
    reduction_ratio). Factored from customer_blocking_quality so
    fixture-driven tests and ``choose_blocking`` evaluate arbitrary
    (non-nested) scheme families with the exact production formulas.

    Scale shape: candidate/truth pair sets are the callers' concern
    (block-generate them — see the budget-guarded blocked_* family);
    this evaluator is one semi-join + two per-scheme aggregates, and
    the all-pairs DENOMINATOR is computed from the 1-row probe count
    (scalar broadcast), never materialized. A scheme yielding ZERO
    candidates contributes no rows to ``schemes`` at all, so without
    help it drops out of the output (nothing to group) and downstream
    deciders can't see it (r7 ADVICE #3): pass ``scheme_names`` (the
    full list of evaluated schemes — config-scale, broadcast) and
    every listed scheme is guaranteed a row, zero-candidate ones as
    (scheme, 0 candidates, completeness 0.0, reduction 1.0)."""
    tot = probe.agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.count(F.lit(1)) * (F.count(F.lit(1)) - F.lit(1)) / F.lit(2)
        ).alias("all_pairs"),
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    marked = schemes.join(truth, ["id_a", "id_b"], "left_semi").groupBy(
        "scheme"
    ).agg(F.count(F.lit(1)).alias("n_found_raw"))
    per_scheme = schemes.groupBy("scheme").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    if scheme_names is not None:
        names = schemes.sparkSession.createDataFrame(
            [(str(s),) for s in scheme_names], "scheme string"
        )
        # RIGHT outer preserving ``names``: Spark's BroadcastHashJoin
        # can only build the non-preserved side, so broadcasting the
        # preserved side of an outer join (the old left-outer form with
        # the hint on ``names``) is silently ignored and falls back to
        # a shuffle. Hinting the aggregated per_scheme side (≤ one row
        # per scheme — config-scale) under RightOuter is a legal
        # build-left broadcast, so the hint actually takes.
        per_scheme = (
            F.broadcast(per_scheme)
            .join(names, "scheme", "right")
            .withColumn(
                "n_candidates",
                F.coalesce("n_candidates", F.lit(0)).cast("long"),
            )
        )
    return (
        per_scheme.join(marked, "scheme", "left")
        .crossJoin(F.broadcast(n_truth))
        .crossJoin(F.broadcast(tot))
        .select(
            "scheme",
            "n_candidates",
            F.col("n_truth").cast("long").alias("n_truth"),
            F.coalesce("n_found_raw", F.lit(0))
            .cast("long")
            .alias("n_found"),
            (
                F.coalesce("n_found_raw", F.lit(0)).cast("double")
                / F.greatest(F.col("n_truth"), F.lit(1)).cast("double")
            ).alias("pair_completeness"),
            (
                F.lit(1.0)
                - F.col("n_candidates").cast("double")
                / F.greatest(F.col("all_pairs"), F.lit(1)).cast("double")
            ).alias("reduction_ratio"),
        )
    )


def choose_blocking(
    quality: DataFrame, completeness_floor: float = 0.9
) -> str:
    """The DECISION the blocking metrics exist to drive: among the
    schemes whose pair_completeness meets ``completeness_floor``, pick
    the one with the highest reduction_ratio (ties → lexicographically
    smallest scheme name) — maximal pruning subject to not losing more
    than the tolerated share of true matches. Raises (naming the most
    complete scheme seen) when NO scheme meets the floor: silently
    shipping a blocking key that loses 40% of matches is the ER
    pipeline failure this closes.

    Input is a blocking_quality_metrics output — one row per evaluated
    scheme, a config-scale table, so the single-row collect here is
    bounded by the scheme count, not the data. NOTE on nested scheme
    families: a refinement's candidates are a SUBSET of its parent's
    (nation_segment ⊆ nation), so its completeness can only be lower —
    a floor the parent fails, every refinement fails too. The floor
    can therefore only ever redirect between NON-nested schemes (or
    reject a whole nested family), which is exactly how the fixture
    test exercises it."""
    rows = (
        quality.filter(F.col("pair_completeness") >= completeness_floor)
        .orderBy(F.desc("reduction_ratio"), F.asc("scheme"))
        .limit(1)
        .collect()
    )
    if rows:
        return rows[0]["scheme"]
    best = (
        quality.orderBy(F.desc("pair_completeness"), F.asc("scheme"))
        .limit(1)
        .collect()
    )
    detail = (
        f"most complete was '{best[0]['scheme']}' at "
        f"pair_completeness={best[0]['pair_completeness']:.4f}"
        if best
        else "the metrics table is empty — either no schemes were "
        "evaluated, or every evaluated scheme produced ZERO candidate "
        "pairs (such schemes drop out of blocking_quality_metrics "
        "unless its scheme_names parameter lists them)"
    )
    raise ValueError(
        f"no blocking scheme meets pair-completeness floor "
        f"{completeness_floor}: {detail}. Loosen the blocking keys or "
        "lower the floor explicitly."
    )


def choose_lsh_bands(
    planner: DataFrame, n_hashes: int, fn_weight: float = 1.0
) -> tuple[int, int]:
    """The decision rule on lsh_band_planner's output (the
    sketch-parameter sibling of ``choose_blocking``): among the (bands,
    rows_per_band) factorizations of ``n_hashes``, pick the one
    minimizing ``fp_area + fn_weight · fn_area`` (ties → fewer bands =
    cheaper index). ``fn_weight`` encodes the asymmetry every dedup
    deployment has: a FALSE POSITIVE costs one exact-Jaccard
    verification and is then discarded, while a FALSE NEGATIVE is a
    duplicate that survives into the training set unrecoverably — so
    production pipelines weight FN well above FP. At the planner's
    t=0.6: the area-balanced optimum for n=8 is (2 bands, 4 rows), but
    at fn_weight=10 the choice flips to (4, 2) — which is exactly the
    engine-wide minhash default (minhash_lsh_candidates: num_hashes=8,
    rows_per_band=2), now a measured decision instead of folklore.
    Input is config-scale (one row per factorization), so the collect
    is bounded by the divisor count of n_hashes."""
    rows = (
        planner.filter(F.col("n_hashes") == n_hashes)
        .select("bands", "rows_per_band", "fp_area", "fn_area")
        .collect()
    )
    if not rows:
        raise ValueError(
            f"planner output holds no rows for n_hashes={n_hashes}"
        )
    best = min(
        rows,
        key=lambda r: (
            float(r["fp_area"]) + fn_weight * float(r["fn_area"]),
            r["bands"],
        ),
    )
    return int(best["bands"]), int(best["rows_per_band"])


def _substring_occurrence_tables(
    docs: DataFrame, k: int, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """Shared k-token rolling-window digest pipeline for the exact-
    substring family (``exact_substring_spans`` audit view and
    ``exact_substring_runs`` maximal-run view). Returns ``(base,
    dup)``: the per-document spine (doc_id, n_tokens, n_spans)
    and the duplicated-occurrence table (doc_id, pos, dig, _canon) —
    every occurrence of every window whose digest appears >= 2 times
    corpus-wide, with the (doc_id, pos)-least occurrence as canonical.
    Digests are ``unhex(md5(window))`` — 16-byte binary on the wire
    (r9 ADVICE #3). Tokenization is single-space split, byte-faithful
    to the DuckDB oracles' string_split."""
    from pyspark.sql.window import Window

    words = F.split(F.col(text_col), " ")
    nsp = F.greatest(F.size(words) - F.lit(k - 1), F.lit(0))
    digs = F.when(
        nsp >= 1,
        F.transform(
            F.sequence(F.lit(1), nsp),
            lambda i: F.unhex(
                F.md5(F.array_join(F.slice(words, i, k), " "))
            ),
        ),
    ).otherwise(F.array().cast("array<binary>"))
    # r12 (optimization round): previously the digest arrays were
    # materialized with a localCheckpoint (pinning ~16 bytes PER
    # CORPUS TOKEN on the executors) so the occurrence table could be
    # read twice — once for the per-digest aggregate (count +
    # canonical min) and once for the join back onto the occurrences,
    # a second digest-keyed shuffle. The aggregate-then-join-back
    # collapses into ONE window over the digest key: count and
    # min(struct) over partitionBy(dig) attach the same per-digest
    # stats to every occurrence with a single shuffle+sort on dig, the
    # md5 pass runs once (occ now has one consumer), and nothing
    # corpus-scale is materialized. Window groups are per-digest
    # (a handful of rows even in duplicate-heavy corpora), so the
    # WindowExec group buffer is bounded by the hottest digest's
    # occurrence count, not the data. The per-doc spine pipelines
    # straight from a digest-free second scan (split+size only).
    # Interleaved same-JVM A/B at sf0.1: spans 2.02 -> 1.87 s, runs
    # 2.02 -> 1.85 s, row-sets identical; plan: 2 digest shuffles +
    # checkpoint -> 1 shuffle.
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(words).cast("long").alias("n_tokens"),
        nsp.cast("long").alias("n_spans"),
    )
    occ = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(digs).alias("pos", "dig"),
    )
    w_dig = Window.partitionBy("dig")
    dup = (
        occ.withColumn("_cnt", F.count(F.lit(1)).over(w_dig))
        .withColumn("_canon", F.min(F.struct("doc_id", "pos")).over(w_dig))
        .filter(F.col("_cnt") >= 2)
        .select("doc_id", "pos", "dig", "_canon")
    )
    return base, dup


def exact_substring_spans(
    docs: DataFrame,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact cross-document substring deduplication at k-token span
    granularity — the bounded, distributable form of Lee et al.
    ("Deduplicating Training Data Makes Language Models Better",
    ExactSubstr, arXiv:2107.06499): any k-token window whose text
    occurs more than once in the corpus (across documents OR repeated
    within one) is a duplicated span; every occurrence except the
    canonical first one under the total order (doc_id, pos) is cut.
    Suffix arrays (the paper's tool) don't distribute; a sliding
    k-token rolling window with digest grouping does, and unioning
    the cut windows position-wise reproduces "remove all but one
    occurrence of every duplicated run >= k tokens" at k-granularity.

    Returns one audit row per document: n_tokens, n_spans, dup_spans
    (its windows that occur >=2 times corpus-wide), removed_tokens
    (token positions covered by a non-canonical duplicated window),
    kept_tokens, kept_ratio.

    Scale shape (100 TB): spans are O(tokens) per document and carry
    a 16-byte md5 digest (``unhex(md5(...))`` — BinaryType, truly 16
    bytes on the wire; r9 ADVICE #3 caught the earlier 32-char hex
    form shipping 2x the claimed budget), never the window text — the
    only wide shuffle moves (doc_id, pos, digest) rows. ONE digest-keyed
    shuffle: a window over the digest attaches count + min-struct
    canonical to every occurrence in place (no join back, r12),
    then the k-position explode runs ONLY on non-canonical duplicated
    occurrences (in deduplicated corpora a small fraction), followed
    by per-document aggregation. Nothing all-pairs, nothing collected.
    Tokenization is single-space split, byte-faithful to the DuckDB
    oracle's string_split (same choice as doc_chunk_exact_dedup).
    """
    base, dup = _substring_occurrence_tables(docs, k, id_col, text_col)
    # r12 (optimization round): the two per-doc aggregates (occurrence
    # count + distinct removed positions) previously ran as THREE
    # doc-keyed exchanges (dup_per_doc groupBy, a (doc,p) DISTINCT,
    # the removed groupBy) plus TWO join-backs to the spine. They fuse
    # into ONE groupBy over the exploded positions: dup occurrences
    # are unique by (doc, pos), so dup_spans = count_distinct(pos);
    # canonical occurrences contribute a -1 sentinel "position" (never
    # a real token index) so they count toward dup_spans but not
    # removed_tokens = count_distinct(p >= 0). Identical integers,
    # measured 1.6 -> 0.8 s at sf0.1, and one join-back instead of
    # two. At scale the shuffle is the same exploded (doc, pos, p)
    # rows either way; the saved exchanges dominate.
    noncanon = ~(
        (F.col("doc_id") == F.col("_canon.doc_id"))
        & (F.col("pos") == F.col("_canon.pos"))
    )
    ex = dup.select("doc_id", "pos", noncanon.alias("_nc")).select(
        "doc_id",
        "pos",
        F.explode(
            F.when(
                F.col("_nc"),
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1)),
            ).otherwise(F.array(F.lit(-1)))
        ).alias("p"),
    )
    per_doc = ex.groupBy("doc_id").agg(
        F.count_distinct(F.col("pos")).cast("long").alias("dup_spans"),
        F.count_distinct(F.when(F.col("p") >= 0, F.col("p")))
        .cast("long")
        .alias("removed_tokens"),
    )
    kept = F.col("n_tokens") - F.coalesce(F.col("removed_tokens"), F.lit(0))
    return (
        base
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_spans",
            F.coalesce(F.col("dup_spans"), F.lit(0)).cast("long").alias("dup_spans"),
            F.coalesce(F.col("removed_tokens"), F.lit(0))
            .cast("long")
            .alias("removed_tokens"),
            kept.cast("long").alias("kept_tokens"),
            F.round(kept.cast("double") / F.col("n_tokens"), 6).alias("kept_ratio"),
        )
    )


def exact_substring_runs(
    docs: DataFrame,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal duplicated RUNS — the span semantics of Lee et al.'s
    ExactSubstr (arXiv:2107.06499) one step closer to the paper than
    ``exact_substring_spans``'s k-granularity audit: adjacent or
    overlapping non-canonical duplicated k-token windows are coalesced
    (islands-and-gaps) into maximal runs, so a 200-token verbatim copy
    reports as ONE run of ~200 tokens instead of ~180 window hits.
    Two windows at start positions p < p' belong to the same run iff
    their covered token ranges [p, p+k-1] and [p', p'+k-1] overlap or
    adjoin, i.e. p' <= p + k; a gap of p' - p > k splits runs.

    Returns one row per (document, maximal run): doc_id, run_idx
    (0-based per document in position order), run_start / run_end
    (inclusive token positions covered), run_tokens (= end - start + 1
    — exactly the tokens ExactSubstr would cut for this run), and
    n_windows (duplicated windows coalesced into it).

    Scale shape: identical wide plan to ``exact_substring_spans``
    (one 16-byte-digest-keyed window shuffle — see
    ``_substring_occurrence_tables``); the coalescing adds only a
    PER-DOCUMENT window (partitionBy doc_id — never a global sort)
    over the non-canonical duplicated occurrences, a small fraction
    of tokens in deduplicated corpora, followed by one (doc, run)
    aggregation. Output is bounded by the duplication structure."""
    from pyspark.sql.window import Window

    _, dup = _substring_occurrence_tables(docs, k, id_col, text_col)
    noncanon = dup.filter(
        ~(
            (F.col("doc_id") == F.col("_canon.doc_id"))
            & (F.col("pos") == F.col("_canon.pos"))
        )
    ).select("doc_id", "pos")
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w_ord) > F.lit(k), F.lit(1)
    ).otherwise(F.lit(0))
    runs = (
        noncanon.withColumn(
            "run_idx",
            F.sum(brk).over(
                w_ord.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("doc_id", "run_idx")
        .agg(
            F.min("pos").cast("long").alias("run_start"),
            (F.max("pos") + F.lit(k - 1)).cast("long").alias("run_end"),
            F.count(F.lit(1)).cast("long").alias("n_windows"),
        )
        .select(
            "doc_id",
            F.col("run_idx").cast("long").alias("run_idx"),
            "run_start",
            "run_end",
            (F.col("run_end") - F.col("run_start") + 1)
            .cast("long")
            .alias("run_tokens"),
            "n_windows",
        )
    )
    return runs


def semdedup_prune(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sign_bits: int = 4,
    threshold: float = 0.4,
    max_pairs: int | None = 50_000_000,
) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023,
    arXiv:2303.09540): bucket vectors into sign-bit cells (the first
    ``sign_bits`` dimensions' signs — the knn_ivf partitioning),
    compare pairs only within a cell, and prune near-duplicates.
    Returns (id, cell, kept): a vector is pruned iff ANY smaller-id
    vector in its cell has round(cosine, 6) >= ``threshold`` —
    including a smaller-id vector that is itself pruned, so the rule
    is "dominated by a smaller id", NOT "one representative per
    epsilon-neighborhood": with cos(1,2)>=t, cos(2,3)>=t, cos(1,3)<t
    both 2 and 3 are dropped (transitive over-pruning relative to the
    paper's one-per-neighborhood reading — deliberate, because it is
    exactly SQL-expressible and deterministic where the paper's
    kmeans/centroid-distance pick is not; the paper reports the
    within-cluster keep rule changes results marginally). The DuckDB
    oracle encodes identical semantics.

    Input contract: embeddings are dense and non-null per element with
    non-zero norm. NULL elements among the first ``sign_bits`` dims are
    tolerated — each sign-bit term coalesces NULL to 0, matching the
    oracle's CASE WHEN ... ELSE 0 — but a NULL element elsewhere or a
    zero-norm vector makes the cosine NULL (0/0), silently excluding
    that pair from pruning; validate upstream if the corpus can carry
    such vectors.

    Scale shape: cells are scan-side bit arithmetic; the only
    quadratic term is the in-cell pair join, and — like every pair
    scorer in this family — it is BUDGETED: the exact in-cell pair
    count is checked eagerly via ``assert_blocked_pair_budget`` and
    the operator raises naming the hot cells instead of silently
    launching a quadratic job. The escalation lever is ``sign_bits``
    (more bits → smaller cells), the same capacity trade as the LSH
    band width."""
    from . import similarity as _S

    def _bit(i: int) -> Column:
        # NULL element -> bit 0, matching the oracle's
        # CASE WHEN v[i] > 0 THEN .. ELSE 0 END (which maps NULL to 0).
        return F.coalesce((F.col(vec_col)[i] > 0).cast("int"), F.lit(0))

    cell = sum(
        (_bit(i) * (1 << i) for i in range(1, sign_bits)), _bit(0)
    ).cast("int")
    c = vectors.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), cell.alias("cell")
    )
    if max_pairs is not None:
        assert_blocked_pair_budget(
            c, c, ["cell"], max_pairs, "semdedup_prune"
        )
    # r12 (optimization round): norms move OUT of the quadratic term.
    # cosine(va, vb) = dot/(‖va‖·‖vb‖) previously evaluated TWO
    # interpreted higher-order norm folds per PAIR; ‖v‖ is a
    # per-VECTOR quantity, so it is now computed once scan-side and
    # carried through the in-cell join. Bit-identical results: the
    # norm is the same sqrt(aggregate(...)) IEEE expression either
    # way, and the cosine is assembled as the same dot/(na·nb)
    # division — only the evaluation COUNT changes (O(pairs) → O(n)
    # norm folds; the per-pair work drops to the dot alone).
    cn = c.withColumn("nrm", _S.vec_norm(F.col("v")))
    a = cn.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"), "cell",
    )
    b = cn.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"), "cell",
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.round(
                _S.cosine_from_prenorm(
                    F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
                ),
                6,
            )
            >= F.lit(float(threshold))
        )
        .select(F.col("id_b").alias("id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return c.join(dropped, "id", "left").select(
        "id", "cell", F.col("_dropped").isNull().alias("kept")
    )
