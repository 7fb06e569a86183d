"""Text-analysis operators over a document table (extension tier).

All operators are pure Catalyst expressions (regexp/array functions —
JVM-side, codegen'd); zero Python UDFs, so they scale linearly with
executors and stay inside whole-stage codegen. Designed for a
``documents(doc_id, text, ...)`` table but parameterized on column
names.

Cross-engine notes (DuckDB oracle parity):
- token extraction uses ``regexp_extract_all`` (RE2-compatible
  patterns only — both engines agree on these character classes).
- fingerprints derive from md5 (identical hex in every engine);
  the 60-bit integer form takes the first 15 hex chars.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Word tokens: maximal alphanumeric runs on the lowercased text.
TOKEN_RE = "[a-z0-9]+"
# BPE-ish pre-tokenizer: letter runs | single digits | single punctuation
# (the GPT-2 pre-tokenizer shape, simplified to RE2-portable classes).
# Doubled backslash survives Spark SQL string-literal unescaping inside
# F.expr (the literal must contain `\\s` for the regex to see `\s`).
BPE_RE = "[a-z]+|[0-9]|[^a-z0-9\\\\s]"
PUNCT_RE = "[.,;:!?]"

# Tiny per-language stopword inventories for the n-gram/stopword
# language-ID heuristic. Latin-script languages only; text that matches
# none stays 'und'(etermined).
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "a"],
    "es": ["el", "la", "de", "que", "y", "en", "los"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "des"],
}


def tokens_col(text_col: str) -> Column:
    """Array of word tokens (lowercased alnum runs)."""
    return F.expr(f"regexp_extract_all(lower({text_col}), '{TOKEN_RE}', 0)")


def bpe_token_count(text_col: str) -> Column:
    """Whitespace-free BPE-ish pre-token count (regex pre-tokenizer)."""
    return F.size(F.expr(f"regexp_extract_all(lower({text_col}), '{BPE_RE}', 0)"))


def stopword_count(text_col: str, lang: str) -> Column:
    pat = "\\\\b(" + "|".join(LANG_STOPWORDS[lang]) + ")\\\\b"
    return F.size(F.expr(f"regexp_extract_all(lower({text_col}), '{pat}', 0)"))


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document surface statistics: char/token/BPE-token/punct counts
    and ratios. One narrow projection — no shuffle."""
    toks = tokens_col(text_col)
    n_chars = F.length(F.col(text_col))
    n_tokens = F.size(toks)
    return (
        df.withColumn("n_chars_calc", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("n_bpe_tokens", bpe_token_count(text_col))
        .withColumn(
            "punct_count",
            F.size(F.expr(f"regexp_extract_all({text_col}, '{PUNCT_RE}', 0)")),
        )
        .withColumn(
            # mean token length = total alnum chars / token count — an
            # integer ratio (deterministic division, no float folding)
            "avg_token_len",
            F.when(
                n_tokens > 0,
                F.length(
                    F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
                ).cast("double")
                / n_tokens.cast("double"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "punct_ratio",
            F.col("punct_count") / F.greatest(n_chars, F.lit(1)).cast("double"),
        )
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-profile language ID. Scores each language by stopword
    hits per token; argmax with a fixed precedence order (en, es, de,
    fr) for ties; zero hits → 'und'. Heuristic by design — a
    deterministic, cluster-friendly approximation of fastText-style
    lang-ID with no model artifact."""
    out = df
    for lang in LANG_STOPWORDS:
        out = out.withColumn(f"_sw_{lang}", stopword_count(text_col, lang))
    best = F.greatest(*[F.col(f"_sw_{l}") for l in LANG_STOPWORDS])
    expr = F.when(best <= 0, "und")
    for lang in LANG_STOPWORDS:  # insertion order = precedence
        expr = expr.when(F.col(f"_sw_{lang}") == best, lang)
    out = out.withColumn("lang_pred", expr)
    return out.drop(*[f"_sw_{l}" for l in LANG_STOPWORDS])


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite quality score in [0,1]: length saturation, English
    stopword density, punctuation sanity, mean-token-length sanity.
    Thresholded into good/ok/bad buckets. All double arithmetic on
    identical inputs — deterministic across engines/cluster sizes."""
    stats = with_text_stats(df, text_col)
    sw = stopword_count(text_col, "en")
    n_tokens = F.col("n_tokens")
    len_score = F.least(n_tokens.cast("double") / F.lit(50.0), F.lit(1.0))
    sw_ratio = F.when(
        n_tokens > 0, sw.cast("double") / n_tokens.cast("double")
    ).otherwise(F.lit(0.0))
    sw_score = F.least(sw_ratio * 5.0, F.lit(1.0))
    punct_ok = F.when(F.col("punct_ratio") < 0.1, F.lit(1.0)).otherwise(F.lit(0.0))
    tok_len_ok = F.when(
        F.col("avg_token_len").between(2.0, 12.0), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    score = F.round(
        len_score * 0.4 + sw_score * 0.3 + punct_ok * 0.15 + tok_len_ok * 0.15, 6
    )
    return (
        stats.withColumn("quality_score", score)
        .withColumn(
            "quality_bucket",
            F.when(score >= 0.7, "good").when(score >= 0.4, "ok").otherwise("bad"),
        )
    )


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprinting: full md5 hex + a 60-bit integer
    fingerprint (first 15 hex chars) usable as a shard/join key.
    Content-defined, order-free — the distributed analogue of a
    rolling-hash document signature."""
    md5 = F.md5(F.col(text_col))
    return df.withColumn("content_md5", md5).withColumn(
        "fingerprint", F.expr(f"CAST(conv(substr(md5({text_col}),1,15),16,10) AS BIGINT)")
    )


def with_repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals, computed per row with
    pure array expressions — NO shuffle, no UDF: each document's token
    array lives in its own row, so distinct-ratio / top-term frequency
    are embarrassingly parallel scan-side work even at 100 TB (the
    alternative — explode + two groupBys — shuffles one row per token
    occurrence for no gain on bounded-length documents).

    Emits: n_words, distinct_word_frac (|vocab|/n), top_word_frac
    (mode frequency / n), top_bigram_frac (mode bigram / (n-1)).
    Per-doc cost is O(|vocab| * n); documents are bounded (chunked
    upstream), so this stays constant-per-row.
    """
    tk = tokens_col(text_col)
    d = df.withColumn("_tk", tk)
    n = F.size("_tk")
    top_word = F.expr(
        "array_max(transform(array_distinct(_tk), w -> size(filter(_tk, x -> x = w))))"
    )
    # zip_with over two shifted slices, not transform(sequence, i ->
    # _tk[i]...): index-lambda outer-array access is the interpreted
    # slow path (see bigram_lm_score — 20x measured there)
    bigrams = F.expr(
        "zip_with(slice(_tk, 1, size(_tk) - 1), slice(_tk, 2, size(_tk) - 1),"
        " (a, b) -> concat(a, ' ', b))"
    )
    top_bigram = F.expr(
        "array_max(transform(array_distinct(_bg), w -> size(filter(_bg, x -> x = w))))"
    )
    return (
        d.withColumn("_bg", F.when(n >= 2, bigrams))
        .withColumn("n_words", n)
        .withColumn(
            "distinct_word_frac",
            F.when(n > 0, F.size(F.array_distinct(F.col("_tk"))).cast("double") / n)
            .otherwise(F.lit(0.0)),
        )
        .withColumn(
            "top_word_frac",
            F.when(n > 0, top_word.cast("double") / n).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "top_bigram_frac",
            F.when(n >= 2, top_bigram.cast("double") / (n - F.lit(1)))
            .otherwise(F.lit(0.0)),
        )
        .drop("_tk", "_bg")
    )


# PII patterns — deliberately backslash-free (character classes only)
# so the exact same strings drive Spark's Java regex engine and the
# DuckDB oracle's RE2 without escaping divergence.
PII_PATTERNS = {
    "email": "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}",
    # dashes only (dots would overlap the IPv4 pattern and make
    # redaction order-dependent)
    "phone": "[0-9]{3}-[0-9]{3}-[0-9]{4}",
    "ipv4": "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}",
}
PII_TOKENS = {"email": "<EMAIL>", "phone": "<PHONE>", "ipv4": "<IP>"}


def with_pii_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII match counts + flag — scan-side regexp exprs,
    zero shuffle (the standard pre-redaction audit pass)."""
    out = df
    for kind, pat in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{kind}",
            F.size(F.expr(f"regexp_extract_all({text_col}, '{pat}', 0)")),
        )
    return out.withColumn(
        "pii_flagged",
        (F.col("n_email") + F.col("n_phone") + F.col("n_ipv4")) > 0,
    )


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Replace every PII match with a typed placeholder token. The
    three patterns are non-overlapping by construction, so redaction
    order cannot change the result. Spark ``regexp_replace`` is global
    (all occurrences), matching the oracle's 'g' flag."""
    redacted = F.col(text_col)
    for kind, pat in PII_PATTERNS.items():
        redacted = F.regexp_replace(redacted, pat, PII_TOKENS[kind])
    return df.withColumn(f"{text_col}_redacted", redacted)


def bigram_lm_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-trained bigram language-model score per document — the
    classic LM-based quality filter (CCNet/KenLM shape): documents whose
    token transitions are improbable under a model trained on the corpus
    itself score low (boilerplate, lorem-ipsum, wrong-language text).

    Model: add-one-smoothed bigram LM,
    ``P(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V)``, scored as the mean
    log-probability over each document's bigrams (documents with < 2
    tokens produce no bigrams and drop out — same inner-join semantics
    as the oracle).

    Scale design: ONE combined (w1, successor-or-NULL) count table —
    vocab²-bounded (Zipf — orders of magnitude smaller than the
    corpus), built with map-side partial aggregation — serves bigram
    counts, unigram counts (window sum per w1) and the vocab scalar;
    the corpus is scanned exactly twice (count pass, score pass) and
    the score pass shuffles doc-bigrams once on (w1, w2). No Python
    UDFs — the whole plan is codegen'd expressions.

    Cross-engine determinism: each bigram's log-prob is cast to
    DECIMAL(28,6) BEFORE summing, so the per-document sum is exact
    decimal arithmetic (accumulation-order-independent) in both Spark
    and DuckDB; the final mean is one IEEE double division. Raw
    double-sum of logs would differ between engines in the last ulps.
    """
    toks = docs.select(F.col(id_col), tokens_col(text_col).alias("tk"))
    # arrays_zip of two shifted slices, NOT a transform((x,i) -> struct)
    # lambda: higher-order functions run interpreted (outside codegen)
    # and the lambda's per-element tk[i+1] indexing made gram
    # construction the query's dominant cost — measured 3.1 s vs
    # 0.15 s for the zip form at sf0.1 (identical output, r3)
    grams = (
        toks.select(
            id_col,
            F.explode(
                F.expr(
                    "arrays_zip(slice(tk, 1, greatest(size(tk) - 1, 0)),"
                    " slice(tk, 2, greatest(size(tk) - 1, 0)))"
                )
            ).alias("g"),
        )
        .select(id_col, F.col("g.0").alias("w1"), F.col("g.1").alias("w2"))
    )
    # r13 (guide §2.4, the barrier-free form of the r12 §7 attempt):
    # ONE combined (w1, w2) count table serves bigram counts, unigram
    # counts AND the vocabulary size. Zip every token with its
    # successor, the LAST token of each doc pairing with NULL — then
    # each token position appears exactly once as w1, so per w1 group
    # Σ cb ≡ the unigram count cu, the non-NULL-w2 rows are exactly
    # the bigram counts, and COUNT(DISTINCT w1) ≡ |vocab|. cu attaches
    # via a window over partitionBy(w1) (bounded per-w1 groups — the
    # §8/§13 shape), so the former separate unigram explode+aggregate,
    # the duplicate unigram subtree under the vocab scalar, and the
    # bc ⋈ uc join are ALL gone: 4 corpus scans → 2, with NO
    # localCheckpoint barrier (the r12 revert's flaw — a lazy
    # checkpoint serializes its upstream stages at construction).
    # The vocab scalar re-references cc, and both references share one
    # canonical (w1, w2) exchange that AQE materializes once per
    # execution (runtime stage reuse, verified in the committed
    # executed plan). cb/cu/v are the same exact integers as before,
    # so every logp double — and the DECIMAL(28,6) snap — is
    # bit-identical; row-set equality verified at sf0.1 and the oracle
    # at sf0.01/sf0.1. Measured (interleaved min, sf0.1): wash on
    # local[32] (1.76 vs 1.77 s; medians favor the combined form),
    # 1.67 → 1.17 s (0.70×) under local-cluster[4,8,8192] — the
    # multi-JVM topology where duplicate corpus subtrees stop being
    # free, i.e. the 100 TB direction.
    zipped = toks.select(
        F.explode(
            F.expr(
                "arrays_zip(slice(tk, 1, size(tk)),"
                " slice(tk, 2, greatest(size(tk) - 1, 0)))"
            )
        ).alias("g")
    ).select(F.col("g.0").alias("w1"), F.col("g.1").alias("w2"))
    cc = zipped.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    pairs = cc.withColumn(
        "cu", F.sum("cb").over(Window.partitionBy("w1"))
    ).filter(F.col("w2").isNotNull())
    # scalar V: 1-row aggregate broadcast-crossJoined onto the
    # vocab-sized pair table (NOT the corpus-sized gram table) — the
    # scalar-subquery shape the plan audit allowlists
    vocab = cc.select("w1").distinct().agg(F.count(F.lit(1)).alias("v"))
    logp = F.log(
        (F.col("cb") + F.lit(1)).cast("double")
        / (F.col("cu") + F.col("v")).cast("double")
    )
    pair_logp = pairs.crossJoin(F.broadcast(vocab)).select(
        "w1", "w2", logp.cast("decimal(28,6)").alias("lp")
    )
    # shuffle_hash with pair_logp as build side (r10 plan audit): the
    # corpus-scale doc-bigram explode must NEVER be the broadcast
    # build side — Catalyst's size estimate is pre-explode, so at any
    # scale where the raw documents slice is under the broadcast
    # threshold it would hash the whole exploded gram table
    # (the r9 local-cluster OOM class). pair_logp is distinct-bigram-
    # sized (vocab^2-bounded, far sub-corpus, but at 100 TB potentially
    # billions of rows — too big to FORCE broadcast either), so the
    # scale plan is the one the docstring promises: grams shuffle once
    # on (w1, w2), pair_logp hash-builds per partition, no sort.
    return (
        grams.join(pair_logp.hint("shuffle_hash"), ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            (F.sum("lp").cast("double") / F.count(F.lit(1))).alias("avg_logp"),
        )
    )


def choose_packing(
    report: DataFrame,
    min_utilization: float = 0.0,
    require_cheap_boundaries: bool = False,
) -> str:
    """The decision rule on doc_packing_strategy_report's output,
    completing the measured-decision family (choose_blocking /
    choose_lsh_bands / choose_ann_index / choose_watermark_delay):
    pick the HIGHEST-utilization packing strategy whose measured
    utilization clears ``min_utilization``; with
    ``require_cheap_boundaries`` the raw cross-document concat
    (``concat_per_source``) is excluded, because its windows need
    per-token attention-mask resets at arbitrary offsets — the two
    boundary-aligned strategies (one-doc-per-window padding and the
    256-char quantized concat) keep document starts addressable.

    Raises — naming the best rejected candidate — when nothing clears
    the floor, so a corpus whose every strategy wastes half the
    context window fails loudly instead of silently burning FLOPs.

    Input is config-scale (one row per strategy); the collect is
    bounded by the strategy count, not the corpus.
    """
    pool = report
    if require_cheap_boundaries:
        pool = pool.filter(F.col("strategy") != "concat_per_source")
    rows = (
        pool.filter(F.col("utilization") >= min_utilization)
        .orderBy(F.desc("utilization"), F.asc("strategy"))
        .limit(1)
        .collect()
    )
    if rows:
        return str(rows[0]["strategy"])
    best = (
        pool.orderBy(F.desc("utilization"), F.asc("strategy"))
        .limit(1)
        .collect()
    )
    detail = (
        f"best candidate was {best[0]['strategy']} at "
        f"utilization={best[0]['utilization']:.4f}"
        if best
        else "the report table is empty"
    )
    raise ValueError(
        f"no packing strategy meets utilization floor "
        f"{min_utilization}: {detail}. Lower the floor, admit "
        "concat_per_source, or shrink the window capacity."
    )
