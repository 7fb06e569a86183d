"""BPE (byte-pair-encoding) merge training over the documents table.

The canonical tokenizer-training op, in the shape that scales:

- **Dict compaction first.** The corpus collapses to a (word, freq)
  table in ONE groupBy — BPE statistics depend only on word
  frequencies, so the 100 TB of text is touched exactly once; every
  training iteration runs on the (distinct-word)-sized dict, typically
  5-6 orders of magnitude smaller.
- **Per iteration**: adjacent-pair counts come from a posexplode of
  each word's current symbol array weighted by freq (map-side partial
  agg; one small shuffle on pair), the argmax pair is a TakeOrdered
  top-1 with a total-order tie-break (count desc, pair asc — fully
  deterministic), and the merge is applied to the symbol arrays by an
  Arrow ``mapInPandas`` kernel (in-row sequential scan — inherently
  order-dependent, so no Column-expression form exists).
- **Lineage truncation** via ``localCheckpoint`` per iteration, same
  as connected components — without it the plan doubles each round.

Model state on the driver is the merge list (tiny); the dict never
leaves the cluster. Correctness evidence: pytest compares the full
merge sequence against an independent pure-Python reference BPE on
micro-fixtures; the registry query carries a bounds-style envelope
(the iteration is not SQL-expressible)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens_col


def word_freqs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) dict of the corpus — the one pass over the data."""
    return (
        df.select(F.explode(tokens_col(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _merge_kernel(a: str, b: str):
    """mapInPandas fn replacing every adjacent (a, b) in ``syms`` with
    the concatenation — one sequential left-to-right scan per word,
    matching reference BPE (overlaps resolve leftmost-first)."""
    merged = a + b

    def apply(batches):
        for pdf in batches:
            out = []
            for syms in pdf["syms"]:
                res = []
                i, n = 0, len(syms)
                while i < n:
                    if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                        res.append(merged)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                out.append(res)
            pdf = pdf.copy()
            pdf["syms"] = out
            yield pdf

    return apply


def bpe_train(
    wf: DataFrame, n_merges: int = 10
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Learn ``n_merges`` BPE merges from a (word, freq) dict.

    Returns ``(merges, symbols)`` where merges is
    ``[(left, right, pair_count), ...]`` in learned order and
    ``symbols`` the final (word, freq, syms) table. Deterministic:
    the argmax pair is tie-broken (count desc, left asc, right asc)."""
    spark = wf.sparkSession
    symbols = wf.select(
        "word",
        "freq",
        F.expr("transform(split(word, ''), c -> c)").alias("syms"),
    ).localCheckpoint()
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pairs = (
            symbols.select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(slice(syms, 1, size(syms) - 1), "
                        "(s, i) -> struct(s AS l, syms[i + 1] AS r))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not pairs:
            break
        top = pairs[0]
        merges.append((top["l"], top["r"], int(top["cnt"])))
        symbols = symbols.mapInPandas(
            _merge_kernel(top["l"], top["r"]),
            "word string, freq long, syms array<string>",
        ).localCheckpoint()
    return merges, symbols

