"""Round-10 regression tests: the five r9 ADVICE findings.

1 (medium) shingle_sets pins its result with exactly one lazy
  localCheckpoint.
2 (low) broadcast_over_generate is depth-aware: an Aggregate BELOW the
  Generate (explode of an aggregated input, broadcast of the raw
  explode output) no longer suppresses the finding.
3 (low) exact_substring_spans ships a true 16-byte binary digest
  (unhex(md5)) on the wide shuffle, not 32-char hex.
4 (low) sync_doc_counts: no stale group-1 comment, singular 'test
  collected' parses, repo root derived from __file__.
5 (low) __main__ registry import indentation — covered by flake-free
  parse in test_import_indent below.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from employee_analytics_etl_spark.operators.dedup import (
    exact_substring_spans,
    shingle_sets,
)


class TestShingleSetsCheckpoint:
    def test_pins_once_lazily(self, spark, monkeypatch):
        calls = []
        df = spark.createDataFrame(
            [(1, "a b c d"), (2, "b c d e")], ["doc_id", "text"]
        )
        # patch the CONCRETE class (pyspark 4's classic DataFrame
        # overrides localCheckpoint; patching the abstract
        # pyspark.sql.DataFrame would miss the dispatch)
        cls = type(df)
        orig = cls.localCheckpoint

        def spy(self, eager=True):
            calls.append(eager)
            return orig(self, eager=eager)

        monkeypatch.setattr(cls, "localCheckpoint", spy)
        pinned = shingle_sets(df, n=3)
        assert calls == [False], "shingle_sets must lazily pin exactly once"
        got = {
            r["id"]: (r["shingle_set"], r["set_size"])
            for r in pinned.collect()
        }
        assert got == {
            1: (["a b c", "b c d"], 2),
            2: (["b c d", "c d e"], 2),
        }


class TestCarryColsCollisionGuard:
    """r13 (r12 ADVICE #2): carry_cols names colliding with the
    operators' own internal/output columns must raise, not silently
    produce duplicate/ambiguous columns."""

    def test_shingle_sets_rejects_reserved(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d", "x")], ["doc_id", "text", "set_size"]
        )
        with pytest.raises(ValueError, match="carry_cols.*set_size"):
            shingle_sets(df, n=3, carry_cols=("set_size",))

    def test_prefix_filter_rejects_suffix_collision(self, spark):
        from employee_analytics_etl_spark.operators.dedup import (
            prefix_filter_jaccard_pairs,
        )

        df = spark.createDataFrame(
            [(1, "a b c d e f", 1)], ["doc_id", "text", "size"]
        )
        # "size" itself is not reserved, but size_a/size_b are outputs
        with pytest.raises(ValueError, match="_a/_b"):
            prefix_filter_jaccard_pairs(df, carry_cols=("size",))

    def test_valid_carry_passes(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d", "en")], ["doc_id", "text", "lang"]
        )
        out = shingle_sets(df, n=3, carry_cols=("lang",))
        assert out.columns == ["id", "shingle_set", "lang", "set_size"]


class TestBroadcastOverGenerateDepthAware:
    def test_generate_above_aggregate_is_still_flagged(self):
        """r9 ADVICE #2's false negative: Aggregate is a DESCENDANT of
        the explode — it bounds the explode's INPUT, not the broadcast
        row count — so the finding must fire."""
        from tools.explain_audit import broadcast_over_generate

        plan = (
            "+- BroadcastExchange HashedRelationBroadcastMode\n"
            "   +- *(2) Project [k]\n"
            "      +- Generate explode(ks), false, [k]\n"
            "         +- *(1) HashAggregate(keys=[g], functions=[collect_list(x)])\n"
            "            +- Scan parquet [g, x]\n"
        )
        hits = broadcast_over_generate(plan)
        assert len(hits) == 1 and "explode" in hits[0]

    def test_aggregate_between_exchange_and_generate_suppresses(self):
        from tools.explain_audit import broadcast_over_generate

        plan = (
            "+- BroadcastExchange HashedRelationBroadcastMode\n"
            "   +- *(2) HashAggregate(keys=[k], functions=[count(1)])\n"
            "      +- Generate explode(xs), false, [k]\n"
            "         +- Scan parquet [xs]\n"
        )
        assert broadcast_over_generate(plan) == []

    def test_aggregate_on_sibling_branch_does_not_suppress(self):
        """An Aggregate under the join's OTHER child (same exchange
        subtree via a join below the exchange) is not between the
        exchange and the Generate and must not suppress."""
        from tools.explain_audit import broadcast_over_generate

        plan = (
            "+- BroadcastExchange HashedRelationBroadcastMode\n"
            "   +- *(3) SortMergeJoin [k], [k], Inner\n"
            "      :- Generate explode(ks), false, [k]\n"
            "      :  +- Scan parquet [ks]\n"
            "      +- *(2) HashAggregate(keys=[k], functions=[count(1)])\n"
            "         +- Scan parquet [k]\n"
        )
        hits = broadcast_over_generate(plan)
        assert len(hits) == 1 and "explode" in hits[0]


class TestExactSubstringBinaryDigest:
    def test_wire_digest_is_unhexed_md5(self, spark, monkeypatch):
        """The wide shuffle's digest column is BinaryType (16 bytes),
        not 32-char hex — pin via the analyzed plan's expression tree.
        The operator's lazy localCheckpoint collapses the analyzed
        plan into a LogicalRDD, so neutralize it for inspection."""
        df = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "a b c d e g")], ["doc_id", "text"]
        )
        monkeypatch.setattr(
            type(df), "localCheckpoint", lambda self, eager=True: self
        )
        out = exact_substring_spans(df, k=4)
        analyzed = out._jdf.queryExecution().analyzed().toString()
        assert re.search(r"unhex\(md5\(", analyzed), (
            "digest must be unhex(md5(...)) — 16-byte binary on the wire"
        )
        # the empty-branch cast must also be binary, or the CASE WHEN
        # would widen the whole array back to string
        assert "array<binary>" in analyzed, analyzed[:400]
        # and the result is still exact (full brute-force parity lives
        # in test_r9_queries; this is the digest-width smoke)
        rows = {r["doc_id"]: r for r in exact_substring_spans(df, k=4).collect()}
        assert rows[1]["removed_tokens"] == 0
        assert rows[2]["dup_spans"] == 2  # "a b c d"/"b c d e" shared
        assert rows[2]["removed_tokens"] == 5


class TestSyncDocCountsHygiene:
    def test_singular_collected_form_parses(self):
        import tools.sync_doc_counts as s

        assert re.search(r"(\d+) tests? collected", "1 test collected")
        assert s.REPO_ROOT.endswith("repo") or "/" in s.REPO_ROOT
        # the module must not hardcode /root/repo as a default anywhere
        src = open(s.__file__).read()
        assert 'repo_root: str = "/root/repo"' not in src
        # the comment no longer claims a group-1 capture
        assert "group 1" not in src

    def test_test_module_derives_repo_from_file(self):
        import tests.test_doc_counts as t

        src = open(t.__file__).read()
        assert 'REPO = "/root/repo"' not in src


class TestRetrievalRankWindowsLimitBounded:
    """VERDICT r9 ask #5: the BM25/RRF rank windows must never sort a
    doc-sized input in one task. The r9 tree already ranks AFTER the
    distributed TakeOrdered top-k (window input = 20 rows); this pins
    the shape mechanically so a refactor can't move the window back
    below the limit — every WindowExec in these plans must have
    TakeOrderedAndProject as its immediate child."""

    def test_windows_sit_directly_above_takeordered(self, spark):
        from employee_analytics_etl_spark.plans import registry, registry_ext  # noqa: F401
        from tools.explain_audit import _subtree_depth

        for name in ("doc_bm25_topk", "doc_rrf_hybrid_topk"):
            df = registry.QUERIES[name](spark, "/root/testdata/sf0.001")
            plan = df._jdf.queryExecution().executedPlan().toString()
            lines = plan.splitlines()
            windows = [i for i, l in enumerate(lines) if "Window " in l]
            for i in windows:
                d = _subtree_depth(lines[i])
                child = next(
                    (
                        m
                        for m in lines[i + 1:]
                        if any(c.isalpha() for c in m)
                        and _subtree_depth(m) > d
                    ),
                    "",
                )
                assert "TakeOrderedAndProject" in child, (
                    f"{name}: Window input is not limit-bounded:\n{child}"
                )


def test_import_indent():
    """The registry module list in ``plans.load_all`` is consistently
    indented (r9 ADVICE #5) — every member line of the parenthesized
    import uses the same indent."""
    import employee_analytics_etl_spark.plans as m

    src = open(m.__file__).read()
    block = re.search(
        r"from \. import \(([^)]*)\)", src, re.S
    ).group(1)
    indents = {
        len(line) - len(line.lstrip())
        for line in block.splitlines()
        if line.strip().startswith("registry")
    }
    assert len(indents) == 1, f"mixed indents in registry import: {indents}"


class TestExactSubstringRuns:
    """Maximal-run coalescing (VERDICT r9 ask #6): islands-and-gaps
    over non-canonical duplicated windows. k=4; expectations derived
    by hand from the canonical-first rule (min (doc_id, pos))."""

    K = 4

    DOCS = {
        1: "a b c d e f x y",                      # canonical for the shared run
        2: "q a b c d e f r",                      # 3 overlapping dup windows -> ONE run
        3: "p p p p p p p",                        # self-repeat, pos 1..3 cut
        5: "g h i j k l m n",                      # canonical copy
        6: "g h i j k l m n",                      # full duplicate -> one full-doc run
        7: "a b c d u1 u2 u3 u4 u5 g h i j",       # two dup windows, gap 9 > k -> TWO runs
        8: "a b c d g h i j",                      # dup windows at pos 0 and 4 = k -> ADJOIN, one run
    }

    @pytest.fixture(scope="class")
    def runs(self, spark):
        from employee_analytics_etl_spark.operators.dedup import (
            exact_substring_runs,
        )

        df = spark.createDataFrame(
            [(d, t) for d, t in self.DOCS.items()], ["doc_id", "text"]
        )
        rows = exact_substring_runs(df, k=self.K).collect()
        return {
            (r["doc_id"], r["run_idx"]): (
                r["run_start"], r["run_end"], r["run_tokens"], r["n_windows"]
            )
            for r in rows
        }

    def test_exact_run_set(self, runs):
        assert runs == {
            (2, 0): (1, 6, 6, 3),   # "a b c d e f" copy: windows 1,2,3 merge
            (3, 0): (1, 6, 6, 3),   # p^7 self-repeat keeps only window 0
            (6, 0): (0, 7, 8, 5),   # verbatim duplicate: one whole-doc run
            (7, 0): (0, 3, 4, 1),   # isolated "a b c d"
            (7, 1): (9, 12, 4, 1),  # isolated "g h i j", gap 9 > k splits
            (8, 0): (0, 7, 8, 2),   # pos 0 and 4 ADJOIN (p' - p == k): merged
        }

    def test_canonical_docs_report_nothing(self, runs):
        assert not any(doc in (1, 5) for doc, _ in runs)

    def test_run_tokens_equals_span_union(self, spark):
        """Per doc, sum(run_tokens) must equal exact_substring_spans'
        removed_tokens — the two views of one dedup decision agree."""
        from employee_analytics_etl_spark.operators.dedup import (
            exact_substring_runs,
            exact_substring_spans,
        )

        df = spark.createDataFrame(
            [(d, t) for d, t in self.DOCS.items()], ["doc_id", "text"]
        )
        by_runs = {
            r["doc_id"]: r["tot"]
            for r in exact_substring_runs(df, k=self.K)
            .groupBy("doc_id")
            .agg(F.sum("run_tokens").alias("tot"))
            .collect()
        }
        by_spans = {
            r["doc_id"]: r["removed_tokens"]
            for r in exact_substring_spans(df, k=self.K).collect()
            if r["removed_tokens"] > 0
        }
        assert by_runs == by_spans


class TestSemDedupPrune:
    """semdedup_embedding_prune keep-rule on hand vectors: same-cell
    near-duplicates keep the lowest id; different cells never pair."""

    def test_keep_rule(self, spark):
        import employee_analytics_etl_spark.plans.registry_r10 as r10
        from employee_analytics_etl_spark.plans import registry

        # cell = signs of dims 0..3. v1/v2: identical direction
        # (cos=1) in cell 15; v3: same cell, near-orthogonal-ish mix
        # kept low cosine; v4: duplicate of v1 but dim0 flipped ->
        # DIFFERENT cell, never compared.
        rows = [
            (1, [1.0, 1.0, 1.0, 1.0]),
            (2, [2.0, 2.0, 2.0, 2.0]),     # cos(1,2)=1 -> dropped (id 1 kept)
            (3, [1.0, 1.0, 1.0, -30.0]),   # different cell (dim3 < 0)
            (4, [-1.0, 1.0, 1.0, 1.0]),    # different cell (dim0 < 0)
            (5, [3.0, 3.0, 3.0, 3.0]),     # cos=1 with 1 and 2 -> dropped
        ]
        import tempfile, os, shutil

        tmp = tempfile.mkdtemp(prefix="semdedup_fixture_")
        try:
            spark.createDataFrame(
                rows, "vec_id long, embedding array<float>"
            ).write.mode("overwrite").parquet(os.path.join(tmp, "embeddings.parquet"))
            out = {
                r["vec_id"]: (r["cell"], r["kept"])
                for r in registry.QUERIES["semdedup_embedding_prune"](
                    spark, tmp
                ).collect()
            }
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        assert out[1] == (15, True)
        assert out[2] == (15, False)
        assert out[5] == (15, False)
        assert out[3][0] != 15 and out[3][1] is True
        assert out[4][0] != 15 and out[4][1] is True

    def test_pair_budget_raises_loud(self, spark):
        """The family contract: a saturated cell raises naming the hot
        block instead of launching a quadratic job."""
        from employee_analytics_etl_spark.operators.dedup import semdedup_prune

        vecs = spark.createDataFrame(
            [(i, [1.0, 1.0, 1.0, 1.0]) for i in range(100)],
            "vec_id long, embedding array<float>",
        )
        with pytest.raises(ValueError, match="semdedup_prune.*budget"):
            semdedup_prune(vecs, max_pairs=10)
