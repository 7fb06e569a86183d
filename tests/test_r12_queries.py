"""Round-12 regression tests: r11 ADVICE findings 1, 2 and 4 (the
third's tool, tools/scale100_experiments.py, is deleted).

1 (low) candidate_levenshtein_pairs no longer silently excludes
  sub-n-token documents: shingle_sets grew a short_whole_text arm
  (one whole-text shingle for 1..n-1 tokens, still empty at zero
  tokens), the composed query defaults it ON, and the registry oracle
  encodes the identical fallback — so short exact/near-exact
  duplicates pair instead of being structurally invisible.
2 (low) the brute-force _shingles test helper in test_r11_queries now
  mirrors the operator exactly (empty set at zero tokens) and the
  fixture carries a short-duplicate pair that exists ONLY via the
  fallback — pinned again here against the operator directly.
4 (low) parse_mp3_frames honors the ID3v2.4 footer flag (0x10): the
  10-byte footer after the tag body is skipped instead of raising a
  misleading "lost frame sync" at the footer offset.
"""

from __future__ import annotations

import pytest

from employee_analytics_etl_spark.operators.codecs import (
    encode_mp3_frame_stream,
    parse_mp3_frames,
)
from employee_analytics_etl_spark.operators.dedup import (
    _damerau_levenshtein_capped,
    _damerau_levenshtein_py,
    _jaro_winkler_py,
    candidate_damerau_pairs,
    candidate_jaro_winkler_pairs,
    candidate_levenshtein_pairs,
    prefix_filter_jaccard_pairs,
    shingle_sets,
)


class TestShortWholeTextFallback:
    """r11 ADVICE #1: sub-n-token documents and the whole-text
    shingle fallback."""

    _docs = [
        (1, "alpha beta gamma delta epsilon zeta"),  # 6 tokens
        (2, "short one"),
        (3, "short one!"),  # same tokens as 2 — pair only via fallback
        (4, "???"),  # zero tokens after the [a-z0-9]+ extract
        (5, ""),  # empty text
    ]

    def test_default_excludes_short_docs(self, spark):
        df = spark.createDataFrame(self._docs, ["doc_id", "text"])
        rows = {
            r["id"]: r["shingle_set"]
            for r in shingle_sets(df, n=5).collect()
        }
        assert len(rows[1]) == 2  # 6 tokens -> two 5-grams
        assert rows[2] == [] and rows[3] == []
        assert rows[4] == [] and rows[5] == []

    def test_fallback_emits_whole_text_shingle(self, spark):
        df = spark.createDataFrame(self._docs, ["doc_id", "text"])
        rows = {
            r["id"]: r["shingle_set"]
            for r in shingle_sets(df, n=5, short_whole_text=True).collect()
        }
        assert len(rows[1]) == 2  # >= n tokens: unchanged
        assert rows[2] == ["short one"] and rows[3] == ["short one"]
        # zero-token docs stay EMPTY — an empty-string shingle would
        # pair every blank doc with every other
        assert rows[4] == [] and rows[5] == []

    def test_candidate_lev_finds_short_duplicates(self, spark):
        df = spark.createDataFrame(self._docs, ["doc_id", "text"])
        got = {
            (r["doc_id_a"], r["doc_id_b"]): r["lev_dist"]
            for r in candidate_levenshtein_pairs(df, "doc_id", "text").collect()
        }
        # "short one" vs "short one!": jaccard 1.0, lev 1 <= 10% of 10
        assert got == {(2, 3): 1}

    def test_candidate_lev_opt_out_restores_exclusion(self, spark):
        df = spark.createDataFrame(self._docs, ["doc_id", "text"])
        got = candidate_levenshtein_pairs(
            df, "doc_id", "text", short_whole_text=False
        ).collect()
        assert got == []  # pre-r12 semantics: short dups invisible

    def test_prefix_filter_default_unchanged(self, spark):
        # The raw candidate generator keeps its historical default
        # (short docs excluded) so the existing prefix-jaccard oracle
        # stays truthful.
        df = spark.createDataFrame(self._docs, ["doc_id", "text"])
        got = prefix_filter_jaccard_pairs(df, "doc_id", "text").collect()
        assert got == []
        with_fb = prefix_filter_jaccard_pairs(
            df, "doc_id", "text", short_whole_text=True
        ).collect()
        assert {(r["id_a"], r["id_b"]) for r in with_fb} == {(2, 3)}


class TestCandidateVerifierFamily:
    """r12 north-star nibble (VERDICT r11 ask #7): the candidate-first
    composition generalizes across the verifier family — same
    prefix-filter candidate stage, a different scorer. Checked against
    pure-Python brute force of the declared semantics (shingle
    Jaccard >= floor AND metric within bound), with the short
    whole-text fallback included."""

    _docs = [
        (1, "the quick brown fox jumps over the lazy dog and then naps"),
        # one adjacent transposition of doc 1 ("teh") — Damerau says 1
        # where Levenshtein says 2
        (2, "teh quick brown fox jumps over the lazy dog and then naps"),
        (3, "nearly unrelated text about spark shuffle partitions"),
        (4, "really unrelated text about spark shuffle partitions"),
        (5, "short one"),
        (6, "short one!"),
    ]

    @staticmethod
    def _shingles(text: str, n: int = 5) -> set[str]:
        import re

        tk = re.findall(r"[a-z0-9]+", text.lower())
        if not tk:
            return set()
        if len(tk) < n:
            return {" ".join(tk)}
        return {" ".join(tk[i : i + n]) for i in range(len(tk) - n + 1)}

    def _brute(self, score, keep, floor):
        out = set()
        for i, (ia, ta) in enumerate(self._docs):
            for ib, tb in self._docs[i + 1 :]:
                sa, sb = self._shingles(ta), self._shingles(tb)
                union = len(sa | sb)
                if not union:
                    continue
                jac = len(sa & sb) / union
                if jac >= floor and keep(score(ta, tb), ta, tb):
                    out.add((ia, ib, round(jac, 6)))
        return out

    def test_damerau_matches_brute_force(self, spark):
        df = spark.createDataFrame(self._docs, ["doc_id", "text"])
        got = {
            (r["doc_id_a"], r["doc_id_b"], r["jaccard"]): r["dl_dist"]
            for r in candidate_damerau_pairs(df, "doc_id", "text").collect()
        }
        expect = self._brute(
            _damerau_levenshtein_py,
            lambda d, a, b: d <= max(len(a), len(b)) * 10 / 100,
            floor=0.25,
        )
        assert set(got) == expect
        by_pair = {(x, y): d for (x, y, _), d in got.items()}
        # the transposition pair scores 1 under Damerau (one swap)
        assert by_pair[(1, 2)] == 1
        # and the short-dup fallback pair survives the Damerau verify
        assert by_pair[(5, 6)] == 1

    def test_jaro_winkler_matches_brute_force(self, spark):
        df = spark.createDataFrame(self._docs, ["doc_id", "text"])
        got = {
            (r["doc_id_a"], r["doc_id_b"], r["jaccard"]): r["jw_sim"]
            for r in candidate_jaro_winkler_pairs(df, "doc_id", "text").collect()
        }
        expect = self._brute(
            _jaro_winkler_py,
            lambda s, a, b: s >= 0.9,
            floor=0.3,
        )
        assert set(got) == expect and len(expect) >= 2
        for (ia, ib, _), sim in got.items():
            ta = dict(self._docs)[ia]
            tb = dict(self._docs)[ib]
            assert sim == round(_jaro_winkler_py(ta, tb), 6)

    def test_capped_damerau_fuzz_vs_full(self):
        # Contract: exact when full <= cap, else strictly > cap. The
        # tiny alphabet maximizes transpositions (the Lowrance-Wagner
        # d[k][l] jump) including jumps whose (k, l) falls outside the
        # Ukkonen band, and caps 0..6 hit the band edges.
        import random

        rng = random.Random(12)
        for _ in range(3000):
            la, lb = rng.randint(0, 12), rng.randint(0, 12)
            a = "".join(rng.choice("abc") for _ in range(la))
            b = "".join(rng.choice("abc") for _ in range(lb))
            full = _damerau_levenshtein_py(a, b)
            for cap in range(0, 7):
                got = _damerau_levenshtein_capped(a, b, cap)
                if full <= cap:
                    assert got == full, (a, b, cap, got, full)
                else:
                    assert got > cap, (a, b, cap, got, full)

    def test_capped_damerau_long_text_band(self):
        # Long near-duplicates exercise the band at realistic shapes:
        # one swap + one substitution at distant offsets.
        base = "the quick brown fox jumps over the lazy dog " * 20
        mutated = "teh" + base[3:400] + "X" + base[401:]
        full = _damerau_levenshtein_py(base, mutated)
        cap = max(len(base), len(mutated)) * 10 // 100
        assert _damerau_levenshtein_capped(base, mutated, cap) == full == 2

    def test_construction_is_plan_only(self, spark, monkeypatch):
        # Neither new verifier sizes a band, so construction must not
        # run ANY eager job (unlike lev_band=True's max-length agg).
        df = spark.createDataFrame(self._docs, ["doc_id", "text"])
        cls = type(df)
        eager: list[str] = []
        monkeypatch.setattr(
            cls, "first", lambda self, *a, **kw: eager.append("first")
        )
        monkeypatch.setattr(
            cls, "collect", lambda self, *a, **kw: eager.append("collect")
        )
        candidate_damerau_pairs(df, "doc_id", "text")
        candidate_jaro_winkler_pairs(df, "doc_id", "text")
        assert eager == []


class TestMp3Id3Footer:
    """r11 ADVICE #4: ID3v2.4 footer flag (0x10) adds 10 bytes after
    the tag body that the frame walk must skip."""

    def test_footered_tag_parses_like_unfootered(self):
        idx = [9, 9, 11, 9]
        plain = parse_mp3_frames(encode_mp3_frame_stream(idx, id3_size=64))
        footered = parse_mp3_frames(
            encode_mp3_frame_stream(idx, id3_size=64, id3_footer=True)
        )
        assert footered == plain
        assert footered["n_frames"] == 4 and footered["has_id3v2"]

    def test_footer_flag_without_skip_would_desync(self):
        # The footer begins with "3DI" — demonstrably NOT a frame sync.
        data = encode_mp3_frame_stream([9], id3_size=0, id3_footer=True)
        assert data[10:13] == b"3DI"
        # Spec-accurate parse succeeds (footer skipped).
        assert parse_mp3_frames(data)["n_frames"] == 1

    def test_footer_requires_size(self):
        with pytest.raises(ValueError, match="id3_footer requires id3_size"):
            encode_mp3_frame_stream([9], id3_footer=True)

    def test_footer_with_id3v1_tail(self):
        data = encode_mp3_frame_stream(
            [5, 6], id3_size=32, id3_footer=True, id3v1=True
        )
        out = parse_mp3_frames(data)
        assert out["n_frames"] == 2 and out["kbps"] == [64, 80]


class TestTriangleJoinNeverBroadcastsExplodedSide:
    """r12 combined-mode rotation finding: the default (shuffle-path)
    triangle join left its physical strategy to the optimizer, whose
    Generate estimate prices the EXPLODED adjacency side — every
    oriented edge dragging its |N+(src)|-element array, the Σ|N+(u)|²
    wedge-mass object — as the compact pre-explode relation. Under the
    production session's 64 MB autoBroadcastJoinThreshold that planned
    a BuildLeft BroadcastHashJoin and OOM'd 8 GiB executors at the
    factor-10 multifile layout in local-cluster mode (single query,
    reproducible; LongToUnsafeRowMap.readLongArray on deserialize).
    The audit detector fired on exactly this plan, but the query sat
    in GENERATE_BROADCAST_OK under a justification describing the
    OPT-IN broadcast_adj path, not the registry's default path — a
    misadjudicated allowlist entry. r12 fix: a join hint pins a
    shuffle join on the default path; the allowlist entry is gone.
    r13: the pinned strategy moved from sort-merge to SHUFFLE_HASH
    with the COMPACT adjacency as the build side (guide §3.1 — both
    sides still shuffle, neither sorts; the sort SMJ paid was over
    the wedge-mass exploded rows). The invariant this class protects
    is unchanged: the exploded side is NEVER a broadcast build side,
    at any threshold."""

    def _edges(self, spark, n_cliques=40, k=6):
        # n_cliques disjoint k-cliques: known triangle count, enough
        # rows that nothing degenerates to a LocalRelation.
        rows = [
            (c * 1000 + i, c * 1000 + j)
            for c in range(n_cliques)
            for i in range(k)
            for j in range(i + 1, k)
        ]
        return spark.createDataFrame(rows, ["u", "v"])

    def _with_threshold(self, spark, bytes_):
        import contextlib

        @contextlib.contextmanager
        def cm():
            key = "spark.sql.autoBroadcastJoinThreshold"
            old = spark.conf.get(key)
            spark.conf.set(key, str(bytes_))
            try:
                yield
            finally:
                spark.conf.set(key, old)

        return cm()

    def test_default_path_is_shuffle_hash_even_at_huge_threshold(self, spark):
        from employee_analytics_etl_spark.operators import graph as G

        # 512 MB threshold: if ANY estimate-governed broadcast of the
        # exploded side were still possible, it would be planned here.
        with self._with_threshold(spark, 512 * 1024 * 1024):
            df = G.triangle_stats(self._edges(spark))
            plan = df._jdf.queryExecution().executedPlan().toString()
        na_joins = [
            l for l in plan.splitlines() if "Join" in l and "na#" in l
        ]
        assert na_joins, "expected the na/nb intersection join in the plan"
        # r13 pin: shuffled-hash, and the build side must be the RIGHT
        # (compact adjacency) side — the exploded na-carrying side
        # streams, it is never hashed or broadcast.
        assert all("ShuffledHashJoin" in l for l in na_joins), na_joins
        assert all("BuildRight" in l for l in na_joins), na_joins
        assert all("BroadcastHashJoin" not in l for l in na_joins), na_joins

    def test_default_path_detector_clean(self, spark):
        import os
        import sys

        sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
        from explain_audit import GENERATE_BROADCAST_OK, broadcast_over_generate

        from employee_analytics_etl_spark.operators import graph as G

        # The misadjudicated allowlist entry must stay gone: the audit
        # polices this query's default path again.
        assert "graph_triangle_stats" not in GENERATE_BROADCAST_OK

        with self._with_threshold(spark, 512 * 1024 * 1024):
            df = G.triangle_stats(self._edges(spark))
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert broadcast_over_generate(plan) == []
            df2 = G.local_clustering_topk(self._edges(spark), k=5)
            plan2 = df2._jdf.queryExecution().executedPlan().toString()
            assert broadcast_over_generate(plan2) == []

    def test_counts_unchanged_by_the_hint(self, spark):
        from employee_analytics_etl_spark.operators import graph as G

        n_cliques, k = 40, 6
        row = G.triangle_stats(self._edges(spark, n_cliques, k)).collect()[0]
        # k-clique: C(k,3) triangles, C(k,2) edges, k*C(k-1,2) wedges
        assert row.n_nodes == n_cliques * k
        assert row.n_edges == n_cliques * k * (k - 1) // 2
        assert row.n_triangles == n_cliques * k * (k - 1) * (k - 2) // 6
        assert row.n_wedges == n_cliques * k * (k - 1) * (k - 2) // 2
        assert abs(row.global_clustering - 1.0) < 1e-9
