"""Round-11 regression tests: r10 ADVICE findings 1-3 (the fourth's
tool, tools/ab_bench.py, is deleted).

1 (low) blocked_levenshtein_pairs with max_pairs=None is plan-only at
  construction (no eager max-length aggregate — matching
  assert_blocked_pair_budget's documented escape hatch) and falls back
  to the full-DP verifier; with a budget the banded form still matches.
2 (low) semdedup_prune cell bits coalesce NULL embedding elements to 0
  (the oracle's CASE WHEN ... ELSE 0), instead of yielding a NULL cell
  that silently excludes the row from all pairs.
3 (low) semdedup_prune docstring states the dominated-by-smaller-id
  rule (transitive over-pruning possible), not "one representative per
  epsilon-neighborhood" — pinned behaviorally: the 1-2, 2-3 chain with
  cos(1,3) < t drops BOTH 2 and 3.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from employee_analytics_etl_spark.operators.dedup import (
    blocked_levenshtein_pairs,
    candidate_levenshtein_pairs,
    semdedup_prune,
)


class TestLevenshteinNoneBudgetPlanOnly:
    def _docs(self, spark):
        return spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog", "en", "web"),
                (2, "the quick brown fox jumps over the lazy hog", "en", "web"),
                (3, "completely different text with no resemblance", "en", "web"),
                (4, "kurzer deutscher text", "de", "web"),
            ],
            ["doc_id", "text", "lang", "source"],
        )

    def test_none_budget_runs_no_eager_job(self, spark, monkeypatch):
        """max_pairs=None must keep construction plan-only: neither the
        pair-budget check nor the max-length aggregate may execute."""
        docs = self._docs(spark)
        cls = type(docs)
        firsts: list[str] = []
        orig = cls.first

        def spy(self, *a, **kw):
            firsts.append("first")
            return orig(self, *a, **kw)

        monkeypatch.setattr(cls, "first", spy)
        monkeypatch.setattr(
            cls, "collect", lambda self, *a, **kw: firsts.append("collect")
        )
        blocked_levenshtein_pairs(docs, max_pairs=None)
        assert firsts == [], (
            "construction with max_pairs=None must not run any eager "
            f"aggregate, saw {firsts}"
        )

    def test_none_budget_matches_banded_result(self, spark):
        docs = self._docs(spark)
        banded = {
            tuple(r)
            for r in blocked_levenshtein_pairs(docs, max_pairs=10_000).collect()
        }
        full = {
            tuple(r)
            for r in blocked_levenshtein_pairs(docs, max_pairs=None).collect()
        }
        assert banded == full == {(1, 2, 1)}


class TestSemdedupNullBits:
    _schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )

    def test_null_leading_element_gets_cell_not_null(self, spark):
        """A NULL among the first sign_bits dims coalesces to bit 0 —
        the row lands in a real cell and participates in pruning,
        matching the DuckDB oracle's CASE WHEN ... ELSE 0."""
        rows = [
            (1, [None, 1.0, 1.0, 1.0, 5.0]),
            (2, [-1.0, 1.0, 1.0, 1.0, 5.0]),  # same cell as 1 post-fix
            (3, [1.0, 1.0, 1.0, 1.0, 5.0]),
        ]
        df = spark.createDataFrame(rows, self._schema)
        out = {
            r["id"]: (r["cell"], r["kept"])
            for r in semdedup_prune(df, "vec_id", "embedding").collect()
        }
        assert out[1][0] == 0b1110, "NULL first element must coalesce to bit 0"
        assert out[2][0] == 0b1110
        assert out[3][0] == 0b1111
        # vectors 1 and 2 share a cell; cosine over the non-NULL dims is
        # NULL (element null -> dot null), so neither prunes the other —
        # the documented dense-contract boundary — but BOTH get rows.
        assert set(out) == {1, 2, 3}

    def test_dominated_by_smaller_id_chain(self, spark):
        """ADVICE #3 semantics pin: cos(1,2)>=t, cos(2,3)>=t,
        cos(1,3)<t => 2 AND 3 both pruned (vector 2 prunes 3 even
        though 2 is itself pruned)."""
        rows = [
            (1, [1.0, 0.0]),
            (2, [0.8, 0.6]),  # cos(1,2)=0.8
            (3, [0.28, 0.96]),  # cos(2,3)=0.8, cos(1,3)=0.28 < 0.4
        ]
        df = spark.createDataFrame(rows, self._schema)
        out = {
            r["id"]: r["kept"]
            for r in semdedup_prune(
                df, "vec_id", "embedding", sign_bits=1, threshold=0.4
            ).collect()
        }
        assert out == {1: True, 2: False, 3: False}


class TestCandidateLevenshtein:
    """r11 composed query: prefix-filter candidates -> banded-
    Levenshtein verify, checked against a pure-Python brute force of
    the declared semantics (Jaccard >= floor AND lev <= 10% of the
    longer text)."""

    _docs = [
        (1, "the quick brown fox jumps over the lazy dog and then naps"),
        (2, "the quick brown fox jumps over the lazy hog and then naps"),
        (3, "nearly unrelated text about spark shuffle partitions"),
        (4, "really unrelated text about spark shuffle partitions"),
        (5, "short one"),
        # r12 (r11 ADVICE #2): a short NEAR-DUPLICATE of doc 5 — both
        # are under the 5-token shingle width, so this pair exists
        # ONLY via the whole-text-shingle fallback
        # (short_whole_text=True); it pins the fallback semantics the
        # old fixture never exercised.
        (6, "short one!"),
    ]

    @staticmethod
    def _shingles(text: str, n: int) -> set[str]:
        # Mirrors shingle_sets(short_whole_text=True): full n-grams at
        # >= n tokens, ONE whole-text shingle at 1..n-1 tokens, empty
        # set at zero tokens (r11 ADVICE #2 — the old helper emitted
        # {""} for token-less text, diverging from the operator).
        import re

        tk = re.findall(r"[a-z0-9]+", text.lower())
        if not tk:
            return set()
        if len(tk) < n:
            return {" ".join(tk)}
        return {" ".join(tk[i : i + n]) for i in range(len(tk) - n + 1)}

    @staticmethod
    def _lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    def _brute(self, n=5, floor=0.3, pct=10):
        out = set()
        for i, (ia, ta) in enumerate(self._docs):
            for ib, tb in self._docs[i + 1 :]:
                sa, sb = self._shingles(ta, n), self._shingles(tb, n)
                jac = len(sa & sb) / len(sa | sb)
                lev = self._lev(ta, tb)
                if jac >= floor and lev <= max(len(ta), len(tb)) * pct / 100:
                    out.add((ia, ib, round(jac, 6), lev))
        return out

    def test_matches_brute_force(self, spark):
        df = spark.createDataFrame(self._docs, ["doc_id", "text"])
        got = {
            tuple(r)
            for r in candidate_levenshtein_pairs(
                df, "doc_id", "text", n=5, jaccard_floor=0.3
            ).collect()
        }
        expect = self._brute()
        assert got == expect and len(expect) >= 2

    def test_fractional_pct_band_matches_unbanded(self, spark):
        # r13 (ADVICE/VERDICT #8): the banded threshold must be built
        # from the EXACT pct, not int(pct) — with pct=12.5 an
        # int()-floored band (12%) would be tighter than the 12.5% cap
        # and silently drop pairs with 12%-band < d <= 12.5%-cap.
        # Constructed witness: docs 7 and 8 are 64 chars, lev = 8
        # (last token differs in its final 8 chars), and share 5 of
        # their 7 distinct 5-gram shingles (jaccard 5/7 >= 0.3). At
        # pct=12.5 the cap is 64*0.125 = 8.0 (kept); an int(12.5)=12%
        # band would be greatest(1, floor(64*0.12)) = 7 < 8 and the
        # 3-arg levenshtein would return -1, silently dropping it.
        docs = self._docs + [
            (7, "t0000 t1111 t2222 t3333 t4444 t5555 t6666 t7777 t8888 abcdefghij"),
            (8, "t0000 t1111 t2222 t3333 t4444 t5555 t6666 t7777 t8888 ab12345678"),
        ]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        kw = dict(jaccard_floor=0.3, max_rel_dist_pct=12.5)
        banded = {
            tuple(r)
            for r in candidate_levenshtein_pairs(
                df, "doc_id", "text", **kw
            ).collect()
        }
        # brute force of the declared semantics at the fractional pct
        expect = set()
        for i, (ia, ta) in enumerate(docs):
            for ib, tb in docs[i + 1 :]:
                sa, sb = self._shingles(ta, 5), self._shingles(tb, 5)
                jac = len(sa & sb) / len(sa | sb)
                lev = self._lev(ta, tb)
                if jac >= 0.3 and lev <= max(len(ta), len(tb)) * 12.5 / 100:
                    expect.add((ia, ib, round(jac, 6), lev))
        assert banded == expect
        # the fixture must actually exercise a pair BETWEEN floor-int-
        # pct band and the fractional cap, or this test proves nothing
        assert any(
            max(len(dict(docs)[a]), len(dict(docs)[b])) * 12 // 100
            < d
            <= max(len(dict(docs)[a]), len(dict(docs)[b])) * 12.5 / 100
            for (a, b, _j, d) in expect
        )

    def test_construction_is_plan_only(self, spark, monkeypatch):
        df = spark.createDataFrame(self._docs, ["doc_id", "text"])
        cls = type(df)
        eager: list[str] = []
        monkeypatch.setattr(
            cls, "first", lambda self, *a, **kw: eager.append("first")
        )
        monkeypatch.setattr(
            cls, "collect", lambda self, *a, **kw: eager.append("collect")
        )
        candidate_levenshtein_pairs(df, "doc_id", "text")
        assert eager == []


class TestMp3HeaderParse:
    """r11 north-star nibble (VERDICT r10 ask #7): MP3 stream structure
    without audio decode — frame-header walk, ID3v2/ID3v1 skip, spec
    frame-length arithmetic, fail-loud strictness."""

    def test_roundtrip_vbr_with_tags(self):
        from employee_analytics_etl_spark.operators.codecs import (
            encode_mp3_frame_stream,
            parse_mp3_frames,
        )

        s = encode_mp3_frame_stream(
            [9, 10, 11], rate_idx=1, id3_size=17, id3v1=True
        )
        m = parse_mp3_frames(s)
        assert m["version"] == "1" and m["layer"] == 3
        assert m["sample_rate"] == 48000 and m["channels"] == 2
        assert m["n_frames"] == 3 and m["kbps"] == [128, 160, 192]
        assert m["has_id3v2"] and m["samples_per_frame"] == 1152

    def test_cbr_mono(self):
        from employee_analytics_etl_spark.operators.codecs import (
            encode_mp3_frame_stream,
            parse_mp3_frames,
        )

        m = parse_mp3_frames(
            encode_mp3_frame_stream([5] * 4, rate_idx=0, mono=True)
        )
        assert m["channels"] == 1 and len(set(m["kbps"])) == 1
        assert m["duration_sec"] == pytest.approx(4 * 1152 / 44100)

    def test_strictness_paths(self):
        from employee_analytics_etl_spark.operators.codecs import (
            encode_mp3_frame_stream,
            parse_mp3_frames,
        )

        good = encode_mp3_frame_stream([9, 9])
        with pytest.raises(ValueError, match="lost frame sync"):
            parse_mp3_frames(b"\x00\x01" + good)
        with pytest.raises(ValueError, match="truncated"):
            # cut mid-header: one whole 417-byte frame then 2 bytes
            parse_mp3_frames(good[:419])
        with pytest.raises(NotImplementedError, match="free-format"):
            # bitrate index 0 in the first header
            parse_mp3_frames(bytes([0xFF, 0xFB, 0x00, 0x00]) + bytes(100))
        with pytest.raises(ValueError, match="reserved version"):
            parse_mp3_frames(bytes([0xFF, 0xEB, 0x90, 0x00]) + bytes(100))
        with pytest.raises(ValueError, match="no frames"):
            parse_mp3_frames(b"TAG" + bytes(125))
        # mid-stream rate change: frame 1 at 44100, frame 2 at 48000
        f1 = encode_mp3_frame_stream([9], rate_idx=0)
        f2 = encode_mp3_frame_stream([9], rate_idx=1)
        with pytest.raises(ValueError, match="mid-stream"):
            parse_mp3_frames(f1 + f2)

    def test_mp3_stream_stats_operator(self, spark):
        import pandas as pd

        from employee_analytics_etl_spark.operators.codecs import (
            encode_mp3_frame_stream,
        )
        from employee_analytics_etl_spark.operators.multimodal import (
            mp3_stream_stats,
        )

        payloads = [
            (1, bytearray(encode_mp3_frame_stream([9, 10], rate_idx=1))),
            (2, bytearray(encode_mp3_frame_stream([5] * 3, mono=True))),
        ]
        df = spark.createDataFrame(payloads, "media_id long, payload binary")
        out = {r["media_id"]: r.asDict() for r in mp3_stream_stats(df).collect()}
        assert out[1]["n_frames"] == 2 and out[1]["is_vbr"]
        assert out[1]["total_kbps"] == 128 + 160
        assert out[2]["channels"] == 1 and not out[2]["is_vbr"]
        assert out[2]["duration_sec"] == pytest.approx(3 * 1152 / 44100)


class TestBrpBroadcastAdjudication:
    """r11: running the six job-running queries BY NAME under the r10
    depth-aware exploded-broadcast detector surfaced knn_brp_euclidean
    (MLlib approxSimilarityJoin posexplodes hash arrays; Spark
    broadcasts the exploded QUERY-subset side). The detector firing is
    correct; the plan is safe because the broadcast side is the probe
    set (|corpus|/50 rows x 4 hash tables), bounded by construction.
    This pins BOTH halves: the detector still fires on the raw plan,
    and the allowlist covers the query by name."""

    def test_detector_fires_and_allowlist_covers(self, spark):
        from tools.explain_audit import (
            GENERATE_BROADCAST_OK,
            broadcast_over_generate,
        )
        from employee_analytics_etl_spark.plans import (  # noqa: F401
            registry,
            registry_ext,
        )

        assert "knn_brp_euclidean" in GENERATE_BROADCAST_OK
        df = registry.QUERIES["knn_brp_euclidean"](
            spark, "/root/testdata/sf0.001"
        )
        simple = df._jdf.queryExecution().executedPlan().toString()
        hits = broadcast_over_generate(simple)
        assert hits and any("posexplode" in h for h in hits), (
            "detector no longer fires on the MLlib plan — if MLlib "
            "changed its join shape, re-adjudicate the allowlist entry"
        )
