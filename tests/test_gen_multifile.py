"""Generation invariants for the multifile scale layout
(tools/gen_multifile.py) — the repo's main 10×-scaling evidence must
be as guarded as the oracles: if the layout silently degenerates
(rotation wrap duplicating text across replicas, wrong replication
counts, colliding keyspaces), every PERF.md scaling row measured on
it becomes meaningless."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

SRC = "/root/testdata/sf0.001"
FACTOR = 3


def _five_grams(text: str) -> set:
    return {text[i : i + 5] for i in range(len(text) - 4)}


@pytest.fixture(scope="module")
def multifile_dir(spark, tmp_path_factory):
    import gen_multifile

    out = str(tmp_path_factory.mktemp("mf") / "layout")
    gen_multifile.generate(SRC, out, factor=FACTOR, n_files=4, spark=spark)
    return out


class TestFactorGuard:
    def test_factor_over_family_size_refused_before_any_io(self, spark, tmp_path):
        """factor=1297 would give replica 1296 the identity map —
        byte-identical text to replica 0 — so the generator must
        refuse, not wrap. (r9: the family grew from 36 single
        rotations to 36² parity-pair rotations, moving the guard from
        36 to 1296.)"""
        import gen_multifile

        out = str(tmp_path / "never_created")
        with pytest.raises(ValueError, match="parity-pair"):
            gen_multifile.generate(
                SRC, out, factor=gen_multifile.PAIR_FAMILY_MAX + 1,
                spark=spark,
            )
        assert not os.path.exists(out)

    def test_family_size_is_the_boundary(self):
        """The guard is strict >36²: all parity pairs below it are
        distinct members; the wrap lands exactly at the size."""
        import gen_multifile

        alpha = gen_multifile.ROTATION_ALPHABET
        n = len(alpha)
        assert n == 36  # full [a-z0-9] token alphabet
        assert sorted(alpha) == sorted(set(alpha))  # no repeated chars
        rots = {alpha[r % n :] + alpha[: r % n] for r in range(n)}
        assert len(rots) == n
        assert alpha[n % n :] + alpha[: n % n] == alpha  # the wrap
        assert gen_multifile.PAIR_FAMILY_MAX == n * n
        pairs = {
            gen_multifile.pair_rotation_params(r)
            for r in range(gen_multifile.PAIR_FAMILY_MAX)
        }
        assert len(pairs) == gen_multifile.PAIR_FAMILY_MAX  # all distinct
        # rep PAIR_FAMILY_MAX would wrap to the identity pair
        with pytest.raises(ValueError, match="outside"):
            gen_multifile.pair_rotation_params(gen_multifile.PAIR_FAMILY_MAX)

    def test_pair_family_backward_compatible_below_36(self):
        """Reps 0–35 must be the single-rotation family exactly:
        e == o == rep, so factor ≤ 36 layouts are bit-identical to the
        r8 generator and its measured records stay comparable."""
        import gen_multifile

        for rep in range(36):
            assert gen_multifile.pair_rotation_params(rep) == (rep, rep)

    def test_unknown_mode_refused(self, spark, tmp_path):
        import gen_multifile

        with pytest.raises(ValueError, match="unknown multifile mode"):
            gen_multifile.generate(
                SRC, str(tmp_path / "x"), factor=2, spark=spark, mode="bogus"
            )


class TestFactsMode:
    """mode='facts' (judge r7 #1): fact tables replicate at ANY factor
    — the disjoint-orderkey-shift construction has no bijection limit
    — while customer/documents are byte-copies."""

    FACTS_FACTOR = 12  # deliberately past the full-mode cap

    @pytest.fixture(scope="class")
    def facts_dir(self, spark, tmp_path_factory):
        import gen_multifile

        out = str(tmp_path_factory.mktemp("facts") / "layout")
        gen_multifile.generate(
            SRC, out, factor=self.FACTS_FACTOR, n_files=4,
            spark=spark, mode="facts",
        )
        return out

    def test_factor_past_ten_allowed_and_counts_scale(self, spark, facts_dir):
        for t in ("lineitem", "orders"):
            n_src = spark.read.parquet(os.path.join(SRC, f"{t}.parquet")).count()
            n_out = spark.read.parquet(
                os.path.join(facts_dir, f"{t}.parquet")
            ).count()
            assert n_out == self.FACTS_FACTOR * n_src, t
        for t in ("customer", "documents", "supplier", "events"):
            n_src = spark.read.parquet(os.path.join(SRC, f"{t}.parquet")).count()
            n_out = spark.read.parquet(
                os.path.join(facts_dir, f"{t}.parquet")
            ).count()
            assert n_out == n_src, t

    def test_orderkey_replicas_disjoint_and_join_consistent(
        self, spark, facts_dir
    ):
        """Distinct orderkeys grow factor× (no collisions), and every
        lineitem orderkey still has its orders row — the fact-fact
        join stays total, which is what makes the layout a fair
        scaling measurement instead of a join-miss shrinkage."""
        o = spark.read.parquet(os.path.join(facts_dir, "orders.parquet"))
        li = spark.read.parquet(os.path.join(facts_dir, "lineitem.parquet"))
        n_src = (
            spark.read.parquet(os.path.join(SRC, "orders.parquet"))
            .select("o_orderkey").distinct().count()
        )
        assert o.select("o_orderkey").distinct().count() == (
            self.FACTS_FACTOR * n_src
        )
        orphans = (
            li.select(F.col("l_orderkey").alias("k"))
            .distinct()
            .join(
                o.select(F.col("o_orderkey").alias("k")),
                "k",
                "left_anti",
            )
            .count()
        )
        assert orphans == 0


class TestGenerationInvariants:
    def test_row_counts_factor_x_replicated_1x_copied(self, spark, multifile_dir):
        replicated = ("lineitem", "orders", "customer", "documents")
        copied = ("region", "nation", "supplier", "part", "events", "embeddings")
        for t in replicated:
            n_src = spark.read.parquet(os.path.join(SRC, f"{t}.parquet")).count()
            n_out = spark.read.parquet(
                os.path.join(multifile_dir, f"{t}.parquet")
            ).count()
            assert n_out == FACTOR * n_src, t
        for t in copied:
            n_src = spark.read.parquet(os.path.join(SRC, f"{t}.parquet")).count()
            n_out = spark.read.parquet(
                os.path.join(multifile_dir, f"{t}.parquet")
            ).count()
            assert n_out == n_src, t

    def test_replica_keyspaces_disjoint(self, spark, multifile_dir):
        """Distinct keys must also grow FACTOR× — a colliding shift
        would keep counts right but merge replicas under shared keys."""
        for t, k in (
            ("orders", "o_orderkey"),
            ("customer", "c_custkey"),
            ("documents", "doc_id"),
        ):
            n_src = (
                spark.read.parquet(os.path.join(SRC, f"{t}.parquet"))
                .select(k)
                .distinct()
                .count()
            )
            n_out = (
                spark.read.parquet(os.path.join(multifile_dir, f"{t}.parquet"))
                .select(k)
                .distinct()
                .count()
            )
            assert n_out == FACTOR * n_src, t

    def test_cross_replica_documents_share_no_5grams(self, spark, multifile_dir):
        """The point of the rotation bijection: within-replica
        similarity exact, cross-replica similarity collapsed. Sample
        doc 0's replicas pairwise and assert 5-gram Jaccard < 0.05."""
        docs = spark.read.parquet(os.path.join(multifile_dir, "documents.parquet"))
        shift_d = 10 ** len(str(499))  # max doc_id in sf0.001 source
        sample_ids = [i + r * shift_d for i in (0, 1, 2) for r in range(FACTOR)]
        rows = {
            r["doc_id"]: r["text"]
            for r in docs.filter(F.col("doc_id").isin(sample_ids)).collect()
        }
        for base in (0, 1, 2):
            for ra in range(FACTOR):
                for rb in range(ra + 1, FACTOR):
                    ga = _five_grams(rows[base + ra * shift_d])
                    gb = _five_grams(rows[base + rb * shift_d])
                    jac = len(ga & gb) / max(len(ga | gb), 1)
                    assert jac < 0.05, (base, ra, rb, jac)

    def test_within_replica_text_is_bijective_image(self, spark, multifile_dir):
        """Replica r's text must be exactly translate(original,
        alpha, rot_r) — same lengths, same shingle-set cardinalities,
        so the per-replica similarity workload equals the original."""
        import gen_multifile

        docs = spark.read.parquet(os.path.join(multifile_dir, "documents.parquet"))
        src = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
        shift_d = 10 ** len(str(499))
        orig = {r["doc_id"]: r["text"] for r in src.filter(F.col("doc_id") < 3).collect()}
        alpha = gen_multifile.ROTATION_ALPHABET
        for r_i in range(1, FACTOR):
            rot = alpha[r_i:] + alpha[:r_i]
            table = str.maketrans(alpha, rot)
            got = {
                row["doc_id"]: row["text"]
                for row in docs.filter(
                    F.col("doc_id").isin([i + r_i * shift_d for i in range(3)])
                ).collect()
            }
            for i in range(3):
                assert got[i + r_i * shift_d] == orig[i].translate(table)

    def test_cross_replica_word_shingles_disjoint_at_high_rotation(
        self, spark, tmp_path_factory
    ):
        """r8 family extension: a factor PAST the old 10-member cap
        must still give cross-replica divergence — word 3-gram shingle
        sets of the same base doc in replicas 0, 11, and 23 share
        nothing (every token character is rotated)."""
        import re

        import gen_multifile

        out = str(tmp_path_factory.mktemp("mf36") / "layout")
        gen_multifile.generate(SRC, out, factor=24, n_files=4, spark=spark)
        docs = spark.read.parquet(os.path.join(out, "documents.parquet"))
        shift_d = 10 ** len(str(499))
        reps = (0, 11, 23)
        ids = [0 + r * shift_d for r in reps]
        rows = {
            r["doc_id"]: r["text"]
            for r in docs.filter(F.col("doc_id").isin(ids)).collect()
        }

        def word3(text):
            tk = re.findall(r"[a-z0-9]+", text.lower())
            return {" ".join(tk[i : i + 3]) for i in range(len(tk) - 2)}

        for i, ra in enumerate(reps):
            for rb in reps[i + 1 :]:
                assert not (
                    word3(rows[ra * shift_d]) & word3(rows[rb * shift_d])
                ), (ra, rb)


class TestParityPairKernel:
    """r9 family extension to 36²: the parity-pair map's soundness
    claims, pinned at the kernel level (pair_rotate_series) so the
    >36-factor layouts inherit them by construction."""

    TEXT = "spark sort merge join spark hash join a 7 row spark sort"

    @staticmethod
    def _rot(texts, rep):
        import pandas as pd

        import gen_multifile

        return gen_multifile.pair_rotate_series(
            pd.Series(list(texts)), rep
        ).tolist()

    def test_rep_below_36_equals_single_rotation(self):
        """e == o collapses the parity map to the plain translate
        rotation — the old family, bit-for-bit."""
        import gen_multifile

        alpha = gen_multifile.ROTATION_ALPHABET
        for rep in (1, 7, 35):
            rot = alpha[rep:] + alpha[:rep]
            table = str.maketrans(alpha, rot)
            got = self._rot([self.TEXT, "", "a b", None], rep)
            assert got[0] == self.TEXT.translate(table)
            assert got[1] == ""
            assert got[2] == "a b".translate(table)
            assert got[3] == ""  # nulls normalize to empty

    def test_token_map_is_injective_and_position_independent(self):
        """The same token maps to the same image wherever it occurs
        (multiset of tokens is bijectively mapped → word-shingle
        workload preserved exactly), distinct tokens map to distinct
        images, and token lengths / counts are unchanged."""
        rep = 40  # e=4, o=5 — a genuine parity pair
        [img] = self._rot([self.TEXT], rep)
        src_tokens = self.TEXT.split(" ")
        img_tokens = img.split(" ")
        assert len(img_tokens) == len(src_tokens)
        assert [len(t) for t in img_tokens] == [len(t) for t in src_tokens]
        mapping = {}
        for s, i in zip(src_tokens, img_tokens):
            assert mapping.setdefault(s, i) == i  # position-independent
        # injective: distinct source tokens → distinct images
        assert len(set(mapping.values())) == len(mapping)
        # and the map is genuinely parity-dependent: odd chars move by
        # o=5, so the image differs from the plain e=4 rotation
        import gen_multifile

        alpha = gen_multifile.ROTATION_ALPHABET
        plain4 = "spark".translate(
            str.maketrans(alpha, alpha[4:] + alpha[:4])
        )
        assert mapping["spark"] != plain4
        assert mapping["spark"][0] == plain4[0]  # even position: same e

    def test_cross_rep_divergence_classes(self):
        """Different e ⇒ no shared tokens at all (every token's first
        char differs). Same e, different o ⇒ only length-1 tokens can
        survive — multi-char tokens all diverge."""
        texts = [self.TEXT]
        img5 = set(self._rot(texts, 5)[0].split(" "))
        img41 = set(self._rot(texts, 41)[0].split(" "))  # e=5, o=6
        img6 = set(self._rot(texts, 6)[0].split(" "))
        # rep 5 vs rep 6: e differs → fully disjoint tokens
        assert not (img5 & img6)
        # rep 5 (e=5,o=5) vs rep 41 (e=5,o=6): same e → only 1-char
        # tokens may coincide
        shared = img5 & img41
        assert all(len(t) <= 1 for t in shared)
        # multi-char tokens diverged
        assert any(len(t) > 1 for t in img5)

    def test_non_alphabet_chars_pass_through_and_advance_position(self):
        """Spaces reset the in-token position; unmapped chars (here
        '.') pass through unchanged but advance parity, keeping the
        map deterministic on punctuated text."""
        rep = 40
        [img] = self._rot(["ab.cd ab"], rep)
        assert img[2] == "."
        assert len(img) == len("ab.cd ab")
        # the trailing standalone "ab" restarts at position 0, so it
        # matches the first two chars of the punctuated token
        assert img[6:8] == img[0:2]

    def test_doc_boundaries_reset_parity(self):
        """Each document starts a fresh token — the batch
        concatenation must not leak parity across docs: a batch of two
        docs maps identically to the docs mapped one at a time."""
        rep = 75
        a, b = "spark row", "merge column sort"
        together = self._rot([a, b], rep)
        solo = [self._rot([a], rep)[0], self._rot([b], rep)[0]]
        assert together == solo


class TestPairFamilyGeneration:
    """factor > 36 end-to-end: generate() switches to the mapInPandas
    parity kernel and the layout keeps every invariant the ≤36 path
    had (counts, keyspaces, divergence), with rep<36 replicas still
    bit-identical to the translate path."""

    FACTOR40 = 40

    @pytest.fixture(scope="class")
    def pair_dir(self, spark, tmp_path_factory):
        import gen_multifile

        out = str(tmp_path_factory.mktemp("mf40") / "layout")
        gen_multifile.generate(
            SRC, out, factor=self.FACTOR40, n_files=4, spark=spark
        )
        return out

    def test_counts_and_keyspaces_scale(self, spark, pair_dir):
        for t, k in (("documents", "doc_id"), ("orders", "o_orderkey")):
            src = spark.read.parquet(os.path.join(SRC, f"{t}.parquet"))
            out = spark.read.parquet(os.path.join(pair_dir, f"{t}.parquet"))
            assert out.count() == self.FACTOR40 * src.count(), t
            assert (
                out.select(k).distinct().count()
                == self.FACTOR40 * src.select(k).distinct().count()
            ), t

    def test_low_reps_match_translate_path_and_high_reps_match_kernel(
        self, spark, pair_dir
    ):
        import gen_multifile

        docs = spark.read.parquet(os.path.join(pair_dir, "documents.parquet"))
        src = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
        shift_d = 10 ** len(str(499))
        orig = {
            r["doc_id"]: r["text"]
            for r in src.filter(F.col("doc_id") < 2).collect()
        }
        alpha = gen_multifile.ROTATION_ALPHABET
        import pandas as pd

        for rep in (3, 17, 36, 39):
            got = {
                row["doc_id"]: row["text"]
                for row in docs.filter(
                    F.col("doc_id").isin([i + rep * shift_d for i in range(2)])
                ).collect()
            }
            for i in range(2):
                if rep < 36:
                    rot = alpha[rep:] + alpha[:rep]
                    want = orig[i].translate(str.maketrans(alpha, rot))
                else:
                    want = gen_multifile.pair_rotate_series(
                        pd.Series([orig[i]]), rep
                    )[0]
                assert got[i + rep * shift_d] == want, (rep, i)

    def test_cross_replica_word_shingles_past_36(self, spark, pair_dir):
        """Replicas 1, 37 (same e=1) and 38 (e=2) of the same base doc
        share no word 3-gram shingles — the linear-scaling property
        the >36 family exists to preserve."""
        import re

        docs = spark.read.parquet(os.path.join(pair_dir, "documents.parquet"))
        shift_d = 10 ** len(str(499))
        reps = (1, 37, 38)
        ids = [0 + r * shift_d for r in reps]
        rows = {
            r["doc_id"]: r["text"]
            for r in docs.filter(F.col("doc_id").isin(ids)).collect()
        }

        def word3(text):
            tk = re.findall(r"[a-z0-9]+", text.lower())
            return {" ".join(tk[i : i + 3]) for i in range(len(tk) - 2)}

        for i, ra in enumerate(reps):
            for rb in reps[i + 1 :]:
                assert not (
                    word3(rows[ra * shift_d]) & word3(rows[rb * shift_d])
                ), (ra, rb)
