"""Unit tests for the round-7 planner tier (plans/registry_r8.py)
beyond the DuckDB oracle gate: the LSH planner's decision helper must
reproduce the hand-computed S-curve optima (and the production 4×2
default must fall out of the recall-weighted objective), the packing
report must match hand arithmetic, the watermark loss curve must obey
its structural bounds, and the new cummax ranking primitive must equal
a single-window running max across partition boundaries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import shuffle_partitions

SF_SMOKE = "/root/testdata/sf0.001"


class TestLshBandPlanner:
    @staticmethod
    def _planner(spark):
        from employee_analytics_etl_spark.plans import registry_r8  # noqa: F401
        from employee_analytics_etl_spark.plans.registry import QUERIES

        return QUERIES["lsh_band_planner"](spark, SF_SMOKE)

    def test_python_recomputation_matches(self, spark):
        """Engine rows equal an independent Python midpoint Riemann
        sum of the same S-curve at the same snap points."""
        got = {
            (r["n_hashes"], r["bands"]): (r["fp_area"], r["fn_area"])
            for r in self._planner(spark).collect()
        }

        def areas(b, r, t=0.6, steps=200):
            fp = fn = 0.0
            for i in range(1, steps + 1):
                s = (2 * i - 1) / (2 * steps)
                p = 1 - (1 - s**r) ** b
                if s < t:
                    fp += round(p, 12)
                else:
                    fn += round(1 - p, 12)
            return round(fp / steps, 6), round(fn / steps, 6)

        for n in (8, 64):
            b = 1
            while b <= n:
                assert got[(n, b)] == areas(b, n // b), (n, b)
                b *= 2

    def test_choose_area_balanced_and_recall_weighted(self, spark):
        """Hand-computed optima: at fn_weight=1 the n=8 winner is
        (2 bands, 4 rows); at fn_weight=10 it flips to (4, 2) — the
        engine-wide minhash default (num_hashes=8, rows_per_band=2),
        making the production setting a measured decision."""
        from employee_analytics_etl_spark.operators.dedup import (
            choose_lsh_bands,
        )

        planner = self._planner(spark).localCheckpoint()
        assert choose_lsh_bands(planner, n_hashes=8) == (2, 4)
        assert choose_lsh_bands(planner, n_hashes=8, fn_weight=10.0) == (4, 2)
        assert choose_lsh_bands(planner, n_hashes=64) == (8, 8)
        with pytest.raises(ValueError, match="n_hashes=16"):
            choose_lsh_bands(planner, n_hashes=16)


class TestPackingStrategyReport:
    def test_hand_computed_three_strategies(self, spark):
        """Sources A: [1000, 5000], B: [300] chars, capacity 4096,
        quantum 256 — all bins/waste hand-derivable."""
        import os
        import tempfile

        from employee_analytics_etl_spark.plans import registry_r8  # noqa: F401
        from employee_analytics_etl_spark.plans.registry import QUERIES

        docs = spark.createDataFrame(
            [(1, "A", 1000), (2, "A", 5000), (3, "B", 300)],
            "doc_id long, source string, n_chars long",
        )
        tmp = tempfile.mkdtemp(prefix="packrep_t_")
        docs.write.mode("overwrite").parquet(
            os.path.join(tmp, "documents.parquet")
        )
        got = {
            r["strategy"]: r
            for r in QUERIES["doc_packing_strategy_report"](spark, tmp).collect()
        }
        # pad_per_doc: ceil(1000/4096)+ceil(5000/4096)+ceil(300/4096)=1+2+1=4
        assert got["pad_per_doc"]["n_bins"] == 4
        assert got["pad_per_doc"]["payload_chars"] == 6300
        assert got["pad_per_doc"]["waste_chars"] == 4 * 4096 - 6300
        # concat_per_source: A 6000 -> 2 bins, B 300 -> 1 bin
        assert got["concat_per_source"]["n_bins"] == 3
        assert got["concat_per_source"]["waste_chars"] == 3 * 4096 - 6300
        # quantized_concat: A padded 1024+5120=6144 -> 2, B 512 -> 1
        assert got["quantized_concat"]["n_bins"] == 3
        assert got["pad_per_doc"]["utilization"] == round(
            6300 / (4 * 4096), 6
        )


class TestWatermarkLossCurve:
    def test_structural_bounds(self, spark):
        """Jitter is bounded by 600 s, so lateness is strictly under
        600 s: the 900 s and 3600 s delays must drop ZERO rows, the
        curve must be monotone nonincreasing in the delay, and shares
        must live in [0, 1]."""
        from employee_analytics_etl_spark.plans import registry_r8  # noqa: F401
        from employee_analytics_etl_spark.plans.registry import QUERIES

        rows = {
            r["watermark_delay_s"]: r
            for r in QUERIES["events_watermark_loss_curve"](
                spark, SF_SMOKE
            ).collect()
        }
        assert sorted(rows) == [0, 60, 300, 900, 3600]
        assert rows[900]["n_dropped"] == 0
        assert rows[3600]["n_dropped"] == 0
        drops = [rows[d]["n_dropped"] for d in (0, 60, 300, 900, 3600)]
        assert drops == sorted(drops, reverse=True)
        assert rows[0]["n_dropped"] > 0  # synthetic disorder exists
        for r in rows.values():
            assert 0.0 <= r["dropped_share"] <= 1.0


class TestRankedCummax:
    def test_cummax_equals_single_window_across_partitions(self, spark):
        """Running max through the two-pass range-partitioned scheme
        (4 partitions forced) must equal the naive single-window
        running max — including the NULL-offset first partition and a
        decreasing tail whose max comes from an earlier partition."""
        from pyspark.sql.window import Window

        from employee_analytics_etl_spark.operators.ranking import ranked

        rows = [(i, v) for i, v in enumerate([5, 3, 99, 1, 2, 4, 98, 7, 6, 0])]
        df = spark.createDataFrame(rows, "pos long, x long")
        with shuffle_partitions(spark, 4):
            got, n = ranked(
                df, [F.asc("pos")], rn_col=None, cummax_cols={"x": "run_max"}
            )
            got_sorted = got.orderBy("pos").collect()
        assert n == 10
        want = (
            df.withColumn(
                "run_max",
                F.max("x").over(
                    Window.orderBy("pos").rowsBetween(
                        Window.unboundedPreceding, Window.currentRow
                    )
                ),
            )
            .orderBy("pos")
            .collect()
        )
        assert [(r["pos"], r["run_max"]) for r in got_sorted] == [
            (r["pos"], r["run_max"]) for r in want
        ]

    def test_cummax_and_cumsum_together(self, spark):
        from employee_analytics_etl_spark.operators.ranking import ranked

        df = spark.createDataFrame(
            [(1, 10), (2, 5), (3, 20), (4, 1)], "k long, v long"
        )
        with shuffle_partitions(spark, 3):
            got, _ = ranked(
                df,
                [F.asc("k")],
                rn_col="rn",
                cumsum_cols={"v": "cs"},
                cummax_cols={"v": "cm"},
            )
            out = {r["k"]: (r["rn"], r["cs"], r["cm"]) for r in got.collect()}
        assert out == {
            1: (1, 10, 10),
            2: (2, 15, 10),
            3: (3, 35, 20),
            4: (4, 36, 20),
        }


class TestModularityScore:
    def test_hand_computed_two_disjoint_pairs(self, spark):
        """Two disjoint customer-supplier pairs: each community is one
        edge, m=2, so each contribution = 1/2 − (2/(2·2))² = 0.25 and
        Q = 0.5 — hand-derivable end to end through the LPA labels."""
        import os
        import tempfile

        from employee_analytics_etl_spark.plans import registry_r8  # noqa: F401
        from employee_analytics_etl_spark.plans.registry import QUERIES

        orders = spark.createDataFrame(
            [(10, 1), (20, 2), (30, 1)], "o_orderkey long, o_custkey long"
        )
        lineitem = spark.createDataFrame(
            [(10, 1), (20, 2), (30, 1)], "l_orderkey long, l_suppkey long"
        )
        tmp = tempfile.mkdtemp(prefix="modq_t_")
        orders.write.mode("overwrite").parquet(
            os.path.join(tmp, "orders.parquet")
        )
        lineitem.write.mode("overwrite").parquet(
            os.path.join(tmp, "lineitem.parquet")
        )
        got = {
            r["community"]: (
                r["n_members"],
                r["internal_edges"],
                r["degree_mass"],
                r["contribution"],
            )
            for r in QUERIES["graph_modularity_score"](spark, tmp).collect()
        }
        # LPA tie-break -> min label: {1,-2} -> -2, {2,-3} -> -3
        assert got == {-2: (2, 1, 2, 0.25), -3: (2, 1, 2, 0.25)}

    def test_members_agree_with_lpa_and_q_bounded(self, spark):
        from employee_analytics_etl_spark.plans import registry_r8  # noqa: F401
        from employee_analytics_etl_spark.plans.registry import QUERIES

        mod = QUERIES["graph_modularity_score"](spark, SF_SMOKE).collect()
        lpa = {
            r["community"]: r["n_members"]
            for r in QUERIES["graph_lpa_communities"](
                spark, SF_SMOKE
            ).collect()
        }
        assert {r["community"]: r["n_members"] for r in mod} == lpa
        q = sum(r["contribution"] for r in mod)
        assert -1.0 < q <= 1.0


class TestChooseAnnIndex:
    def test_floor_decides_between_ivf_and_bruteforce(self, spark):
        from employee_analytics_etl_spark.operators.similarity import (
            choose_ann_index,
        )

        good = spark.createDataFrame(
            [(1, 1.0), (2, 0.8), (3, 0.9)], "query_id long, recall5 double"
        )
        assert choose_ann_index(good, recall_floor=0.85) == "ivf"
        bad = spark.createDataFrame(
            [(1, 0.4), (2, 0.6), (3, 0.5)], "query_id long, recall5 double"
        )
        assert choose_ann_index(bad, recall_floor=0.85) == "brute_force"

    def test_live_eval_feeds_the_decision(self, spark):
        """The real knn_ivf_recall_eval output at sf0.001 drives the
        helper without error and returns one of the two indexes."""
        from employee_analytics_etl_spark.operators.similarity import (
            choose_ann_index,
        )
        from employee_analytics_etl_spark.plans import registry_ext  # noqa: F401
        from employee_analytics_etl_spark.plans.registry import QUERIES

        ev = QUERIES["knn_ivf_recall_eval"](spark, SF_SMOKE)
        assert choose_ann_index(ev, recall_floor=0.5) in ("ivf", "brute_force")

    def test_empty_eval_refused(self, spark):
        from employee_analytics_etl_spark.operators.similarity import (
            choose_ann_index,
        )

        empty = spark.createDataFrame([], "query_id long, recall5 double")
        with pytest.raises(ValueError, match="EMPTY recall evaluation"):
            choose_ann_index(empty)


class TestGopherQualityFlags:
    """doc_gopher_quality_flags: every rule threshold is evaluated in
    exact integer arithmetic — pin each rule on hand-built documents
    (the 3-SF oracle MATCH covers the corpus path)."""

    def test_each_rule_fires_on_its_violation(self, spark, tmp_path):
        import os

        # 60 common words, >=2 stopwords, mean len in [3,10], all
        # alphabetic, no symbols -> passes every rule
        clean = "the quick brown fox jumps over that lazy dog with " * 6
        docs = [
            (1, clean, "src0", "en"),                       # clean
            (2, "the of and short words here", "src0", "en"),  # <50 words
            (3, " ".join(["the", "of"] + ["a"] * 58), "src0", "en"),  # mean len < 3
            (4, " ".join(["the", "of"] + ["1234"] * 58), "src0", "en"),  # alpha share < 0.8
            (5, " ".join(["zz"] * 30 + ["wordy"] * 30), "src0", "en"),  # <2 stopwords
            (6, clean + " " + "#" * 12, "src0", "en"),      # symbol ratio > 0.1
        ]
        out = os.path.join(tmp_path, "documents.parquet")
        spark.createDataFrame(
            docs, "doc_id long, text string, source string, lang string"
        ).coalesce(1).write.parquet(out)

        from employee_analytics_etl_spark.plans import registry_r8  # noqa: F401
        from employee_analytics_etl_spark.plans.registry import QUERIES

        got = {
            r["rule"]: (r["n_flagged"], r["flagged_share"])
            for r in QUERIES["doc_gopher_quality_flags"](
                spark, str(tmp_path)
            ).collect()
        }
        # doc 2 violates word_count AND (only 6 words, mean fine);
        # docs 3/4 are 60 words so only their targeted rule fires;
        # doc 5: 60 words, mean len ok ((2*30+5*30)/60=3.5), alpha ok
        assert got["word_count"][0] == 1
        assert got["mean_word_length"][0] == 1
        assert got["alpha_word_share"][0] == 1
        assert got["stopword_presence"][0] == 1
        assert got["symbol_ratio"][0] == 1
        assert got["any_rule"][0] == 5  # every doc except the clean one
        assert got["any_rule"][1] == pytest.approx(5 / 6, abs=1e-6)

    def test_boundaries_are_exact(self, spark, tmp_path):
        """50 words is NOT a violation (rule is n < 50); exactly 10%
        symbols is NOT a violation (rule is strict >)."""
        import os

        w49 = "the of " + " ".join(["word"] * 47)   # 49 words -> flagged
        w50 = "the of " + " ".join(["word"] * 48)   # 50 words -> clean
        # 60 words + exactly 6 hashes = 10% -> clean (strict >)
        sym_edge = "the quick brown fox jumps over that lazy dog with " * 6
        sym_edge += "#" * 6
        docs = [
            (1, w49, "s", "en"),
            (2, w50, "s", "en"),
            (3, sym_edge, "s", "en"),
        ]
        out = os.path.join(tmp_path, "documents.parquet")
        spark.createDataFrame(
            docs, "doc_id long, text string, source string, lang string"
        ).coalesce(1).write.parquet(out)

        from employee_analytics_etl_spark.plans import registry_r8  # noqa: F401
        from employee_analytics_etl_spark.plans.registry import QUERIES

        got = {
            r["rule"]: r["n_flagged"]
            for r in QUERIES["doc_gopher_quality_flags"](
                spark, str(tmp_path)
            ).collect()
        }
        assert got["word_count"] == 1      # only the 49-word doc
        assert got["symbol_ratio"] == 0    # 10% exactly is not > 10%


class TestWatermarkDelayChoiceQuery:
    def test_choice_rows_agree_with_the_rule(self, spark):
        """The oracle-gated decision TABLE must agree row-for-row with
        choose_watermark_delay applied to the live curve — the query
        and the rule can never drift apart."""
        from employee_analytics_etl_spark.plans import registry_r8  # noqa: F401
        from employee_analytics_etl_spark.plans.registry import QUERIES
        from employee_analytics_etl_spark.streaming.jobs import (
            choose_watermark_delay,
        )

        curve = QUERIES["events_watermark_loss_curve"](spark, SF_SMOKE)
        table = {
            r["max_dropped_share"]: r["chosen_delay_s"]
            for r in QUERIES["events_watermark_delay_choice"](
                spark, SF_SMOKE
            ).collect()
        }
        assert set(table) == {0.0, 0.01, 0.05, 0.1, 0.25}
        for floor, chosen in table.items():
            assert chosen == choose_watermark_delay(curve, floor), floor


class TestChoosePacking:
    """choose_packing: the measured-decision rule over the packing
    report (completing the chooser family). Fixture: raw concat wins
    on utilization, but the cheap-boundaries constraint and the
    utilization floor must each redirect or fail loudly."""

    @staticmethod
    def _report(spark):
        return spark.createDataFrame(
            [
                ("pad_per_doc", 4, 6300, 10084, 0.384521),
                ("concat_per_source", 3, 6300, 5988, 0.512695),
                ("quantized_concat", 3, 6300, 5988, 0.512695),
            ],
            "strategy string, n_bins long, payload_chars long, "
            "waste_chars long, utilization double",
        )

    def test_picks_max_utilization_with_name_tiebreak(self, spark):
        from employee_analytics_etl_spark.operators.text import choose_packing

        # concat_per_source and quantized_concat tie on utilization;
        # the asc(strategy) tiebreak makes the pick deterministic
        assert choose_packing(self._report(spark)) == "concat_per_source"

    def test_cheap_boundaries_constraint_redirects(self, spark):
        from employee_analytics_etl_spark.operators.text import choose_packing

        assert (
            choose_packing(
                self._report(spark), require_cheap_boundaries=True
            )
            == "quantized_concat"
        )

    def test_floor_redirect_and_loud_failure(self, spark):
        from employee_analytics_etl_spark.operators.text import choose_packing

        report = self._report(spark)
        # a floor between the two utilization levels keeps the concats
        assert choose_packing(report, min_utilization=0.5) == "concat_per_source"
        with pytest.raises(ValueError, match="quantized_concat"):
            # boundaries constraint + impossible floor: the error must
            # name the best REMAINING candidate, not the excluded one
            choose_packing(
                report, min_utilization=0.9, require_cheap_boundaries=True
            )


class TestEpochMixWaterfill:
    def test_hand_computed_waterfill(self, spark, tmp_path):
        """aa:100 / bb:200 / en:1000 chars, budget = (7·1300) DIV 2 =
        4550, caps 4t. Segments: L=4550/3 and (4550−400)/2 both
        overshoot their caps; the valid segment gives L = 4550−1200 =
        3350 → aa and bb pinned at exactly 4 epochs, en absorbs the
        rest at 3.35, and the allocation spends the budget exactly."""
        import os

        docs = [
            (1, "aa", 100),
            (2, "bb", 120),
            (3, "bb", 80),
            (4, "en", 600),
            (5, "en", 400),
        ]
        spark.createDataFrame(
            docs, "doc_id long, lang string, n_chars long"
        ).coalesce(1).write.parquet(
            os.path.join(str(tmp_path), "documents.parquet")
        )

        from employee_analytics_etl_spark.plans import registry_r8  # noqa: F401
        from employee_analytics_etl_spark.plans.registry import QUERIES

        rows = {
            r["lang"]: r
            for r in QUERIES["doc_epoch_mix_waterfill"](
                spark, str(tmp_path)
            ).collect()
        }
        assert rows["aa"]["cap_chars"] == 400
        assert (rows["aa"]["alloc_chars"], rows["aa"]["epochs"]) == (400.0, 4.0)
        assert (rows["bb"]["alloc_chars"], rows["bb"]["epochs"]) == (800.0, 4.0)
        assert (rows["en"]["alloc_chars"], rows["en"]["epochs"]) == (
            3350.0,
            3.35,
        )
        assert [rows[lang]["at_cap"] for lang in ("aa", "bb", "en")] == [1, 1, 0]
        # water-filling identity: the budget is spent exactly
        assert sum(r["alloc_chars"] for r in rows.values()) == 4550.0

    def test_no_cap_binds_means_uniform_split(self, spark, tmp_path):
        """Near-equal languages: level = B/k below every cap → equal
        allocations, nobody at the repetition ceiling."""
        import os

        spark.createDataFrame(
            [(1, "aa", 500), (2, "bb", 500), (3, "cc", 500)],
            "doc_id long, lang string, n_chars long",
        ).coalesce(1).write.parquet(
            os.path.join(str(tmp_path), "documents.parquet")
        )

        from employee_analytics_etl_spark.plans import registry_r8  # noqa: F401
        from employee_analytics_etl_spark.plans.registry import QUERIES

        rows = QUERIES["doc_epoch_mix_waterfill"](
            spark, str(tmp_path)
        ).collect()
        # B = (7·1500) DIV 2 = 5250, L = 1750 < cap 2000
        assert {r["alloc_chars"] for r in rows} == {1750.0}
        assert {r["epochs"] for r in rows} == {3.5}
        assert {r["at_cap"] for r in rows} == {0}


class TestPackingChoiceQuery:
    def test_choice_rows_agree_with_the_rule(self, spark):
        """The oracle-gated packing decision TABLE must agree
        row-for-row with choose_packing applied to the live report —
        and the (floor, regime) cells absent from the table must be
        exactly the ones where the rule raises."""
        from employee_analytics_etl_spark.operators.text import choose_packing
        from employee_analytics_etl_spark.plans import registry_r8
        from employee_analytics_etl_spark.plans.registry import QUERIES

        report = QUERIES["doc_packing_strategy_report"](spark, SF_SMOKE)
        table = {
            (r["min_utilization"], r["cheap_boundaries"]): r["chosen_strategy"]
            for r in QUERIES["doc_packing_choice"](spark, SF_SMOKE).collect()
        }
        grid = [
            (f, b) for f in registry_r8._PACK_FLOORS for b in (0, 1)
        ]
        assert set(table) <= set(grid)
        for floor, flag in grid:
            if (floor, flag) in table:
                assert table[(floor, flag)] == choose_packing(
                    report,
                    min_utilization=floor,
                    require_cheap_boundaries=bool(flag),
                ), (floor, flag)
            else:
                with pytest.raises(ValueError):
                    choose_packing(
                        report,
                        min_utilization=floor,
                        require_cheap_boundaries=bool(flag),
                    )
