"""Unit semantics for the round-3 operators: span-level dedup
(ExactSubstr-style), BM25 retrieval, DSIR importance weights, the
stupid-backoff bigram LM, and exact-sufficient-statistic correlation.

Hand-computed fixtures pin the math; the registry oracles pin the
cross-engine determinism at sf0.01/sf0.1 (tools/compare_oracle.py)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestDuplicatedSpans:
    def test_planted_duplicate_span_found(self, spark):
        from lakehouse_spark_spark.operators.spandedup import duplicated_span_stats

        dup8 = "a b c d e f g h"  # 8 tokens, shared between docs 1 and 2
        rows = [
            (1, dup8 + " x y z w q r s t"),
            (2, "m n o p " + dup8),
            (3, "u v unique tokens only here now ok fine"),
        ]
        out = {r["doc_id"]: r for r in duplicated_span_stats(_docs(spark, rows), "doc_id", "text", k=8).collect()}
        assert out[1]["n_dup_spans"] == 1 and out[1]["dup_tokens"] == 8
        assert out[2]["n_dup_spans"] == 1 and out[2]["dup_tokens"] == 8
        assert out[3]["n_dup_spans"] == 0 and out[3]["dup_frac"] == 0.0
        assert out[1]["dup_frac"] == round(8 / 16, 6)

    def test_overlapping_windows_merge_into_one_span(self, spark):
        from lakehouse_spark_spark.operators.spandedup import duplicated_span_stats

        # 9-token duplicated run => two overlapping 8-windows in each doc,
        # must merge into ONE maximal span of 9 tokens.
        run = "a b c d e f g h i"
        rows = [(1, run + " tail1 tail2 tail3"), (2, "head0 " + run + " other stuff here")]
        out = {r["doc_id"]: r for r in duplicated_span_stats(_docs(spark, rows), "doc_id", "text", k=8).collect()}
        assert out[1]["n_dup_spans"] == 1 and out[1]["dup_tokens"] == 9
        assert out[2]["n_dup_spans"] == 1 and out[2]["dup_tokens"] == 9

    def test_within_doc_repeat_counts(self, spark):
        from lakehouse_spark_spark.operators.spandedup import duplicated_span_stats

        # the same 8-gram twice INSIDE one doc is a duplicate too
        # (suffix-array semantics), and the two disjoint occurrences
        # stay two spans.
        run = "p q r s t u v w"
        rows = [(1, run + " mid1 mid2 " + run)]
        out = duplicated_span_stats(_docs(spark, rows), "doc_id", "text", k=8).collect()[0]
        assert out["n_dup_spans"] == 2 and out["dup_tokens"] == 16

    def test_short_and_clean_docs_report_zero(self, spark):
        from lakehouse_spark_spark.operators.spandedup import duplicated_span_stats

        rows = [(1, "too short"), (2, "eight completely distinct tokens right here ok yes")]
        out = {r["doc_id"]: r for r in duplicated_span_stats(_docs(spark, rows), "doc_id", "text", k=8).collect()}
        assert out[1]["dup_tokens"] == 0 and out[2]["dup_tokens"] == 0


class TestBM25:
    def test_matches_hand_computed_score(self, spark):
        from lakehouse_spark_spark.operators.retrieval import bm25_topk

        rows = [
            (1, "spark query engine"),
            (2, "spark spark runtime"),
            (3, "totally unrelated words here"),
        ]
        out = bm25_topk(_docs(spark, rows), "doc_id", "text", ["spark"], k=3, k1=1.2, b=0.75).collect()
        n, df = 3, 2
        idf = round(math.log(1 + (n - df + 0.5) / (df + 0.5)), 6)
        avgdl = (3 + 3 + 4) / 3
        def s(tf, dl):
            return round(idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 6)
        got = {r["doc_id"]: r["score"] for r in out}
        assert got[2] == pytest.approx(s(2, 3), abs=1e-9)
        assert got[1] == pytest.approx(s(1, 3), abs=1e-9)
        assert 3 not in got
        assert [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])] == [2, 1]

    def test_rare_term_outweighs_common(self, spark):
        from lakehouse_spark_spark.operators.retrieval import bm25_topk

        rows = [(i, "common filler words " + ("rare" if i == 1 else "common")) for i in range(1, 8)]
        out = bm25_topk(_docs(spark, rows), "doc_id", "text", ["rare", "common"], k=7).collect()
        assert sorted(out, key=lambda r: r["rank"])[0]["doc_id"] == 1


class TestDSIR:
    def test_target_like_docs_weigh_higher(self, spark):
        from lakehouse_spark_spark.operators.retrieval import dsir_logweights

        df = spark.createDataFrame(
            [
                (1, "alpha alpha beta", "tgt"),
                (2, "alpha beta beta", "tgt"),
                (3, "gamma gamma delta", "other"),
                (4, "alpha beta gamma", "other"),
            ],
            "doc_id long, text string, src string",
        )
        out = {r["doc_id"]: r for r in dsir_logweights(df, "doc_id", "text", F.col("src") == "tgt").collect()}
        # docs made of target-distribution tokens score above the
        # out-of-target doc; weights of target docs are positive
        assert out[1]["log_weight"] > out[3]["log_weight"]
        assert out[4]["log_weight"] > out[3]["log_weight"]

    def test_logweight_is_sum_of_token_ratios(self, spark):
        from lakehouse_spark_spark.operators.retrieval import dsir_logweights

        df = spark.createDataFrame(
            [(1, "a a b", "t"), (2, "b c c", "r")], "doc_id long, text string, src string"
        )
        out = {r["doc_id"]: r for r in dsir_logweights(df, "doc_id", "text", F.col("src") == "t").collect()}
        # vocab: a(c_raw=2,c_tgt=2) b(2,1) c(2,0); t_raw=6,t_tgt=3,v=3
        def lw(ct, cr):
            return round(math.log(((ct + 1) * (6 + 3)) / ((cr + 1) * (3 + 3))), 6)
        assert out[1]["log_weight"] == pytest.approx(2 * lw(2, 2) + lw(1, 2), abs=1e-9)
        assert out[2]["log_weight"] == pytest.approx(lw(1, 2) + 2 * lw(0, 2), abs=1e-9)
        assert out[1]["n_tokens"] == 3


class TestBigramLM:
    def test_backoff_and_bigram_paths(self, spark):
        from lakehouse_spark_spark.operators.lm import doc_bigram_logprob

        # "a b" occurs twice (kept); "b z" once (pruned -> backoff); first
        # tokens score unigram.
        rows = [(1, "a b z"), (2, "a b")]
        out = {r["doc_id"]: r for r in doc_bigram_logprob(_docs(spark, rows), "doc_id", "text", min_count=2).collect()}
        # counts: a=2 b=2 z=1, T=5; bigram (a,b)=2 kept
        lp_uni_a = round(math.log(2 / 5), 6)
        lp_big_ab = round(math.log(2 / 2), 6)
        lp_back_z = round(math.log(0.4 * 1 / 5), 6)
        assert out[1]["n_backoff"] == 1 and out[2]["n_backoff"] == 0
        assert out[2]["sum_logp"] == pytest.approx(lp_uni_a + lp_big_ab, abs=1e-9)
        assert out[1]["sum_logp"] == pytest.approx(lp_uni_a + lp_big_ab + lp_back_z, abs=1e-9)

    def test_repetitive_doc_scores_higher_than_shuffled(self, spark):
        from lakehouse_spark_spark.operators.lm import doc_bigram_logprob

        base = [(i, "the cat sat on the mat") for i in range(10)]
        rows = base + [(100, "the cat sat on the mat"), (101, "mat the on sat cat the")]
        out = {r["doc_id"]: r for r in doc_bigram_logprob(_docs(spark, rows), "doc_id", "text").collect()}
        assert out[100]["avg_logp"] > out[101]["avg_logp"]
        assert out[101]["n_backoff"] > out[100]["n_backoff"]


class TestCorr:
    def test_perfect_and_anti_correlation(self, spark):
        from lakehouse_spark_spark.operators.stats import corr_by_group

        df = spark.createDataFrame(
            [("g1", i, 2 * i + 1) for i in range(1, 6)] + [("g2", i, 10 - i) for i in range(1, 6)],
            "g string, x long, y long",
        )
        df = df.select("g", F.col("x").cast("decimal(18,2)").alias("x"), F.col("y").cast("decimal(18,2)").alias("y"))
        out = {r["g"]: r["corr_xy"] for r in corr_by_group(df, ["g"], "x", "y").collect()}
        assert out["g1"] == pytest.approx(1.0, abs=1e-6)
        assert out["g2"] == pytest.approx(-1.0, abs=1e-6)

    def test_matches_numpy(self, spark):
        import numpy as np

        from lakehouse_spark_spark.operators.stats import corr_by_group

        xs = [1.25, 2.5, 3.75, 7.0, 9.5, 11.25]
        ys = [2.0, 1.5, 4.25, 6.5, 8.0, 7.75]
        df = spark.createDataFrame([("g", x, y) for x, y in zip(xs, ys)], "g string, x double, y double")
        df = df.select("g", F.col("x").cast("decimal(18,2)").alias("x"), F.col("y").cast("decimal(18,2)").alias("y"))
        out = corr_by_group(df, ["g"], "x", "y").collect()[0]
        assert out["corr_xy"] == pytest.approx(round(float(np.corrcoef(xs, ys)[0, 1]), 6), abs=2e-6)


class TestDecimalAvg6:
    def test_exact_half_ties_round_away_from_zero(self, spark):
        from lakehouse_spark_spark.operators.stats import decimal_avg6

        # -0.088309 / 26 = -0.0033965 exactly: the documented cross-engine
        # trap. Away-from-zero => -0.003397.
        df = spark.createDataFrame([(1,)], "id long")
        row = df.select(
            decimal_avg6(F.lit("-0.088309").cast("decimal(20,6)"), F.lit(26)).alias("a"),
            decimal_avg6(F.lit("0.088309").cast("decimal(20,6)"), F.lit(26)).alias("b"),
            decimal_avg6(F.lit("1.000001").cast("decimal(20,6)"), F.lit(2)).alias("c"),
        ).collect()[0]
        assert row["a"] == -0.003397
        assert row["b"] == 0.003397
        assert row["c"] == 0.500001  # 0.5000005 rounds up


class TestSemanticDedup:
    def _clustered(self, spark):
        # 3 tight Gaussian-ish blobs built deterministically; ids
        # interleave blobs so min-id witnesses cross blob boundaries
        # only if cosine actually qualifies.
        import numpy as np

        rng = np.random.default_rng(7)
        centers = rng.normal(size=(3, 16))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        rows = []
        for i in range(90):
            c = centers[i % 3]
            v = c + 0.01 * rng.normal(size=16)
            rows.append((i, [float(x) for x in v]))
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_soundness_every_drop_has_true_witness(self, spark):
        from lakehouse_spark_spark.operators.similarity import (
            embedding_neardup_pairs,
            semantic_dedup,
        )

        df = self._clustered(spark)
        out = semantic_dedup(df, "vec_id", "embedding", threshold=0.999, n_cells=3)
        dropped = {(r["vec_id"], r["dup_of"]) for r in out.filter(~F.col("kept")).collect()}
        truth = {
            (r["id_b"], r["id_a"])
            for r in embedding_neardup_pairs(df, "vec_id", "embedding", threshold=0.999).collect()
        }
        for vid, dup_of in dropped:
            assert (vid, dup_of) in truth, f"drop {vid}<-{dup_of} lacks a true cosine witness"

    def test_tight_blobs_collapse_to_one_representative_each(self, spark):
        from lakehouse_spark_spark.operators.similarity import semantic_dedup

        df = self._clustered(spark)
        out = semantic_dedup(df, "vec_id", "embedding", threshold=0.99, n_cells=3)
        kept = [r["vec_id"] for r in out.filter(F.col("kept")).collect()]
        # 0.01-sigma noise => in-blob cosine ~0.999; with one cell per
        # blob each blob keeps exactly its min id
        assert sorted(kept) == [0, 1, 2]
        assert out.count() == 90

    def test_distinct_vectors_all_kept(self, spark):
        from lakehouse_spark_spark.operators.similarity import semantic_dedup

        import numpy as np

        rng = np.random.default_rng(11)
        rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(40)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = semantic_dedup(df, "vec_id", "embedding", threshold=0.95, n_cells=4)
        assert out.filter(~F.col("kept")).count() == 0


class TestBFDPacking:
    def _pack(self, spark, rows, budget=100):
        from lakehouse_spark_spark.operators.packing import pack_bins_bfd

        df = spark.createDataFrame(rows, "doc_id long, shard string, toks long")
        return pack_bins_bfd(df, "doc_id", "toks", budget=budget, shard_col="shard").collect()

    def test_no_bin_exceeds_budget_and_fills_are_consistent(self, spark):
        rows = [(i, "s", 10 + (i * 17) % 73) for i in range(50)]
        out = self._pack(spark, rows, budget=100)
        import collections

        fills = collections.defaultdict(int)
        declared = {}
        for r in out:
            assert not r["overflow"]
            fills[r["bin_id"]] += r["n_tokens"]
            declared[r["bin_id"]] = r["bin_fill"]
        for b, f in fills.items():
            assert f == declared[b] and f <= 100

    def test_oversized_doc_gets_flagged_singleton(self, spark):
        rows = [(1, "s", 250), (2, "s", 40), (3, "s", 60)]
        out = {r["doc_id"]: r for r in self._pack(spark, rows, budget=100)}
        assert out[1]["overflow"] and out[1]["bin_fill"] == 250
        assert not out[2]["overflow"] and not out[3]["overflow"]
        # 40+60 fit one bin exactly
        assert out[2]["bin_id"] == out[3]["bin_id"] and out[2]["bin_fill"] == 100

    def test_bfd_beats_or_matches_sequential_fill(self, spark):
        # classic BFD win: sizes that straddle badly in arrival order
        rows = [(i, "s", t) for i, t in enumerate([60, 50, 40, 30, 20, 60, 50, 40, 30, 20])]
        out = self._pack(spark, rows, budget=100)
        n_bins = len({r["bin_id"] for r in out})
        assert n_bins == 4  # total 400 tokens / 100 => optimal 4 bins

    def test_shards_pack_independently(self, spark):
        rows = [(1, "a", 80), (2, "a", 30), (3, "b", 80), (4, "b", 30)]
        out = {r["doc_id"]: r for r in self._pack(spark, rows, budget=100)}
        assert out[1]["shard"] == "a" and out[3]["shard"] == "b"
        # 80 and 30 cannot share a 100 bin: 2 bins per shard
        assert out[1]["bin_id"] != out[2]["bin_id"]


class TestTemperatureMixture:
    def test_alpha_one_is_natural_and_alpha_zero_uniform(self, spark):
        from lakehouse_spark_spark.operators.mixture import temperature_mixture_plan

        rows = [(i, "big", "w " * 90) for i in range(9)] + [(100, "small", "w " * 10)]
        df = spark.createDataFrame([(i, s, t.strip()) for i, s, t in rows], "doc_id long, source string, text string")
        nat = {r["source"]: r for r in temperature_mixture_plan(df, "source", "text", 1.0, 1000).collect()}
        uni = {r["source"]: r for r in temperature_mixture_plan(df, "source", "text", 0.0, 1000).collect()}
        assert nat["big"]["weight"] == pytest.approx(810 / 820, abs=1e-4)
        assert uni["big"]["weight"] == pytest.approx(0.5, abs=1e-6)
        assert uni["small"]["target_tokens"] == 500

    def test_intermediate_alpha_upsamples_small_sources(self, spark):
        from lakehouse_spark_spark.operators.mixture import temperature_mixture_plan

        rows = [(i, "big", "w " * 90) for i in range(9)] + [(100, "small", "w " * 10)]
        df = spark.createDataFrame([(i, s, t.strip()) for i, s, t in rows], "doc_id long, source string, text string")
        out = {r["source"]: r for r in temperature_mixture_plan(df, "source", "text", 0.5, 1000).collect()}
        nat_small = 10 / 820
        assert out["small"]["weight"] > nat_small  # flattened toward uniform
        assert out["small"]["weight"] < 0.5


class TestDPPPlan:
    def test_fact_scan_gets_dynamic_pruning_subquery(self, spark):
        from lakehouse_spark_spark.plans.queries import registry

        df = registry()["dpp_selective_year_revenue"].builder(spark, "/root/testdata/sf0.001")
        s = df._jdf.queryExecution().toString().lower()
        assert "dynamicpruning" in s


class TestSpanTrimming:
    def test_duplicated_run_is_excised_everywhere(self, spark):
        from lakehouse_spark_spark.operators.spandedup import span_trimmed_corpus

        run = "a b c d e f g h"
        rows = [(1, run + " keep1 keep2 keep3"), (2, "pre1 pre2 " + run)]
        out = {r["doc_id"]: r for r in span_trimmed_corpus(_docs(spark, rows), "doc_id", "text", k=8).collect()}
        assert out[1]["clean_text"] == "keep1 keep2 keep3" and out[1]["kept_tokens"] == 3
        assert out[2]["clean_text"] == "pre1 pre2" and out[2]["kept_tokens"] == 2

    def test_fully_duplicated_doc_becomes_empty(self, spark):
        from lakehouse_spark_spark.operators.spandedup import span_trimmed_corpus

        run = "a b c d e f g h"
        rows = [(1, run), (2, run), (3, "all unique words in this one stay put")]
        out = {r["doc_id"]: r for r in span_trimmed_corpus(_docs(spark, rows), "doc_id", "text", k=8).collect()}
        assert out[1]["clean_text"] == "" and out[1]["kept_tokens"] == 0
        assert out[3]["kept_tokens"] == out[3]["n_tokens"]

    def test_trim_consistent_with_stats(self, spark):
        from lakehouse_spark_spark.operators.spandedup import (
            duplicated_span_stats,
            span_trimmed_corpus,
        )

        run = "x y z w q r s t"
        rows = [(i, f"u{i} v{i} " + run + f" m{i} n{i}") for i in range(4)]
        stats = {r["doc_id"]: r for r in duplicated_span_stats(_docs(spark, rows), "doc_id", "text", k=8).collect()}
        trim = {r["doc_id"]: r for r in span_trimmed_corpus(_docs(spark, rows), "doc_id", "text", k=8).collect()}
        for i in range(4):
            assert trim[i]["kept_tokens"] == stats[i]["n_tokens"] - stats[i]["dup_tokens"]


class TestTfidfCosinePairs:
    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")

    def test_identical_docs_in_block_score_one(self, spark):
        from lakehouse_spark_spark.operators.retrieval import tfidf_cosine_pairs

        rows = [
            (1, "alpha beta gamma", "en", "s1"),
            (2, "alpha beta gamma", "en", "s1"),
            (3, "alpha beta gamma", "en", "s2"),  # other block: never paired
            (4, "delta epsilon zeta", "en", "s1"),
        ]
        out = tfidf_cosine_pairs(
            self._df(spark, rows), "doc_id", "text", block_cols=["lang", "source"], threshold=0.0
        ).collect()
        pairs = {(r["id_a"], r["id_b"]): r["cosine_sim"] for r in out}
        assert pairs[(1, 2)] == pytest.approx(1.0, abs=1e-6)
        assert (1, 3) not in pairs and (2, 3) not in pairs
        assert (1, 4) not in pairs  # no shared terms => never materialized

    def test_df_cap_drops_stopwords(self, spark):
        from lakehouse_spark_spark.operators.retrieval import tfidf_cosine_pairs

        # 'the' appears in all 4 docs; with df_cap=3 it contributes nothing
        rows = [
            (1, "the alpha", "en", "s"),
            (2, "the alpha", "en", "s"),
            (3, "the beta", "en", "s"),
            (4, "the gamma", "en", "s"),
        ]
        out = tfidf_cosine_pairs(
            self._df(spark, rows), "doc_id", "text", block_cols=["lang", "source"],
            threshold=0.0, df_cap=3,
        ).collect()
        pairs = {(r["id_a"], r["id_b"]): r["cosine_sim"] for r in out}
        assert pairs[(1, 2)] == pytest.approx(1.0, abs=1e-6)
        # docs sharing ONLY the capped stop word form no pair at all
        assert (3, 4) not in pairs and (1, 3) not in pairs


class TestBlocklistAndProfile:
    def test_blocklist_term_and_phrase_paths(self, spark):
        from lakehouse_spark_spark.operators.text import blocklist_flags

        rows = [
            (1, "clean words only"),
            (2, "contains badword here"),
            (3, "the exact bad phrase occurs"),
            (4, "badword and bad phrase both"),
        ]
        out = {
            r["doc_id"]: r
            for r in blocklist_flags(
                _docs(spark, rows), "doc_id", "text",
                blocked_terms=["badword"], blocked_phrases=["bad phrase"],
            ).collect()
        }
        assert not out[1]["blocked"]
        assert out[2]["blocked"] and out[2]["n_blocked_terms"] == 1
        assert out[3]["blocked"] and out[3]["has_blocked_phrase"]
        assert out[4]["n_blocked_terms"] == 1 and out[4]["has_blocked_phrase"]

    def test_profile_counts_nulls_and_distinct(self, spark):
        from lakehouse_spark_spark.operators.dq import profile_columns

        df = spark.createDataFrame(
            [(1, "a"), (2, None), (3, "a"), (4, "b")], "k long, v string"
        )
        out = {r["column"]: r for r in profile_columns(df, ["k", "v"]).collect()}
        assert out["k"]["n_rows"] == 4 and out["k"]["n_nulls"] == 0 and out["k"]["n_distinct"] == 4
        assert out["v"]["n_nulls"] == 1 and out["v"]["n_distinct"] == 2
        assert out["v"]["min_value"] == "a" and out["v"]["max_value"] == "b"


class TestIncrementalMaintenance:
    def test_any_batch_split_merges_to_full_recompute(self, spark):
        from lakehouse_spark_spark.operators.incremental import aggregate_partials, merge_partials

        df = spark.createDataFrame(
            [(i % 5, float(i) + 0.25) for i in range(100)], "k long, v double"
        ).select("k", F.col("v").cast("decimal(18,2)").alias("v"))
        sum_cols = {"s": F.col("v")}
        full = {r["k"]: (r["s"], r["n_rows"]) for r in aggregate_partials(df, ["k"], sum_cols).collect()}
        # three arbitrary batches, merged in two different orders
        b = [df.filter(F.col("v") < 30), df.filter((F.col("v") >= 30) & (F.col("v") < 71)), df.filter(F.col("v") >= 71)]
        p = [aggregate_partials(x, ["k"], sum_cols) for x in b]
        m1 = merge_partials(merge_partials(None, p[0], ["k"]), p[1], ["k"])
        m1 = merge_partials(m1, p[2], ["k"])
        m2 = merge_partials(merge_partials(None, p[2], ["k"]), p[0], ["k"])
        m2 = merge_partials(m2, p[1], ["k"])
        for m in (m1, m2):
            got = {r["k"]: (r["s"], r["n_rows"]) for r in m.collect()}
            assert got == full


class TestSkyline:
    def _frontier(self, spark, rows):
        from lakehouse_spark_spark.operators.skyline import pareto_frontier_2d_bounded

        df = spark.createDataFrame(rows, "id long, x long, y long")
        out = pareto_frontier_2d_bounded(df, F.col("x"), F.col("y"), ["id"])
        return sorted(r["id"] for r in out.collect())

    def test_dominated_points_drop(self, spark):
        # (1,10) dominates (2,9): higher x AND lower y -> 2 dominated
        rows = [(1, 1, 10), (2, 2, 9), (3, 3, 12), (4, 5, 11)]
        # frontier: 1 (cheapest), 3 (better y than 1 at higher x); 4 dominated by 3
        assert self._frontier(spark, rows) == [1, 3]

    def test_equal_x_keeps_only_best_y_and_exact_ties_stay(self, spark):
        rows = [(1, 1, 5), (2, 1, 9), (3, 1, 9), (4, 2, 10)]
        # x=1: y=9 pair ties (both stay), y=5 dominated; (2,10) better y
        assert self._frontier(spark, rows) == [2, 3, 4]

    def test_matches_quadratic_definition(self, spark):
        import itertools, random

        rng = random.Random(13)
        rows = [(i, rng.randrange(0, 20), rng.randrange(0, 20)) for i in range(60)]
        got = self._frontier(spark, rows)
        want = sorted(
            r[0]
            for r in rows
            if not any(
                o[1] <= r[1] and o[2] >= r[2] and (o[1] < r[1] or o[2] > r[2])
                for o in rows
            )
        )
        assert got == want


class TestFunnelAndEwmaSemantics:
    def test_funnel_requires_strict_order(self, spark):
        from lakehouse_spark_spark.plans.queries import registry
        import tempfile, os

        # build a tiny events parquet with controlled orderings
        rows = [
            # user 1: full ordered funnel
            (1, "2001-01-01 10:00:00", 1, "view", 1.0, "{}"),
            (2, "2001-01-01 10:05:00", 1, "click", 1.0, "{}"),
            (3, "2001-01-01 10:10:00", 1, "purchase", 1.0, "{}"),
            # user 2: purchase BEFORE click -> stops at view->click
            (4, "2001-01-01 10:00:00", 2, "view", 1.0, "{}"),
            (5, "2001-01-01 10:01:00", 2, "purchase", 1.0, "{}"),
            (6, "2001-01-01 10:02:00", 2, "click", 1.0, "{}"),
            # user 3: view only
            (7, "2001-01-01 10:00:00", 3, "view", 1.0, "{}"),
            # user 4: click without view -> not even step 1
            (8, "2001-01-01 10:00:00", 4, "click", 1.0, "{}"),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
        ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type", "value", "props")
        d = tempfile.mkdtemp(prefix="funnel_")
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        out = registry()["user_funnel_counts"].builder(spark, d).collect()[0]
        assert out["n_view"] == 3          # users 1, 2, 3
        assert out["n_view_click"] == 2    # users 1, 2 (2's click is after view)
        assert out["n_view_click_purchase"] == 1  # only user 1 ordered fully

    def test_ewma_matches_python_reference(self, spark):
        from lakehouse_spark_spark.plans.queries import registry
        import tempfile, os, datetime

        counts = {1: 10, 2: 20, 3: 5, 4: 40}  # day-of-month -> events
        rows, eid = [], 0
        for day, n in counts.items():
            for _ in range(n):
                eid += 1
                rows.append((eid, f"2001-02-{day:02d} 01:00:00", 1, "view", 1.0, "{}"))
        df = spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
        ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type", "value", "props")
        d = tempfile.mkdtemp(prefix="ewma_")
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        out = {r["day"].day: r["ewma"] for r in registry()["daily_events_ewma"].builder(spark, d).collect()}
        # python reference with the same pre-rounded weights
        for day in counts:
            want = sum(
                counts.get(day - g, 0) * round(0.4 * 0.6**g, 6)
                for g in range(0, 14)
            )
            assert out[day] == pytest.approx(want, abs=1e-9)


class TestContainmentAndCrossBatch:
    def test_quote_inside_long_doc_has_high_containment_low_jaccard(self, spark):
        from lakehouse_spark_spark.operators.neardup import (
            ngram_containment_pairs,
            ngram_jaccard_pairs,
        )

        quote = "alpha beta gamma delta epsilon"
        filler = " ".join(f"w{i}" for i in range(60))
        rows = [(1, quote), (2, filler + " " + quote)]
        docs = _docs(spark, rows)
        cont = ngram_containment_pairs(docs, "doc_id", "text", n=3, threshold=0.6).collect()
        assert len(cont) == 1
        r = cont[0]
        assert r["cont_a_in_b"] == 1.0  # every shingle of the quote is in doc 2
        assert r["cont_b_in_a"] < 0.1
        # symmetric Jaccard misses it at the same strength
        jac = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.6).collect()
        assert len(jac) == 0

    def test_cross_batch_only_new_old_pairs(self, spark):
        from lakehouse_spark_spark.operators.neardup import cross_batch_jaccard

        text = "one two three four five six"
        new = _docs(spark, [(10, text), (11, "totally different words entirely here now")])
        old = _docs(spark, [(1, text), (2, text)])
        out = cross_batch_jaccard(new, old, "doc_id", "text", n=3, threshold=0.5).collect()
        got = {(r["new_id"], r["corpus_id"]) for r in out}
        # doc 10 matches BOTH old copies; old-old pair (1,2) never materializes
        assert got == {(10, 1), (10, 2)}
        assert all(r["jaccard"] == 1.0 for r in out)


class TestMixtureAndTierEdges:
    def test_temperature_weights_sum_to_one_and_budget_conserved(self, spark):
        from lakehouse_spark_spark.operators.mixture import temperature_mixture_plan

        rows = (
            [(i, "a", "w " * 50) for i in range(4)]
            + [(10 + i, "b", "w " * 20) for i in range(4)]
            + [(20 + i, "c", "w " * 5) for i in range(4)]
        )
        df = spark.createDataFrame(
            [(i, s, t.strip()) for i, s, t in rows], "doc_id long, source string, text string"
        )
        out = temperature_mixture_plan(df, "source", "text", alpha=0.5, budget_tokens=10_000).collect()
        total_w = sum(r["weight"] for r in out)
        total_target = sum(r["target_tokens"] for r in out)
        assert total_w == pytest.approx(1.0, abs=1e-4)
        assert abs(total_target - 10_000) <= len(out)  # per-source rounding only

    def test_quantile_tier_multiple_windows_partition_independently(self, spark):
        from lakehouse_spark_spark.operators.sketches import histogram_tier, quantiles_from_tier
        from pyspark.sql import functions as F

        rows = [("2001-01-10", float(v)) for v in range(100)] + [
            ("2001-02-10", float(v)) for v in range(900, 1000)
        ]
        df = spark.createDataFrame(rows, "day string, v double").select(
            F.col("day").cast("date").alias("day"), "v"
        )
        tier = histogram_tier(df, "day", "v", lo=0.0, width=100.0, n_bins=10)
        out = {r["window"].month: r for r in quantiles_from_tier(tier, "month", [0.5], 0.0, 100.0).collect()}
        assert out[1]["q_0_5"] == 100.0   # january values in bin 0 -> upper edge 100
        assert out[2]["q_0_5"] == 1000.0  # february values in bin 9 -> upper edge 1000

    def test_blocklist_empty_lists_block_nothing(self, spark):
        from lakehouse_spark_spark.operators.text import blocklist_flags

        out = blocklist_flags(_docs(spark, [(1, "anything at all")]), "doc_id", "text", []).collect()[0]
        assert not out["blocked"] and out["n_blocked_terms"] == 0
