"""Hand-value unit tests for the round-9 session-5 operator wave:
chunk-granular dedup transforms (corpus-level chunk_dedup and map-only
within_doc_dedup)."""

from __future__ import annotations

import pytest


def _rows(df):
    return {r["doc_id"]: r.asDict() for r in df.collect()}


class TestChunkDedup:
    def test_first_corpus_occurrence_wins(self, spark):
        from obsplus_spark.operators.dedup import chunk_dedup

        # W=2 chunks; doc 2 repeats doc 1's first chunk ("a b") and adds
        # a fresh one; doc 3 is an exact duplicate of doc 1.
        df = spark.createDataFrame(
            [
                (1, "a b c d"),
                (2, "a b x y"),
                (3, "a b c d"),
            ],
            "doc_id long, text string",
        )
        out = _rows(chunk_dedup(df, chunk_tokens=2))
        assert out[1] == {
            "doc_id": 1, "n_chunks": 2, "n_kept": 2, "clean_text": "a b c d"
        }
        assert out[2] == {
            "doc_id": 2, "n_chunks": 2, "n_kept": 1, "clean_text": "x y"
        }
        assert out[3] == {
            "doc_id": 3, "n_chunks": 2, "n_kept": 0, "clean_text": ""
        }

    def test_case_insensitive_match_keeps_original_case(self, spark):
        from obsplus_spark.operators.dedup import chunk_dedup

        df = spark.createDataFrame(
            [(1, "A B"), (2, "a b")], "doc_id long, text string"
        )
        out = _rows(chunk_dedup(df, chunk_tokens=2))
        # doc 1 wins (lower doc_id) and keeps ITS original casing
        assert out[1]["clean_text"] == "A B"
        assert out[2] == {
            "doc_id": 2, "n_chunks": 1, "n_kept": 0, "clean_text": ""
        }

    def test_partial_final_chunk_and_position_order(self, spark):
        from obsplus_spark.operators.dedup import chunk_dedup

        # 5 tokens at W=2 -> chunks "p q","r s","t" (partial final)
        df = spark.createDataFrame(
            [(7, "p q r s t")], "doc_id long, text string"
        )
        out = _rows(chunk_dedup(df, chunk_tokens=2))
        assert out[7] == {
            "doc_id": 7, "n_chunks": 3, "n_kept": 3,
            "clean_text": "p q r s t",
        }

    def test_degenerate_docs_fold_to_empty(self, spark):
        from obsplus_spark.operators.dedup import chunk_dedup

        df = spark.createDataFrame(
            [(1, ""), (2, "   "), (3, None), (4, "\tz\n")],
            "doc_id long, text string",
        )
        out = _rows(chunk_dedup(df, chunk_tokens=2))
        for i in (1, 2, 3):
            assert out[i] == {
                "doc_id": i, "n_chunks": 0, "n_kept": 0, "clean_text": ""
            }
        # phantom-token convention: tab/newline edges never make '' tokens
        assert out[4] == {
            "doc_id": 4, "n_chunks": 1, "n_kept": 1, "clean_text": "z"
        }

    def test_duplicate_chunk_within_one_doc_also_collapses(self, spark):
        from obsplus_spark.operators.dedup import chunk_dedup

        df = spark.createDataFrame(
            [(1, "a b a b")], "doc_id long, text string"
        )
        out = _rows(chunk_dedup(df, chunk_tokens=2))
        assert out[1] == {
            "doc_id": 1, "n_chunks": 2, "n_kept": 1, "clean_text": "a b"
        }

    def test_rejects_bad_width(self, spark):
        from obsplus_spark.operators.dedup import chunk_dedup

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with pytest.raises(ValueError, match="chunk_tokens"):
            chunk_dedup(df, chunk_tokens=0)


class TestWithinDocDedup:
    def test_keeps_first_occurrence_per_doc_only(self, spark):
        from obsplus_spark.operators.text import within_doc_dedup

        # same chunk in TWO docs survives in both (scope is per-doc)
        df = spark.createDataFrame(
            [(1, "a b c d a b"), (2, "a b")],
            "doc_id long, text string",
        )
        out = _rows(within_doc_dedup(df, chunk_tokens=2))
        assert out[1] == {
            "doc_id": 1, "n_chunks": 3, "n_kept": 2, "clean_text": "a b c d"
        }
        assert out[2] == {
            "doc_id": 2, "n_chunks": 1, "n_kept": 1, "clean_text": "a b"
        }

    def test_case_insensitive_first_kept(self, spark):
        from obsplus_spark.operators.text import within_doc_dedup

        df = spark.createDataFrame(
            [(1, "X y x Y")], "doc_id long, text string"
        )
        out = _rows(within_doc_dedup(df, chunk_tokens=2))
        assert out[1] == {
            "doc_id": 1, "n_chunks": 2, "n_kept": 1, "clean_text": "X y"
        }

    def test_degenerate_docs(self, spark):
        from obsplus_spark.operators.text import within_doc_dedup

        df = spark.createDataFrame(
            [(1, ""), (2, None), (3, " \t "), (4, "solo")],
            "doc_id long, text string",
        )
        out = _rows(within_doc_dedup(df, chunk_tokens=2))
        for i in (1, 2, 3):
            assert out[i] == {
                "doc_id": i, "n_chunks": 0, "n_kept": 0, "clean_text": ""
            }
        assert out[4] == {
            "doc_id": 4, "n_chunks": 1, "n_kept": 1, "clean_text": "solo"
        }

    def test_map_only_plan(self, spark):
        """The within-doc plan must stay free of KEYED exchanges (pure
        map; the only allowed Exchange is ensure_parallelism's
        round-robin floor on tiny local inputs)."""
        from obsplus_spark.operators.text import within_doc_dedup

        df = spark.range(10).selectExpr(
            "id AS doc_id", "'a b a b' AS text"
        )
        plan = within_doc_dedup(df, chunk_tokens=2)._jdf.queryExecution(
        ).executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
        assert "Exchange rangepartitioning" not in plan
        assert "Exchange SinglePartition" not in plan

    def test_rejects_bad_width(self, spark):
        from obsplus_spark.operators.text import within_doc_dedup

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with pytest.raises(ValueError, match="chunk_tokens"):
            within_doc_dedup(df, chunk_tokens=0)


class TestScoreAuc:
    def test_hand_value_with_ties(self, spark):
        from obsplus_spark.operators.evaluation import score_auc

        # scores [1,2,2,3], labels [F,T,F,T] -> mid-rank AUC = 0.875
        df = spark.createDataFrame(
            [(1.0, False), (2.0, True), (2.0, False), (3.0, True)],
            "s double, y boolean",
        )
        row = score_auc(df, "s", "y").collect()[0]
        assert row["auc"] == pytest.approx(0.875)
        assert (row["n_pos"], row["n_neg"]) == (2, 2)

    def test_null_rows_excluded_and_empty_class_null(self, spark):
        from obsplus_spark.operators.evaluation import score_auc

        df = spark.createDataFrame(
            [(1.0, True), (None, True), (2.0, None)],
            "s double, y boolean",
        )
        row = score_auc(df, "s", "y").collect()[0]
        assert row["auc"] is None
        assert (row["n_pos"], row["n_neg"]) == (1, 0)

    def test_matches_brute_force_pair_counting(self, spark):
        import numpy as np

        from obsplus_spark.operators.evaluation import score_auc

        rng = np.random.default_rng(7)
        s = rng.integers(0, 20, 200).astype(float)  # heavy ties
        y = rng.random(200) < 0.4
        df = spark.createDataFrame(
            [(float(a), bool(b)) for a, b in zip(s, y)],
            "s double, y boolean",
        )
        got = score_auc(df, "s", "y").collect()[0]["auc"]
        pos, neg = s[y], s[~y]
        wins = (pos[:, None] > neg[None, :]).sum()
        ties = (pos[:, None] == neg[None, :]).sum()
        want = (wins + 0.5 * ties) / (len(pos) * len(neg))
        assert got == pytest.approx(want, abs=1e-9)


def test_auc_cells_merge_with_duplicate_scores(spark):
    """auc_from_counts must re-aggregate duplicate-score rows before
    the cumulative rank window (review fix): the union of two split
    runs' cell tables equals the whole-data AUC."""
    from obsplus_spark.operators.evaluation import (
        auc_from_counts,
        score_auc,
    )

    schema = "s double, y boolean"
    a = [(0.0, False), (1.0, True), (1.0, False)]
    b = [(1.0, True), (1.0, True), (2.0, False)]

    def cells(rows):
        from pyspark.sql import functions as F

        return (
            spark.createDataFrame(rows, schema)
            .groupBy("s")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(F.when(F.col("y"), 1).otherwise(0))
                .cast("long").alias("np"),
            )
        )

    merged = cells(a).unionByName(cells(b))
    got = auc_from_counts(merged).collect()[0]
    want = score_auc(
        spark.createDataFrame(a + b, schema), "s", "y"
    ).collect()[0]
    assert got["auc"] == want["auc"]
    assert (got["n_pos"], got["n_neg"]) == (want["n_pos"], want["n_neg"])


class TestKsStatistic:
    def test_hand_value(self, spark):
        from obsplus_spark.operators.evaluation import ks_statistic

        # A=[1,2], B=[2,3] -> max ECDF gap = 0.5
        df = spark.createDataFrame(
            [(1.0, True), (2.0, True), (2.0, False), (3.0, False)],
            "v double, g boolean",
        )
        row = ks_statistic(df, "v", "g").collect()[0]
        assert row["ks"] == pytest.approx(0.5)
        assert (row["n_a"], row["n_b"]) == (2, 2)

    def test_identical_samples_zero(self, spark):
        from obsplus_spark.operators.evaluation import ks_statistic

        df = spark.createDataFrame(
            [(v, g) for v in (1.0, 2.0, 5.0) for g in (True, False)],
            "v double, g boolean",
        )
        row = ks_statistic(df, "v", "g").collect()[0]
        assert row["ks"] == pytest.approx(0.0)

    def test_empty_side_null_and_null_flag_excluded(self, spark):
        from obsplus_spark.operators.evaluation import ks_statistic

        df = spark.createDataFrame(
            [(1.0, True), (2.0, None)], "v double, g boolean"
        )
        row = ks_statistic(df, "v", "g").collect()[0]
        assert row["ks"] is None
        assert (row["n_a"], row["n_b"]) == (1, 0)

    def test_matches_brute_force_ecdf(self, spark):
        import numpy as np

        from obsplus_spark.operators.evaluation import ks_statistic

        rng = np.random.default_rng(11)
        va = rng.integers(0, 30, 150).astype(float)
        vb = (rng.integers(0, 30, 120) + rng.integers(0, 3, 120)).astype(
            float
        )
        rows = [(float(v), True) for v in va] + [
            (float(v), False) for v in vb
        ]
        df = spark.createDataFrame(rows, "v double, g boolean")
        got = ks_statistic(df, "v", "g").collect()[0]["ks"]
        grid = np.unique(np.concatenate([va, vb]))
        fa = (va[:, None] <= grid[None, :]).mean(axis=0)
        fb = (vb[:, None] <= grid[None, :]).mean(axis=0)
        want = np.abs(fa - fb).max()
        assert got == pytest.approx(want, abs=1e-9)


class TestCentroidDrift:
    def test_identical_snapshots_drift_one(self, spark):
        from obsplus_spark.operators.similarity import centroid_drift

        df = spark.createDataFrame(
            [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 0), (3, [2.0, 0.0], 1)],
            "vec_id long, embedding array<double>, label int",
        )
        out = {
            r["label"]: r.asDict()
            for r in centroid_drift(df, df, label_col="label").collect()
        }
        assert out[0]["cos_drift"] == pytest.approx(1.0)
        assert (out[0]["n_a"], out[0]["n_b"]) == (2, 2)
        assert out[1]["cos_drift"] == pytest.approx(1.0)

    def test_orthogonal_centroids_drift_zero(self, spark):
        from obsplus_spark.operators.similarity import centroid_drift

        a = spark.createDataFrame(
            [(1, [1.0, 0.0], 0)],
            "vec_id long, embedding array<double>, label int",
        )
        b = spark.createDataFrame(
            [(2, [0.0, 1.0], 0)],
            "vec_id long, embedding array<double>, label int",
        )
        row = centroid_drift(a, b).collect()[0]
        assert row["cos_drift"] == pytest.approx(0.0)
        assert (row["n_a"], row["n_b"]) == (1, 1)

    def test_zero_norm_centroid_drift_zero_by_convention(self, spark):
        from obsplus_spark.operators.similarity import centroid_drift

        # snapshot A's centroid is the zero vector -> cosine 0
        a = spark.createDataFrame(
            [(1, [1.0, -1.0], 0), (2, [-1.0, 1.0], 0)],
            "vec_id long, embedding array<double>, label int",
        )
        b = spark.createDataFrame(
            [(3, [1.0, 1.0], 0)],
            "vec_id long, embedding array<double>, label int",
        )
        row = centroid_drift(a, b).collect()[0]
        assert row["cos_drift"] == pytest.approx(0.0)

    def test_one_sided_labels_and_malformed_rows_excluded(self, spark):
        from obsplus_spark.operators.similarity import centroid_drift

        a = spark.createDataFrame(
            [(1, [1.0, 0.0], 0), (2, [1.0, 0.0], 7), (3, None, 0),
             (4, [1.0, 0.0], None)],
            "vec_id long, embedding array<double>, label int",
        )
        b = spark.createDataFrame(
            [(5, [1.0, 0.0], 0), (6, [], 0)],
            "vec_id long, embedding array<double>, label int",
        )
        rows = centroid_drift(a, b).collect()
        assert len(rows) == 1  # label 7 one-sided; NULL label dropped
        assert rows[0]["label"] == 0
        assert (rows[0]["n_a"], rows[0]["n_b"]) == (1, 1)


class TestRrfFusion:
    def _lists(self, spark):
        a = spark.createDataFrame(
            [(1, 9.0), (2, 5.0), (3, 1.0)], "doc_id long, s double"
        )
        b = spark.createDataFrame(
            [(3, 0.9), (1, 0.5), (4, 0.1)], "doc_id long, s double"
        )
        return a, b

    def test_hand_values(self, spark):
        from obsplus_spark.operators.similarity import rrf_fusion

        a, b = self._lists(spark)
        rows = {
            r["doc_id"]: r.asDict()
            for r in rrf_fusion(a, b, score_col="s", k_rrf=60).collect()
        }
        # doc 1: rank_a=1, rank_b=2 -> 1/61 + 1/62
        assert rows[1]["rrf_score"] == pytest.approx(
            round(1 / 61 + 1 / 62, 9)
        )
        assert (rows[1]["rank_a"], rows[1]["rank_b"]) == (1, 2)
        # doc 4 only in list b at rank 3
        assert rows[4]["rank_a"] is None
        assert rows[4]["rrf_score"] == pytest.approx(round(1 / 63, 9))

    def test_topk_cut_and_order(self, spark):
        from obsplus_spark.operators.similarity import rrf_fusion

        a, b = self._lists(spark)
        rows = rrf_fusion(a, b, score_col="s", topk=2).collect()
        assert len(rows) == 2
        # doc 1 (1/61+1/62) beats doc 3 (1/63+1/61)
        assert [r["doc_id"] for r in rows] == [1, 3]

    def test_tie_breaks_on_rounded_score_then_id(self, spark):
        from obsplus_spark.operators.similarity import rrf_fusion

        # scores equal at 6 dp -> rank by id; 1e-9 apart is a tie
        a = spark.createDataFrame(
            [(5, 1.0000000001), (2, 1.0)], "doc_id long, s double"
        )
        b = spark.createDataFrame([(9, 1.0)], "doc_id long, s double")
        rows = {
            r["doc_id"]: r
            for r in rrf_fusion(a, b, score_col="s").collect()
        }
        assert rows[2]["rank_a"] == 1 and rows[5]["rank_a"] == 2

    def test_null_rows_excluded_and_validation(self, spark):
        from obsplus_spark.operators.similarity import rrf_fusion

        a = spark.createDataFrame(
            [(1, 2.0), (None, 9.0), (3, None)], "doc_id long, s double"
        )
        b = spark.createDataFrame([(1, 1.0)], "doc_id long, s double")
        rows = rrf_fusion(a, b, score_col="s").collect()
        assert [r["doc_id"] for r in rows] == [1]
        assert rows[0]["rank_a"] == 1
        with pytest.raises(ValueError, match="topk"):
            rrf_fusion(a, b, score_col="s", topk=0)
        with pytest.raises(ValueError, match="k_rrf"):
            rrf_fusion(a, b, score_col="s", k_rrf=0)


class TestEmbeddingCovariance:
    def test_matches_numpy_population_cov(self, spark):
        import numpy as np

        from obsplus_spark.operators.similarity import embedding_covariance

        rng = np.random.default_rng(3)
        x = rng.normal(size=(50, 4)).round(3)
        df = spark.createDataFrame(
            [(i, [float(v) for v in row]) for i, row in enumerate(x)],
            "vec_id long, embedding array<double>",
        )
        rows = embedding_covariance(df, dims=4).collect()
        assert len(rows) == 10  # 4*5/2 upper-triangle cells
        want = np.cov(x, rowvar=False, bias=True)
        mu = np.round(x.mean(axis=0), 6)
        pp = np.round((x[:, :, None] * x[:, None, :]).mean(axis=0), 6)
        for r in rows:
            i, j = r["i"], r["j"]
            assert r["n"] == 50
            # exact portability formula: round(pp6 - mu6_i*mu6_j, 6)
            assert r["cov"] == pytest.approx(
                round(pp[i, j] - mu[i] * mu[j], 6), abs=1e-9
            )
            # and it is the true covariance up to rounding
            assert abs(r["cov"] - want[i, j]) < 5e-6

    def test_short_and_malformed_rows_excluded(self, spark):
        from obsplus_spark.operators.similarity import embedding_covariance

        df = spark.createDataFrame(
            [(1, [1.0, 2.0]), (2, [3.0]), (3, None), (4, [5.0, 6.0])],
            "vec_id long, embedding array<double>",
        )
        rows = embedding_covariance(df, dims=2).collect()
        assert all(r["n"] == 2 for r in rows)

    def test_rejects_bad_dims(self, spark):
        from obsplus_spark.operators.similarity import embedding_covariance

        df = spark.createDataFrame(
            [(1, [1.0])], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="dims"):
            embedding_covariance(df, dims=0)


class TestCalibrationBins:
    def test_hand_values_with_clamping(self, spark):
        from obsplus_spark.operators.evaluation import calibration_bins

        df = spark.createDataFrame(
            [(0.05, True), (0.09, False), (0.95, True), (1.7, True),
             (-0.3, False), (None, True), (0.5, None)],
            "s double, y boolean",
        )
        out = {
            r["bin"]: r.asDict()
            for r in calibration_bins(df, "s", "y", bins=10).collect()
        }
        # bin 0: 0.05, 0.09, and -0.3 clamped in -> 1/3 positive
        assert out[0]["n"] == 3
        assert out[0]["frac_pos"] == pytest.approx(round(1 / 3, 6))
        # bin 9: 0.95 plus 1.7 clamped in -> all positive
        assert out[9]["n"] == 2
        assert out[9]["frac_pos"] == pytest.approx(1.0)
        assert out[9]["mean_score"] == pytest.approx(
            round((0.95 + 1.7) / 2, 6)
        )
        assert set(out) == {0, 9}  # NULL rows excluded, no empty bins

    def test_validation(self, spark):
        from obsplus_spark.operators.evaluation import calibration_bins

        df = spark.createDataFrame([(0.5, True)], "s double, y boolean")
        with pytest.raises(ValueError, match="bins"):
            calibration_bins(df, "s", "y", bins=0)
        with pytest.raises(ValueError, match="hi > lo"):
            calibration_bins(df, "s", "y", lo=1.0, hi=1.0)


class TestThresholdMetrics:
    def test_hand_confusion_counts(self, spark):
        from obsplus_spark.operators.evaluation import threshold_metrics

        df = spark.createDataFrame(
            [(0.9, True), (0.7, False), (0.3, True), (0.1, False)],
            "s double, y boolean",
        )
        out = {
            r["threshold"]: r.asDict()
            for r in threshold_metrics(
                df, "s", "y", thresholds=[0.5, 0.95]
            ).collect()
        }
        t = out[0.5]
        assert (t["tp"], t["fp"], t["tn"], t["fn"]) == (1, 1, 1, 1)
        assert t["precision"] == pytest.approx(0.5)
        assert t["recall"] == pytest.approx(0.5)
        assert t["f1"] == pytest.approx(0.5)
        # at 0.95 nothing predicted positive -> precision NULL
        t = out[0.95]
        assert (t["tp"], t["fp"]) == (0, 0)
        assert t["precision"] is None
        assert t["recall"] == pytest.approx(0.0)
        assert t["f1"] == pytest.approx(0.0)

    def test_rejects_empty_thresholds(self, spark):
        from obsplus_spark.operators.evaluation import threshold_metrics

        df = spark.createDataFrame([(0.5, True)], "s double, y boolean")
        with pytest.raises(ValueError, match="thresholds"):
            threshold_metrics(df, "s", "y", thresholds=[])


class TestEditDistanceNearDup:
    # a 40-token doc with ONE character appended to one token keeps
    # shingle-Jaccard ~0.93, high enough that the deterministic md5
    # lanes collide in a band (verified: this exact fixture collides);
    # an 8-token variant (Jaccard ~0.33) would rarely be PROPOSED by
    # banding at (16, 4) — that selectivity is the point of LSH
    _BASE = " ".join(f"tok{i}" for i in range(40))

    def test_candidate_pairs_get_exact_distance(self, spark):
        from obsplus_spark.operators.dedup import edit_distance_near_dup

        toks = self._BASE.split()
        toks[20] += "x"
        df = spark.createDataFrame(
            [(1, self._BASE), (2, " ".join(toks)),
             (3, "totally different words nothing shared here at all")],
            "doc_id long, text string",
        )
        rows = edit_distance_near_dup(df, max_ratio=0.4).collect()
        assert [(r["id1"], r["id2"]) for r in rows] == [(1, 2)]
        assert rows[0]["dist"] == 1
        assert rows[0]["edit_ratio"] == pytest.approx(
            round(1 / (len(self._BASE) + 1), 6)
        )

    def test_ratio_cut_excludes_distant_candidates(self, spark):
        from obsplus_spark.operators.dedup import edit_distance_near_dup

        toks = self._BASE.split()
        toks[20] += "x"
        df = spark.createDataFrame(
            [(1, self._BASE), (2, " ".join(toks))],
            "doc_id long, text string",
        )
        # tighten the cut below the observed ratio -> pair drops
        rows = edit_distance_near_dup(df, max_ratio=0.001).collect()
        assert rows == []

    def test_normalization_whitespace_and_case(self, spark):
        from obsplus_spark.operators.dedup import edit_distance_near_dup

        df = spark.createDataFrame(
            [(1, "Alpha  Beta\tGamma delta epsilon"),
             (2, "alpha beta gamma delta epsilon")],
            "doc_id long, text string",
        )
        rows = edit_distance_near_dup(df, max_ratio=0.4).collect()
        assert [(r["id1"], r["id2"], r["dist"]) for r in rows] == [
            (1, 2, 0)
        ]
        assert rows[0]["edit_ratio"] == 0.0

    def test_rejects_bad_ratio(self, spark):
        from obsplus_spark.operators.dedup import edit_distance_near_dup

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with pytest.raises(ValueError, match="max_ratio"):
            edit_distance_near_dup(df, max_ratio=1.5)


class TestClusterQuality:
    def test_hand_geometry(self, spark):
        import math

        from obsplus_spark.operators.similarity import cluster_quality

        # seeds = ids 1,2 -> centroids [1,0] and [0,1]; two extra
        # members land with cosine 1/sqrt(2) to their nearest seed
        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0]),
             (3, [2.0, 2.0]),   # tie cos to both -> smaller cluster 1
             (4, [0.0, 5.0])],  # cluster 2, cos 1.0
            "vec_id long, embedding array<double>",
        )
        out = {
            r["cluster"]: r.asDict()
            for r in cluster_quality(df, n_clusters=2).collect()
        }
        assert out[1]["n_members"] == 2  # seed 1 + tied vec 3
        # mean of UNROUNDED member cosines, rounded once at the end
        assert out[1]["cohesion"] == pytest.approx(
            round((1.0 + 1 / math.sqrt(2)) / 2, 6)
        )
        assert out[2]["n_members"] == 2  # seed 2 + vec 4
        assert out[2]["cohesion"] == pytest.approx(1.0)
        # orthogonal seed centroids -> separation 0 for both
        assert out[1]["max_other_cos"] == pytest.approx(0.0)
        assert out[2]["max_other_cos"] == pytest.approx(0.0)

    def test_malformed_vectors_excluded(self, spark):
        from obsplus_spark.operators.similarity import cluster_quality

        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, None), (4, [])],
            "vec_id long, embedding array<double>",
        )
        out = cluster_quality(df, n_clusters=2).collect()
        assert sum(r["n_members"] for r in out) == 2


def _winnow_ref(text, k, w):
    """Pure-python winnowing reference (md5-u32 grams, rightmost-min)."""
    import hashlib

    toks = [t for t in text.lower().split() if t]
    grams = [
        " ".join(toks[i: i + k]) for i in range(len(toks) - k + 1)
    ] if len(toks) >= k else []
    hs = [
        int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams
    ]
    if not hs:
        return set()
    if len(hs) < w:
        return set(hs)
    out = set()
    for i in range(len(hs) - w + 1):
        best = i
        for j in range(i + 1, i + w):
            if hs[j] <= hs[best]:
                best = j
        out.add(hs[best])
    return out


class TestWinnowing:
    def test_matches_reference_model(self, spark):
        from obsplus_spark.operators.text import winnow_fingerprints

        texts = [
            "the quick brown fox jumps over the lazy dog again and again",
            "short one",
            "a b",
            "",
        ]
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = {}
        for r in winnow_fingerprints(df, k=3, w=4).collect():
            got.setdefault(r["doc_id"], set()).add(r["print"])
        for i, t in enumerate(texts):
            want = _winnow_ref(t, 3, 4)
            assert got.get(i, set()) == want, (i, t)

    def test_guarantee_shared_run_shares_a_print(self, spark):
        from obsplus_spark.operators.text import winnow_overlap

        # docs 1 and 2 share a 10-token run (>= w+k-1 = 6) inside
        # otherwise different text -> the winnowing guarantee forces a
        # shared print; doc 3 shares nothing
        run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        df = spark.createDataFrame(
            [
                (1, "xx yy " + run + " zz ww"),
                (2, "pp qq rr " + run + " ss"),
                (3, "totally different words everywhere nothing common"),
            ],
            "doc_id long, text string",
        )
        rows = winnow_overlap(df, k=3, w=4, min_shared=1).collect()
        pairs = {(r["id1"], r["id2"]) for r in rows}
        assert (1, 2) in pairs
        assert not any(3 in p for p in pairs)

    def test_stop_print_cap_drops_universal_grams(self, spark):
        from obsplus_spark.operators.text import winnow_overlap

        # 5 docs all share one short run; cap buckets below 5 ->
        # the universal print is dropped, no pairs survive
        df = spark.createDataFrame(
            [(i, f"unique{i} mark{i} common run here tail{i}")
             for i in range(5)],
            "doc_id long, text string",
        )
        rows = winnow_overlap(
            df, k=3, w=2, min_shared=1, max_bucket=4
        ).collect()
        bucketed = {(r["id1"], r["id2"]) for r in rows}
        # "common run here" grams differ per doc except the middle one;
        # any print shared by ALL 5 docs is capped out
        for (a, b) in bucketed:
            assert a != b

    def test_validation(self, spark):
        from obsplus_spark.operators.text import (
            winnow_fingerprints,
            winnow_overlap,
        )

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with pytest.raises(ValueError, match="k must"):
            winnow_fingerprints(df, k=0)
        with pytest.raises(ValueError, match="w must"):
            winnow_fingerprints(df, w=0)
        with pytest.raises(ValueError, match="min_shared"):
            winnow_overlap(df, min_shared=0)
        with pytest.raises(ValueError, match="max_bucket"):
            winnow_overlap(df, max_bucket=1)


class TestContainmentPairs:
    def test_small_doc_quoted_inside_large(self, spark):
        from obsplus_spark.operators.dedup import containment_pairs

        quote = "alpha beta gamma delta epsilon zeta eta theta"
        big = (
            "one two three four five six seven eight nine ten "
            + quote
            + " eleven twelve thirteen fourteen fifteen sixteen"
        )
        df = spark.createDataFrame(
            [(1, quote), (2, big),
             (3, "unrelated words with nothing shared at all here")],
            "doc_id long, text string",
        )
        rows = containment_pairs(df, threshold=0.5).collect()
        assert [(r["id1"], r["id2"]) for r in rows] == [(1, 2)]
        r = rows[0]
        # every gram of doc 1 appears in doc 2 -> c1 = 1.0; doc 2's
        # gram set is much larger -> c2 well below 1
        assert r["c1"] == pytest.approx(1.0)
        assert r["c2"] < 0.5
        assert r["n_inter"] == 6  # 8 tokens -> 6 trigrams

    def test_symmetric_near_dups_still_pair(self, spark):
        from obsplus_spark.operators.dedup import containment_pairs

        base = " ".join(f"tok{i}" for i in range(20))
        df = spark.createDataFrame(
            [(1, base), (2, base)], "doc_id long, text string"
        )
        rows = containment_pairs(df, threshold=0.9).collect()
        assert [(r["c1"], r["c2"]) for r in rows] == [(1.0, 1.0)]

    def test_threshold_validation(self, spark):
        from obsplus_spark.operators.dedup import containment_pairs

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with pytest.raises(ValueError, match="threshold"):
            containment_pairs(df, threshold=2.0)


class TestRollingActiveUsers:
    DAY = 86_400_000_000_000

    def test_hand_counts(self, spark):
        from obsplus_spark.operators.sessions import rolling_active_users

        D = self.DAY
        # day 0: users 1,2; day 1: user 2; day 9: user 3 (window break)
        rows = [
            (1, 0), (2, 10), (2, D + 5), (3, 9 * D + 1),
            (None, 0), (4, None),  # excluded
        ]
        df = spark.createDataFrame(
            [(u, t) for u, t in rows], "user_id long, t_ns long"
        )
        out = {
            r["day"]: (r["dau"], r["rolling_users"])
            for r in rolling_active_users(
                df, ts_col="t_ns", user_col="user_id", window_days=3
            ).collect()
        }
        assert out == {
            0: (2, 2),        # users {1,2}
            1: (1, 2),        # dau {2}; window d-2..d1 -> {1,2}
            9: (1, 1),        # fresh window
        }

    def test_window_one_is_plain_dau(self, spark):
        from obsplus_spark.operators.sessions import rolling_active_users

        D = self.DAY
        df = spark.createDataFrame(
            [(1, 0), (2, 0), (1, D)], "user_id long, t_ns long"
        )
        out = {
            r["day"]: (r["dau"], r["rolling_users"])
            for r in rolling_active_users(
                df, ts_col="t_ns", user_col="user_id", window_days=1
            ).collect()
        }
        assert out == {0: (2, 2), 1: (1, 1)}

    def test_validation(self, spark):
        from obsplus_spark.operators.sessions import rolling_active_users

        df = spark.createDataFrame([(1, 0)], "user_id long, t_ns long")
        with pytest.raises(ValueError, match="window_days"):
            rolling_active_users(df, ts_col="t_ns", window_days=0)

    def test_single_cluster_reports_null_separation(self, spark):
        """k=1 must yield one row with NULL max_other_cos — never an
        empty report (review fix: LEFT joins from the centroid table)."""
        from obsplus_spark.operators.similarity import cluster_quality

        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.9, 0.1])],
            "vec_id long, embedding array<double>",
        )
        rows = cluster_quality(df, n_clusters=1).collect()
        assert len(rows) == 1
        assert rows[0]["n_members"] == 2
        assert rows[0]["max_other_cos"] is None
        assert rows[0]["cohesion"] is not None


class TestNearDupThresholdHist:
    def test_buckets_partition_verified_pairs(self, spark):
        from obsplus_spark.operators.dedup import (
            near_dup_threshold_hist,
            near_duplicates,
        )

        base = " ".join(f"tok{i}" for i in range(40))
        toks = base.split()
        toks[20] += "x"
        df = spark.createDataFrame(
            [(1, base), (2, " ".join(toks)), (3, base)],
            "doc_id long, text string",
        )
        hist = {
            r["bucket"]: r["n_pairs"]
            for r in near_dup_threshold_hist(df, buckets=10).collect()
        }
        pairs = near_duplicates(df, threshold=0.0).collect()
        # histogram mass equals the verified-pair count, and the exact
        # dup pair (1,3) sits in the closed top bucket
        assert sum(hist.values()) == len(pairs)
        assert hist[9] >= 1
        for r in pairs:
            b = min(9, int(round(r["jaccard"], 8) * 10))
            assert b in hist

    def test_rejects_bad_buckets(self, spark):
        from obsplus_spark.operators.dedup import near_dup_threshold_hist

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with pytest.raises(ValueError, match="buckets"):
            near_dup_threshold_hist(df, buckets=1)


class TestSequentialHoldout:
    def test_last_k_per_group_eval(self, spark):
        from obsplus_spark.operators.dedup import sequential_holdout

        df = spark.createDataFrame(
            [(1, 10, 100), (2, 10, 200), (3, 10, 300), (4, 10, 400),
             (5, 20, 100),
             (6, None, 100), (7, 30, None)],
            "event_id long, user_id long, t_ns long",
        )
        out = {
            r["event_id"]: r["split"]
            for r in sequential_holdout(
                df, key_col="user_id", order_col="t_ns",
                id_col="event_id", k=2
            ).collect()
        }
        assert out == {
            1: "train", 2: "train", 3: "eval", 4: "eval",
            5: "eval",                # group smaller than k: all eval
            6: None, 7: None,         # NULL key/order by contract
        }

    def test_tie_breaks_on_id_desc(self, spark):
        from obsplus_spark.operators.dedup import sequential_holdout

        df = spark.createDataFrame(
            [(1, 10, 100), (2, 10, 100), (3, 10, 100)],
            "event_id long, user_id long, t_ns long",
        )
        out = {
            r["event_id"]: r["split"]
            for r in sequential_holdout(
                df, key_col="user_id", order_col="t_ns",
                id_col="event_id", k=1
            ).collect()
        }
        assert out == {3: "eval", 2: "train", 1: "train"}

    def test_rejects_bad_k(self, spark):
        from obsplus_spark.operators.dedup import sequential_holdout

        df = spark.createDataFrame(
            [(1, 10, 100)], "event_id long, user_id long, t_ns long"
        )
        with pytest.raises(ValueError, match="k must"):
            sequential_holdout(
                df, key_col="user_id", order_col="t_ns",
                id_col="event_id", k=0
            )
