"""Unit contracts for the classifier-evaluation operators (mleval.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.operators.mleval import (
    auc_by_group,
    calibration_bins,
    mrr_at_k,
    ndcg_at_k,
    ndcg_weights,
    pr_at_thresholds,
    stratified_split_exact,
)


def _auc_reference(scores, labels):
    """Tie-corrected AUC by direct pair counting (O(n^2) reference)."""
    pairs = wins = 0
    for si, li in zip(scores, labels):
        for sj, lj in zip(scores, labels):
            if li == 1 and lj == 0:
                pairs += 1
                if si > sj:
                    wins += 1
                elif si == sj:
                    wins += 0.5
    return wins / pairs if pairs else None


@pytest.fixture()
def scored(spark):
    rows = [
        # group g1: separable-ish with ties
        ("g1", 0.9, 1), ("g1", 0.8, 1), ("g1", 0.8, 0), ("g1", 0.4, 0),
        ("g1", 0.4, 1), ("g1", 0.1, 0), ("g1", 0.1, 0), ("g1", 0.95, 1),
        # group g2: anti-correlated
        ("g2", 0.1, 1), ("g2", 0.2, 1), ("g2", 0.8, 0), ("g2", 0.9, 0),
        # group g3: degenerate (all positive)
        ("g3", 0.5, 1), ("g3", 0.6, 1),
    ]
    return spark.createDataFrame(rows, "g string, score double, lab int")


def test_auc_matches_pair_counting_reference(scored):
    out = {
        r["g"]: r
        for r in auc_by_group(scored, ["g"], "score", "lab").collect()
    }
    rows = scored.collect()
    for g in ("g1", "g2"):
        sub = [(r["score"], r["lab"]) for r in rows if r["g"] == g]
        ref = _auc_reference([s for s, _ in sub], [l for _, l in sub])
        assert abs(out[g]["auc_e6"] - ref * 1e6) <= 1, g
    assert out["g2"]["auc_e6"] < 500_000 < out["g1"]["auc_e6"]


def test_auc_degenerate_group_is_null(scored):
    out = {r["g"]: r for r in auc_by_group(scored, ["g"], "score", "lab").collect()}
    assert out["g3"]["auc_e6"] is None
    assert out["g3"]["n_neg"] == 0


def test_calibration_bins_partition_rows(spark):
    df = spark.range(100).select(
        (F.col("id").cast("double") / 99.0).alias("pred"),
        (F.col("id") % 3 == 0).cast("int").alias("lab"),
    )
    out = calibration_bins(df, "pred", "lab", n_bins=10).collect()
    assert sum(r["n"] for r in out) == 100
    by_bin = {r["bin"]: r for r in out}
    # pred == 1.0 lands in the top bin, not bin 10
    assert max(by_bin) == 9
    for r in out:
        assert 0 <= r["frac_pos_e6"] <= 1_000_000
        assert r["bin_mid"] == pytest.approx((r["bin"] + 0.5) / 10)


def test_pr_threshold_sweep_monotone_recall(spark):
    df = spark.range(200).select(
        (F.col("id").cast("double") / 199.0).alias("pred"),
        (F.col("id") >= 100).cast("int").alias("lab"),
    )
    grid = [0.1, 0.3, 0.5, 0.7, 0.9]
    out = sorted(
        pr_at_thresholds(df, "pred", "lab", grid).collect(),
        key=lambda r: r["threshold"],
    )
    recalls = [r["recall"] for r in out]
    assert recalls == sorted(recalls, reverse=True)
    # counts are complete: tp + fn == total positives at every threshold
    for r in out:
        assert r["tp"] + r["fn"] == 100
    # perfectly separable at 0.5: precision 1.0
    mid = next(r for r in out if r["threshold"] == 0.5)
    assert mid["precision"] == 1.0 and mid["recall"] == 1.0


def test_stratified_split_exact_proportions(spark):
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("stratum")
    )
    out = stratified_split_exact(df, ["stratum"], "id", train_pct=80, seed=3)
    counts = (
        out.groupBy("stratum", "split").count().collect()
    )
    per = {}
    for r in counts:
        per.setdefault(r["stratum"], {})[r["split"]] = r["count"]
    for stratum, d in per.items():
        n = d.get("train", 0) + d.get("val", 0)
        assert d.get("train", 0) == int(n * 80 / 100), stratum


def test_stratified_split_deterministic(spark):
    df = spark.range(100).select(F.col("id"), F.lit("s").alias("stratum"))
    a = set(
        (r["id"], r["split"])
        for r in stratified_split_exact(df, ["stratum"], "id", 80, seed=9).collect()
    )
    b = set(
        (r["id"], r["split"])
        for r in stratified_split_exact(df, ["stratum"], "id", 80, seed=9).collect()
    )
    assert a == b
    c = set(
        (r["id"], r["split"])
        for r in stratified_split_exact(df, ["stratum"], "id", 80, seed=10).collect()
    )
    assert a != c  # seed changes the draw


def test_mrr_hand_computed(spark):
    # q1: first relevant at rank 2 -> 1/2; q2: at rank 1 -> 1; q3: none -> 0
    rows = [
        ("q1", 1, 0), ("q1", 2, 1), ("q1", 3, 1),
        ("q2", 1, 1), ("q2", 2, 0),
        ("q3", 1, 0), ("q3", 2, 0),
    ]
    df = spark.createDataFrame(rows, "q string, rank int, rel int")
    out = mrr_at_k(df, "q", "rank", "rel", k=10).collect()[0]
    assert out["n_queries"] == 3 and out["n_hit"] == 2
    assert out["mrr"] == pytest.approx((0.5 + 1.0 + 0.0) / 3, abs=1e-6)


def test_mrr_beyond_k_ignored(spark):
    df = spark.createDataFrame(
        [("q1", 11, 1), ("q1", 1, 0)], "q string, rank int, rel int"
    )
    out = mrr_at_k(df, "q", "rank", "rel", k=10).collect()[0]
    assert out["n_hit"] == 0 and out["mrr"] == 0.0


def test_ndcg_hand_computed(spark):
    w = [float(x) for x in ndcg_weights(10)]
    # q1: relevant at ranks 1 and 3, n_rel=2 -> dcg=w1+w3, idcg=w1+w2
    # q2: relevant at rank 2 only, n_rel=5 -> idcg = sum(w[:5])
    # q3: nothing relevant retrieved, n_rel=0 -> NULL
    rows = [
        ("q1", 1, 1, 2), ("q1", 2, 0, 2), ("q1", 3, 1, 2),
        ("q2", 1, 0, 5), ("q2", 2, 1, 5),
        ("q3", 1, 0, 0),
    ]
    df = spark.createDataFrame(rows, "q string, rank int, rel int, n_rel int")
    out = {r["q"]: r for r in ndcg_at_k(df, "q", "rank", "rel", "n_rel", 10).collect()}
    assert out["q1"]["ndcg"] == pytest.approx(
        (w[0] + w[2]) / (w[0] + w[1]), abs=1e-6
    )
    assert out["q2"]["ndcg"] == pytest.approx(w[1] / sum(w[:5]), abs=1e-6)
    assert out["q3"]["ndcg"] is None


def test_ndcg_perfect_ranking_is_one(spark):
    rows = [("q", i, 1 if i <= 4 else 0, 4) for i in range(1, 11)]
    df = spark.createDataFrame(rows, "q string, rank int, rel int, n_rel int")
    out = ndcg_at_k(df, "q", "rank", "rel", "n_rel", 10).collect()[0]
    assert out["ndcg"] == pytest.approx(1.0, abs=1e-6)


def test_empty_inputs(spark):
    empty = spark.createDataFrame([], "g string, score double, lab int")
    assert auc_by_group(empty, ["g"], "score", "lab").count() == 0
    assert calibration_bins(empty, "score", "lab").count() == 0
    out = pr_at_thresholds(empty, "score", "lab", [0.5])
    assert out.count() == 0
    assert stratified_split_exact(empty, ["g"], "score").count() == 0
    er = spark.createDataFrame([], "q string, rank int, rel int, n_rel int")
    # global aggregate: empty retrieval still yields one summary row
    mrow = mrr_at_k(er, "q", "rank", "rel").collect()[0]
    assert mrow["n_queries"] == 0 and mrow["n_hit"] == 0
    assert ndcg_at_k(er, "q", "rank", "rel", "n_rel").count() == 0


def test_target_encode_shrinks_rare_categories(spark):
    from legendary_data_pipeline_spark.operators.mleval import target_encode

    rows = (
        [("common", 100)] * 50       # mean 100
        + [("rare", 1000)]           # one extreme observation
    )
    df = spark.createDataFrame(rows, "cat string, t long")
    out = {r["cat"]: r for r in target_encode(df, "cat", "t", m=10).collect()}
    gmean = (50 * 100 + 1000) // 51  # floor global mean = 117
    # common: 50 obs dominate the prior
    assert out["common"]["enc"] == (50 * 100 + 10 * gmean) // 60
    # rare: prior dominates the single observation — far below 1000
    assert out["rare"]["enc"] == (1000 + 10 * gmean) // 11
    assert out["rare"]["enc"] < 350


def test_target_encode_m_zero_is_plain_mean(spark):
    from legendary_data_pipeline_spark.operators.mleval import target_encode

    df = spark.createDataFrame(
        [("a", 10), ("a", 20), ("b", 7)], "cat string, t long"
    )
    out = {r["cat"]: r["enc"] for r in target_encode(df, "cat", "t", m=0).collect()}
    assert out == {"a": 15, "b": 7}


def test_rrf_fusion_hand_computed(spark):
    from legendary_data_pipeline_spark.operators.mleval import rrf_fuse

    # retriever A ranks: d1=1, d2=2; retriever B ranks: d2=1, d3=2
    rows = [
        ("q", "d1", 1), ("q", "d2", 2),
        ("q", "d2", 1), ("q", "d3", 2),
    ]
    df = spark.createDataFrame(rows, "q string, item string, rnk int")
    out = {
        r["item"]: r
        for r in rrf_fuse(df, "q", "item", "rnk", k=60, scale=1_000_000).collect()
    }
    w1, w2 = 1_000_000 // 61, 1_000_000 // 62
    # d2 appears in both lists -> wins fusion despite never ranking 1st alone
    assert out["d2"]["fused_score"] == w1 + w2
    assert out["d2"]["n_sources"] == 2
    assert out["d2"]["fused_rank"] == 1
    assert out["d1"]["fused_score"] == w1 and out["d1"]["fused_rank"] == 2
    assert out["d3"]["fused_rank"] == 3


def test_rrf_topk_and_tiebreak(spark):
    from legendary_data_pipeline_spark.operators.mleval import rrf_fuse

    rows = [("q", f"d{i}", i) for i in range(1, 8)]
    df = spark.createDataFrame(rows, "q string, item string, rnk int")
    out = rrf_fuse(df, "q", "item", "rnk", top_k=3).collect()
    assert len(out) == 3
    # equal ranks across items -> same score -> item-id tiebreak
    ties = spark.createDataFrame(
        [("q", "b", 1), ("q", "a", 1)], "q string, item string, rnk int"
    )
    t = sorted(rrf_fuse(ties, "q", "item", "rnk").collect(),
               key=lambda r: r["fused_rank"])
    assert [r["item"] for r in t] == ["a", "b"]


def test_confusion_stats_perfect_and_chance(spark):
    from legendary_data_pipeline_spark.operators.mleval import (
        confusion_stats,
    )

    perfect = spark.createDataFrame(
        [("a", "a")] * 3 + [("b", "b")] * 2, "t string, p string"
    )
    r = confusion_stats(perfect, "t", "p").limit(1).collect()[0]
    assert r["accuracy_e6"] == 1_000_000 and r["kappa_e6"] == 1_000_000

    # constant predictor: accuracy = base rate, kappa exactly 0
    const = spark.createDataFrame(
        [("a", "a"), ("a", "a"), ("b", "a"), ("b", "a")], "t string, p string"
    )
    r = confusion_stats(const, "t", "p").limit(1).collect()[0]
    assert r["accuracy_e6"] == 500_000 and r["kappa_e6"] == 0


def test_confusion_cells_sum_to_total(spark):
    from legendary_data_pipeline_spark.operators.mleval import (
        confusion_stats,
    )

    df = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "a"), ("c", "c"), ("c", "a")],
        "t string, p string",
    )
    out = confusion_stats(df, "t", "p").collect()
    assert sum(r["n"] for r in out) == 5
    assert all(r["n_total"] == 5 for r in out)
    assert all(r["n_agree"] == 2 for r in out)


def test_null_scores_dropped_consistently(spark):
    rows = [
        ("g", 0.9, 1), ("g", 0.1, 0), ("g", None, 1), ("g", 0.5, None),
    ]
    df = spark.createDataFrame(rows, "g string, score double, lab int")
    out = auc_by_group(df, ["g"], "score", "lab").collect()[0]
    # only the two complete rows count: perfectly separated -> AUC 1
    assert out["n_pos"] == 1 and out["n_neg"] == 1 and out["auc_e6"] == 1_000_000
    cal = calibration_bins(df, "score", "lab")
    assert sum(r["n"] for r in cal.collect()) == 2
    pr = pr_at_thresholds(df, "score", "lab", [0.5]).collect()[0]
    assert pr["tp"] + pr["fn"] == 1


def test_stratified_split_rejects_null_ids(spark):
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, "s"), (None, "s")], "id long, stratum string"
    )
    # the guard lives in the PLAN (raise_error in the rank key): calling
    # the operator is lazy and free; the first action raises.
    out = stratified_split_exact(df, ["stratum"], "id")
    with _pytest.raises(Exception, match="NULL id rows"):
        out.collect()


# ---------------------------------------------------------------------------
# two_proportion_test (X160)
# ---------------------------------------------------------------------------


def test_two_proportion_hand_computed_and_sign(spark):
    import math

    from legendary_data_pipeline_spark.operators.mleval import (
        two_proportion_test,
    )

    rows = [("a", 1)] * 30 + [("a", 0)] * 70 + [("b", 1)] * 10 + [("b", 0)] * 90
    df = spark.createDataFrame(rows, "g string, lab int")
    r = two_proportion_test(df, "g", "lab", "a", "b").collect()[0]
    assert (r["n_a"], r["pos_a"], r["n_b"], r["pos_b"]) == (100, 30, 100, 10)
    # raw IEEE ratios: bit-equal to the same expression tree in Python
    assert r["p_a"] == 0.3 and r["p_b"] == 0.1
    assert r["diff"] == 30 / 100 - 10 / 100
    pooled = 40 / 200
    se = math.sqrt(pooled * (1 - pooled) * (1 / 100 + 1 / 100))
    assert r["z_e6"] == round((30 / 100 - 10 / 100) / se * 1e6)
    # swapped groups flip the sign
    r2 = two_proportion_test(df, "g", "lab", "b", "a").collect()[0]
    assert r2["z_e6"] == -r["z_e6"]


def test_two_proportion_degenerate_cases(spark):
    from legendary_data_pipeline_spark.operators.mleval import (
        two_proportion_test,
    )

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("c", 0)], "g string, lab int"
    )
    # group b absent → NULL p_b/diff/z, counts zero
    r = two_proportion_test(df, "g", "lab", "a", "b").collect()[0]
    assert (r["n_b"], r["pos_b"]) == (0, 0)
    assert r["p_b"] is None and r["z_e6"] is None
    # both groups all-positive → pooled = 1 → se = 0 → NULL z
    df2 = spark.createDataFrame(
        [("a", 1), ("b", 1)], "g string, lab int"
    )
    r2 = two_proportion_test(df2, "g", "lab", "a", "b").collect()[0]
    assert r2["z_e6"] is None and r2["diff"] == 0.0
    # NULL labels dropped; out-of-scope groups ignored
    df3 = spark.createDataFrame(
        [("a", 1), ("a", None), ("z", 1), ("b", 0)], "g string, lab int"
    )
    r3 = two_proportion_test(df3, "g", "lab", "a", "b").collect()[0]
    assert (r3["n_a"], r3["n_b"]) == (1, 1)


def test_auc_denominator_decimal_no_wrap(spark):
    """Round-8 ADVICE regression: the 2*P*N denominator must be decimal
    arithmetic, not int64 (which wraps at ~2e9 positives x negatives).
    The true scale is untestable locally, so pin the TYPE: the analyzed
    plan's division must consume a decimal-derived denominator, and the
    small-fixture value must be unchanged."""
    from legendary_data_pipeline_spark.operators.mleval import auc_by_group

    df = spark.createDataFrame(
        [("g", 0.1, 0), ("g", 0.4, 0), ("g", 0.35, 1), ("g", 0.8, 1)],
        "g string, score double, lab int",
    )
    out = auc_by_group(df, ["g"], "score", "lab")
    r = out.collect()[0]
    assert (r["n_pos"], r["n_neg"]) == (2, 2)
    assert r["auc_e6"] == 750_000  # hand-computed: 3 of 4 pairs concordant
    # the denominator expression is decimal(38,0) end-to-end
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "decimal(38,0)" in plan
