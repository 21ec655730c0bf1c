"""Hand-computed contracts for the round-11 operators (X212–X216):
Cochran–Armitage trend, Nelson–Aalen hazard, basket pair lift, Brier
decomposition, cumulative gains."""

from __future__ import annotations

import pytest


# ---------------------------------------------------------------------------
# Cochran–Armitage trend (X212)
# ---------------------------------------------------------------------------


def _ca(spark, rows):
    from legendary_data_pipeline_spark.operators.hypotests import (
        cochran_armitage_trend,
    )

    df = spark.createDataFrame(rows, "g string, s long")
    return cochran_armitage_trend(df, "g", "s").collect()[0]


def test_cochran_armitage_hand_computed(spark):
    # groups a,b,c (scores 0,1,2), 10 rows each, successes 2,5,8:
    # A = 30·21 − 15·30 = 180; C = 30·50 − 30² = 600
    # z = 180/sqrt(15·15·600/30) = 180/sqrt(4500) = 2.6832815...
    rows = []
    for g, succ in (("a", 2), ("b", 5), ("c", 8)):
        rows += [(g, 1)] * succ + [(g, 0)] * (10 - succ)
    out = _ca(spark, rows)
    assert (out.n, out.k, out.n_success) == (30, 3, 15)
    assert out.z_e6 == 2683282


def test_cochran_armitage_sign_and_degenerate(spark):
    # decreasing trend → negative z (mirror of the hand case)
    rows = []
    for g, succ in (("a", 8), ("b", 5), ("c", 2)):
        rows += [(g, 1)] * succ + [(g, 0)] * (10 - succ)
    assert _ca(spark, rows).z_e6 == -2683282
    # all-success → NULL (R = N)
    assert _ca(spark, [("a", 1), ("b", 1)]).z_e6 is None
    # single group → NULL (k < 2)
    assert _ca(spark, [("a", 1), ("a", 0)]).z_e6 is None


def test_cochran_armitage_non_binary_raises(spark):
    with pytest.raises(Exception, match="0/1"):
        _ca(spark, [("a", 2), ("b", 0)])


# ---------------------------------------------------------------------------
# Nelson–Aalen (X213)
# ---------------------------------------------------------------------------


def test_nelson_aalen_hand_computed(spark):
    from legendary_data_pipeline_spark.operators.stats import nelson_aalen

    # exits: t=1 event (n=3), t=2 censored (n=2), t=3 event (n=1)
    # H: 1/3, 1/3, 1/3 + 1 = 4/3
    df = spark.createDataFrame(
        [(1, 1), (2, 0), (3, 1)], "d long, e long"
    )
    got = {
        r.t: r for r in nelson_aalen(df, "d", "e").orderBy("t").collect()
    }
    assert got[1].n_at_risk == 3 and got[1].cum_hazard_e6 == 333333
    assert got[2].n_at_risk == 2 and got[2].n_censored == 1
    assert got[2].cum_hazard_e6 == 333333  # censor adds no hazard
    assert got[3].n_at_risk == 1 and got[3].cum_hazard_e6 == 1333333


def test_nelson_aalen_guard_and_bucket(spark):
    from legendary_data_pipeline_spark.operators.stats import nelson_aalen

    df = spark.createDataFrame(
        [(t, 1) for t in range(10)], "d long, e long"
    )
    with pytest.raises(Exception, match="distinct exit times"):
        nelson_aalen(df, "d", "e", max_distinct_times=3).collect()
    # bucket=5 coarsens to 2 exit times — no guard, exact halves
    out = nelson_aalen(df, "d", "e", bucket=5).orderBy("t").collect()
    assert [r.t for r in out] == [0, 5]
    assert out[0].n_at_risk == 10 and out[0].n_events == 5
    assert out[0].cum_hazard_e6 == 500000
    assert out[1].cum_hazard_e6 == 1500000  # 1/2 + 5/5


# ---------------------------------------------------------------------------
# Basket pair lift (X214)
# ---------------------------------------------------------------------------


def _baskets(spark, rows):
    return spark.createDataFrame(rows, "b long, i string")


def test_basket_pair_lift_hand_computed(spark):
    from legendary_data_pipeline_spark.operators.graph import (
        basket_pair_lift,
    )

    rows = [
        (1, "a"), (1, "a"), (1, "b"), (1, "c"),  # dup (1, a) dedups
        (2, "a"), (2, "b"),
        (3, "a"), (3, "c"),
        (4, "a"),
    ]
    out = {
        (r.item_a, r.item_b): r
        for r in basket_pair_lift(
            _baskets(spark, rows), "b", "i", min_pair_count=1
        ).collect()
    }
    # N=4; c_a=4, c_b=2, c_c=2; pairs ab=2, ac=2, bc=1
    assert out[("a", "b")].pair_count == 2
    assert out[("a", "b")].lift == pytest.approx(2 * 4 / (4 * 2))
    assert out[("b", "c")].pair_count == 1
    assert out[("b", "c")].lift == pytest.approx(1 * 4 / (2 * 2))
    assert all(r.n_baskets == 4 for r in out.values())
    # min_pair_count prunes the tail
    from legendary_data_pipeline_spark.operators.graph import (
        basket_pair_lift as bpl,
    )

    pruned = bpl(_baskets(spark, rows), "b", "i", min_pair_count=2)
    assert {(r.item_a, r.item_b) for r in pruned.collect()} == {
        ("a", "b"), ("a", "c")
    }


def test_basket_pair_lift_size_guard(spark):
    from legendary_data_pipeline_spark.operators.graph import (
        basket_pair_lift,
    )

    rows = [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b")]
    with pytest.raises(Exception, match="max_basket_size"):
        basket_pair_lift(
            _baskets(spark, rows), "b", "i", max_basket_size=2
        ).collect()


# ---------------------------------------------------------------------------
# Brier decomposition (X215)
# ---------------------------------------------------------------------------


def test_brier_decomposition_hand_computed(spark):
    from legendary_data_pipeline_spark.operators.mleval import (
        brier_decomposition,
    )

    # 2 bins: (0.2,0),(0.2,1) | (0.8,1),(0.8,1)
    # brier = 0.19, rel = 0.065, res = 0.0625, unc = 0.1875,
    # identity exact (constant preds within bins) → wbv = 0
    df = spark.createDataFrame(
        [(0.2, 0), (0.2, 1), (0.8, 1), (0.8, 1)], "p double, y long"
    )
    out = brier_decomposition(df, "p", "y", n_bins=2).collect()[0]
    assert (out.n, out.n_pos, out.n_bins_used) == (4, 3, 2)
    assert out.brier_e6 == 190000
    assert out.reliability_e6 == 65000
    assert out.resolution_e6 == 62500
    assert out.uncertainty_e6 == 187500
    assert out.within_bin_var_e6 == 0


def test_brier_identity_residual_is_within_bin_variance(spark):
    from legendary_data_pipeline_spark.operators.mleval import (
        brier_decomposition,
    )

    # spread preds inside one bin → wbv > 0, identity audit holds
    df = spark.createDataFrame(
        [(0.91, 1), (0.99, 1), (0.95, 0), (0.05, 0)], "p double, y long"
    )
    out = brier_decomposition(df, "p", "y", n_bins=10).collect()[0]
    assert out.within_bin_var_e6 > 0
    assert out.brier_e6 == pytest.approx(
        out.reliability_e6 - out.resolution_e6 + out.uncertainty_e6
        + out.within_bin_var_e6,
        abs=2,  # four independent e6 rounds
    )


# ---------------------------------------------------------------------------
# Cumulative gains (X216)
# ---------------------------------------------------------------------------


def test_cumulative_gains_hand_computed(spark):
    from legendary_data_pipeline_spark.operators.mleval import (
        cumulative_gains,
    )

    df = spark.createDataFrame(
        [(0.9, 1), (0.9, 0), (0.5, 1), (0.1, 0)], "p double, y long"
    )
    got = {
        r.point: r
        for r in cumulative_gains(df, "p", "y", n_points=2).collect()
    }
    # T1=2 → the 0.9 tie group exactly: kept 2, pos 1
    assert got[1].target_rows == 2 and got[1].n_kept == 2
    assert got[1].pos_kept == 1 and got[1].gain == 0.5
    assert got[1].lift == pytest.approx(1.0)
    assert got[2].n_kept == 4 and got[2].gain == 1.0


def test_cumulative_gains_ties_never_split(spark):
    from legendary_data_pipeline_spark.operators.mleval import (
        cumulative_gains,
    )

    df = spark.createDataFrame(
        [(0.9, 1), (0.9, 0), (0.5, 1), (0.1, 0)], "p double, y long"
    )
    got = {
        r.point: r
        for r in cumulative_gains(df, "p", "y", n_points=4).collect()
    }
    # T1=1 but the 0.9 tie group has 2 rows → n_kept=2 > target 1
    assert got[1].target_rows == 1 and got[1].n_kept == 2
    assert got[1].pos_kept == 1


def test_cumulative_gains_non_binary_raises(spark):
    from legendary_data_pipeline_spark.operators.mleval import (
        cumulative_gains,
    )

    df = spark.createDataFrame([(0.9, 2)], "p double, y long")
    with pytest.raises(Exception, match="0/1"):
        cumulative_gains(df, "p", "y").collect()


# ---------------------------------------------------------------------------
# Page's L trend test (X217)
# ---------------------------------------------------------------------------


def _blocks(spark, rows):
    return spark.createDataFrame(rows, "b long, tr string, v long")


def test_page_trend_hand_computed(spark):
    from legendary_data_pipeline_spark.operators.hypotests import (
        page_trend_test,
    )

    # the friedman fixture: perfectly consistent t1<t2<t3 ranking.
    # R = (3, 6, 9), L = 1·3+2·6+3·9 = 42; E[L]=36, Var[L]=6
    # z = 6/sqrt(6) = 2.4494897 → 2449490
    rows = [
        (1, "t1", 1), (1, "t2", 2), (1, "t3", 3),
        (2, "t1", 2), (2, "t2", 4), (2, "t3", 6),
        (3, "t1", 1), (3, "t2", 5), (3, "t3", 9),
    ]
    out = page_trend_test(_blocks(spark, rows), "b", "tr", "v").collect()[0]
    assert (out.n_blocks, out.k, out.n_dropped_blocks) == (3, 3, 0)
    assert out.l2 == 84  # doubled L
    assert out.z_e6 == 2449490


def test_page_trend_reverse_order_negative(spark):
    from legendary_data_pipeline_spark.operators.hypotests import (
        page_trend_test,
    )

    # values DECREASE along the treatment order → z mirrors negative
    rows = [
        (1, "t1", 3), (1, "t2", 2), (1, "t3", 1),
        (2, "t1", 6), (2, "t2", 4), (2, "t3", 2),
        (3, "t1", 9), (3, "t2", 5), (3, "t3", 1),
    ]
    out = page_trend_test(_blocks(spark, rows), "b", "tr", "v").collect()[0]
    assert out.z_e6 == -2449490


def test_page_trend_incomplete_and_duplicate(spark):
    from legendary_data_pipeline_spark.operators.hypotests import (
        page_trend_test,
    )

    rows = [
        (1, "t1", 1), (1, "t2", 2), (1, "t3", 3),
        (9, "t1", 7),  # incomplete → dropped + counted
    ]
    out = page_trend_test(_blocks(spark, rows), "b", "tr", "v").collect()[0]
    assert out.n_blocks == 1 and out.n_dropped_blocks == 1
    with pytest.raises(Exception, match="duplicate"):
        page_trend_test(
            _blocks(spark, [(1, "t1", 1), (1, "t1", 2), (2, "t2", 3)]),
            "b", "tr", "v",
        ).collect()


# ---------------------------------------------------------------------------
# Kendall's W (X218)
# ---------------------------------------------------------------------------


def test_kendalls_w_perfect_agreement(spark):
    from legendary_data_pipeline_spark.operators.hypotests import (
        kendalls_w,
    )

    rows = [
        (1, "t1", 1), (1, "t2", 2), (1, "t3", 3),
        (2, "t1", 2), (2, "t2", 4), (2, "t3", 6),
        (3, "t1", 1), (3, "t2", 5), (3, "t3", 9),
    ]
    out = kendalls_w(_blocks(spark, rows), "b", "tr", "v").collect()[0]
    assert (out.n_blocks, out.k) == (3, 3)
    assert out.w == 1.0


def test_kendalls_w_disagreement_and_all_tied(spark):
    from legendary_data_pipeline_spark.operators.hypotests import (
        kendalls_w,
    )

    # two blocks with OPPOSITE rankings → rank sums all equal → W = 0
    rows = [
        (1, "t1", 1), (1, "t2", 2), (1, "t3", 3),
        (2, "t1", 3), (2, "t2", 2), (2, "t3", 1),
    ]
    out = kendalls_w(_blocks(spark, rows), "b", "tr", "v").collect()[0]
    assert out.w == 0.0
    # every block fully tied → tie correction empties the denominator
    tied = [(1, "t1", 5), (1, "t2", 5), (2, "t1", 7), (2, "t2", 7)]
    out = kendalls_w(_blocks(spark, tied), "b", "tr", "v").collect()[0]
    assert out.w is None


def test_kendalls_w_friedman_identity(spark):
    """χ²_friedman = n(k−1)·W on tie-free data (the textbook link)."""
    from legendary_data_pipeline_spark.operators.hypotests import (
        friedman_test,
        kendalls_w,
    )

    rows = [
        (1, "t1", 1), (1, "t2", 2), (1, "t3", 3),
        (2, "t1", 2), (2, "t2", 6), (2, "t3", 4),
        (3, "t1", 9), (3, "t2", 5), (3, "t3", 1),
    ]
    w = kendalls_w(_blocks(spark, rows), "b", "tr", "v").collect()[0]
    f = friedman_test(_blocks(spark, rows), "b", "tr", "v").collect()[0]
    assert f.t == pytest.approx(w.n_blocks * (w.k - 1) * w.w)


# ---------------------------------------------------------------------------
# Cramér–von Mises two-sample (X219)
# ---------------------------------------------------------------------------


def test_cvm_hand_computed(spark):
    from pyspark.sql import functions as F

    from legendary_data_pipeline_spark.operators.profiling import (
        cramer_von_mises,
    )

    # base=[1,2], current=[1,3]: pooled gaps 0, 0.5, 0 →
    # T = (4/16)·(0 + 0 + 0.25 + 0) = 0.0625
    base = spark.createDataFrame([(1,), (2,)], "v long")
    cur = spark.createDataFrame([(1,), (3,)], "v long")
    out = cramer_von_mises(base, cur, F.col("v")).collect()[0]
    assert (out.n_base, out.n_current) == (2, 2)
    assert out.t_e6 == 62500


def test_cvm_identical_zero_and_empty_raise(spark):
    from pyspark.sql import functions as F

    from legendary_data_pipeline_spark.operators.profiling import (
        cramer_von_mises,
    )

    same = spark.createDataFrame([(i % 7,) for i in range(50)], "v long")
    out = cramer_von_mises(same, same, F.col("v")).collect()[0]
    assert out.t_e6 == 0
    empty = spark.createDataFrame([], "v long")
    with pytest.raises(ValueError, match="empty"):
        cramer_von_mises(same, empty, F.col("v"))


def test_cvm_sees_oscillating_shift_ks_underweights(spark):
    """The motivating case: an oscillating CDF gap whose pointwise
    supremum is small relative to its integrated square. CvM must be
    clearly nonzero while KS's D stays at the single-step scale."""
    from pyspark.sql import functions as F

    from legendary_data_pipeline_spark.operators.profiling import (
        cramer_von_mises,
        ks_two_sample,
    )

    # base holds evens, current holds odds, interleaved 0..199: every
    # pointwise CDF gap is exactly 1/100 (one step), but it never
    # closes — the squared gap integrates over all 200 pooled points.
    base = spark.createDataFrame([(2 * i,) for i in range(100)], "v long")
    cur = spark.createDataFrame(
        [(2 * i + 1,) for i in range(100)], "v long"
    )
    ks = ks_two_sample(base, cur, F.col("v")).collect()[0]
    cvm = cramer_von_mises(base, cur, F.col("v")).collect()[0]
    assert ks.d_stat_e6 == 10000  # D = 1/100
    # T = (100·100/200²)·Σ gaps² = 0.25·(100·(1/100)² + 100·0)
    #   = 0.25·0.01 = 0.0025  (odd points carry gap 1/100, evens 0
    #   after the tie convention) → 2500 in e6
    assert cvm.t_e6 == 2500


# ---------------------------------------------------------------------------
# Property-based invariants (hypothesis) for the r11 cohort
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


def test_cumulative_gains_matches_python_reference(spark):
    from legendary_data_pipeline_spark.operators.mleval import (
        cumulative_gains,
    )

    rows_strat = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),  # coarse score → ties
            st.integers(min_value=0, max_value=1),
        ),
        min_size=1,
        max_size=60,
    )

    @settings(max_examples=10, deadline=None)
    @given(rows_strat)
    def check(rows):
        n = len(rows)
        tp = sum(y for _, y in rows)
        # reference: whole tie groups by descending score while the
        # strictly-above count < T_p
        from collections import Counter

        by_score: dict[int, list[int]] = {}
        for s, y in rows:
            by_score.setdefault(s, []).append(y)
        ordered = sorted(by_score, reverse=True)
        ref = {}
        for p in range(1, 11):
            t_p = n * p // 10
            above = 0
            kept = poskept = 0
            for s in ordered:
                if above < t_p:
                    kept += len(by_score[s])
                    poskept += sum(by_score[s])
                above += len(by_score[s])
            ref[p] = (t_p, kept, poskept)
        df = spark.createDataFrame(
            [(float(s), y) for s, y in rows], "p double, y long"
        )
        got = {
            r.point: (r.target_rows, r.n_kept, r.pos_kept)
            for r in cumulative_gains(df, "p", "y", n_points=10).collect()
        }
        assert got == ref
        assert tp >= 0  # silence unused warning

    check()


def test_basket_pair_lift_matches_python_reference(spark):
    from legendary_data_pipeline_spark.operators.graph import (
        basket_pair_lift,
    )

    rows_strat = st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),  # basket
            st.sampled_from(["a", "b", "c", "d"]),  # item
        ),
        min_size=1,
        max_size=40,
    )

    @settings(max_examples=10, deadline=None)
    @given(rows_strat)
    def check(rows):
        baskets: dict[int, set] = {}
        for b, i in rows:
            baskets.setdefault(b, set()).add(i)
        n = len(baskets)
        from collections import Counter
        from itertools import combinations

        item_c = Counter(i for s in baskets.values() for i in s)
        pair_c = Counter()
        for s in baskets.values():
            for x, y in combinations(sorted(s), 2):
                pair_c[(x, y)] += 1
        ref = {
            k: (v, item_c[k[0]], item_c[k[1]], n)
            for k, v in pair_c.items()
        }
        df = spark.createDataFrame(rows, "b long, i string")
        got = {
            (r.item_a, r.item_b): (
                r.pair_count, r.count_a, r.count_b, r.n_baskets
            )
            for r in basket_pair_lift(
                df, "b", "i", min_pair_count=1
            ).collect()
        }
        assert got == ref

    check()


def test_kendalls_w_rank_invariance_and_bounds(spark):
    """W depends only on within-block RANKS: a per-block strictly
    monotone transform (3v + block) leaves it bit-identical; and W
    stays in [0, 1] whenever defined."""
    from legendary_data_pipeline_spark.operators.hypotests import (
        kendalls_w,
    )

    blocks_strat = st.lists(  # 3 blocks × treatments t0..t3, k=4
        st.lists(
            st.integers(min_value=0, max_value=9), min_size=4, max_size=4
        ),
        min_size=2,
        max_size=4,
    )

    @settings(max_examples=10, deadline=None)
    @given(blocks_strat)
    def check(blockvals):
        rows = [
            (bi, f"t{j}", v)
            for bi, vals in enumerate(blockvals)
            for j, v in enumerate(vals)
        ]
        trans = [(b, t, 3 * v + b) for b, t, v in rows]
        w1 = kendalls_w(
            _blocks(spark, rows), "b", "tr", "v"
        ).collect()[0]
        w2 = kendalls_w(
            _blocks(spark, trans), "b", "tr", "v"
        ).collect()[0]
        assert w1.w == w2.w  # bit-identical: ranks unchanged
        if w1.w is not None:
            assert 0.0 <= w1.w <= 1.0

    check()


def test_nelson_aalen_matches_python_reference(spark):
    from legendary_data_pipeline_spark.operators.stats import nelson_aalen

    subj_strat = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),
            st.integers(min_value=0, max_value=1),
        ),
        min_size=1,
        max_size=50,
    )

    @settings(max_examples=10, deadline=None)
    @given(subj_strat)
    def check(subjects):
        from collections import Counter

        d = Counter()
        c = Counter()
        for t, e in subjects:
            (d if e else c)[t] += 1
        times = sorted(set(d) | set(c))
        at_risk = len(subjects)
        h = 0.0
        ref = {}
        for t in times:
            if d[t] > 0 and at_risk > 0:
                h += d[t] / at_risk
            ref[t] = (at_risk, d[t], c[t], h)
            at_risk -= d[t] + c[t]
        df = spark.createDataFrame(subjects, "d long, e long")
        got = {
            r.t: (r.n_at_risk, r.n_events, r.n_censored, r.cum_hazard_e6)
            for r in nelson_aalen(df, "d", "e").collect()
        }
        assert set(got) == set(ref)
        for t in ref:
            assert got[t][:3] == ref[t][:3]
            assert abs(got[t][3] - ref[t][3] * 1e6) <= 1

    check()
