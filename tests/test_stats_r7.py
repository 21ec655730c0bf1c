"""Round-7 operator contracts: Spearman matrix, WOE/IV, PSI drift."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# spearman_matrix
# ---------------------------------------------------------------------------


def test_spearman_perfect_monotone_and_inverse(spark):
    from legendary_data_pipeline_spark.operators.stats import spearman_matrix

    # y = x^3 is nonlinear but perfectly monotone → rho exactly 1;
    # z = -x → rho exactly -1. Pearson would NOT give 1 for y.
    rows = [(float(x), float(x) ** 3, float(-x)) for x in range(1, 21)]
    df = spark.createDataFrame(rows, "x double, y double, z double")
    out = {
        (r["col_a"], r["col_b"]): r["rho"]
        for r in spearman_matrix(df, ["x", "y", "z"]).collect()
    }
    assert out[("x", "y")] == 1.0
    assert out[("x", "z")] == -1.0
    assert out[("y", "z")] == -1.0


def test_spearman_ties_average_ranks(spark):
    from legendary_data_pipeline_spark.operators.stats import spearman_matrix

    # Hand-checked tie case: x = [1,1,2], y = [1,2,3].
    # avg ranks x: [1.5, 1.5, 3], y: [1, 2, 3] → rho = 0.866025
    df = spark.createDataFrame(
        [(1.0, 1.0), (1.0, 2.0), (2.0, 3.0)], "x double, y double"
    )
    r = spearman_matrix(df, ["x", "y"]).collect()[0]
    assert r["n"] == 3
    assert r["rho"] == pytest.approx(math.sqrt(3) / 2, abs=1e-6)


def test_spearman_null_rows_listwise_dropped(spark):
    from legendary_data_pipeline_spark.operators.stats import spearman_matrix

    df = spark.createDataFrame(
        [(1.0, 1.0), (2.0, None), (None, 3.0), (4.0, 4.0), (5.0, 5.0)],
        "x double, y double",
    )
    r = spearman_matrix(df, ["x", "y"]).collect()[0]
    assert r["n"] == 3
    assert r["rho"] == 1.0


# ---------------------------------------------------------------------------
# woe_iv
# ---------------------------------------------------------------------------


def test_woe_iv_hand_computed(spark):
    from legendary_data_pipeline_spark.operators.mleval import woe_iv

    # cat A: 3 pos, 1 neg; cat B: 1 pos, 3 neg; s=0.5, K=2
    rows = [("A", 1)] * 3 + [("A", 0)] + [("B", 1)] + [("B", 0)] * 3
    df = spark.createDataFrame(rows, "cat string, lab int")
    out = {r["cat"]: r for r in woe_iv(df, "cat", "lab").collect()}
    pos_adj, neg_adj = 4 + 0.5 * 2, 4 + 0.5 * 2
    woe_a = math.log((3.5 * neg_adj) / (1.5 * pos_adj))
    dp_a, dn_a = 3.5 / pos_adj, 1.5 / neg_adj
    woe_b = math.log((1.5 * neg_adj) / (3.5 * pos_adj))
    dp_b, dn_b = 1.5 / pos_adj, 3.5 / neg_adj
    iv = (dp_a - dn_a) * woe_a + (dp_b - dn_b) * woe_b
    assert abs(out["A"]["woe_e6"] - woe_a * 1e6) <= 1
    assert abs(out["B"]["woe_e6"] - woe_b * 1e6) <= 1
    assert abs(out["A"]["iv_e6"] - iv * 1e6) <= 1
    assert out["A"]["iv_e6"] == out["B"]["iv_e6"]
    assert (out["A"]["n"], out["A"]["n_pos"], out["A"]["n_neg"]) == (4, 3, 1)


def test_woe_iv_null_semantics_and_zero_cells(spark):
    from legendary_data_pipeline_spark.operators.mleval import woe_iv

    df = spark.createDataFrame(
        [("A", 1), ("A", None), (None, 0), ("C", 1)],
        "cat string, lab int",
    )
    out = {r["cat"]: r for r in woe_iv(df, "cat", "lab").collect()}
    # NULL label dropped; NULL category is its own bin
    assert out["A"]["n"] == 1
    assert None in out
    # category C has zero negatives — smoothing keeps woe finite
    assert out["C"]["woe_e6"] is not None
    assert math.isfinite(out["C"]["woe_e6"])


# ---------------------------------------------------------------------------
# psi_drift
# ---------------------------------------------------------------------------


def test_psi_identical_snapshots_near_zero(spark):
    from legendary_data_pipeline_spark.operators.profiling import psi_drift

    df = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 20, "v string"
    )
    rows = psi_drift(df, df, "v").collect()
    assert len(rows) == 3
    assert all(abs(r["psi"]) < 1e-6 for r in rows)


def test_psi_detects_shift_and_one_sided_category(spark):
    from legendary_data_pipeline_spark.operators.profiling import psi_drift

    base = spark.createDataFrame([("a",)] * 90 + [("b",)] * 10, "v string")
    cur = spark.createDataFrame([("a",)] * 10 + [("c",)] * 90, "v string")
    rows = {r["value"]: r for r in psi_drift(base, cur, "v").collect()}
    assert set(rows) == {"a", "b", "c"}
    # 'b' vanished, 'c' appeared — both finite thanks to smoothing
    assert all(math.isfinite(r["psi_term"]) for r in rows.values())
    assert rows["a"]["psi"] > 0.25  # massively shifted
    # counts faithful
    assert (rows["b"]["n_base"], rows["b"]["n_current"]) == (10, 0)
    assert (rows["c"]["n_base"], rows["c"]["n_current"]) == (0, 90)


def test_psi_empty_side_raises(spark):
    from legendary_data_pipeline_spark.operators.profiling import psi_drift

    df = spark.createDataFrame([("a",)], "v string")
    empty = df.filter(F.lit(False))
    with pytest.raises(ValueError, match="empty"):
        psi_drift(df, empty, "v")


# ---------------------------------------------------------------------------
# kendall_tau_b
# ---------------------------------------------------------------------------


def test_kendall_perfect_concordance_and_discordance(spark):
    from legendary_data_pipeline_spark.operators.stats import kendall_tau_b

    asc = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 11)], "a long, b long"
    )
    r = kendall_tau_b(asc, "a", "b").collect()[0]
    assert (r["n"], r["tau_b"]) == (10, 1.0)
    assert int(r["concordant"]) == 45 and int(r["discordant"]) == 0
    desc = spark.createDataFrame(
        [(i, -i) for i in range(1, 11)], "a long, b long"
    )
    assert kendall_tau_b(desc, "a", "b").collect()[0]["tau_b"] == -1.0


def test_kendall_ties_hand_computed(spark):
    from legendary_data_pipeline_spark.operators.stats import kendall_tau_b

    # x = [1,1,2,2], y = [1,2,1,2]: C = 1*? hand count:
    # pairs across x-groups (x=1 vs x=2): (1,1)-(2,1) tie-y... enumerate:
    # (1,1),(1,2),(2,1),(2,2). Cross pairs: (1,1)v(2,1): y 1=1 tie;
    # (1,1)v(2,2): 1<2 C; (1,2)v(2,1): 2>1 D; (1,2)v(2,2): tie.
    # C=1, D=1, n0=6, n1=2 (x ties), n2=2 (y ties)
    # tau = 0 / sqrt(4*4) = 0
    df = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 1), (2, 2)], "a long, b long"
    )
    r = kendall_tau_b(df, "a", "b").collect()[0]
    assert int(r["concordant"]) == 1 and int(r["discordant"]) == 1
    assert r["tau_b"] == 0.0


def test_kendall_nulls_dropped_and_degenerate(spark):
    from legendary_data_pipeline_spark.operators.stats import kendall_tau_b

    df = spark.createDataFrame(
        [(1, 1), (2, None), (None, 3), (2, 2)], "a long, b long"
    )
    r = kendall_tau_b(df, "a", "b").collect()[0]
    assert r["n"] == 2 and r["tau_b"] == 1.0
    # constant column → denominator 0 → NULL
    const = spark.createDataFrame([(1, 5), (2, 5)], "a long, b long")
    assert kendall_tau_b(const, "a", "b").collect()[0]["tau_b"] is None


# ---------------------------------------------------------------------------
# gini_concentration
# ---------------------------------------------------------------------------


def test_gini_uniform_zero_and_max_concentration(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        gini_concentration,
    )

    even = spark.createDataFrame([(100,)] * 8, "v long")
    assert gini_concentration(even, "v").collect()[0]["gini"] == 0.0
    # one holder of everything: gini = (n-1)/n = 0.875
    conc = spark.createDataFrame([(0,)] * 7 + [(800,)], "v long")
    r = gini_concentration(conc, "v").collect()[0]
    assert r["gini"] == 0.875
    assert (r["n"], r["total"]) == (8, 800)


def test_gini_hand_computed_with_ties_and_groups(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        gini_concentration,
    )

    # group g1: [1,1,2] → sorted positions 1,2,3; Σ i·x = 1+2+6 = 9
    # gini = (2*9 - 4*4)/(3*4) = 2/12 = 0.166667
    df = spark.createDataFrame(
        [("g1", 1), ("g1", 1), ("g1", 2), ("g2", 5)], "g string, v long"
    )
    out = {r["g"]: r for r in gini_concentration(df, "v", ["g"]).collect()}
    assert out["g1"]["gini"] == 0.166667
    # singleton group: (2*1*5 - 2*5)/(1*5) = 0
    assert out["g2"]["gini"] == 0.0


def test_gini_zero_total_is_null(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        gini_concentration,
    )

    z = spark.createDataFrame([(0,), (0,)], "v long")
    assert gini_concentration(z, "v").collect()[0]["gini"] is None


# ---------------------------------------------------------------------------
# ks_two_sample
# ---------------------------------------------------------------------------


def test_ks_identical_zero_and_disjoint_one(spark):
    from legendary_data_pipeline_spark.operators.profiling import (
        ks_two_sample,
    )

    df = spark.createDataFrame([(v,) for v in [1, 2, 2, 3, 5]], "v long")
    r = ks_two_sample(df, df, F.col("v")).collect()[0]
    assert r["d_stat_e6"] == 0 and r["sqrt_scaled_e6"] == 0
    lo = spark.createDataFrame([(v,) for v in [1, 2, 3]], "v long")
    hi = spark.createDataFrame([(v,) for v in [10, 11]], "v long")
    r = ks_two_sample(lo, hi, F.col("v")).collect()[0]
    assert r["d_stat_e6"] == 1_000_000
    assert r["at_value"] == 3  # CDF gap completes at the last low value
    assert (r["n_base"], r["n_current"]) == (3, 2)


def test_ks_hand_computed_with_ties(spark):
    import math

    from legendary_data_pipeline_spark.operators.profiling import (
        ks_two_sample,
    )

    base = spark.createDataFrame([(v,) for v in [1, 1, 2, 4]], "v long")
    cur = spark.createDataFrame([(v,) for v in [2, 3, 3, 4]], "v long")
    # F1: 1→.5, 2→.75, 3→.75, 4→1 ; F2: 1→0, 2→.25, 3→.75, 4→1
    # diffs: .5, .5, 0, 0 → D=.5 at the SMALLEST attaining value (1)
    r = ks_two_sample(base, cur, F.col("v")).collect()[0]
    assert r["d_stat_e6"] == 500_000 and r["at_value"] == 1
    assert abs(r["sqrt_scaled_e6"] - 0.5 * math.sqrt(16 / 8) * 1e6) <= 1


def test_ks_null_values_dropped_empty_raises(spark):
    from legendary_data_pipeline_spark.operators.profiling import (
        ks_two_sample,
    )

    base = spark.createDataFrame([(1,), (None,)], "v long")
    cur = spark.createDataFrame([(1,), (2,)], "v long")
    r = ks_two_sample(base, cur, F.col("v")).collect()[0]
    assert r["n_base"] == 1 and r["n_current"] == 2
    empty = base.filter(F.lit(False))
    with pytest.raises(ValueError, match="empty"):
        ks_two_sample(base, empty, F.col("v"))


# ---------------------------------------------------------------------------
# kaplan_meier
# ---------------------------------------------------------------------------


def test_km_hand_computed_with_censoring(spark):
    from legendary_data_pipeline_spark.operators.stats import kaplan_meier

    # classic worked example: events at t=1 (1 of 5), t=3 (1 of 3);
    # censored at t=2 and t=4; event at t=5 (last of 1)
    rows = [(1, 1), (2, 0), (3, 1), (4, 0), (5, 1)]
    df = spark.createDataFrame(rows, "t long, e int")
    out = {r["t"]: r for r in kaplan_meier(df, "t", "e").collect()}
    assert out[1]["n_at_risk"] == 5 and out[1]["survival"] == 0.8
    # t=2 censoring leaves survival unchanged
    assert out[2]["n_at_risk"] == 4 and out[2]["survival"] == 0.8
    # t=3: 3 at risk, 1 event → 0.8 * 2/3
    assert out[3]["n_at_risk"] == 3
    assert out[3]["survival"] == pytest.approx(0.8 * 2 / 3, abs=1e-6)
    # t=5: last subject exits with an event → survival exactly 0
    assert out[5]["n_at_risk"] == 1 and out[5]["survival"] == 0.0


def test_km_all_censored_stays_at_one(spark):
    from legendary_data_pipeline_spark.operators.stats import kaplan_meier

    df = spark.createDataFrame([(i, 0) for i in range(1, 6)], "t long, e int")
    out = kaplan_meier(df, "t", "e").collect()
    assert all(r["survival"] == 1.0 for r in out)
    assert all(r["n_events"] == 0 for r in out)


def test_km_ties_and_null_drops(spark):
    from legendary_data_pipeline_spark.operators.stats import kaplan_meier

    rows = [(2, 1), (2, 1), (2, 0), (None, 1), (3, None), (4, 1)]
    df = spark.createDataFrame(rows, "t long, e int")
    out = {r["t"]: r for r in kaplan_meier(df, "t", "e").collect()}
    assert set(out) == {2, 4}
    # 4 valid subjects; at t=2: 2 events + 1 censored from 4 at risk
    assert out[2]["n_at_risk"] == 4
    assert (out[2]["n_events"], out[2]["n_censored"]) == (2, 1)
    assert out[2]["survival"] == 0.5  # 1 - 2/4
    assert out[4]["survival"] == 0.0  # last one exits with event


# ---------------------------------------------------------------------------
# logrank_test
# ---------------------------------------------------------------------------


def test_logrank_hand_computed(spark):
    import math

    from legendary_data_pipeline_spark.operators.stats import logrank_test

    # A dies early (t=1,2), B late (t=3,4) — all events, no censoring
    rows = [("A", 1, 1), ("A", 2, 1), ("B", 3, 1), ("B", 4, 1)]
    df = spark.createDataFrame(rows, "g string, t long, e int")
    r = logrank_test(df, "t", "e", "g", "A", "B").collect()[0]
    assert (r["n_a"], r["n_b"], r["events_a"], r["events_b"]) == (2, 2, 2, 2)
    e_a = 2 / 4 + 1 / 3  # t=1: d·n_a/n = 1·2/4; t=2: 1·1/3; t=3,4: 0
    v = (2 / 4) * (2 / 4) * (3 / 3) + (1 / 3) * (2 / 3) * (2 / 2)
    z = (2 - e_a) / math.sqrt(v)
    assert r["exp_a_e6"] == round(e_a * 1e6)
    assert abs(r["z_e6"] - z * 1e6) <= 1
    assert abs(r["chi2_e6"] - z * z * 1e6) <= 10
    # positive z: A had MORE events than expected (worse survival)
    assert r["z_e6"] > 0


def test_logrank_identical_groups_near_zero(spark):
    from legendary_data_pipeline_spark.operators.stats import logrank_test

    rows = [("A", t, 1) for t in range(1, 21)] + [
        ("B", t, 1) for t in range(1, 21)
    ]
    df = spark.createDataFrame(rows, "g string, t long, e int")
    r = logrank_test(df, "t", "e", "g", "A", "B").collect()[0]
    assert r["z_e6"] == 0 and r["chi2_e6"] == 0


def test_logrank_censoring_and_degenerate(spark):
    from legendary_data_pipeline_spark.operators.stats import logrank_test

    # all censored → no events → V = 0 → NULL z
    rows = [("A", 1, 0), ("B", 2, 0)]
    df = spark.createDataFrame(rows, "g string, t long, e int")
    r = logrank_test(df, "t", "e", "g", "A", "B").collect()[0]
    assert r["z_e6"] is None and r["chi2_e6"] is None
    assert (r["events_a"], r["events_b"]) == (0, 0)
    # out-of-scope groups and NULLs ignored
    rows2 = [("A", 1, 1), ("B", 2, 1), ("C", 1, 1), ("A", None, 1)]
    df2 = spark.createDataFrame(rows2, "g string, t long, e int")
    r2 = logrank_test(df2, "t", "e", "g", "A", "B").collect()[0]
    assert (r2["n_a"], r2["n_b"]) == (1, 1)


# ---------------------------------------------------------------------------
# cusum_curve (per-point companion to the 1-row cusum_changepoint summary)
# ---------------------------------------------------------------------------


def test_cusum_locates_step_change(spark):
    from legendary_data_pipeline_spark.operators.stats import cusum_curve

    # level 100 for days 1..10, then 200 for days 11..20: the |CUSUM|
    # peak sits at the last pre-change day (day 10)
    rows = [(d, 100) for d in range(1, 11)] + [
        (d, 200) for d in range(11, 21)
    ]
    df = spark.createDataFrame(rows, "day long, v long")
    out = cusum_curve(df, "day", "v").collect()
    cp = [r for r in out if r["is_changepoint"]]
    assert len(cp) == 1 and cp[0]["day"] == 10
    # mean is 150; cusum at day 10 = 10 * (100-150) = -500
    assert cp[0]["cusum"] == -500.0
    # the full curve partitions: cusum at the last day returns to 0
    last = next(r for r in out if r["day"] == 20)
    assert last["cusum"] == 0.0


def test_cusum_flat_series_and_groups(spark):
    from legendary_data_pipeline_spark.operators.stats import cusum_curve

    rows = [("a", d, 7) for d in range(5)] + [
        ("b", 0, 0), ("b", 1, 100), ("b", 2, 0),
    ]
    df = spark.createDataFrame(rows, "g string, day long, v long")
    out = {(r["g"], r["day"]): r for r in
           cusum_curve(df, "day", "v", ["g"]).collect()}
    # flat: cusum 0 everywhere, first day flagged (documented)
    assert all(out[("a", d)]["cusum"] == 0.0 for d in range(5))
    assert out[("a", 0)]["is_changepoint"] is True
    # spike group: peak |cusum| at day 0 (sum to day0 = -33.33) vs
    # day1 (+33.33): tie on |.|, earliest day wins
    flagged = [k for k, r in out.items() if r["g"] == "b" and r["is_changepoint"]]
    assert flagged == [("b", 0)]


# ---------------------------------------------------------------------------
# diff_in_diff
# ---------------------------------------------------------------------------


def test_did_hand_computed(spark):
    from legendary_data_pipeline_spark.operators.stats import diff_in_diff

    # treated: 100 -> 160 (+60); control: 50 -> 80 (+30) → did = +30
    rows = (
        [(1, 0, 100)] * 4 + [(1, 1, 160)] * 2
        + [(0, 0, 50)] * 3 + [(0, 1, 80)] * 6
    )
    df = spark.createDataFrame(rows, "g int, p int, v long")
    r = diff_in_diff(df, F.col("g"), F.col("p"), F.col("v")).collect()[0]
    assert (r["n_tp"], r["n_tc"], r["n_cp"], r["n_cc"]) == (2, 4, 6, 3)
    assert r["mean_treat_post"] == 160.0 and r["mean_ctrl_pre"] == 50.0
    assert r["did"] == 30.0


def test_did_missing_cell_is_null_and_null_rows_drop(spark):
    from legendary_data_pipeline_spark.operators.stats import diff_in_diff

    rows = [(1, 1, 10), (0, 0, 5), (0, 1, 6), (None, 1, 9), (1, None, 9)]
    df = spark.createDataFrame(rows, "g int, p int, v long")
    r = diff_in_diff(df, F.col("g"), F.col("p"), F.col("v")).collect()[0]
    # treated-pre cell empty → incomplete design → NULL did
    assert r["n_tc"] == 0 and r["did"] is None
    assert r["mean_treat_pre"] is None
    # NULL-keyed rows were excluded from every cell
    assert (r["n_tp"], r["n_cp"], r["n_cc"]) == (1, 1, 1)


def test_spearman_wide_magnitudes_not_dropped(spark):
    """Round-8 ADVICE regression: |v| >= 10^14 used to overflow the
    decimal(18,4) pre-ranking cast to NULL and get silently dropped by
    the listwise filter, changing n. The widened decimal(38,scale)
    quantization must keep every row."""
    from legendary_data_pipeline_spark.operators.stats import spearman_matrix

    rows = [(float(10**14 + i), float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "x double, y double")
    out = spearman_matrix(df, ["x", "y"]).collect()
    assert len(out) == 1
    assert out[0]["n"] == 10  # no silent drops
    assert out[0]["rho"] == 1.0  # still perfectly monotone


# ---------------------------------------------------------------------------
# survival-family cardinality guard (round 8)
# ---------------------------------------------------------------------------


def test_km_cardinality_guard_raises_with_message(spark):
    """Second-granularity durations (distinct-time frame ~ row count)
    must fail loud instead of funnelling the dataset through the
    single-partition cumulative window."""
    from legendary_data_pipeline_spark.operators.stats import kaplan_meier

    df = spark.createDataFrame(
        [(i, i % 2) for i in range(50)], "t long, e int"
    )
    out = kaplan_meier(df, "t", "e", max_distinct_times=10)
    with pytest.raises(Exception, match="bucket=.*duration width"):
        out.collect()


def test_km_bucket_coarsens_and_disarms_guard(spark):
    from legendary_data_pipeline_spark.operators.stats import kaplan_meier

    df = spark.createDataFrame(
        [(i, 1) for i in range(50)], "t long, e int"
    )
    # bucket=10 floors durations to {0,10,20,30,40}: five rows, all
    # events, risk sets 50/40/30/20/10.
    out = kaplan_meier(df, "t", "e", bucket=10, max_distinct_times=10)
    rows = {r["t"]: r for r in out.collect()}
    assert sorted(rows) == [0, 10, 20, 30, 40]
    assert rows[0]["n_at_risk"] == 50 and rows[0]["n_events"] == 10
    assert rows[40]["n_at_risk"] == 10
    # survival after each bucket: prod((n-d)/n) = 0.8, 0.6, ... , 0.0
    assert rows[0]["survival"] == 0.8
    assert rows[40]["survival"] == 0.0  # risk set empties exactly


def test_km_guard_quiet_below_cap(spark):
    from legendary_data_pipeline_spark.operators.stats import kaplan_meier

    df = spark.createDataFrame(
        [(1, 1), (1, 0), (2, 1)], "t int, e int"
    )
    rows = kaplan_meier(df, "t", "e").collect()
    assert [r["t"] for r in rows] == [1, 2]
    # output schema of t unchanged by the guard (rides on n_events)
    assert dict(kaplan_meier(df, "t", "e").dtypes)["t"] == "int"


def test_logrank_high_cardinality_and_bucket(spark):
    from legendary_data_pipeline_spark.operators.stats import logrank_test

    df = spark.createDataFrame(
        [(i, 1, "a" if i % 2 == 0 else "b") for i in range(60)],
        "t long, e int, g string",
    )
    # Round 9: continuous (all-distinct) durations no longer need a
    # guard — risk sets come from the distributed prefix-sum, so the
    # unbucketed form runs at any distinct-time cardinality and its
    # plan has no data-sized single-partition window.
    plan = (
        logrank_test(df, "t", "e", "g", "a", "b")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    r0 = logrank_test(df, "t", "e", "g", "a", "b").collect()[0]
    assert (r0["n_a"], r0["n_b"]) == (30, 30)
    assert (r0["events_a"], r0["events_b"]) == (30, 30)
    # bucketed form still runs; identical exits per group → z ~ 0
    r = logrank_test(df, "t", "e", "g", "a", "b", bucket=20).collect()[0]
    assert (r["n_a"], r["n_b"]) == (30, 30)
    assert (r["events_a"], r["events_b"]) == (30, 30)
    assert abs(r["z_e6"]) < 500_000
