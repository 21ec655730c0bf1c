"""Unit contracts for operators/stats.py (histogram, trend, PPS sample)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.operators.stats import (
    histogram_auto,
    linear_trend,
    systematic_weighted_sample,
)


# ---------------------------------------------------------------------------
# histogram_auto
# ---------------------------------------------------------------------------


def test_histogram_bins_and_counts(spark):
    # values 0..99 → lo=0, hi=99, width=ceil(100/10)=10 → 10 full bins
    df = spark.range(0, 100).select(F.col("id").alias("v"))
    hist = {
        r.bin: (r.bin_lo, r.bin_hi, r.n_rows)
        for r in histogram_auto(df, F.col("v"), n_bins=10).collect()
    }
    assert len(hist) == 10
    for b in range(10):
        assert hist[b] == (b * 10, (b + 1) * 10, 10)


def test_histogram_single_value(spark):
    df = spark.createDataFrame([(7,), (7,), (7,)], "v long")
    rows = histogram_auto(df, F.col("v"), n_bins=5).collect()
    assert len(rows) == 1
    assert (rows[0].bin, rows[0].n_rows) == (0, 3)
    assert rows[0].bin_lo <= 7 < rows[0].bin_hi


def test_histogram_nulls_excluded_and_grouped(spark):
    df = spark.createDataFrame(
        [("a", 0), ("a", 9), ("b", 9), ("b", None)], "g string, v long"
    )
    rows = histogram_auto(
        df, F.col("v"), n_bins=2, group_cols=["g"]
    ).collect()
    got = {(r.g, r.bin): r.n_rows for r in rows}
    # lo=0 hi=9 width=ceil(10/2)=5: bin0=[0,5) bin1=[5,10)
    assert got == {("a", 0): 1, ("a", 1): 1, ("b", 1): 1}


def test_histogram_empty(spark):
    df = spark.createDataFrame([], "v long")
    assert histogram_auto(df, F.col("v"), n_bins=4).count() == 0


# ---------------------------------------------------------------------------
# linear_trend
# ---------------------------------------------------------------------------


def test_trend_exact_line(spark):
    # y = 3x + 40 exactly
    df = spark.createDataFrame(
        [(x, 3 * x + 40) for x in range(10)], "x long, y long"
    )
    r = linear_trend(df, F.col("x"), F.col("y")).collect()[0]
    assert r.n_points == 10
    assert r.slope == pytest.approx(3.0, abs=1e-12)
    assert r.intercept == pytest.approx(40.0, abs=1e-9)


def test_trend_degenerate_groups(spark):
    df = spark.createDataFrame(
        [("one", 1, 5), ("flat", 2, 7), ("flat", 2, 9)],
        "g string, x long, y long",
    )
    got = {
        r.g: r for r in linear_trend(
            df, F.col("x"), F.col("y"), group_cols=["g"]
        ).collect()
    }
    assert got["one"].slope is None and got["one"].intercept is None
    # two points with identical x: zero x-variance → NULL
    assert got["flat"].slope is None


def test_trend_grouped_values(spark):
    df = spark.createDataFrame(
        [("up", x, 2 * x) for x in range(5)]
        + [("down", x, 100 - 5 * x) for x in range(5)],
        "g string, x long, y long",
    )
    got = {
        r.g: r.slope for r in linear_trend(
            df, F.col("x"), F.col("y"), group_cols=["g"]
        ).collect()
    }
    assert got["up"] == pytest.approx(2.0)
    assert got["down"] == pytest.approx(-5.0)


# ---------------------------------------------------------------------------
# systematic_weighted_sample
# ---------------------------------------------------------------------------


def _corpus(spark, n=400):
    return spark.range(0, n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("lang"),
        (50 + (F.col("id") * 37) % 400).alias("w"),
    )


def test_sample_deterministic_and_layout_independent(spark):
    df = _corpus(spark)
    kw = dict(weight_col="w", step=1000, strata=["lang"], id_col="doc_id")
    a = sorted(r.doc_id for r in systematic_weighted_sample(df, **kw).collect())
    b = sorted(r.doc_id for r in systematic_weighted_sample(df, **kw).collect())
    c = sorted(
        r.doc_id
        for r in systematic_weighted_sample(df.repartition(13), **kw).collect()
    )
    assert a == b == c
    assert len(a) > 0


def test_sample_rate_tracks_weight_share(spark):
    df = _corpus(spark)
    step = 1000
    total_w = df.agg(F.sum("w")).collect()[0][0]
    picked = systematic_weighted_sample(
        df, weight_col="w", step=step, strata=["lang"], id_col="doc_id"
    ).count()
    expected = total_w / step
    # systematic sampling: per-stratum count is within ±1 of its
    # weight/step, so 3 strata → ±3 overall
    assert abs(picked - expected) <= 3


def test_sample_heavy_row_always_kept_with_weight_one(spark):
    df = spark.createDataFrame(
        [(1, "a", 5000), (2, "a", 10), (3, "a", 10)], "doc_id long, lang string, w long"
    )
    rows = systematic_weighted_sample(
        df, weight_col="w", step=1000, strata=["lang"], id_col="doc_id"
    ).collect()
    got = {r.doc_id: r.inv_prob for r in rows}
    assert 1 in got
    assert got[1] == 1.0  # w ≥ step → certain inclusion
    for doc_id, inv in got.items():
        if doc_id != 1:
            assert inv == pytest.approx(1000 / 10)


def test_sample_rejects_empty_strata_and_bad_weights(spark):
    df = _corpus(spark)
    with pytest.raises(ValueError, match="strata"):
        systematic_weighted_sample(
            df, weight_col="w", step=100, strata=[], id_col="doc_id"
        )
    bad = spark.createDataFrame(
        [(1, "a", 0), (2, "a", None), (3, "a", -5)],
        "doc_id long, lang string, w long",
    )
    assert (
        systematic_weighted_sample(
            bad, weight_col="w", step=10, strata=["lang"], id_col="doc_id"
        ).count()
        == 0
    )


def test_sample_property_grid_math_vs_python_reference(spark):
    """Property test: the engine's kept-row set must equal a plain
    Python replay of the systematic grid over random weight multisets —
    pins the ceil/floor/phase arithmetic against an independent
    implementation."""
    import hashlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    HEX = 15

    def md5_long(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:HEX], 16)

    def seeded(s: str, seed: int) -> int:
        return md5_long(f"{seed}:{s}")

    def python_reference(rows, step, seed):
        # rows: list of (doc_id, lang, w)
        kept = []
        by_lang = {}
        for doc_id, lang, w in rows:
            if w is None or w <= 0:
                continue
            by_lang.setdefault(lang, []).append((doc_id, w))
        for lang, members in by_lang.items():
            members.sort(key=lambda t: (seeded(str(t[0]), seed), t[0]))
            phase = seeded(lang, seed + 1) % step
            cum = 0
            for doc_id, w in members:
                before, cum = cum, cum + w
                lo = (before + phase + step - 1) // step  # ceil
                hi = (cum + phase - 1) // step            # floor
                if hi >= lo:
                    kept.append(doc_id)
        return sorted(kept)

    weights = st.lists(
        st.integers(min_value=1, max_value=5000), min_size=1, max_size=40
    )

    @settings(max_examples=15, deadline=None)
    @given(weights, st.integers(min_value=1, max_value=3))
    def check(ws, n_langs):
        rows = [
            (i, str(i % n_langs), w) for i, w in enumerate(ws)
        ]
        df = spark.createDataFrame(rows, "doc_id long, lang string, w long")
        got = sorted(
            r.doc_id
            for r in systematic_weighted_sample(
                df, weight_col="w", step=1000, strata=["lang"],
                id_col="doc_id", seed=41,
            ).collect()
        )
        assert got == python_reference(rows, 1000, 41)

    check()


# ---------------------------------------------------------------------------
# cusum_changepoint
# ---------------------------------------------------------------------------


def test_cusum_detects_level_shift(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        cusum_changepoint,
    )

    rows = [(x, 100) for x in range(10)] + [(x, 200) for x in range(10, 20)]
    df = spark.createDataFrame(rows, "x long, y long")
    r = cusum_changepoint(df, F.col("x"), F.col("y")).collect()[0]
    assert r.n_points == 20
    assert r.change_x == 9  # last point of the pre-shift segment
    assert r.mean_before == pytest.approx(100.0)
    assert r.mean_after == pytest.approx(200.0)
    # |s| at t=10: |20*1000 - 10*3000| = 10000; peak = /n
    assert r.cusum_peak == pytest.approx(10000 / 20)


def test_cusum_grouped_and_degenerate(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        cusum_changepoint,
    )

    rows = (
        [("shift", x, 0) for x in range(5)]
        + [("shift", x, 1000) for x in range(5, 10)]
        + [("one", 0, 42)]
    )
    df = spark.createDataFrame(rows, "g string, x long, y long")
    got = {
        r.g: r
        for r in cusum_changepoint(
            df, F.col("x"), F.col("y"), group_cols=["g"]
        ).collect()
    }
    assert got["shift"].change_x == 4
    assert got["shift"].mean_before == pytest.approx(0.0)
    assert got["shift"].mean_after == pytest.approx(1000.0)
    assert got["one"].n_points == 1
    assert got["one"].change_x is None and got["one"].cusum_peak is None


def test_cusum_flat_series_small_peak(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        cusum_changepoint,
    )

    df = spark.createDataFrame([(x, 50) for x in range(10)], "x long, y long")
    r = cusum_changepoint(df, F.col("x"), F.col("y")).collect()[0]
    assert r.cusum_peak == pytest.approx(0.0)


def test_cusum_null_rows_excluded_like_oracle(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        cusum_changepoint,
    )

    df = spark.createDataFrame(
        [(1, 100), (2, None), (3, 200), (4, 200)], "x long, y long"
    )
    r = cusum_changepoint(df, F.col("x"), F.col("y")).collect()[0]
    # the NULL-y row carries no series position: n=3, shift after x=1
    assert r.n_points == 3
    assert r.change_x == 1
    assert r.mean_before == pytest.approx(100.0)
    assert r.mean_after == pytest.approx(200.0)


def test_seasonal_profile_indices(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        seasonal_profile,
    )

    # 14 days, phase 0 runs double the value of other phases
    rows = [(d, 200 if d % 7 == 0 else 100) for d in range(14)]
    df = spark.createDataFrame(rows, "day long, y long")
    got = {
        r.phase: r
        for r in seasonal_profile(df, F.col("day"), F.col("y")).collect()
    }
    assert set(got) == set(range(7))
    assert got[0].phase_mean == pytest.approx(200.0)
    assert got[3].phase_mean == pytest.approx(100.0)
    overall = (2 * 200 + 12 * 100) / 14
    assert got[0].overall_mean == pytest.approx(overall)
    assert got[0].seasonal_index == pytest.approx(200 / overall)
    assert all(r.n_obs == 2 for r in got.values())


# ---------------------------------------------------------------------------
# incremental rollup maintenance (operators/rollup.py)
# ---------------------------------------------------------------------------


def test_merge_rollup_equals_full_recompute(spark):
    from legendary_data_pipeline_spark.operators.rollup import (
        aggregate_batch,
        merge_rollup,
    )

    rows = [("a", 1, 10), ("a", 1, 20), ("a", 2, 5), ("b", 2, 7)]
    batch_rows = [("a", 2, 100), ("c", 3, 1)]  # overlap + brand-new key
    specs = [
        ("n", "count", None),
        ("s", "sum", F.col("v")),
        ("mx", "max", F.col("v")),
        ("mn", "min", F.col("v")),
    ]
    kinds = {"n": "count", "s": "sum", "mx": "max", "mn": "min"}
    keys = ["g", "d"]
    schema = "g string, d long, v long"
    hist = spark.createDataFrame(rows, schema)
    batch = spark.createDataFrame(batch_rows, schema)
    merged = merge_rollup(
        aggregate_batch(hist, keys, specs),
        aggregate_batch(batch, keys, specs),
        keys,
        kinds,
    )
    full = aggregate_batch(
        spark.createDataFrame(rows + batch_rows, schema), keys, specs
    )
    to_set = lambda df: {  # noqa: E731
        (r.g, r.d): (r.n, r.s, r.mx, r.mn) for r in df.collect()
    }
    assert to_set(merged) == to_set(full)


def test_merge_rollup_null_sum_state_preserved(spark):
    from legendary_data_pipeline_spark.operators.rollup import (
        aggregate_batch,
        merge_rollup,
    )

    schema = "g string, v long"
    hist = spark.createDataFrame([("a", None)], schema)
    batch = spark.createDataFrame([("a", None)], schema)
    specs = [("s", "sum", F.col("v")), ("n", "count", None)]
    merged = merge_rollup(
        aggregate_batch(hist, ["g"], specs),
        aggregate_batch(batch, ["g"], specs),
        ["g"],
        {"s": "sum", "n": "count"},
    ).collect()[0]
    # SQL: SUM over only NULLs is NULL — merging two NULL states must
    # stay NULL, not become 0
    assert merged.s is None
    assert merged.n == 2


def test_merge_rollup_rejects_unmergeable_kind(spark):
    from legendary_data_pipeline_spark.operators.rollup import merge_rollup

    df = spark.createDataFrame([("a", 1)], "g string, s long")
    with pytest.raises(ValueError, match="unmergeable"):
        merge_rollup(df, df, ["g"], {"s": "avg"})


# ---------------------------------------------------------------------------
# two_proportion_ztest / concentration
# ---------------------------------------------------------------------------


def test_ztest_known_values(spark):
    import math

    from legendary_data_pipeline_spark.operators.stats import (
        two_proportion_ztest,
    )

    rows = (
        [("control", True)] * 20 + [("control", False)] * 80
        + [("treatment", True)] * 35 + [("treatment", False)] * 65
    )
    df = spark.createDataFrame(rows, "variant string, converted boolean")
    r = two_proportion_ztest(
        df, "variant", F.col("converted"), "control", "treatment"
    ).collect()[0]
    assert (r.n_control, r.n_treatment) == (100, 100)
    assert r.conv_control == pytest.approx(0.20)
    assert r.conv_treatment == pytest.approx(0.35)
    assert r.lift == pytest.approx(0.15)
    pooled = 55 / 200
    se = math.sqrt(pooled * (1 - pooled) * (1 / 100 + 1 / 100))
    assert r.zscore == pytest.approx(0.15 / se)
    assert abs(r.zscore) > 1.96  # significant by construction


def test_ztest_degenerate_cells_null_z(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        two_proportion_ztest,
    )

    # all units converted → pooled p = 1 → zero SE → NULL z
    df = spark.createDataFrame(
        [("control", True), ("treatment", True)],
        "variant string, converted boolean",
    )
    r = two_proportion_ztest(
        df, "variant", F.col("converted"), "control", "treatment"
    ).collect()[0]
    assert r.zscore is None
    assert r.lift == pytest.approx(0.0)


def test_concentration_monopoly_and_uniform(spark):
    from legendary_data_pipeline_spark.operators.stats import concentration

    rows = (
        [("mono", 1, 100)]
        + [("uni", m, 25) for m in range(4)]
    )
    df = spark.createDataFrame(rows, "g string, m long, v long")
    got = {
        r.g: r
        for r in concentration(
            df, "m", F.col("v"), group_cols=["g"]
        ).collect()
    }
    assert got["mono"].hhi == pytest.approx(1.0)
    assert got["mono"].gini == pytest.approx(0.0)  # single member
    assert got["uni"].hhi == pytest.approx(0.25)  # 4 equal shares
    assert got["uni"].gini == pytest.approx(0.0)  # perfectly equal
    skew = spark.createDataFrame(
        [("s", 1, 97), ("s", 2, 1), ("s", 3, 1), ("s", 4, 1)],
        "g string, m long, v long",
    )
    r = concentration(skew, "m", F.col("v"), group_cols=["g"]).collect()[0]
    assert r.hhi > 0.9
    assert r.gini > 0.7


# ---------------------------------------------------------------------------
# association_rules / twap
# ---------------------------------------------------------------------------


def test_association_rules_known_stats(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        association_rules,
    )

    # 4 baskets; {x,y} together in 2; x alone once; z with y once
    rows = [
        (1, "x"), (1, "y"),
        (2, "x"), (2, "y"),
        (3, "x"),
        (4, "y"), (4, "z"),
        (4, "y"),  # duplicate (basket,item) row collapses
    ]
    df = spark.createDataFrame(rows, "b long, i string")
    out = association_rules(
        df, basket_col="b", item_col="i", min_pair_baskets=1, top_k=10
    ).collect()
    got = {(r.item_a, r.item_b): r for r in out}
    xy = got[("x", "y")]
    assert (xy.pair_baskets, xy.a_baskets, xy.b_baskets) == (2, 3, 3)
    assert xy.support == pytest.approx(2 / 4)
    assert xy.confidence_a_to_b == pytest.approx(2 / 3)
    assert xy.lift == pytest.approx(4 * 2 / 9)
    yz = got[("y", "z")]
    assert yz.pair_baskets == 1
    assert yz.lift == pytest.approx(4 * 1 / 3)
    # min support prune
    assert (
        association_rules(
            df, basket_col="b", item_col="i", min_pair_baskets=2
        ).count()
        == 1
    )


def test_twap_weights_by_duration(spark):
    from legendary_data_pipeline_spark.operators.stats import twap

    # value 100 holds 3 ticks, then 200 holds 1 tick; last obs open
    df = spark.createDataFrame(
        [(0, 100, 1), (3, 200, 2), (4, 999, 3)], "t long, v long, id long"
    )
    r = twap(
        df, ts=F.col("t"), value=F.col("v"), id_col="id"
    ).collect()[0]
    assert r.n_obs == 3
    assert r.span == 4
    assert r.twap == pytest.approx((100 * 3 + 200 * 1) / 4)


def test_twap_single_observation_null(spark):
    from legendary_data_pipeline_spark.operators.stats import twap

    df = spark.createDataFrame([("a", 5, 7)], "g string, t long, v long")
    r = twap(
        df, ts=F.col("t"), value=F.col("v"), group_cols=["g"]
    ).collect()[0]
    assert r.twap is None and r.n_obs == 1


def test_seasonal_profile_rejects_bad_period(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        seasonal_profile,
    )

    df = spark.createDataFrame([(1, 2)], "day long, y long")
    with pytest.raises(ValueError, match="period must be positive"):
        seasonal_profile(df, F.col("day"), F.col("y"), period=0)


# ---------------------------------------------------------------------------
# mergeable quantile sketch
# ---------------------------------------------------------------------------


def _qs_ops():
    from legendary_data_pipeline_spark.operators.stats import (
        merge_quantile_sketches,
        quantile_sketch,
        sketch_quantile,
    )

    return quantile_sketch, merge_quantile_sketches, sketch_quantile


def test_quantile_sketch_merge_equals_direct(spark):
    """Per-day sketches merged == one sketch over all data — the
    mergeability contract that makes incremental rollups sound."""
    quantile_sketch, merge_quantile_sketches, sketch_quantile = _qs_ops()
    from pyspark.sql import functions as F

    df = spark.range(3000).select(
        F.lit("t").alias("g"),
        (F.col("id") % 7).alias("day"),
        ((F.col("id") * 37) % 1000).alias("v"),
    )
    daily = quantile_sketch(df, ["g", "day"], "v", 0, 999, 32)
    merged = merge_quantile_sketches(daily, ["g"])
    direct = quantile_sketch(df, ["g"], "v", 0, 999, 32)
    a = {(r["g"], r["bucket"]): r["cnt"] for r in merged.collect()}
    b = {(r["g"], r["bucket"]): r["cnt"] for r in direct.collect()}
    assert a == b

    est_m = sketch_quantile(merged, ["g"], [50, 90], 0, 999, 32)
    est_d = sketch_quantile(direct, ["g"], [50, 90], 0, 999, 32)
    assert sorted(map(tuple, est_m.collect())) == sorted(
        map(tuple, est_d.collect())
    )


def test_quantile_sketch_error_within_one_bucket(spark):
    quantile_sketch, _, sketch_quantile = _qs_ops()
    from pyspark.sql import functions as F

    n, lo, hi, bins = 5000, 0, 10_000, 64
    df = spark.range(n).select(
        F.lit("g").alias("g"), ((F.col("id") * 97) % 10_001).alias("v")
    )
    sk = quantile_sketch(df, ["g"], "v", lo, hi, bins)
    est = {
        r["q_pct"]: r["estimate"]
        for r in sketch_quantile(
            sk, ["g"], [50, 90, 99], lo, hi, bins
        ).collect()
    }
    exact = df.selectExpr(
        "percentile(v, 0.50) AS p50",
        "percentile(v, 0.90) AS p90",
        "percentile(v, 0.99) AS p99",
    ).first()
    width = (hi - lo) / bins
    assert abs(est[50] - exact["p50"]) <= width
    assert abs(est[90] - exact["p90"]) <= width
    assert abs(est[99] - exact["p99"]) <= width


def test_quantile_sketch_clamps_out_of_grid(spark):
    quantile_sketch, _, _ = _qs_ops()
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(-50,), (0,), (500,), (1000,), (2000,)], "v long"
    ).withColumn("g", F.lit("g"))
    sk = {
        r["bucket"]: r["cnt"]
        for r in quantile_sketch(df, ["g"], "v", 0, 1000, 10).collect()
    }
    assert sk[0] == 2  # -50 clamps into bucket 0
    assert sk[9] == 2  # 1000 (== hi) and 2000 clamp into the last bucket
    assert sk[5] == 1


# ---------------------------------------------------------------------------
# exact-moment association statistics
# ---------------------------------------------------------------------------


def test_correlation_matrix_known_values(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        correlation_matrix,
    )

    # y = 2x exactly (corr 1), z anti-correlated with x (corr -1).
    rows = [(float(i), float(2 * i), float(10 - i)) for i in range(1, 6)]
    df = spark.createDataFrame(rows, "x double, y double, z double")
    got = {
        (r["col_a"], r["col_b"]): r["corr"]
        for r in correlation_matrix(df, ["x", "y", "z"]).collect()
    }
    assert got[("x", "y")] == 1.0
    assert got[("x", "z")] == -1.0
    assert got[("y", "z")] == -1.0


def test_correlation_matrix_zero_variance_and_nulls(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        correlation_matrix,
    )

    rows = [(1.0, 5.0), (2.0, 5.0), (3.0, 5.0), (None, 1.0)]
    df = spark.createDataFrame(rows, "x double, c double")
    r = correlation_matrix(df, ["x", "c"]).first()
    assert r["n"] == 3  # listwise-complete: NULL row dropped
    assert r["corr"] is None  # zero variance → NULL, not a div-by-zero


def test_chi_square_perfect_dependence_and_independence(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        chi_square_independence,
    )

    # Perfect dependence: b == a ⇒ V = 1.
    dep = spark.createDataFrame(
        [("x", "x")] * 5 + [("y", "y")] * 5, "a string, b string"
    )
    r = chi_square_independence(dep, "a", "b").first()
    assert r["dof"] == 1 and r["cramers_v_e6"] == 1_000_000
    # Perfect independence: uniform product table ⇒ chi2 = 0.
    ind = spark.createDataFrame(
        [(a, b) for a in "xy" for b in "uv" for _ in range(3)],
        "a string, b string",
    )
    r = ind.transform(lambda d: chi_square_independence(d, "a", "b")).first()
    assert r["chi2_e6"] == 0 and r["cramers_v_e6"] == 0


def test_chi_square_degenerate_single_category(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        chi_square_independence,
    )

    df = spark.createDataFrame(
        [("only", "u"), ("only", "v")], "a string, b string"
    )
    r = chi_square_independence(df, "a", "b").first()
    assert r["dof"] == 0 and r["chi2_e6"] is None and r["cramers_v_e6"] is None


def test_mutual_information_bounds(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        mutual_information,
    )
    import math

    # b == a: MI = H(a) = ln 2 for a uniform binary column; NMI = 1.
    dep = spark.createDataFrame(
        [("x", "x")] * 4 + [("y", "y")] * 4, "a string, b string"
    )
    r = mutual_information(dep, "a", "b").first()
    assert r["mi_e6"] == round(math.log(2) * 1e6) and r["nmi_e6"] == 1_000_000
    # Independent: MI = 0.
    ind = spark.createDataFrame(
        [(a, b) for a in "xy" for b in "uv" for _ in range(3)],
        "a string, b string",
    )
    r = mutual_information(ind, "a", "b").first()
    assert r["mi_e6"] == 0


def test_gap_fill_daily_spine_and_ffill(spark):
    from datetime import date

    from legendary_data_pipeline_spark.operators.stats import gap_fill_daily

    rows = [
        ("a", date(2024, 1, 1), 10),
        ("a", date(2024, 1, 4), 40),   # 2 missing days before
        ("b", date(2024, 2, 1), 7),    # single-day group → no fill
    ]
    df = spark.createDataFrame(rows, "g string, d date, v long")
    out = gap_fill_daily(df, "d", ["v"], ["g"]).collect()
    got = {(r["g"], str(r["d"])): (r["v"], r["observed"]) for r in out}
    assert got[("a", "2024-01-01")] == (10, True)
    assert got[("a", "2024-01-02")] == (10, False)
    assert got[("a", "2024-01-03")] == (10, False)
    assert got[("a", "2024-01-04")] == (40, True)
    assert got[("b", "2024-02-01")] == (7, True)
    assert len(got) == 5


def test_gap_fill_daily_multiple_value_cols(spark):
    from datetime import date

    from legendary_data_pipeline_spark.operators.stats import gap_fill_daily

    df = spark.createDataFrame(
        [(date(2024, 1, 1), 1, 100), (date(2024, 1, 3), 3, 300)],
        "d date, x long, y long",
    )
    out = {str(r["d"]): r for r in gap_fill_daily(df, "d", ["x", "y"]).collect()}
    assert out["2024-01-02"]["x"] == 1 and out["2024-01-02"]["y"] == 100


def test_rfm_scores_contract(spark):
    from datetime import date

    from pyspark.sql import functions as F

    from legendary_data_pipeline_spark.operators.stats import rfm_scores

    # 10 customers, customer i has i+1 orders of 100*(i+1) cents each,
    # last order i days before the anchor.
    rows = []
    for i in range(10):
        for k in range(i + 1):
            rows.append((i, date(2024, 6, 30 - i), (i + 1) * 1.00))
    df = spark.createDataFrame(rows, "cust long, d date, amt double")
    out = {
        r["customer"]: r
        for r in rfm_scores(
            df, "cust", "d",
            F.round(F.col("amt").cast("decimal(18,2)") * 100, 0).cast("long"),
        ).collect()
    }
    # Monotone inputs → monotone scores; extremes hit 1 and 5.
    assert out[9]["f_score"] == 5 and out[0]["f_score"] == 1
    assert out[9]["m_score"] == 5 and out[0]["m_score"] == 1
    # Customer 0 ordered on the anchor day → best recency.
    assert out[0]["recency_days"] == 0 and out[0]["r_score"] == 5
    assert out[9]["r_score"] == 1
    assert out[9]["rfm"] == "155" and out[0]["rfm"] == "511"
    for r in out.values():
        assert 1 <= r["r_score"] <= 5
        assert r["rfm"] == f'{r["r_score"]}{r["f_score"]}{r["m_score"]}'


def test_contribution_topn_with_other(spark):
    from pyspark.sql import functions as F

    from legendary_data_pipeline_spark.operators.stats import (
        contribution_topn,
    )

    rows = [("a", 50), ("a", 10), ("b", 30), ("c", 8), ("d", 2)]
    df = spark.createDataFrame(rows, "cat string, v long")
    got = {
        r["category"]: r
        for r in contribution_topn(df, "cat", F.col("v"), n=2).collect()
    }
    assert got["a"]["value_cents"] == 60 and got["a"]["rank"] == 1
    assert got["b"]["rank"] == 2
    assert got["__other__"]["value_cents"] == 10
    assert got["__other__"]["rank"] is None
    assert got["__other__"]["share"] == 0.1
    assert abs(sum(r["share"] for r in got.values()) - 1.0) < 1e-9
    # No tail row when everything fits in the top n.
    full = contribution_topn(df, "cat", F.col("v"), n=10).collect()
    assert all(r["category"] != "__other__" for r in full)


def test_temporal_embargo_split_ordering(spark):
    from datetime import date

    from legendary_data_pipeline_spark.operators.stats import (
        temporal_embargo_split,
    )

    rows = [(i, date(2024, 1, 1 + i)) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, d date")
    out = temporal_embargo_split(df, "d", train_frac=0.5, embargo_days=3)
    by_split = {}
    for r in out.collect():
        by_split.setdefault(r["split"], []).append(r["d"])
    # Strict temporal ordering: max(train) < min(embargo) <= max(embargo)
    # < min(val); embargo spans exactly embargo_days.
    assert max(by_split["train"]) < min(by_split["embargo"])
    assert max(by_split["embargo"]) < min(by_split["val"])
    assert len(by_split["embargo"]) == 3
    assert len(by_split["train"]) + len(by_split["embargo"]) + len(
        by_split["val"]
    ) == 20


def test_partial_correlation_hand_computed(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        partial_correlation,
    )

    # y = x + z with x ⟂ z on a full 2x2 design replicated: the
    # partial r_xy.z must EXCEED the marginal r_xy (z is a suppressor
    # of none/confounder of part of the variance)
    rows = []
    for x in (0, 10):
        for z in (0, 10):
            for _ in range(3):
                rows.append((x, x + z, z))
    df = spark.createDataFrame(rows, "x long, y long, z long")
    out = partial_correlation(df, "x", "y", "z").collect()[0]
    assert out.n == 12
    # exact design: r_xy = r_yz = 1/sqrt(2), r_xz = 0 ->
    # partial = (1/sqrt2) / sqrt(1/2) = 1.0
    assert out.r_xz_e6 == 0
    assert out.r_xy_e6 == round(1 / 2 ** 0.5 * 1e6)
    assert out.r_xy_z_e6 == 1_000_000


def test_partial_correlation_confounder_removed(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        partial_correlation,
    )

    # x and y are BOTH copies of z (plus nothing): marginal r_xy = 1,
    # but controlling z leaves no variance -> NULL partial (0/0)
    rows = [(z, z, z) for z in range(10)]
    df = spark.createDataFrame(rows, "x long, y long, z long")
    out = partial_correlation(df, "x", "y", "z").collect()[0]
    assert out.r_xy_e6 == 1_000_000
    assert out.r_xy_z_e6 is None


def test_uncertainty_coefficient_directional(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        uncertainty_coefficient,
    )

    # x functionally determines y (y = x mod 2) but not vice versa:
    # U(y|x) = 1, U(x|y) < 1
    rows = [(str(i % 4), str(i % 2)) for i in range(40)]
    df = spark.createDataFrame(rows, "x string, y string")
    out = uncertainty_coefficient(df, "x", "y").collect()[0]
    assert out.u_y_given_x_e6 == 1_000_000
    assert out.u_x_given_y_e6 < 1_000_000
    # independent columns: all coefficients ~0 (exact 0 on a full
    # product design)
    rows2 = [(str(i % 2), str(j % 2)) for i in range(4) for j in range(4)]
    df2 = spark.createDataFrame(rows2, "x string, y string")
    out2 = uncertainty_coefficient(df2, "x", "y").collect()[0]
    assert out2.u_sym_e6 == 0


def test_uncertainty_coefficient_constant_column_null(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        uncertainty_coefficient,
    )

    rows = [("a", str(i % 3)) for i in range(9)]
    df = spark.createDataFrame(rows, "x string, y string")
    out = uncertainty_coefficient(df, "x", "y").collect()[0]
    # H(x) = 0: U(x|y) undefined; U(y|x) = 0 (knowing the constant
    # removes nothing)
    assert out.h_x_e6 == 0
    assert out.u_x_given_y_e6 is None
    assert out.u_y_given_x_e6 == 0


def test_trimmed_mean_hand_computed(spark):
    from legendary_data_pipeline_spark.operators.stats import trimmed_mean

    # 10 values 1..9 + outlier 1000, trim 10% per side (t=1):
    # drop min (1) and max (1000) -> mean of 2..9 = 5.5
    rows = [("a", v) for v in list(range(1, 10)) + [1000]]
    df = spark.createDataFrame(rows, "g string, v long")
    out = trimmed_mean(
        df, "v", group_cols=["g"], trim_ppm=100_000
    ).collect()[0]
    assert out.n == 10 and out.n_trimmed_per_side == 1
    assert out.trimmed_mean == 5.5


def test_trimmed_mean_partial_tie_at_cut(spark):
    from legendary_data_pipeline_spark.operators.stats import trimmed_mean

    # values [1,1,1,2,3] with t=1: the tie-group of 1s straddles the
    # low cut — keep 2 of the 3 ones, drop the 3 (high cut):
    # kept = 1,1,2 -> mean 4/3
    rows = [("a", v) for v in (1, 1, 1, 2, 3)]
    df = spark.createDataFrame(rows, "g string, v long")
    out = trimmed_mean(
        df, "v", group_cols=["g"], trim_ppm=200_000
    ).collect()[0]
    assert out.n_trimmed_per_side == 1
    assert out.trimmed_mean == 4.0 / 3.0


def test_trimmed_mean_degenerate_and_validation(spark):
    from legendary_data_pipeline_spark.operators.stats import trimmed_mean

    # n=2 with 25% trim -> t=0 (floor) -> plain mean; trim_ppm=0 ->
    # plain mean; invalid ppm raises
    rows = [("a", 10), ("a", 20)]
    df = spark.createDataFrame(rows, "g string, v long")
    out = trimmed_mean(df, "v", group_cols=["g"], trim_ppm=250_000).collect()[0]
    assert out.trimmed_mean == 15.0
    plain = trimmed_mean(df, "v", group_cols=["g"], trim_ppm=0).collect()[0]
    assert plain.trimmed_mean == 15.0
    import pytest as _pt
    with _pt.raises(ValueError, match="trim_ppm"):
        trimmed_mean(df, "v", trim_ppm=600_000)


def test_partial_correlation_clamp_no_ansi_crash(spark):
    """Round-10 review regression: x identical to z makes r_xz exceed
    1 by an ulp -> (1-r^2) negative -> sqrt NaN -> ANSI CAST_OVERFLOW
    killed the job before the clamp; now the partial is NULL."""
    from legendary_data_pipeline_spark.operators.stats import (
        partial_correlation,
    )

    rows = [(0, 1, 0), (1, 0, 1), (2, 2, 2)]
    df = spark.createDataFrame(rows, "x long, y long, z long")
    out = partial_correlation(df, "x", "y", "z").collect()[0]
    assert out.r_xz_e6 == 1_000_000  # clamped, not 1.0000000000000002
    assert out.r_xy_z_e6 is None  # 0/0 partial -> NULL, never garbage
    # x=y=z: both den2 factors degenerate -> NULL (previously could
    # emit a confident -0.5 depending on rounding direction)
    rows2 = [(v, v, v) for v in (0, 1, 2)]
    df2 = spark.createDataFrame(rows2, "x long, y long, z long")
    out2 = partial_correlation(df2, "x", "y", "z").collect()[0]
    assert out2.r_xy_z_e6 is None


def test_lorenz_points_hand_computed(spark):
    from legendary_data_pipeline_spark.operators.stats import lorenz_points

    # values 1..10, total 55: bottom 50% (rows 1-5 by value) hold
    # 15/55; bottom 100% hold all; n_points=2
    rows = [("a", v) for v in range(1, 11)]
    df = spark.createDataFrame(rows, "g string, v long")
    out = {
        r.point: r
        for r in lorenz_points(
            df, "v", group_cols=["g"], n_points=2
        ).collect()
    }
    assert out[1].frac_rows == 0.5 and out[1].cum_share == 15.0 / 55.0
    assert out[2].cum_share == 1.0


def test_lorenz_points_tie_straddle_and_validation(spark):
    from legendary_data_pipeline_spark.operators.stats import lorenz_points

    # [5,5,5,85]: bottom 50% = 2 rows of the 5-tie -> 10/100
    rows = [("a", 5), ("a", 5), ("a", 5), ("a", 85)]
    df = spark.createDataFrame(rows, "g string, v long")
    out = {
        r.point: r
        for r in lorenz_points(
            df, "v", group_cols=["g"], n_points=2
        ).collect()
    }
    assert out[1].cum_share == 10.0 / 100.0
    import pytest as _pt
    with _pt.raises(ValueError, match="n_points"):
        lorenz_points(df, "v", n_points=0)
