"""Round-16 OPTIMIZATION pins.

The optimization round changed operator internals without changing any
query's results; these tests pin the internals' contracts. Among them,
`sessionize_stream`'s NaN handling replaces only NaN/None with 0.0 (the
batch coalesce contract) — ±inf propagates into totals instead of being
clamped (r15 advice).
"""

from __future__ import annotations

import numpy as np


def test_ensure_engine_confs_respects_explicit_threshold(spark):
    # r15 advice: the pin raises only the Spark DEFAULT threshold. An
    # externally-set value — e.g. -1 disabling broadcasts on a
    # memory-constrained deployment — must survive ensure_engine_confs.
    from legendary_data_pipeline_spark.session import ensure_engine_confs

    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ensure_engine_confs(spark)
        assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)


def test_spearman_int64_values_matches_decimal_path(spark):
    # r16 optimization: the int64 quantization fastpath
    # (round(v*10^scale)::long) must produce bit-identical output to
    # the decimal(38,scale) default inside its documented envelope —
    # exercised on ties, negatives, NULLs (listwise drop), and values
    # sitting ON the half-up rounding boundary at scale=4.
    from legendary_data_pipeline_spark.operators.stats import (
        spearman_matrix,
    )

    rows = [
        (1.00005, 2.0, None),       # .5 tie at the 4th decimal + NULL row
        (1.00005, 2.0, 0.5),        # duplicate of the boundary value
        (-3.25, 7.125, -0.0001),
        (-3.25, 7.125, -0.0001),    # full duplicate row (tie block)
        (0.0, -0.0, 0.0),           # signed zero quantizes to one value
        (123456.789, 0.33333, 99.9999),
        (2.5e9, 1e-4, -2.5e9),      # near the envelope, still exact
        (7.0, 8.0, 9.0),
    ]
    df = spark.createDataFrame(rows, "x double, y double, z double")
    base = sorted(
        map(tuple, spearman_matrix(df, ["x", "y", "z"]).collect())
    )
    fast = sorted(
        map(
            tuple,
            spearman_matrix(
                df, ["x", "y", "z"], int64_values=True
            ).collect(),
        )
    )
    assert base == fast


def test_sessionize_nan_only_replacement_preserves_inf():
    # The update body's value cleaning: NaN -> 0.0 exactly like the
    # batch coalesce(value, 0.0); ±inf must pass through untouched.
    vals = np.array([1.0, np.nan, np.inf, -np.inf, 2.5])
    cleaned = np.where(np.isnan(vals), 0.0, vals)
    assert cleaned[0] == 1.0 and cleaned[1] == 0.0 and cleaned[4] == 2.5
    assert np.isposinf(cleaned[2]) and np.isneginf(cleaned[3])
