"""Round-9 distributed order-statistics prefix sums
(`operators.stats.distributed_below_counts`) — the single-partition-free
replacement for `Window.orderBy(value)` cumulative sums over
distinct-value frames.

Contracts pinned here:
- bit-parity with the sequential global window (exclusive + inclusive),
  for long and decimal(38,0) counts, under several partition counts
  (results must be a pure function of the data);
- grouped form: parity with `Window.partitionBy(groups).orderBy(value)`
  including NULL group keys (null-safe join semantics);
- ``{c}_total``: the group's sum of c on every row, for any partitioning,
  inclusive or exclusive, with NULL group keys and on an empty frame;
- BIGINT prefix sums raise on overflow instead of wrapping;
- gini_concentration coarse path ≡ window path;
- `dq_equal_freq_bins_price` runs no sizing job while it is built.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window, functions as F


def _seq_cum(rows, inclusive):
    """Driver-side oracle: sequential prefix sums over sorted values."""
    rows = sorted(rows)
    out, run = [], 0
    for v, c in rows:
        if inclusive:
            run += c
            out.append((v, run))
        else:
            out.append((v, run))
            run += c
    return dict(out)


def test_parity_with_sequential_window(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        distributed_below_counts,
    )

    random.seed(11)
    vals = [random.randint(-200, 200) for _ in range(500)]
    pairs = [(v, random.randint(1, 9)) for v in set(vals)]
    df = spark.createDataFrame(pairs, "v long, c long")
    for inclusive in (False, True):
        oracle = _seq_cum(pairs, inclusive)
        for parts in (1, 7):
            got = dict(
                distributed_below_counts(
                    df.repartition(parts), "v", ["c"], inclusive=inclusive
                )
                .select("v", "c_cum")
                .collect()
            )
            assert got == oracle, (inclusive, parts)


def test_decimal_counts_and_multiple_columns(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        distributed_below_counts,
    )

    df = spark.createDataFrame(
        [(i, i + 1, 2 * i + 1) for i in range(100)], "v long, a long, b long"
    ).select("v", F.col("a").cast("decimal(38,0)").alias("a"), "b")
    out = distributed_below_counts(df, "v", ["a", "b"]).collect()
    for r in out:
        v = r["v"]
        # Σ_{i<v} (i+1) and Σ_{i<v} (2i+1) in closed form
        assert int(r["a_cum"]) == v * (v + 1) // 2
        assert r["b_cum"] == v * v


def test_grouped_parity_with_partitioned_window(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        distributed_below_counts,
    )

    random.seed(23)
    rows = [
        (random.choice(["x", "y", None]), random.randint(0, 60))
        for _ in range(800)
    ]
    g = (
        spark.createDataFrame(rows, "g string, v long")
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = Window.partitionBy("g").orderBy(F.col("v").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    expected = sorted(
        [
            tuple(r)
            for r in g.select(
                "g",
                "v",
                F.coalesce(F.sum("c").over(w), F.lit(0)).alias("cum"),
            ).collect()
        ],
        key=str,
    )
    got = sorted(
        [
            tuple(r)
            for r in distributed_below_counts(
                g, "v", ["c"], group_cols=["g"]
            )
            .select("g", "v", "c_cum")
            .collect()
        ],
        key=str,
    )
    assert got == expected  # NULL group included — null-safe join


def test_gini_coarse_path_matches_window_path(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        gini_concentration,
    )

    random.seed(5)
    rows = [
        (random.choice(["p1", "p2", None]), random.randint(0, 400))
        for _ in range(1500)
    ]
    df = spark.createDataFrame(rows, "g string, cents long")
    a = sorted(
        [tuple(r) for r in gini_concentration(df, "cents", ["g"]).collect()],
        key=str,
    )
    b = sorted(
        [
            tuple(r)
            for r in gini_concentration(
                df, "cents", ["g"], coarse_groups=False
            ).collect()
        ],
        key=str,
    )
    assert a == b
    # global (ungrouped) form too
    assert (
        gini_concentration(df, "cents").collect()
        == gini_concentration(df, "cents", coarse_groups=False).collect()
    )


def test_empty_frame(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        distributed_below_counts,
    )

    df = spark.createDataFrame([], "v long, c long")
    assert distributed_below_counts(df, "v", ["c"]).collect() == []
    grouped = distributed_below_counts(
        spark.createDataFrame([], "g string, v long, c long"),
        "v", ["c"], group_cols=["g"],
    )
    assert "c_total" in grouped.columns
    assert grouped.collect() == []


def test_group_totals_with_null_keys_any_partitioning(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        distributed_below_counts,
    )

    random.seed(31)
    rows = [
        (random.choice(["x", "y", None]), random.randint(0, 90))
        for _ in range(700)
    ]
    g = (
        spark.createDataFrame(rows, "g string, v long")
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).alias("c"), F.sum("v").alias("s"))
    )
    want = {}
    for k, v in rows:
        n, s = want.get(k, (0, 0))
        want[k] = (n + 1, s + v)
    for inclusive in (False, True):
        for parts in (1, 7):
            out = distributed_below_counts(
                g.repartition(parts), "v", ["c", "s"],
                inclusive=inclusive, group_cols=["g"],
            ).collect()
            assert len(out) == g.count()
            for r in out:
                assert (r["c_total"], r["s_total"]) == want[r["g"]], (
                    inclusive, parts, r,
                )


def test_global_totals_keep_the_count_type(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        distributed_below_counts,
    )

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "v long, a long"
    ).select("v", "a", F.col("a").cast("decimal(38,0)").alias("d"))
    out = distributed_below_counts(df.repartition(7), "v", ["a", "d"])
    types = dict(out.dtypes)
    assert types["a_total"] == types["a_cum"] == "bigint"
    assert types["d_total"] == "decimal(38,0)"
    assert {(r["a_total"], int(r["d_total"])) for r in out.collect()} == {
        (1275, 1275)
    }


def test_bigint_prefix_sum_overflow_raises(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        distributed_below_counts,
    )

    big = 2**62
    df = spark.createDataFrame([(1, big), (2, big), (3, 1)], "v long, c long")
    with pytest.raises(Exception, match="(?i)overflow"):
        distributed_below_counts(df, "v", ["c"]).collect()


def _group_jobs(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_equal_freq_bins_query_job_budget(spark, sf_dir):
    """Building `dq_equal_freq_bins_price` runs only the stages under
    `distributed_below_counts`' two pins (the distinct-value aggregate,
    and the range shuffle with its boundary sampling); no group-count
    sizing job and no totals pass. The whole query stays within 10
    jobs."""
    from legendary_data_pipeline_spark.queries import ALL_QUERIES

    sc = spark.sparkContext
    build, action = "efb-budget-build", "efb-budget-action"
    df = _group_jobs(
        sc, build,
        lambda: ALL_QUERIES["dq_equal_freq_bins_price"].spark_fn(spark, sf_dir),
    )
    assert _group_jobs(sc, action, df.collect)
    n_build = len(sc.statusTracker().getJobIdsForGroup(build))
    n_action = len(sc.statusTracker().getJobIdsForGroup(action))
    assert n_build <= 4, n_build
    assert n_build + n_action <= 10, (n_build, n_action)
