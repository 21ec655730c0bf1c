"""Physical-plan shape contracts for the round-6 operators — the
100 TB claims in their docstrings asserted against actual plans:

- c4_gates and html_extract are ZERO-shuffle projections (map-only;
  parallelism = input splits).
- c4_span_stats and triangle_count never degenerate to a cartesian /
  broadcast-nested-loop join.
- gap_fill_daily has no data-sized SinglePartition exchange (the fill
  window partitions by group; only the group-bounds aggregate is
  global).
- chi_square_independence / mutual_information: the corpus shuffles
  only on the pair key; marginal/total joins are broadcasts.
- hard_negatives_ivf inherits ivf_topk's shape — no cartesian.
"""

from __future__ import annotations

from datetime import date

from pyspark.sql import functions as F

from tests.oracle_utils import executed_plan


def _docs(spark, n=40):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("First sentence here. Second one follows. Third closes. "),
            F.col("id"),
        ).alias("text"),
    )


def test_c4_gates_is_map_only(spark):
    from legendary_data_pipeline_spark.operators.curation import c4_gates

    plan = executed_plan(c4_gates(_docs(spark), bad_words=("porn",)))
    assert "Exchange" not in plan


def test_html_extract_is_map_only(spark):
    from legendary_data_pipeline_spark.operators.html import html_extract

    df = _docs(spark).select(
        "doc_id", F.concat(F.lit("<p>"), "text", F.lit("</p>")).alias("raw_html")
    )
    plan = executed_plan(html_extract(df))
    assert "Exchange" not in plan


def test_c4_span_stats_no_cartesian(spark):
    from legendary_data_pipeline_spark.operators.curation import c4_span_stats

    plan = executed_plan(c4_span_stats(_docs(spark)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gap_fill_window_is_group_partitioned(spark):
    from legendary_data_pipeline_spark.operators.stats import gap_fill_daily

    df = spark.createDataFrame(
        [("a", date(2024, 1, 1), 1), ("a", date(2024, 1, 5), 5)],
        "g string, d date, v long",
    )
    plan = executed_plan(gap_fill_daily(df, "d", ["v"], ["g"]))
    # The fill window partitions by the group key — no global sort.
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_chi_square_marginals_broadcast(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        chi_square_independence,
    )

    df = spark.range(1000).select(
        (F.col("id") % 3).cast("string").alias("a"),
        (F.col("id") % 5).cast("string").alias("b"),
    )
    plan = executed_plan(chi_square_independence(df, "a", "b"))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_triangle_count_no_cartesian(spark):
    from legendary_data_pipeline_spark.operators.graph import triangle_count

    edges = spark.range(100).select(
        (F.col("id") % 30).alias("id_a"), (F.col("id") % 7 + 30).alias("id_b")
    )
    plan = executed_plan(triangle_count(edges))
    assert "CartesianProduct" not in plan


def test_hard_negatives_ivf_no_cartesian(spark):
    from legendary_data_pipeline_spark.operators.similarity import (
        hard_negatives_ivf,
    )

    emb = spark.range(64).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 4).cast("string").alias("label"),
        F.array(
            (F.col("id") % 7).cast("double"),
            (F.col("id") % 5).cast("double"),
            (F.col("id") % 3).cast("double"),
        ).alias("embedding"),
    )
    plan = executed_plan(hard_negatives_ivf(emb, k=2, n_centroids=4, n_probe=2))
    assert "CartesianProduct" not in plan
