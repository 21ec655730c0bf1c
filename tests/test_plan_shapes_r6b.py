"""Physical-plan shape contracts for the round-6b operators — the
scale claims in their docstrings asserted against actual plans:

- readability is a ZERO-shuffle projection.
- auc_by_group never runs a data-sized SinglePartition exchange: the
  rank sweep windows by group and the per-(group, score) reduction is
  an ordinary hash aggregation.
- pr_at_thresholds crosses the grid as a BROADCAST literal relation
  (no shuffle keyed on data for the grid join).
- prefix_filter_jaccard_join and keywords_tf_rarity never degenerate
  to a cartesian / broadcast-nested-loop join.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.oracle_utils import executed_plan


def _docs(spark, n=40):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma delta. epsilon zeta eta. "),
            F.col("id"),
        ).alias("text"),
    )


def _scored(spark, n=200):
    return spark.range(n).select(
        (F.col("id") % 4).alias("g"),
        (F.col("id").cast("double") / n).alias("score"),
        (F.col("id") % 3 == 0).cast("int").alias("lab"),
    )


def test_readability_is_map_only(spark):
    from legendary_data_pipeline_spark.operators.textstats import readability

    assert "Exchange" not in executed_plan(readability(_docs(spark)))


def test_auc_no_global_single_partition_sweep(spark):
    from legendary_data_pipeline_spark.operators.mleval import auc_by_group

    plan = executed_plan(auc_by_group(_scored(spark), ["g"], "score", "lab"))
    # the cumulative window must partition by group, not run globally
    assert "Exchange SinglePartition" not in plan


def test_pr_grid_is_broadcast(spark):
    from legendary_data_pipeline_spark.operators.mleval import (
        pr_at_thresholds,
    )

    plan = executed_plan(
        pr_at_thresholds(_scored(spark), "score", "lab", [0.2, 0.5, 0.8])
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_prefix_join_no_cartesian_or_bnlj(spark):
    from legendary_data_pipeline_spark.operators.setsim import (
        prefix_filter_jaccard_join,
        tokenize_ws_distinct,
    )

    tok = tokenize_ws_distinct(_docs(spark), "text", "doc_id")
    plan = executed_plan(prefix_filter_jaccard_join(tok, 1, 2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_keywords_no_cartesian(spark):
    from legendary_data_pipeline_spark.operators.textstats import (
        keywords_tf_rarity,
    )

    plan = executed_plan(keywords_tf_rarity(_docs(spark)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
