"""Physical-plan shape contracts for the round-7 operators — their
docstrings' 100 TB claims asserted against actual plans:

- psi_drift / woe_iv: the corpus shuffles only into category-keyed
  aggregations; every join after is a broadcast (count tables are
  metadata) — no sort-merge join, no data-sized window.
- kendall_tau_b: never a CartesianProduct; the cell self-join is the
  only non-equi join and it broadcasts (cells are metadata).
- spearman_matrix / gini_concentration: the cumulative window runs over
  the distinct-value frame AFTER a groupBy — the plan must contain the
  value-keyed aggregate below the window, and no window directly over
  the raw input.
- scd2_from_changelog: all windows and the episode aggregation reuse
  ONE key-partitioned Exchange (no second data-sized shuffle).
- unigram_surprisal_gate: scoring joins the weight table; no cartesian.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.oracle_utils import executed_plan


def _vals(spark, n=64):
    return spark.range(n).select(
        (F.col("id") % 7).cast("string").alias("cat"),
        (F.col("id") % 2).cast("int").alias("lab"),
        (F.col("id") % 13).cast("long").alias("a"),
        (F.col("id") % 5).cast("long").alias("b"),
        (F.col("id") % 11).cast("double").alias("x"),
        ((F.col("id") * 3) % 17).cast("double").alias("y"),
    )


def test_psi_scans_each_side_once(spark):
    from legendary_data_pipeline_spark.operators.profiling import psi_drift

    d = _vals(spark)
    plan = executed_plan(psi_drift(d, d, "cat"))
    assert "CartesianProduct" not in plan
    # one corpus pass per snapshot side: totals/psi attach via windows
    # over the count frame, never extra agg branches re-reading the data
    assert plan.count("Range (0, 64") == 2


def test_woe_iv_single_corpus_pass(spark):
    from legendary_data_pipeline_spark.operators.mleval import woe_iv

    plan = executed_plan(woe_iv(_vals(spark), "cat", "lab"))
    assert "CartesianProduct" not in plan
    assert plan.count("Range (0, 64") == 1


def test_kendall_bounded_data_passes(spark):
    from legendary_data_pipeline_spark.operators.stats import kendall_tau_b

    plan = executed_plan(kendall_tau_b(_vals(spark), "a", "b"))
    assert "CartesianProduct" not in plan
    # marginals come from ONE annotated pass; only the cell self-join
    # adds two more consumers of the grid aggregation
    assert plan.count("Range (0, 64") <= 3


def test_spearman_window_rides_on_value_aggregate(spark):
    from legendary_data_pipeline_spark.operators.stats import spearman_matrix

    plan = executed_plan(spearman_matrix(_vals(spark), ["x", "y"]))
    # Round 9: the rank construction (distinct-value aggregate +
    # distributed prefix-sum windows) now lives BEHIND the pinned
    # rank-map checkpoint, so the final plan shows no Window at all —
    # only the moment aggregation over the joined spine remains.
    assert "Window" not in plan
    assert "HashAggregate" in plan
    # Round 9: the filtered base is pinned (p+1 consumers), and each
    # rank map's distinct-value spine is range-shuffled and pinned
    # inside distributed_below_counts — so NO source (Range) scan
    # appears in the final plan at all: every consumer reads a
    # checkpointed RDD. The old shape (3 Range scans, cumulative window
    # over a single partition of the distinct-value frame) is gone.
    assert plan.count("Range (0, 64") == 0
    # Round 9 (stacked rank build): ONE pinned rank map feeds both
    # column joins (2 scans) + the pinned spine (1) — down from the
    # per-column structure's 5 (2 maps x 2 consumers + spine).
    assert plan.count("Scan ExistingRDD") == 3


def test_pearson_single_source_pass(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        correlation_matrix,
    )

    plan = executed_plan(correlation_matrix(_vals(spark), ["x", "y", "a"]))
    # one moment pass; pair reshape explodes literal structs — a
    # per-pair union would replay the scan once per pair
    assert plan.count("Range (0, 64") == 1


def test_gini_window_rides_on_value_aggregate(spark):
    from legendary_data_pipeline_spark.operators.stats import (
        gini_concentration,
    )

    plan = executed_plan(gini_concentration(_vals(spark), "a", ["cat"]))
    assert "Window" in plan and "HashAggregate" in plan


def test_scd2_reuses_one_key_exchange(spark):
    from legendary_data_pipeline_spark.operators.scd import (
        scd2_from_changelog,
    )

    log = spark.createDataFrame(
        [("u", i, "s%d" % (i % 3)) for i in range(30)],
        "k string, t long, state string",
    )
    plan = executed_plan(scd2_from_changelog(log, ["k"], "t", ["state"]))
    # hashpartitioning on the key appears; count the data-sized
    # exchanges: every Exchange must be keyed (no SinglePartition over
    # data; the episode frame is episode-sized, also keyed)
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_surprisal_scoring_no_cartesian(spark):
    from legendary_data_pipeline_spark.operators.lm import (
        unigram_surprisal_gate,
    )

    docs = spark.createDataFrame(
        [(i, "a b c") for i in range(10)], "doc_id long, text string"
    )
    plan = executed_plan(unigram_surprisal_gate(docs, docs, 10**9))
    assert "CartesianProduct" not in plan


def test_embedding_quality_single_aggregation(spark):
    from legendary_data_pipeline_spark.operators.similarity import (
        embedding_quality_report,
    )

    emb = spark.createDataFrame(
        [(i, "l", [1.0, 2.0]) for i in range(10)],
        "vec_id long, label string, embedding array<double>",
    )
    plan = executed_plan(embedding_quality_report(emb, expected_dim=2))
    assert "Window" not in plan
    assert "Join" not in plan  # one straight aggregation
