"""Physical-plan shape contracts for the round-5 operators — the
100 TB claims made in their docstrings, asserted against the actual
executed plans:

- Bloom probe is JOIN-FREE (the whole point vs a semi join).
- The leakage-safe split's component join carries NO broadcast hint
  (r12 verdict #1 inverted the original r5 contract: the component
  frame is data-sized at real dup rates, so AQE picks the strategy
  from measured size — the test pins the hint's absence).
- NB scoring broadcasts the m-row weight table.
- k-anonymity suppression is a semi join, not an inner join that could
  duplicate rows.
- Label-blocked MaxSim never degenerates to a cartesian product.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.oracle_utils import executed_plan


def _docs(spark, n=60):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text body number "), F.col("id")).alias("text"),
    )


def test_bloom_probe_plan_is_join_free(spark):
    from legendary_data_pipeline_spark.operators.bloom import (
        build_bloom,
        probe_bloom,
    )

    docs = _docs(spark)
    bm = build_bloom(docs, "text", m_bits=1 << 12)
    plan = executed_plan(probe_bloom(docs, "text", bm))
    assert "Join" not in plan
    assert "Exchange" not in plan  # zero shuffles on the probe side


def test_leakage_split_component_join_unhinted(spark):
    """r12 verdict #1 (inverted from the r5 original, which pinned a
    forced broadcast): the component frame scales with the corpus dup
    rate (30-50% on real web corpora), so the join must carry NO
    broadcast hint — AQE chooses from measured size, and the bounded
    hash-shuffle fallback stays available. Pin the hint's ABSENCE in
    the logical plan and the join's presence in the physical one."""
    from legendary_data_pipeline_spark.operators.curation import (
        leakage_safe_split,
    )

    docs = _docs(spark)
    comps = spark.createDataFrame(
        [(1, 0), (0, 0)], "node long, component long"
    )
    out = leakage_safe_split(docs, comps)
    logical = out._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical  # no forced broadcast
    assert "Join" in executed_plan(out)


def test_nb_scoring_broadcasts_weights(spark):
    from legendary_data_pipeline_spark.operators.classifier import (
        score_nb,
        train_nb,
    )

    docs = _docs(spark)
    weights, prior = train_nb(docs, docs.limit(10), m=256)
    plan = executed_plan(score_nb(docs, weights, prior, m=256))
    assert "BroadcastHashJoin" in plan


def test_suppression_is_semi_join(spark):
    from legendary_data_pipeline_spark.operators.profiling import (
        suppress_below_k,
    )

    df = spark.range(100).select(
        (F.col("id") % 5).alias("a"), (F.col("id") % 3).alias("b")
    )
    plan = executed_plan(suppress_below_k(df, ["a", "b"], k=10))
    assert "LeftSemi" in plan


def test_maxsim_blocked_is_not_cartesian(spark):
    from legendary_data_pipeline_spark.operators.retrieval import (
        maxsim_topk,
        multivec_from_embedding,
    )

    emb = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") + i).cast("double") for i in range(8)]).alias(
            "embedding"
        ),
        (F.col("id") % 4).cast("int").alias("label"),
    )
    mv = multivec_from_embedding(emb, n_vecs=2)
    plan = executed_plan(maxsim_topk(mv, k=2, query_filter=F.col("vec_id") < 2))
    assert "CartesianProduct" not in plan
    assert "Join" in plan
