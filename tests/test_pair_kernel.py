"""The pair kernel of `operators/similarity.py` scores exactly as the JVM
folds do.

Each test builds its inputs in one partition, so every block reaches the
kernel as several rows of one Arrow batch, and compares the kernel's
rows with the same operator written as the interpreted JVM folds it
replaced (`dot_expr` / `norm_expr` over a pair join, then the same
rounding and ranking). The fold-order cases are `test_fold_order.CASES`:
a BLAS or pairwise summation gives a different double for each of them.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.operators import similarity as S
from tests.test_fold_order import CASES, _fold

_SCHEMA = "vec_id long, label int, embedding array<double>"

#: NULL vector, NULL element, ragged length, NaN element, NULL id and
#: NULL label next to ordinary rows.
_EDGE_ROWS = [
    (0, 1, [1.0, 0.0, 0.0]),
    (1, 1, [0.6, 0.8, 0.0]),
    (2, 1, None),
    (3, 1, [1.0, None, 0.5]),
    (4, 1, [1.0, 2.0]),
    (5, 1, [float("nan"), 1.0, 0.0]),
    (6, 1, [0.5, 0.5, 0.5]),
    (7, 2, [0.9, 0.1, 0.2]),
    (8, 2, [0.2, 0.9, 0.1]),
    (9, None, [0.3, 0.3, 0.9]),
    (None, 2, [0.9, 0.2, 0.1]),
    (10, 2, [3.0, 4.0]),
    (11, 1, [0.1, 0.3, 0.2]),
]


def _frame(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA).coalesce(1)


def _key(rows):
    """Sorted reprs: NaN scores compare equal by repr."""
    return sorted(repr(tuple(r)) for r in rows)


def _jvm_topk(emb, k, block_on_label, scaled_e6):
    """`cosine_topk` as interpreted JVM folds over a pair join."""
    base = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("vec")
    )

    def side(id_name, p):
        return base.select(
            F.col("vec_id").alias(id_name),
            F.col("label").alias(f"{p}_label"),
            F.col("vec").alias(f"{p}_vec"),
            S.norm_expr("vec").alias(f"{p}_norm"),
        )

    q, c = side("query_id", "q"), side("neighbor_id", "c")
    if block_on_label:
        joined = q.join(c, F.col("q_label") == F.col("c_label"))
    else:
        joined = q.crossJoin(c)
    joined = joined.filter(F.col("query_id") != F.col("neighbor_id"))
    ratio = S.dot_expr("q_vec", "c_vec") / (F.col("q_norm") * F.col("c_norm"))
    sim_col = "cos_sim_e6" if scaled_e6 else "cos_sim"
    cos = S.e6(ratio) if scaled_e6 else F.round(ratio, 6)
    scored = joined.select("query_id", "neighbor_id", cos.alias(sim_col))
    return S._rank_top_k(scored, k, sim_col)


def test_fold_cases_score_as_left_folds(spark):
    # Queries are the cases' left vectors, candidates their right ones,
    # all in one block: same-case pairs must give the left fold, pairs
    # of unequal length NULL (zip_with pads with NULL).
    qs = spark.createDataFrame(
        [(i, a, 0) for i, (a, _) in enumerate(CASES)],
        "query_id long, q_vec array<double>, __blk int",
    ).coalesce(1)
    cs = spark.createDataFrame(
        [(10 + i, b, 0) for i, (_, b) in enumerate(CASES)],
        "neighbor_id long, c_vec array<double>, __blk int",
    ).coalesce(1)
    got = {
        (r["query_id"], r["neighbor_id"]): (r["dot"], r["den"])
        for r in S._scored_pairs(qs, cs, ["__blk"], k=len(CASES)).collect()
    }
    assert len(got) == len(CASES) ** 2
    for i, (a, _) in enumerate(CASES):
        for j, (_, b) in enumerate(CASES):
            dot, den = got[(i, 10 + j)]
            if len(a) != len(b):
                assert dot is None
                continue
            assert dot == _fold(a, b)
            assert den == math.sqrt(_fold(a, a)) * math.sqrt(_fold(b, b))
    jvm = {
        (r["query_id"], r["neighbor_id"]): r["dot"]
        for r in qs.crossJoin(cs.drop("__blk"))
        .select("query_id", "neighbor_id", S.dot_expr("q_vec", "c_vec").alias("dot"))
        .collect()
    }
    assert jvm == {pair: v[0] for pair, v in got.items()}


@pytest.mark.parametrize("block_on_label", [True, False])
def test_edge_vectors_rank_as_jvm_folds(spark, block_on_label):
    emb = _frame(spark, _EDGE_ROWS)
    got = S.cosine_topk(emb, k=3, block_on_label=block_on_label).collect()
    want = _jvm_topk(emb, 3, block_on_label, scaled_e6=False).collect()
    assert _key(got) == _key(want)
    # NaN sorts first in a descending sort: row 5 leads every ranking
    # it takes part in.
    assert any(r["neighbor_id"] == 5 and r["rank"] == 1 for r in got)


@pytest.mark.parametrize("scaled_e6", [False, True])
@pytest.mark.parametrize("block_on_label", [True, False])
def test_rounded_ties_straddling_kth_place(spark, block_on_label, scaled_e6):
    # Around 0.7 three raw cosines round to the same score; the largest
    # raw one (id 5) loses the tie to id 3, whose raw score is lowest.
    def at(cos):
        return [cos, math.sqrt(1.0 - cos * cos)]

    rows = [
        (0, 1, [1.0, 0.0]),
        (3, 1, at(0.6999996)),
        (5, 1, at(0.7000004)),
        (7, 1, at(0.7000001)),
        (9, 1, at(0.8)),
    ]
    emb = _frame(spark, rows)
    qf = F.col("vec_id") == 0
    got = S.cosine_topk(
        emb, k=2, query_filter=qf, block_on_label=block_on_label, scaled_e6=scaled_e6
    ).collect()
    assert [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"])] == [9, 3]
    want = _jvm_topk(emb, 2, block_on_label, scaled_e6)
    want = want.filter(F.col("query_id") == 0).collect()
    assert _key(got) == _key(want)


@pytest.mark.parametrize("keep_rank", [1, 2])
@pytest.mark.parametrize("cids", [(0, 1, 7), (0, 1, 2, 5)])
def test_fixed_assign_ranks_as_jvm_window(spark, keep_rank, cids):
    # The second codebook holds a NULL and a NaN centroid: NULL
    # distances sort first, NaN ones last.
    rows = _EDGE_ROWS + [
        # equidistant from centroids 0 and 1: the tie goes to cid 0
        (12, 1, [0.8, 0.4, 0.0]),
        (13, 1, [0.8, 0.4, 0.0]),
    ]
    base = _frame(spark, rows).select(
        "vec_id", F.col("embedding").alias("vec")
    )
    cents = base.filter(F.col("vec_id").isin(*cids)).select(
        F.col("vec_id").alias("cid"), F.col("vec").alias("cvec")
    )
    got = S._fixed_assign(base, cents, keep_rank).collect()
    d2 = (
        S._sq_norm("vec") + S._sq_norm("cvec")
        - F.lit(2.0) * S.dot_expr("vec", "cvec")
    )
    w = Window.partitionBy("vec_id").orderBy(d2.asc(), F.col("cid").asc())
    want = (
        base.crossJoin(cents)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= keep_rank)
        .select("vec_id", "cid", "vec")
        .collect()
    )
    # NULL vec_ids share one window partition; which of its rows wins a
    # tie is not defined, so compare their (cid) only.
    assert _key(r for r in got if r["vec_id"] is not None) == _key(
        r for r in want if r["vec_id"] is not None
    )
    assert sorted(r["cid"] for r in got if r["vec_id"] is None) == sorted(
        r["cid"] for r in want if r["vec_id"] is None
    )


def test_threshold_pairs_match_jvm_folds(spark):
    # Pairs at the rounded threshold, just under it, and NaN (which
    # passes ≥: Spark orders NaN above every number).
    rows = _EDGE_ROWS + [
        (20, 3, [1.0, 0.0]),
        (21, 3, [0.8, 0.6]),  # cos = 0.8 exactly
        (22, 3, [0.8000004, 0.6]),
        (23, 3, [0.7999, 0.6]),
    ]
    emb = _frame(spark, rows)
    tau = 0.8
    got = S.embedding_cosine_pairs(emb, threshold=tau).collect()
    base = emb.select(
        "vec_id",
        "label",
        F.col("embedding").alias("vec"),
        S.norm_expr("embedding").alias("n"),
    )
    a = base.select(*[F.col(c).alias(f"{c}_a") for c in base.columns])
    b = base.select(*[F.col(c).alias(f"{c}_b") for c in base.columns])
    cos = F.round(
        S.dot_expr("vec_a", "vec_b") / (F.col("n_a") * F.col("n_b")), 6
    )
    same_block = (F.col("label_a") == F.col("label_b")) & (
        F.col("vec_id_a") < F.col("vec_id_b")
    )
    want = (
        a.join(b, same_block)
        .select(
            F.col("vec_id_a").alias("id_a"),
            F.col("vec_id_b").alias("id_b"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= tau)
        .collect()
    )
    assert _key(got) == _key(want)
    assert {(20, 21), (20, 22)} <= {(r["id_a"], r["id_b"]) for r in got}
    assert any(math.isnan(r["cos_sim"]) for r in got)


def test_zero_norm_pair_raises_as_jvm_division(spark):
    # Under ANSI a zero norm makes the ratio a division by zero, in the
    # fold path and the kernel alike; the kernel keeps such pairs.
    if spark.conf.get("spark.sql.ansi.enabled") != "true":
        pytest.skip("division by zero only raises under ANSI")
    emb = _frame(spark, [(0, 1, [1.0, 0.0]), (1, 1, [0.0, 0.0]), (2, 1, [0.6, 0.8])])
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        S.cosine_topk(emb, k=1).collect()
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        _jvm_topk(emb, 1, True, False).collect()


def test_float_id_is_refused(spark):
    qs = spark.createDataFrame(
        [(1.0, [1.0, 0.0], 0)], "query_id double, q_vec array<double>, __blk int"
    )
    cs = spark.createDataFrame(
        [(2, [0.0, 1.0], 0)], "neighbor_id long, c_vec array<double>, __blk int"
    )
    with pytest.raises(Exception, match="must cross the Arrow boundary as an integer"):
        S._scored_pairs(qs, cs, ["__blk"], k=1).collect()
