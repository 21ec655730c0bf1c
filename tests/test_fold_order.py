"""`similarity.dot_expr` / `norm_expr` are sequential left folds,
((0 + a0·b0) + a1·b1) + …, the same index order DuckDB's
`list_inner_product` sums in — the order every cosine oracle's hash
depends on. The vectors are ones where a different summation order
gives a different double (`np.dot` gives 0.3, 1.0000000000000002 and
0.63 for the three dot products, 0.31622776601683794 for the first
norm), so a change to pairwise, tree or BLAS summation fails here.
"""

from __future__ import annotations

import math
from functools import reduce

import duckdb
import pytest
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.operators.similarity import (
    dot_expr,
    norm_expr,
)

CASES = [
    ([0.1] * 10, [0.3] * 10),
    ([1.0, 1e-16, 1e-16, 1e-16, 1e-16], [1.0] * 5),
    ([0.3] * 7, [0.3] * 7),
]


def _fold(a, b):
    return reduce(lambda acc, xy: acc + xy[0] * xy[1], zip(a, b), 0.0)


@pytest.fixture(scope="module")
def folds(spark):
    rows = [(i, a, b) for i, (a, b) in enumerate(CASES)]
    df = spark.createDataFrame(rows, "id int, a array<double>, b array<double>")
    spark_out = {
        r["id"]: (r["dot"], r["norm"])
        for r in df.select(
            "id",
            dot_expr("a", "b").alias("dot"),
            norm_expr(F.col("a")).alias("norm"),
        ).collect()
    }
    con = duckdb.connect()
    duck_out = {
        i: con.execute(
            "SELECT list_inner_product(?::DOUBLE[], ?::DOUBLE[]),"
            " sqrt(list_inner_product(?::DOUBLE[], ?::DOUBLE[]))",
            [a, b, a, a],
        ).fetchone()
        for i, a, b in rows
    }
    con.close()
    return spark_out, duck_out


@pytest.mark.parametrize("i", range(len(CASES)))
def test_dot_and_norm_are_index_order_left_folds(folds, i):
    spark_out, duck_out = folds
    a, b = CASES[i]
    want = (_fold(a, b), math.sqrt(_fold(a, a)))
    assert spark_out[i] == want
    assert duck_out[i] == want
