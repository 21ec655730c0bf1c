"""`functions.e6` against the DuckDB form every oracle inlines,
`CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)`.

Exact .5 ties after scaling, a repeating fraction, the ±(2^53 − 1)
micro-unit edge and NULL must agree bit for bit; NaN and ±Inf must
raise on both sides (Spark: ANSI `CAST_OVERFLOW`; DuckDB:
`ConversionException`), never emit a value.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.functions import e6

AGREE = [
    5e-7,
    -5e-7,
    2.5e-6,
    -2.5e-6,
    -0.1234565,
    0.2500005,
    1 / 3,
    9007199254.740991,
    -9007199254.740991,
    None,
]
RAISE = [math.nan, math.inf, -math.inf]
VALUES = AGREE + RAISE

_SQL = "SELECT id, CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT) FROM t"


@pytest.fixture(scope="module")
def both(spark):
    rows = list(enumerate(VALUES))
    df = spark.createDataFrame(rows, "id int, x double")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id INTEGER, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    n = len(AGREE)
    spark_out = dict(
        tuple(r)
        for r in df.where(F.col("id") < n)
        .select("id", e6(F.col("x")))
        .collect()
    )
    duck_out = dict(con.execute(f"{_SQL} WHERE id < {n}").fetchall())
    yield df, con, spark_out, duck_out
    con.close()


@pytest.mark.parametrize("i", range(len(VALUES)), ids=[repr(v) for v in VALUES])
def test_e6_matches_duckdb_twin(both, i):
    df, con, spark_out, duck_out = both
    if i < len(AGREE):
        assert spark_out[i] == duck_out[i]
        if AGREE[i] is None:
            assert spark_out[i] is None
        else:
            assert isinstance(spark_out[i], int)
        return
    with pytest.raises(ArithmeticException, match="CAST_OVERFLOW"):
        df.where(F.col("id") == i).select(e6(F.col("x"))).collect()
    with pytest.raises(duckdb.ConversionException):
        con.execute(f"{_SQL} WHERE id = {i}").fetchall()
