"""Local replica of the driver's DuckDB-oracle comparison.

Mirrors the driver contract: run the Spark query and the oracle SQL on
the same parquet tables, sort columns by name, compare row count, dtypes
(loosely), and exact cell values order-insensitively. Exactness matters —
the driver hashes values, so we assert bit-identical results, not
approximate ones.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

import duckdb

from legendary_data_pipeline_spark.catalog import TABLES


def run_oracle(sql: str, sf_dir: str):
    con = duckdb.connect()
    for table in TABLES:
        con.sql(
            f"CREATE VIEW {table} AS SELECT * FROM '{sf_dir}/{table}.parquet'"
        )
    rel = con.sql(sql)
    return rel.fetchall(), list(rel.columns), [str(t) for t in rel.types]


_DUCK_TO_CANON = {
    "BIGINT": "bigint",
    "INTEGER": "int",
    "SMALLINT": "smallint",
    "DOUBLE": "double",
    "FLOAT": "float",
    "VARCHAR": "string",
    "BOOLEAN": "boolean",
    "DATE": "date",
    "TIMESTAMP": "timestamp",
    "TIMESTAMP_NS": "timestamp",
    "HUGEINT": "hugeint",
}


def canon_types(columns, types) -> dict[str, str]:
    return {c: _DUCK_TO_CANON.get(t, t.lower()) for c, t in zip(columns, types)}


def spark_canon_types(df) -> dict[str, str]:
    out = {}
    for name, dtype in df.dtypes:
        d = dtype
        if d == "timestamp_ntz":
            d = "timestamp"
        out[name] = d
    return out


def _norm_cell(v):
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, Decimal):
        # Exact, never through float64: above 2^53 a float round-trip
        # erases low bits, which let a bit-different decimal(38,0)
        # checksum pass locally while the driver's exact hash failed
        # (round-6 dq_table_checksum). Integral decimals mirror the int
        # branch below so Decimal('5') and 5 normalize identically.
        if v == v.to_integral_value():
            iv = int(v)
            return ("n", float(iv)) if abs(iv) < 2**52 else ("i", iv)
        sign, digits, exponent = v.normalize().as_tuple()
        return ("dec", sign, digits, exponent)
    if isinstance(v, float):
        if math.isnan(v):
            return ("nan",)
        return ("n", v)
    if isinstance(v, int):
        return ("n", float(v)) if abs(v) < 2**52 else ("i", v)
    if isinstance(v, datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, date):
        return ("d", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_norm_cell(x) for x in v))
    return ("s", str(v))


def normalize_rows(rows, columns):
    """Sort columns by name, normalize cells, sort rows — order-insensitive."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    normed = [tuple(_norm_cell(row[i]) for i in order) for row in rows]
    normed.sort()
    return [columns[i] for i in order], normed


def compare_to_oracle(spark_df, oracle: str, sf_dir: str, max_diffs: int = 5):
    """Assert the Spark result matches the DuckDB oracle exactly."""
    actual_rows = [tuple(r) for r in spark_df.collect()]
    actual_cols = spark_df.columns
    expected_rows, expected_cols, expected_types = run_oracle(oracle, sf_dir)

    assert sorted(actual_cols) == sorted(expected_cols), (
        f"column mismatch: spark={sorted(actual_cols)} oracle={sorted(expected_cols)}"
    )
    spark_types = spark_canon_types(spark_df)
    duck_types = canon_types(expected_cols, expected_types)
    type_diffs = {
        c: (spark_types[c], duck_types[c])
        for c in spark_types
        if spark_types[c] != duck_types[c]
    }
    assert not type_diffs, f"dtype mismatch (spark, oracle): {type_diffs}"
    a_cols, a_rows = normalize_rows(actual_rows, actual_cols)
    e_cols, e_rows = normalize_rows(expected_rows, expected_cols)
    assert len(a_rows) == len(e_rows), (
        f"row count mismatch: spark={len(a_rows)} oracle={len(e_rows)}"
    )
    if a_rows != e_rows:
        diffs = []
        for i, (a, e) in enumerate(zip(a_rows, e_rows)):
            if a != e:
                diffs.append(f"row {i}: spark={a} oracle={e}")
                if len(diffs) >= max_diffs:
                    break
        raise AssertionError(
            "value mismatch (cols=%s):\n%s" % (a_cols, "\n".join(diffs))
        )


def executed_plan(df) -> str:
    """The physical plan string the plan-shape tests match against."""
    return df._jdf.queryExecution().executedPlan().toString()
