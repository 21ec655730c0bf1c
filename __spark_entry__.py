"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over `legendary_data_pipeline_spark.queries` — the engine's
named-query registry pairs each PySpark program with its DuckDB oracle
SQL (see that module for the cross-engine determinism conventions).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from legendary_data_pipeline_spark import queries as _registry
from legendary_data_pipeline_spark.session import ensure_engine_confs

_SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (priority-ranked best-of-group) on sf0.001.

    Resolved through ALL_QUERIES, not the gate: the flagship is a stable
    smoke target and must survive gate rotations.
    """
    ensure_engine_confs(spark)
    spec = _registry.ALL_QUERIES["w1_priority_best_of_day"]
    return spec.spark_fn(spark, _SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _registry.queries()


def oracle_sql() -> dict[str, str]:
    return _registry.oracle_sql()
