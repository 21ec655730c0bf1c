"""Warehouse catalog: loaders for the driver-generated parquet tables.

Models the reference's PostgreSQL table catalog (SURVEY.md §1.4) as
parquet-backed DataFrames. At 100 TB each of these would be a
date-partitioned parquet/Delta table; the loaders keep scans lazy so
Catalyst performs column pruning + predicate pushdown into the parquet
reader — never pre-materialize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions a planner should always broadcast in joins.
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation", "supplier", "part"})


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize `events.ts` to INTEGER EPOCH NANOS whatever the on-disk
    representation.

    The engine's event-time contract is integer nanos — every event
    query does exact integer arithmetic (`ts DIV 86400000000000` for
    days, `ts DIV 1000` for micros), which is portable across engines
    (the DuckDB oracles use `epoch_us(ts)` and get identical values).
    Generated data has shipped both as parquet TIMESTAMP(NANOS) (read as
    long via `nanosAsLong`) and as TIMESTAMP(MICROS) NTZ; this shim
    pins one engine-side type for both. The NTZ wall time is interpreted
    as UTC (the engine's pinned session timezone), matching DuckDB's
    naive-timestamp semantics.
    """
    if isinstance(df.schema["ts"].dataType, LongType):
        return df
    nanos = (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)).cast(
        "long"
    )
    return df.withColumn("ts", nanos)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one warehouse table lazily from `sf_dir`.

    `events.ts` is normalized to integer epoch nanos — see
    `normalize_event_ts` for the contract.
    """
    if name == "events":
        # Runtime-settable; required for TIMESTAMP(NANOS) parquet
        # columns, harmless otherwise.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The NTZ→nanos interpretation below is only deterministic under
        # the engine's pinned UTC session timezone; pin it here too so a
        # vanilla (driver) session gets the same answer.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return normalize_event_ts(
            spark.read.parquet(f"{sf_dir}/{name}.parquet")
        )
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_distributed(
    spark: SparkSession, sf_dir: str, name: str, partitions: int | None = None
) -> DataFrame:
    """Load + round-robin repartition to the session's parallelism.

    Small single-file parquet inputs (the local testdata) arrive as ONE
    scan partition, serializing any expensive per-row compute. A real
    100 TB table already has thousands of scan splits — use plain
    `load_table` there; this helper is for compute-heavy operators over
    inputs whose file layout under-splits.
    """
    df = load_table(spark, sf_dir, name)
    n = partitions or spark.sparkContext.defaultParallelism
    return df.repartition(n)
