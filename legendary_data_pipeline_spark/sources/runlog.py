"""Run / lineage log sink (SURVEY.md §2.1 S2/S10).

The reference inserts a run row before a job (game, file name, sha256,
meta) and updates `row_count` at the end
(`scripts/pricing/01_import_pricecharting_csv.js:148-154,244-249`).

Engine shape: an append-only parquet `pipeline_runs` table — two events
per run (`started`, `finished`) keyed by run_id; "current state" is the
latest event per run (last-value-per-group, the same J9 pattern). Append
beats update-in-place on immutable storage and is the idempotency-safe
shape at scale.

Each event is a one-row frame of JVM literals over a one-partition
`range`, cast to `RUNLOG_SCHEMA`, so an append is one write job with one
task and leaves one parquet file. (`createDataFrame` of a Python list
would parallelize the row over every default slice and run a
Python-worker task per slice on every action.) `event_at` is an aware
UTC datetime: a naive one is read as host-local time on the way in.
"""

from __future__ import annotations

import hashlib
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

RUNLOG_SCHEMA = (
    "run_id string, job string, status string, file_name string, "
    "file_sha256 string, row_count long, meta string, event_at timestamp"
)


def sha256_file(path: str) -> str:
    """Content hash for ingest lineage (01:119-121)."""
    digest = hashlib.sha256()
    with open(path, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            digest.update(chunk)
    return digest.hexdigest()


def _append(spark: SparkSession, log_path: str, row: dict) -> None:
    fields = DataType.fromDDL(RUNLOG_SCHEMA).fields
    spark.range(1, numPartitions=1).select(
        *[F.lit(row[f.name]).cast(f.dataType).alias(f.name) for f in fields]
    ).write.mode("append").parquet(log_path)


def start_run(
    spark: SparkSession,
    log_path: str,
    job: str,
    file_name: str | None = None,
    file_sha256: str | None = None,
    meta: str | None = None,
) -> str:
    run_id = str(uuid.uuid4())
    _append(
        spark,
        log_path,
        {
            "run_id": run_id,
            "job": job,
            "status": "started",
            "file_name": file_name,
            "file_sha256": file_sha256,
            "row_count": None,
            "meta": meta,
            "event_at": datetime.now(timezone.utc),
        },
    )
    return run_id


def finish_run(
    spark: SparkSession,
    log_path: str,
    run_id: str,
    job: str,
    row_count: int,
    status: str = "finished",
) -> None:
    _append(
        spark,
        log_path,
        {
            "run_id": run_id,
            "job": job,
            "status": status,
            "file_name": None,
            "file_sha256": None,
            "row_count": row_count,
            "meta": None,
            "event_at": datetime.now(timezone.utc),
        },
    )


def current_runs(spark: SparkSession, log_path: str) -> DataFrame:
    """Latest event per run_id (window top-1 over event_at)."""
    log = spark.read.parquet(log_path)
    window = Window.partitionBy("run_id").orderBy(
        F.col("event_at").desc(), F.col("status").asc()
    )
    return (
        log.withColumn("__rn", F.row_number().over(window))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
